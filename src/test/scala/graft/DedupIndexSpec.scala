package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Band-index persistence + incremental dedup (the build/search split):
  * indexing a corpus then checking a batch must reproduce EXACTLY the
  * full-corpus near-dup result restricted to batch-involving pairs,
  * without re-minhashing the indexed side. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("band_index_spec").toString

  // sf0.001 real corpus split 80/20 — the same shape dd18 uses at gate SF
  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id", $"text")
  private lazy val cut: Long = 40L

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6))
      .toSet

  test("incremental result == full nearDuplicates filtered to batch pairs") {
    val ix = tmp()
    Dedup.writeMinhashIndex(ix, docs.where($"doc_id" < cut))
    val incr = Dedup.incrementalNearDuplicates(
      spark, ix, docs.where($"doc_id" >= cut), docs.where($"doc_id" < cut),
      threshold = 0.5)
    val full = Dedup.nearDuplicates(docs, threshold = 0.5)
      .where($"id_a" >= cut || $"id_b" >= cut)
    assert(pairSet(incr) == pairSet(full))
    assert(pairSet(incr).nonEmpty, "fixture produced no cross-batch dups")
  }

  test("appendToMinhashIndex: a second batch checks against corpus + batch1") {
    val ix = tmp()
    val c1 = 30L
    val c2 = 40L
    Dedup.writeMinhashIndex(ix, docs.where($"doc_id" < c1))
    Dedup.appendToMinhashIndex(
      ix, docs.where($"doc_id" >= c1 && $"doc_id" < c2))
    val incr = Dedup.incrementalNearDuplicates(
      spark, ix, docs.where($"doc_id" >= c2), docs.where($"doc_id" < c2),
      threshold = 0.5)
    val full = Dedup.nearDuplicates(docs, threshold = 0.5)
      .where($"id_a" >= c2 || $"id_b" >= c2)
    assert(pairSet(incr) == pairSet(full))
  }

  test("the indexed side is NOT re-minhashed: no minhash subtree in the " +
    "steady plan, one parquet scan (index), checkpointed batch melt") {
    val ix = tmp()
    Dedup.writeMinhashIndex(ix, docs.where($"doc_id" < cut))
    val cands = Dedup.incrementalCandidates(
      spark, ix, docs.where($"doc_id" >= cut))
    cands.collect()
    val plan = cands.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the batch melt is computed ONCE inside its lazy checkpoint, so the
    // steady plan has NO minhash subtree at all; the index contributes
    // the only parquet scan (narrow band rows) and the batch a
    // checkpointed RDD scan — nothing re-shingles either side
    assert(!plan.contains("minhash_bands"), plan)
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("Scan ExistingRDD"), plan)
  }

  test("maxBucket guard raises on oversized buckets by default, drops " +
    "them under the opt-in; pairs must involve a new doc") {
    val ix = tmp()
    // 6 identical indexed docs + 2 identical new docs, all one bucket
    val base = "the quick brown fox jumps over the lazy dog again"
    val indexed = (0L until 6L).map(i => (i, base)).toDF("doc_id", "text")
    val batch = Seq((10L, base), (11L, base)).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(ix, indexed)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    // cap below the 8-row bucket → raises by default (a silent drop
    // would admit the duplicate batch as clean)
    val e = intercept[Exception] {
      Dedup.incrementalCandidates(spark, ix, batch, maxBucket = 7).count()
    }
    assert(messages(e).exists(_.contains("exceeds maxBucket")), e.toString)
    // opt-in: dropped, completes with 0 pairs
    val guarded = Dedup.incrementalCandidates(spark, ix, batch, maxBucket = 7,
      dropOversized = true)
    assert(guarded.count() == 0)
    // unguarded: every pair involves doc 10 or 11 — no indexed-indexed
    // pairs (they were handled at their own ingest)
    val pairs = Dedup.incrementalCandidates(spark, ix, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a >= 10L || b >= 10L })
    assert(!pairs.exists { case (a, b) => a < 6L && b < 6L })
  }

  // ---- the fingerprint-path index family (dd29) ----

  private def hammingSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("incrementalSimhashPairs == full simhashNearPairsBlocked filtered " +
    "to batch-involving pairs (dd29)") {
    val ix = tmp()
    Dedup.writeSimhashIndex(ix, docs.where($"doc_id" < cut))
    val incr = Dedup.incrementalSimhashPairs(
      spark, ix, docs.where($"doc_id" >= cut), maxHamming = 3)
    val full = Dedup.simhashNearPairsBlocked(docs, maxHamming = 3)
      .where($"id_a" >= cut || $"id_b" >= cut)
    assert(hammingSet(incr) == hammingSet(full))
    assert(hammingSet(incr).nonEmpty, "fixture produced no cross-batch pairs")
  }

  test("simhash index params are persisted and a mismatched search/append " +
    "raises instead of returning a correct-looking empty result") {
    val ix = tmp()
    Dedup.writeSimhashIndex(ix, docs.where($"doc_id" < cut)) // 64/8/3
    val e1 = intercept[graft.GraftError] {
      Dedup.incrementalSimhashPairs(
        spark, ix, docs.where($"doc_id" >= cut), maxHamming = 2)
    }
    assert(e1.getMessage.contains("EMPTY"))
    val e2 = intercept[graft.GraftError] {
      Dedup.appendToSimhashIndex(
        ix, docs.where($"doc_id" >= cut), bits = 32, blocks = 8, maxHamming = 3)
    }
    assert(e2.getMessage.contains("built with"))
    // matching parameters still work
    assert(Dedup.incrementalSimhashPairs(
      spark, ix, docs.where($"doc_id" >= cut), maxHamming = 3).count() >= 0L)
  }

  test("appendToSimhashIndex: a second batch checks against corpus + batch1") {
    val ix = tmp()
    val c1 = 30L
    val c2 = 40L
    Dedup.writeSimhashIndex(ix, docs.where($"doc_id" < c1))
    Dedup.appendToSimhashIndex(
      ix, docs.where($"doc_id" >= c1 && $"doc_id" < c2))
    val incr = Dedup.incrementalSimhashPairs(
      spark, ix, docs.where($"doc_id" >= c2), maxHamming = 3)
    val full = Dedup.simhashNearPairsBlocked(docs, maxHamming = 3)
      .where($"id_a" >= c2 || $"id_b" >= c2)
    assert(hammingSet(incr) == hammingSet(full))
  }

  test("simhash index verify never touches indexed TEXT: the steady plan " +
    "has no simhash subtree and scans only the two index tables") {
    val ix = tmp()
    Dedup.writeSimhashIndex(ix, docs.where($"doc_id" < cut))
    val incr = Dedup.incrementalSimhashPairs(
      spark, ix, docs.where($"doc_id" >= cut), maxHamming = 3)
    incr.collect()
    val plan = incr.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the candidate frame and the candidate-pruned fingerprint frame
    // are both lazy-checkpointed (each is referenced by ≥ 2 join
    // sides), so the STEADY plan is two broadcast joins over
    // checkpointed RDD scans: zero parquet scans here (the bands + fp
    // index reads ran exactly once inside the checkpoints), zero text
    // reads, and no simhash recompute anywhere ("simhash(" is the
    // native expression's call rendering; the bare word also appears
    // in the observe metric name, which is fine)
    assert(!plan.contains("simhash("), plan)
    assert("Scan parquet".r.findAllIn(plan).isEmpty, plan)
    assert(plan.contains("Scan ExistingRDD"), plan)
  }

  test("incrementalSimhashPairs: oversized buckets raise by default, " +
    "drop under the opt-in; pairs must involve a batch doc") {
    val ix = tmp()
    val base = "the quick brown fox jumps over the lazy dog again"
    val indexed = (0L until 6L).map(i => (i, base)).toDF("doc_id", "text")
    val batch = Seq((10L, base), (11L, base)).toDF("doc_id", "text")
    Dedup.writeSimhashIndex(ix, indexed)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val e = intercept[Exception] {
      Dedup.incrementalSimhashPairs(spark, ix, batch, maxBucket = 7).count()
    }
    assert(messages(e).exists(_.contains("exceeds maxBucket")), e.toString)
    assert(Dedup.incrementalSimhashPairs(spark, ix, batch, maxBucket = 7,
      dropOversized = true).count() == 0)
    val pairs = Dedup.incrementalSimhashPairs(spark, ix, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a >= 10L || b >= 10L })
    assert(!pairs.exists { case (a, b) => a < 6L && b < 6L })
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ messages(x.getCause))

  /** Entries of an index dir, less `_SUCCESS` and hidden files. */
  private def entries(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles.toSeq
      .filterNot(f => f.getName == "_SUCCESS" || f.getName.startsWith("."))

  test("simhash index bands are flat files, and an append keeps them flat") {
    val ix = tmp()
    Dedup.writeSimhashIndex(ix, docs.where($"doc_id" < 30L))
    Dedup.appendToSimhashIndex(ix, docs.where($"doc_id" >= 30L && $"doc_id" < cut))
    val bands = entries(s"$ix/bands")
    assert(bands.nonEmpty && bands.forall(f => f.isFile && f.getName.endsWith(".parquet")),
      bands.map(_.getName))
  }

  test("an index in the legacy partitioned bands layout stays searchable, " +
    "and an append keeps its __band dirs") {
    val ix = tmp()
    val c1 = 30L
    val c2 = 40L
    // the layout writeSimhashIndex used to write: bands partitioned into
    // one __band=k dir per table, plus fp and _params
    val fp = docs.where($"doc_id" < c1 && $"text".isNotNull)
      .select($"doc_id",
        graft.functions.SimHash.simhashNative($"text", 64).as("__fp"))
    fp.write.parquet(s"$ix/fp")
    fp.select($"doc_id",
      posexplode(graft.functions.BlockedKeys.blockedKeysNative($"__fp", 64, 8, 3))
        .as(Seq("__band", "__key")))
      .write.partitionBy("__band").parquet(s"$ix/bands")
    java.nio.file.Files.write(java.nio.file.Paths.get(ix, "_params"),
      "{\"bits\":64,\"blocks\":8,\"maxHamming\":3}\n".getBytes("UTF-8"))
    def bandDirs = entries(s"$ix/bands")
    assert(bandDirs.size == 56)

    val batch1 = docs.where($"doc_id" >= c1 && $"doc_id" < c2)
    val incr1 = Dedup.incrementalSimhashPairs(spark, ix, batch1, maxHamming = 3)
    val full1 = Dedup.simhashNearPairsBlocked(docs.where($"doc_id" < c2), maxHamming = 3)
      .where($"id_a" >= c1 || $"id_b" >= c1)
    assert(hammingSet(incr1) == hammingSet(full1))

    Dedup.appendToSimhashIndex(ix, batch1)
    assert(bandDirs.size == 56 &&
      bandDirs.forall(f => f.isDirectory && f.getName.startsWith("__band=")),
      bandDirs.map(_.getName))

    val incr2 = Dedup.incrementalSimhashPairs(
      spark, ix, docs.where($"doc_id" >= c2), maxHamming = 3)
    val full2 = Dedup.simhashNearPairsBlocked(docs, maxHamming = 3)
      .where($"id_a" >= c2 || $"id_b" >= c2)
    assert(hammingSet(incr2) == hammingSet(full2))
    assert(hammingSet(incr2).nonEmpty, "fixture produced no cross-batch pairs")
  }

  test("appendToSimhashIndex on a dir without an index raises and writes nothing") {
    val ix = tmp()
    val e = intercept[graft.GraftError] {
      Dedup.appendToSimhashIndex(ix, docs.where($"doc_id" < cut))
    }
    assert(e.getMessage.contains("no index at"))
    assert(entries(ix).isEmpty && !new java.io.File(s"$ix/_params").exists)
  }

  test("index reads pin the batch's id type: a stored id the batch cannot " +
    "read raises, a widening read is exact") {
    val ix = tmp()
    Dedup.writeSimhashIndex(ix, docs.where($"doc_id" < cut)) // bigint ids
    val batch = docs.where($"doc_id" >= cut)
    val expected = hammingSet(Dedup.incrementalSimhashPairs(spark, ix, batch))
    assert(expected.nonEmpty)
    // bigint stored, int or string asked: the scan cannot convert, so
    // it raises
    for (t <- Seq("int", "string")) {
      val e = intercept[Exception] {
        Dedup.incrementalSimhashPairs(
          spark, ix, batch.withColumn("doc_id", $"doc_id".cast(t))).collect()
      }
      assert(messages(e).exists(_.contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH")),
        e.toString)
    }
    // another id column name reads the stored ids as null: raises too
    val e = intercept[Exception] {
      Dedup.incrementalSimhashPairs(
        spark, ix, batch.withColumnRenamed("doc_id", "id"), idCol = "id").collect()
    }
    assert(messages(e).exists(_.contains("another id column")), e.toString)
    // int stored, bigint asked: widened, same pairs
    val ixInt = tmp()
    Dedup.writeSimhashIndex(ixInt,
      docs.where($"doc_id" < cut).withColumn("doc_id", $"doc_id".cast("int")))
    assert(hammingSet(Dedup.incrementalSimhashPairs(spark, ixInt, batch)) == expected)
  }
}
