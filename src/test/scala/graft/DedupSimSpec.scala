package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.{Sampling, TextAnalysis}

class DedupSimSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "quick brown fox jumps over the lazy dog the"), // word-reorder of 1
    (4L, "completely different content about spark engines and data"),
    (5L, "hi")) // < 3 words: no shingles
    .toDF("doc_id", "text")

  test("exactGroups collapses identical content (dd1)") {
    val g = Dedup.exactGroups(docs).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(g(1L) == 2) // docs 1+2
    assert(g.size == 4)
  }

  test("canonical fingerprint is word-order-insensitive (tx4)") {
    val fp = docs.select($"doc_id", TextAnalysis.canonicalFingerprint($"text").as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L) != fp(4L))
  }

  test("shingles: n-grams of words; empty below n (dd3 input)") {
    val sh = docs.select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L).length == 7) // 9 words → 7 trigrams
    assert(sh(1L).head == "the quick brown")
    assert(sh(5L).isEmpty)
  }

  test("native shingle_array / minhash_bands are value-identical to the " +
    "HOF / exploded-aggregation reference forms (real corpus + edges), " +
    "under CODEGEN_ONLY") {
    import graft.functions.MinHashShingles
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .unionByName(Seq(
        (9001L, ""), (9002L, "!!! ?? ..."), (9003L, "one two"),
        (9004L, "  spaced   out   words  here  now  "),
        (9005L, "Tabs\tand\nnewlines &*() punctuation2 mixed CASE words"))
        .toDF("doc_id", "text"))
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // shingles: the native array must equal the HOF reference form
      // element-for-element (same order)
      val viaNative = corpus
        .select($"doc_id", MinHashShingles.shingleArrayNative($"text", 3).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val viaHof = corpus
        .select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(viaNative == viaHof)
      // minhash band keys: the native one-pass array must match the
      // exploded min-aggregation form (shingle-less docs: null vs absent)
      val nativeBands = corpus
        .select($"doc_id",
          MinHashShingles.minhashBandsNative($"text", 3, 4, 2).as("b"))
        .where($"b".isNotNull)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val aggBands = Dedup.withMinhashBands(corpus)
        .collect().map(r =>
          r.getLong(0) -> (1 to 4).map(i => r.getString(i)).toSeq).toMap
      assert(nativeBands == aggBands)
      assert(nativeBands.nonEmpty && !nativeBands.contains(9001L) &&
        !nativeBands.contains(9003L)) // < 3 words → no signature
    } finally prevFactory match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("minhash LSH finds the duplicate pair, not the unrelated one (dd3)") {
    val pairs = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("jaccard: identical docs = 1, disjoint = 0 (dd4)") {
    val j = Dedup.nearDuplicates(docs, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
  }

  test("nearDuplicates verify stage is pruned to candidate docs and the " +
    "candidate shuffle is reused, not recomputed") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val nd = Dedup.nearDuplicates(docs, threshold = 0.0)
      val plan = nd.queryExecution.executedPlan.toString
      // the candidate and shingle pipelines are checkpointed: the final
      // plan consumes their RDDs, never re-derives them — a recompute
      // regression would put minhash/shingle subtrees back in this plan
      assert(!plan.contains("minhash"), plan)
      assert(!plan.contains("shingle_array"), plan)
      assert(plan.contains("Scan ExistingRDD"), plan)
      // values unchanged by the prune
      val j = nd.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(j((1L, 2L)) == 1.0)
      // only docs in ≥1 candidate pair were shingled in the verify stage
      val m = nd.queryExecution.observedMetrics("neardup_verify")
      val candDocs = Dedup.minhashCandidates(docs)
        .select(explode(array($"id_a", $"id_b"))).distinct().count()
      assert(m.getAs[Long]("docs_shingled") == candDocs)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("simhash: identical docs have hamming distance 0 (dd5)") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(4L))
  }

  test("simhashScalar matches the column-expression simhash exactly " +
    "(32 and 64 bits, incl. empty/punctuation-only edge strings)") {
    val edge = docs.unionByName(Seq(
      (10L, ""), (11L, "!!! ???"), (12L, "  spaced   out  "))
      .toDF("doc_id", "text"))
    for (bits <- Seq(32, 64)) {
      val viaCol = edge.select($"doc_id", Dedup.simhash($"text", bits).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaScalar = edge.collect()
        .map(r => r.getLong(0) -> Dedup.simhashScalar(r.getString(1), bits)).toMap
      assert(viaCol == viaScalar, s"bits=$bits")
    }
  }

  test("native SimHash expression matches the HOF simhash exactly on " +
    "non-null text; null text is null (not the HOF's coerced 0)") {
    import graft.functions.SimHash
    val edge = docs.unionByName(Seq(
      (10L, ""), (11L, "!!! ???")).toDF("doc_id", "text"))
    for (bits <- Seq(32, 64)) {
      // null-SAFE comparison: a native regression to null on non-null
      // text must count as a mismatch, which =!= would silently drop
      val mismatches = edge.where(
        !(SimHash.simhashNative($"text", bits) <=> Dedup.simhash($"text", bits)))
        .count()
      assert(mismatches == 0, s"bits=$bits")
    }
    // null semantics: native → null (SQL convention); the HOF form's
    // when().otherwise(0) coerces null votes to fingerprint 0, and the
    // exploded aggregation drops the row — three forms, three historical
    // null behaviors, so the native one picks the SQL-conventional one
    val nulls = Seq((12L, Option.empty[String])).toDF("doc_id", "text")
    assert(nulls.select(SimHash.simhashNative($"text")).head.isNullAt(0))
    assert(nulls.select(Dedup.simhash($"text")).head.getLong(0) == 0L)

    // the generated code must actually COMPILE (Janino failures fall
    // back to interpreted silently under the default FALLBACK mode, so
    // a broken doGenCode would otherwise pass every value assertion)
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // aggregate over the COMPUTED column — a bare count() would let
      // column pruning remove the projection and compile nothing
      val agg = docs.select(SimHash.simhashNative($"text").as("h"))
        .agg(sum($"h")).head
      assert(!agg.isNullAt(0))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("simhashDf matches the column-expression simhash exactly") {
    val viaCol = docs.select($"doc_id", Dedup.simhash($"text").as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDf = Dedup.simhashDf(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaCol == viaDf)
  }

  test("simhashNearPairs at the 64-bit/8-band default equals the " +
    "brute-force hamming filter (pigeonhole completeness)") {
    val corpus = DedupSimSpec.corpus(spark, 100)
    val fp = Dedup.simhashDf(corpus) // 64-bit default
    val brute = fp.as("a").crossJoin(fp.as("b"))
      .where($"a.doc_id" < $"b.doc_id" &&
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")) <= 7)
      .select($"a.doc_id", $"b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashNearPairs(corpus, maxHamming = 7)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute)
    assert(brute.nonEmpty) // the corpus's 10-doc groups are near-dups
  }

  test("simhashNearPairsBlocked (Manku 56-table, 40-bit keys) equals " +
    "the brute-force hamming filter AND the banded path at hamming 3") {
    val corpus = DedupSimSpec.corpus(spark, 100)
    val fp = Dedup.simhashDf(corpus)
    val brute = fp.as("a").crossJoin(fp.as("b"))
      .where($"a.doc_id" < $"b.doc_id" &&
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")) <= 3)
      .select($"a.doc_id", $"b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.simhashNearPairsBlocked(corpus, maxHamming = 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashNearPairs(corpus, maxHamming = 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute)
    assert(blocked == banded)
    assert(brute.nonEmpty)
  }

  test("fingerprintNearPairsBlocked pigeonhole boundary: hamming == " +
    "maxHamming found, maxHamming+1 (spread across blocks) not a " +
    "candidate miss but a verify reject — and key packing rejects " +
    "configs that overflow a signed long") {
    // base fingerprint 0; partner flips exactly one bit in each of k
    // DISTINCT 8-bit blocks — the adversarial placement for block keys
    def flipped(k: Int): Long =
      (0 until k).map(b => 1L << (b * 8)).foldLeft(0L)(_ | _)
    for (k <- Seq(3, 4)) {
      val fp = Seq((1L, 0L), (2L, flipped(k))).toDF("id", "fp")
      val got = Dedup.fingerprintNearPairsBlocked(fp, "id", "fp",
        maxHamming = 3).collect()
      if (k == 3) {
        assert(got.length == 1 && got.head.getAs[Long]("hamming") == 3L)
      } else assert(got.isEmpty) // 4 touched blocks: correctly rejected
    }
    // 8 blocks, maxHamming 0 would key on all 64 bits: must refuse
    intercept[IllegalArgumentException] {
      Dedup.fingerprintNearPairsBlocked(
        Seq((1L, 0L)).toDF("id", "fp"), "id", "fp", maxHamming = 0)
    }
  }

  test("maxBucket: an oversized bucket RAISES by default; dropOversized " +
    "opt-in drops it instead of exploding pairs (adversarial corpus)") {
    val dup = spark.range(50).select(col("id").as("doc_id"),
      lit("identical adversarial document body with plenty of words to shingle")
        .as("text"))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    // every doc lands in ONE bucket of 50 per band. Default: the guard
    // raises — a silent drop would return a correct-LOOKING empty pair
    // set (the 10M-doc banded-simhash cliff failure mode).
    val eM = intercept[Exception] {
      Dedup.minhashCandidates(dup, maxBucket = 10).count()
    }
    assert(messages(eM).exists(_.contains("exceeds maxBucket")), eM.toString)
    val eS = intercept[Exception] {
      Dedup.simhashNearPairs(dup, maxHamming = 3, maxBucket = 10).count()
    }
    assert(messages(eS).exists(_.contains("exceeds maxBucket")), eS.toString)
    // explicit opt-in: capped → no pairs, completes without a straggler
    assert(Dedup.minhashCandidates(dup, maxBucket = 10,
      dropOversized = true).count() == 0)
    assert(Dedup.simhashNearPairs(dup, maxHamming = 3, maxBucket = 10,
      dropOversized = true).count() == 0)
    // raise the cap → the full duplicate clique comes back (both modes)
    assert(Dedup.minhashCandidates(dup, maxBucket = 1000).count() == 50L * 49 / 2)
    assert(Dedup.simhashNearPairs(dup, maxHamming = 3, maxBucket = 1000).count() ==
      50L * 49 / 2)
  }

  test("bucket overflow is observable via the observe() metrics") {
    val dup = spark.range(50).select(col("id").as("doc_id"),
      lit("identical adversarial document body with plenty of words to shingle")
        .as("text"))
    // QueryExecution.observedMetrics is not populated under AQE
    // (the metrics still flow to QueryExecutionListeners either way —
    // this direct read is the test-friendly path)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val capped = Dedup.minhashCandidates(dup, maxBucket = 10,
        dropOversized = true)
      capped.collect()
      val m = capped.queryExecution.observedMetrics("minhash_buckets")
      // all 50 docs share one bucket per band (4 bands): 200 melted rows
      // sit in overflowing buckets; the largest bucket is the full clique
      assert(m.getAs[Long]("rows_in_overflow") == 200L)
      assert(m.getAs[Long]("max_bucket") == 50L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("embeddingNearDuplicates: a degenerate blocking bucket raises by " +
    "default; dropOversized drops it instead of exploding m² pairs") {
    val hot = spark.range(50).select(col("id").as("doc_id"),
      array(lit(1.0f), lit(0.0f)).as("emb"), lit("hot").as("bucket"))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val e = intercept[Exception] {
      Dedup.embeddingNearDuplicates(
        hot, "doc_id", "emb", "bucket", 0.9, maxBucket = 10).count()
    }
    assert(messages(e).exists(_.contains("exceeds maxBucket")), e.toString)
    // one bucket of 50 identical vectors over the cap → 0 pairs, completes
    assert(Dedup.embeddingNearDuplicates(
      hot, "doc_id", "emb", "bucket", 0.9, maxBucket = 10,
      dropOversized = true).count() == 0)
    // within the cap → the full duplicate clique
    assert(Dedup.embeddingNearDuplicates(
      hot, "doc_id", "emb", "bucket", 0.9, maxBucket = 1000).count() ==
      50L * 49 / 2)
    // the drop is observable (same contract as minhash/simhash)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val capped = Dedup.embeddingNearDuplicates(
        hot, "doc_id", "emb", "bucket", 0.9, maxBucket = 10,
        dropOversized = true)
      capped.collect()
      val m = capped.queryExecution.observedMetrics("embedding_buckets")
      assert(m.getAs[Long]("rows_in_overflow") == 50L)
      assert(m.getAs[Long]("max_bucket") == 50L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // identical to 1
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)), // opposite
    (5L, Array(0.9f, 0.1f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("native DotProduct expression is bit-identical to the HOF formulation") {
    val diff = vecs.as("a").crossJoin(vecs.as("b"))
      .select(sum(abs(
        Similarity.dot($"a.embedding", $"b.embedding") -
          Similarity.dotHof($"a.embedding", $"b.embedding"))).as("d"))
      .head.getDouble(0)
    assert(diff == 0.0)
  }

  test("cosine: identical = 1, orthogonal = 0, opposite = −1") {
    val c = vecs.as("a").crossJoin(vecs.as("b"))
      .where($"a.vec_id" === 1 && $"b.vec_id".isin(2, 3, 4))
      .select($"b.vec_id", Similarity.cosine($"a.embedding", $"b.embedding").as("c"))
      .collect().map(r => r.getLong(0) -> r7(r.getDouble(1))).toMap
    assert(c(2L) == 1.0 && c(3L) == 0.0 && c(4L) == -1.0)
  }

  test("bruteForceTopK ranks nearest first with id tiebreak (sim1)") {
    val out = Similarity.bruteForceTopK(
      vecs.where($"vec_id" === 1), vecs, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(out.sortBy(_._1).map(_._2).toSeq == Seq(2L, 5L))
  }

  test("hardNegatives: only different-label vectors rank, nearest first " +
    "(sim10)") {
    val labeled = vecs.withColumn("label",
      when($"vec_id".isin(1L, 2L, 5L), 0).otherwise(1))
    val out = Similarity.hardNegatives(
      labeled.where($"vec_id" === 1), labeled, "vec_id", "embedding",
      "label", k = 3)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("negative_id")))
      .sortBy(_._1).map(_._2).toSeq
    // same-label 2 and 5 excluded; among label-1: orthogonal 3 (cos 0)
    // beats opposite 4 (cos −1)
    assert(out == Seq(3L, 4L))
  }

  test("signLshTopK searches only matching sign buckets (sim2)") {
    val out = Similarity.signLshTopK(
      vecs.where($"vec_id" === 1), vecs, "vec_id", "embedding", k = 5)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(out.contains(2L))
    assert(!out.contains(4L)) // opposite sign bucket → pruned
  }

  test("langId picks the marker-matched language (tx2)") {
    val out = Seq(
      (1L, "the cat and the dog is on the mat and it is nice"),
      (2L, "le chat est sur les toits et la nuit est belle"),
      (3L, "xyzzy plugh"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.langId($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "fr")
    assert(out(3L) == "und")
  }

  test("tokenCount handles empty and whitespace-only text (tx1)") {
    val out = Seq((1L, ""), (2L, "   "), (3L, "one two  three"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 0 && out(2L) == 0 && out(3L) == 3)
  }

  test("crossNearDuplicates finds corpus docs matching the eval set and " +
    "decontaminate drops exactly those (both broadcast modes)") {
    val eval = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely unrelated benchmark question about databases and queries"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (101L, "training document with entirely different content about spark engines"),
      (102L, "completely unrelated benchmark question about databases and queries"))
      .toDF("doc_id", "text")
    for (bcast <- Seq(true, false)) {
      val m = graft.dedup.Dedup.crossNearDuplicates(
        corpus, eval, threshold = 0.5, broadcastRef = bcast)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(m == Set((100L, 1L), (102L, 2L)), s"broadcastRef=$bcast")
      val kept = graft.dedup.Dedup.decontaminate(
        corpus, graft.dedup.Dedup.crossNearDuplicates(
          corpus, eval, threshold = 0.5, broadcastRef = bcast))
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(101L), s"broadcastRef=$bcast")
    }
  }

  test("crossNearDuplicates: a degenerate shared bucket raises by default " +
    "(a pruned bucket silently loses its cross-matches); dropOversized " +
    "prunes it instead of exploding m×n candidate pairs") {
    val boiler = "identical license header boilerplate text appearing " +
      "everywhere in both corpora with plenty of words"
    val corpus = (0 until 30).map(i => (100L + i, boiler)).toDF("doc_id", "text")
    val eval = (0 until 30).map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    // every doc lands in ONE bucket per band on both sides (30 > cap)
    val e = intercept[Exception] {
      Dedup.crossNearDuplicates(
        corpus, eval, threshold = 0.5, maxBucket = 10).count()
    }
    assert(messages(e).exists(_.contains("exceeds maxBucket")), e.toString)
    assert(Dedup.crossNearDuplicates(
      corpus, eval, threshold = 0.5, maxBucket = 10,
      dropOversized = true).count() == 0)
    // under the cap the same content matches normally (5×5 clique)
    assert(Dedup.crossNearDuplicates(
      corpus.limit(5), eval.limit(5), threshold = 0.5, maxBucket = 10).count() == 25)
  }

  test("ngramOverlap flags verbatim n-gram quotation that whole-doc " +
    "Jaccard misses, counts distinct overlaps once, and " +
    "decontaminateExact drops exactly the flagged docs (both modes)") {
    val eval = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // quotes eval doc 1's only 5-gram inside a long unrelated doc —
      // whole-doc Jaccard vs eval is tiny, exact 13-gram-style collision
      // is the signal; the quote appears TWICE (hits must still be 1)
      (100L, "one two three four five alpha beta gamma delta epsilon six " +
        "seven eight nine ten alpha beta gamma delta epsilon eleven"),
      // shares only a 4-gram suffix: below n=5, must NOT flag
      (101L, "different opening beta gamma delta epsilon"),
      (102L, "entirely unrelated training document about spark engines"))
      .toDF("doc_id", "text")
    for (bcast <- Seq(true, false)) {
      val hits = Dedup.ngramOverlap(corpus, eval, n = 5, broadcastRef = bcast)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hits == Map(100L -> 1L), s"broadcastRef=$bcast")
      val kept = Dedup.decontaminateExact(corpus, eval, n = 5, broadcastRef = bcast)
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(101L, 102L), s"broadcastRef=$bcast")
    }
    // two distinct overlapping n-grams → hits = 2
    val corpus2 = Seq(
      (200L, "alpha beta gamma delta epsilon and zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val h2 = Dedup.ngramOverlap(corpus2, eval, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h2 == Map(200L -> 2L))
  }

  test("redactContaminated excises exactly the quoted spans, keeps the " +
    "rest, and vanishes fully-covered docs (dd14)") {
    val eval = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      // quote mid-doc: only the 5 covered tokens go
      (100L, "one two three alpha beta gamma delta epsilon four five"),
      // two disjoint quotes cover everything → doc disappears
      (101L, "alpha beta gamma delta epsilon alpha beta gamma delta epsilon"),
      // clean doc survives whole — but in normalized token space
      (102L, "Hello, World! Nothing shared HERE with their evals"))
      .toDF("doc_id", "text")
    val out = Dedup.redactContaminated(corpus, eval, n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(100L) == ((5L, "one two three four five")))
    assert(!out.contains(101L))
    assert(out(102L) == ((8L, "hello world nothing shared here with their evals")))
  }

  test("keepBestPerKey keeps one row per key by (priority DESC, id ASC) " +
    "with original columns (dd17)") {
    val docs = Seq(
      (1L, "a.com", 0.5), (2L, "a.com", 0.9), (3L, "a.com", 0.9), // tie → id 2
      (4L, "b.com", 0.1),
      (5L, "c.com", -0.3), (6L, "c.com", -0.2)) // negatives order correctly
      .toDF("doc_id", "source", "q")
    val out = Dedup.keepBestPerKey(docs, "source", col("q"), "doc_id")
      .collect().map(r => r.getString(1) -> ((r.getLong(0), r.getDouble(2)))).toMap
    assert(out == Map("a.com" -> ((2L, 0.9)), "b.com" -> ((4L, 0.1)),
      "c.com" -> ((6L, -0.2))))
    // a NULL priority must LOSE to any scored row (bare struct ordering
    // is nulls-first and would crown the unscored doc); an all-null
    // group falls back to the lowest id
    val withNulls = Seq(
      (1L, "a.com", Some(0.2)), (2L, "a.com", None),
      (3L, "n.com", None), (4L, "n.com", None))
      .toDF("doc_id", "source", "q")
    val nOut = Dedup.keepBestPerKey(withNulls, "source", col("q"), "doc_id")
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(nOut == Map("a.com" -> 1L, "n.com" -> 3L))
    // plan tripwire: ONE min_by aggregation with a partial (map-side)
    // phase, NOT a rank window — a Window here would shuffle and sort a
    // hot key's whole group into one task
    val plan = Dedup.keepBestPerKey(docs, "source", col("q"), "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_min_by") || plan.contains("partial_minby") ||
      plan.toLowerCase.contains("partial_min_by"), plan)
  }

  test("frequentNgrams counts occurrences and distinct docs, orders by " +
    "(count DESC, gram), respects minCount and topK (tx14)") {
    val docs = Seq(
      (1L, "x y z x y z"), // "x y z" twice in one doc, "y z x" once...
      (2L, "x y z tail"), // ...and "x y z" again here
      (3L, "p q r only once"))
      .toDF("doc_id", "text")
    val rows = Dedup.frequentNgrams(docs, n = 3, topK = 10, minCount = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.head == (("x y z", 3L, 2L))) // 3 occurrences across 2 docs
    assert(rows.forall(_._2 >= 2))
    assert(!rows.exists(_._1 == "p q r")) // minCount prunes the hapax
    // topK truncates on the (count, gram) total order
    assert(Dedup.frequentNgrams(docs, n = 3, topK = 1, minCount = 1)
      .collect().map(_.getString(0)).toSeq == Seq("x y z"))
  }

  test("dedupExactSubstrings keeps the corpus-first occurrence of each " +
    "n-gram, excises later ones — across docs and within a doc (dd16)") {
    val docs = Seq(
      // owns "a b c d e" and "b c d e f" (lowest id)
      (1L, "a b c d e f"),
      // quotes doc 1's gram mid-doc → loses the 5 covered tokens only
      (2L, "x a b c d e y"),
      // exact dup of doc 1 → every token covered → disappears
      (3L, "a b c d e f"),
      // WITHIN-doc repeat: gram "p q r s t" recurs at position 5 →
      // the second copy excises, the first stays
      (4L, "p q r s t p q r s t"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupExactSubstrings(docs, n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((6L, "a b c d e f")))
    assert(out(2L) == ((2L, "x y")))
    assert(!out.contains(3L))
    assert(out(4L) == ((5L, "p q r s t")))
  }

  test("dropDuplicateLines keeps only the first corpus-wide occurrence " +
    "of each line and reassembles docs in original order (dd13)") {
    val docs = Seq(
      (1L, "intro one\n\nshared footer\nbody A"),
      (2L, "intro two\nshared footer\nbody B\nintro two"),
      (3L, "shared footer")) // every line a dup → doc disappears
      .toDF("doc_id", "text")
    val out = Dedup.dropDuplicateLines(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // blank line dropped; doc 1 owns the footer (lowest id)
    assert(out(1L) == "intro one\nshared footer\nbody A")
    // footer deduped away; the WITHIN-doc repeat of "intro two" too
    assert(out(2L) == "intro two\nbody B")
    assert(!out.contains(3L))
  }

  test("dropBoilerplateLines removes EVERY occurrence of a line past the " +
    "per-source frequency threshold; other sources keep theirs (tx25)") {
    val docs = Seq(
      (1L, "s1", "body one\nnav bar\nfooter"),
      (2L, "s1", "body two\nnav bar\nfooter"),
      (3L, "s1", "body three\nnav bar"),
      (4L, "s2", "nav bar\nother body")) // 1 of 1 s2 docs but minDocs=2
      .toDF("doc_id", "source", "text")
    val out = Dedup.dropBoilerplateLines(docs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // "nav bar" in 3/3 s1 docs → gone everywhere in s1 (incl. doc 1);
    // "footer" in 2/3 ≥ 50% → gone; bodies unique → kept
    assert(out(1L) == "body one")
    assert(out(2L) == "body two")
    assert(out(3L) == "body three")
    // s2 has one doc: its nav bar misses minDocs=2 and survives
    assert(out(4L) == "nav bar\nother body")
    // a doc that is pure boilerplate disappears
    val pure = Seq((1L, "s1", "x"), (2L, "s1", "x")).toDF("doc_id", "source", "text")
    assert(Dedup.dropBoilerplateLines(pure).count() == 0L)
    intercept[graft.ParameterError](Dedup.dropBoilerplateLines(docs, minDocs = 0))
    intercept[graft.ParameterError](Dedup.dropBoilerplateLines(docs, fracDocs = 1.5))
  }

  test("sourceOverlapMatrix: identical sources read jaccard 1, disjoint " +
    "pairs emit no row, partial overlap exact (tx28)") {
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta"), // shingles: ab-g, b-g-d
      (2L, "s2", "alpha beta gamma delta"), // identical set
      (3L, "s3", "alpha beta gamma zeta"),  // shares 1 of 2 with s1
      (4L, "s4", "one two three four"))     // disjoint
      .toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlapMatrix(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_common"), r.getAs[Double]("jaccard")))).toMap
    assert(out(("s1", "s2")) == ((2L, 1.0)))
    // s1 ∩ s3 = {alpha beta gamma}: 1 common of 3 distinct → 1/3
    assert(out(("s1", "s3")) == ((1L, 0.333333)))
    assert(out(("s2", "s3")) == ((1L, 0.333333)))
    assert(!out.contains(("s1", "s4")) && !out.contains(("s3", "s4")))
    assert(out.size == 3)
    // the low-cardinality contract is loud, not silent
    intercept[graft.ParameterError](
      Dedup.sourceOverlapMatrix(docs, maxSources = 2).collect())
  }

  test("sourceDupReport: corpus-wide keep-first bills the copier source, " +
    "not the origin (tx27)") {
    val docs = Seq(
      (1L, "origin", "body one"), (2L, "origin", "body two"),
      (10L, "copycat", "body one"), (11L, "copycat", "body two"),
      (12L, "copycat", "fresh content")) // its own original
      .toDF("doc_id", "source", "text")
    val out = Dedup.sourceDupReport(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"),
          r.getAs[Double]("dup_rate")))).toMap
    assert(out("origin") == ((2L, 0L, 0.0)))
    assert(out("copycat") == ((3L, 2L, 0.666667)))
  }

  test("softDedupWeights: clustered docs weigh 1/|cluster|, unclustered " +
    "1.0; total weight = unique-doc mass (dd23)") {
    val docs = (1L to 5L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cluster")
    val out = Dedup.softDedupWeights(docs, clusters)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("cluster_size"), r.getAs[Double]("weight")))).toMap
    assert(out(1L) == ((3L, 0.333333)) && out(2L) == ((3L, 0.333333)))
    assert(out(4L) == ((1L, 1.0)) && out(5L) == ((1L, 1.0)))
    // expected mass: one cluster + two singletons ≈ 3 docs
    val total = out.values.map(_._2).sum
    assert(math.abs(total - 2.999999) < 1e-9)
  }

  test("ngramOverlap plan shape: eval grams broadcast, corpus never " +
    "pair-joins the reference") {
    val eval = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq((100L, "one two three alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramOverlap(corpus, eval, n = 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      "the distinct eval-gram set must broadcast")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "no shuffled or all-pairs join on the collision test")
    assert(out.count() == 1)
  }

  test("selectByTokenBudget keeps whole high bins, hash-samples the " +
    "boundary bin at the fill rate, and degenerates cleanly (sp5)") {
    import graft.text.Sampling
    // three quality tiers, 10 docs × 10 tokens each
    val rows = (0 until 10).map(i => (i.toLong, 0.95, 10L)) ++
      (10 until 20).map(i => (i.toLong, 0.50, 10L)) ++
      (20 until 30).map(i => (i.toLong, 0.10, 10L))
    val df = rows.toDF("doc_id", "score", "tokens")
    def sel(budget: Long) = Sampling.selectByTokenBudget(
      df, "doc_id", col("score"), col("tokens"), budget)
      .collect().map(_.getLong(0)).toSet
    // budget = exactly the top tier → top tier kept whole, nothing else
    assert(sel(100L) == (0L until 10L).toSet)
    // budget 150: top tier whole + the 0.5 tier Bernoulli at rate 0.5 —
    // membership must equal sampleByHash at the same rate and seed
    val mid = Sampling.sampleByHash(
      df.where(col("score") === 0.5), "doc_id", 0.5, seed = "budget")
      .collect().map(_.getLong(0)).toSet
    assert(sel(150L) == (0L until 10L).toSet ++ mid)
    assert(sel(0L).isEmpty)
    assert(sel(10000L) == (0L until 30L).toSet) // budget ≥ corpus: all
  }

  test("selectByTokenBudgetPerGroup: each group fills its own budget " +
    "independently; a group under budget keeps everything (sp13)") {
    import graft.text.Sampling
    // group A: 20 docs × 10 tokens (over budget); group B: 5 × 10 (under)
    val rows = (0 until 10).map(i => (i.toLong, "A", 0.95, 10L)) ++
      (10 until 20).map(i => (i.toLong, "A", 0.10, 10L)) ++
      (20 until 25).map(i => (i.toLong, "B", 0.50, 10L))
    val df = rows.toDF("doc_id", "grp", "score", "tokens")
    val sel = Sampling.selectByTokenBudgetPerGroup(
      df, "doc_id", "grp", col("score"), col("tokens"), budgetPerGroup = 100L)
      .collect().map(r => r.getLong(0)).toSet
    // A: exactly its top tier; B: all 5 docs (50 < 100 budget)
    assert(sel == (0L until 10L).toSet ++ (20L until 25L).toSet)
    // per-group independence: A's overflow cannot consume B's slack
    intercept[graft.ParameterError](Sampling.selectByTokenBudgetPerGroup(
      df, "doc_id", "grp", col("score"), col("tokens"), 100L, buckets = 0))
  }

  test("sampling: hash samples are deterministic, nested across rates, " +
    "and splits partition the corpus on stable boundaries") {
    import graft.text.Sampling
    val ids = spark.range(2000).toDF("doc_id")
    val r10 = Sampling.sampleByHash(ids, "doc_id", 0.10, seed = "s")
      .collect().map(_.getLong(0)).toSet
    val r30 = Sampling.sampleByHash(ids, "doc_id", 0.30, seed = "s")
      .collect().map(_.getLong(0)).toSet
    assert(r10.subsetOf(r30)) // nested: growing the rate keeps every row
    assert(r10 == Sampling.sampleByHash(ids, "doc_id", 0.10, seed = "s")
      .collect().map(_.getLong(0)).toSet) // deterministic re-run
    // ~binomial around the rate (loose 5-sigma bounds)
    assert(math.abs(r30.size - 600) < 5 * math.sqrt(2000 * 0.3 * 0.7))

    val split = Sampling.splitByHash(ids, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.size == 2000) // exhaustive: every row gets exactly one split
    assert(split.values.toSet == Set("train", "val", "test"))
    // split fractions near the decimal bounds (0.8 / 0.9), loose 5-sigma
    val nTrain = split.values.count(_ == "train")
    val nVal = split.values.count(_ == "val")
    assert(math.abs(nTrain - 1600) < 5 * math.sqrt(2000 * 0.8 * 0.2))
    assert(math.abs(nVal - 200) < 5 * math.sqrt(2000 * 0.1 * 0.9))

    intercept[graft.ParameterError](
      Sampling.sampleByHash(ids, "doc_id", 1.2))
    intercept[graft.ParameterError](
      Sampling.splitByHash(ids, "doc_id", Seq("a" -> 0.5, "b" -> 0.4)))
  }

  test("sampleKPerStratum: exactly k per stratum, short strata survive " +
    "whole, seed-deterministic, WindowGroupLimit in the plan (sp6)") {
    import graft.text.Sampling
    val df = spark.range(100).toDF("doc_id")
      .withColumn("src", (col("doc_id") % 3).cast("string"))
      .union(Seq((900L, "tiny"), (901L, "tiny")).toDF("doc_id", "src"))
    val out = Sampling.sampleKPerStratum(df, "doc_id", "src", k = 5, seed = "e")
      .collect().map(r => r.getString(1) -> r.getLong(0))
    val bySrc = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bySrc("0").size == 5 && bySrc("1").size == 5 && bySrc("2").size == 5)
    assert(bySrc("tiny") == Set(900L, 901L)) // < k keeps all
    // pure function of (id, seed): identical on re-run, different seed
    // reshuffles membership
    val again = Sampling.sampleKPerStratum(df, "doc_id", "src", 5, "e")
      .collect().map(_.getLong(0)).toSet
    assert(again == out.map(_._2).toSet)
    val other = Sampling.sampleKPerStratum(df, "doc_id", "src", 5, "f")
      .collect().map(_.getLong(0)).toSet
    assert(other != again)
    // the rank<=k filter must compile to the partial top-k operator:
    // each map task keeps k rows per stratum BEFORE the exchange
    val plan = Sampling.sampleKPerStratum(df, "doc_id", "src", 5, "e")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    intercept[graft.ParameterError](
      Sampling.sampleKPerStratum(df, "doc_id", "src", 0))
  }

  test("chunks: stride windows cover every token with the configured " +
    "overlap; short/empty docs behave (tx6)") {
    val text10 = (1 to 10).map(i => s"t$i").mkString(" ")
    val out = Seq((1L, text10), (2L, "a b c"), (3L, ""), (4L, "   "))
      .toDF("doc_id", "text")
      .select($"doc_id",
        explode(TextAnalysis.chunks($"text", chunkSize = 4, stride = 3)).as("c"))
      .select($"doc_id", $"c.chunk_id", $"c.n_tokens", $"c.chunk_text")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getString(3)))
      .toMap
    // doc 1: 10 tokens, size 4 stride 3 → k = ceil((10−4)/3)+1 = 3
    // chunks at starts 0,3,6 — each overlaps the previous by 1 token and
    // the last window reaching the end stops the sequence (no redundant
    // trailing chunk)
    assert(out((1L, 0)) == (4L, "t1 t2 t3 t4"))
    assert(out((1L, 1)) == (4L, "t4 t5 t6 t7"))
    assert(out((1L, 2)) == (4L, "t7 t8 t9 t10"))
    assert(!out.contains((1L, 3)))
    // doc 2 fits one short chunk; empty/blank docs chunk to nothing
    assert(out((2L, 0)) == (3L, "a b c"))
    assert(!out.keySet.exists(_._1 >= 3L))
    // every token of doc 1 appears in ≥1 chunk (coverage)
    val covered = out.collect { case ((1L, _), (_, t)) => t.split(" ") }.flatten.toSet
    assert((1 to 10).forall(i => covered.contains(s"t$i")))
  }

  test("containmentFractions: PaLM fraction-of-grams-seen rule; " +
    "gram-less docs emit no row (dd15)") {
    val out = Dedup.containmentFractions(
      docs.where($"doc_id" =!= 1), docs.where($"doc_id" === 1),
      n = 3, threshold = 0.7)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    assert(out(2L) == ((7L, 7L, 1.0, true))) // exact dup: full containment
    // reorder shares 6 of its 7 trigrams ("lazy dog the" is novel)
    assert(out(3L) == ((7L, 6L, 0.857143, true)))
    assert(out(4L)._2 == 0L && !out(4L)._4) // disjoint content
    assert(!out.contains(5L)) // "hi": no trigrams, no row
  }

  // two cells: x-axis and y-axis centroids. v1/v2 are near-dups in cell
  // 0 with v1 closer to the centroid; v3/v4 are near-dups in cell 1 with
  // IDENTICAL centroid cosines (the id tiebreak case).
  private lazy val sdVecs = Seq(
    (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f)),
    (3L, Array(-0.1f, 1.0f)),
    (4L, Array(0.1f, 1.0f)))
    .toDF("vec_id", "embedding")
  private lazy val sdCents = Seq(
    (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("cell_id", "centroid")

  test("semanticDeduplicate keeps the pair member FARTHEST from the " +
    "centroid; centroid-cosine ties break on the id (sd1)") {
    val out = Dedup.semanticDeduplicate(
      sdVecs, sdCents, "vec_id", "embedding", threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cell 0: pair (1,2) cos≈0.994 — v1 has cent_cos 1.0 > v2's 0.994 →
    // v1 dropped. cell 1: pair (3,4) cos≈0.980 — cent_cos both 1/√1.01 →
    // tie → the higher id (4) dropped.
    assert(out == Map(2L -> 0L, 3L -> 1L))
  }

  test("prototypePrune drops the ⌊f·m⌋ most-prototypical per cell under " +
    "(cent_cos DESC, id); singleton cells survive (sd2)") {
    // cell 0 members by cent_cos: v1 (1.0) > v2 (≈0.994) > v5 — wait v5
    // is (0.8, 0.2): cc = 0.8/√0.68 ≈ 0.970 — order v1, v2, v5; m=3 →
    // drop ⌊1.5⌋ = 1 (v1). cell 1: v3/v4 tie on cc → id order v3, v4,
    // v6 (cc = 0.8/√0.68 lowest); m=3 → drop v3 (the id tiebreak).
    val six = sdVecs.union(Seq(
      (5L, Array(0.8f, 0.2f)), (6L, Array(0.2f, 0.8f)))
      .toDF("vec_id", "embedding"))
    val out = Dedup.prototypePrune(six, sdCents, "vec_id", "embedding", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 5L, 4L, 6L))
    // dropFraction 0 keeps everyone; a singleton cell never empties
    val one = Seq((9L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Dedup.prototypePrune(one, sdCents, "vec_id", "embedding", 0.9)
      .collect().map(_.getLong(0)).toSet == Set(9L))
    assert(Dedup.prototypePrune(six, sdCents, "vec_id", "embedding", 0.0)
      .count() == 6)
    intercept[graft.ParameterError] {
      Dedup.prototypePrune(six, sdCents, "vec_id", "embedding", 1.0)
    }
  }

  test("semanticDeduplicate: an oversized cell loses only its pruning — " +
    "members all survive, and the drop is observable") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // three per cell over a cap of 2 → both cells dropped from pairing
      val six = sdVecs.union(Seq(
        (5L, Array(0.8f, 0.2f)), (6L, Array(0.2f, 0.8f)))
        .toDF("vec_id", "embedding"))
      val out = Dedup.semanticDeduplicate(
        six, sdCents, "vec_id", "embedding", threshold = 0.95, maxBucket = 2)
      assert(out.collect().length == 6) // nobody dropped: conservative failure
      val m = out.queryExecution.observedMetrics("semdedup_cells")
      assert(m.getAs[Long]("rows_in_overflow") == 6L)
      assert(m.getAs[Long]("max_cell") == 3L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("minhashJaccardEstimates: exact duplicates estimate 1.0, only " +
    "candidate pairs are scored, degenerate buckets drop (dd20)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "completely unrelated content about distributed query engines"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashJaccardEstimates(docs)
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0))) // all 8 components agree
    // a hot bucket beyond maxBucket raises by default; the dropOversized
    // opt-in drops it instead of exploding
    val clones = (1L to 5L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again today"))
      .toDF("doc_id", "text")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val e = intercept[Exception] {
      Dedup.minhashJaccardEstimates(clones, maxBucket = 3).count()
    }
    assert(messages(e).exists(_.contains("exceeds maxBucket")), e.toString)
    assert(Dedup.minhashJaccardEstimates(clones, maxBucket = 3,
      dropOversized = true).count() == 0)
  }

  test("semanticContamination: flags corpus vectors cosine-near an eval " +
    "member of the SAME cell; other cells never compared (sd3)") {
    val centroids = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("cell_id", "centroid")
    val evalSet = Seq((900L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(0.99f, 0.1f)),   // cell 0, cos ≈ 0.999 vs eval → flagged
      (2L, Seq(0.1f, 0.9f)),    // cell 1: no eval member → never compared
      (3L, Seq(1.0f, -0.9f)))   // cell 0 but cos ≈ 0.71 < threshold
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticContamination(
      corpus, evalSet, centroids, "vec_id", "embedding", threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 1)
    assert(out.head._1 == 1L && out.head._2 == 900L && out.head._3 > 0.99)
  }

  test("splitByGroup: every member of a group shares its split; null " +
    "groups fall back to per-row identity (sp8)") {
    val df = (1L to 200L).map(i =>
      (i, if (i % 4 == 0) null else s"dom${i % 10}"))
      .toDF("doc_id", "grp")
    val out = Sampling.splitByGroup(df, "grp", "doc_id",
      Seq("train" -> 0.8, "test" -> 0.2))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
    // a group never straddles splits
    out.filter(_._2.isDefined).groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).toSet.size == 1, rows.take(3).toSeq)
    }
    // null-group rows split independently, not as one mega-group
    val nullSplits = out.filter(_._2.isEmpty).map(_._3).toSet
    assert(nullSplits.size == 2, s"null rows pooled: $nullSplits")
  }

  test("keepBestPerCluster: the highest-quality member survives (not the " +
    "min id); ties break low; unclustered docs untouched (dd21)") {
    val docs = Seq(
      (1L, "short"), (2L, "a much better document body"), (3L, "unrelated"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster")
    val q = Seq((1L, 0.2), (2L, 0.9), (3L, 0.1)).toDF("doc_id", "qv")
    val withQ = docs.join(q, "doc_id")
    val out = Dedup.keepBestPerCluster(withQ, clusters, col("qv"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(2L, 3L)) // 2 beats 1 on quality; 3 unclustered
    // equal quality → lowest id
    val tie = Seq((1L, 0.5), (2L, 0.5), (3L, 0.1)).toDF("doc_id", "qv")
    val out2 = Dedup.keepBestPerCluster(docs.join(tie, "doc_id"), clusters, col("qv"))
      .select("doc_id").as[Long].collect().sorted
    assert(out2.toSeq == Seq(1L, 3L))
  }

  test("lshPlan: crossover lands near the target threshold within the " +
    "hash budget; guards on domain") {
    val p = Dedup.lshPlan(threshold = 0.5, maxHashes = 64)
    assert(p.bands * p.rowsPerBand <= 64)
    assert(math.abs(p.crossover - 0.5) < 0.08, p.toString)
    assert(p.pAtThreshold > 0.3 && p.pAtThreshold < 0.8, p.toString)
    // a high threshold wants more rows per band (sharper curve, fewer
    // low-similarity collisions) than a low one
    val hi = Dedup.lshPlan(threshold = 0.9, maxHashes = 64)
    val lo = Dedup.lshPlan(threshold = 0.2, maxHashes = 64)
    assert(hi.rowsPerBand > lo.rowsPerBand, s"$hi vs $lo")
    // the default dd3 config (4 bands × 2 rows) targets ~0.5: the
    // planner's crossover for that shape is (1/4)^(1/2) = 0.5 exactly
    assert(Dedup.lshPlan(0.5, maxHashes = 8) ==
      Dedup.LshPlan(4, 2, 0.5, 1.0 - math.pow(1.0 - 0.25, 4)))
    intercept[graft.ParameterError](Dedup.lshPlan(0.0))
    intercept[graft.ParameterError](Dedup.lshPlan(0.5, maxHashes = 1))
  }

  test("diversity: closed-form mean pairwise squared distance — " +
    "identical corpus → 0, antipodal pair → 2 (sim12)") {
    val same = Seq((1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)))
      .toDF("vec_id", "embedding")
    val s = Similarity.diversity(same).head
    assert(s.getAs[Long]("n") == 2L && s.getAs[Long]("n_dims") == 2L)
    assert(s.getAs[Double]("diversity") == 0.0)
    // x = (1,0), y = (−1,0): E‖x‖² = 1, centroid = 0 → diversity 2
    // (the iid mean includes self-pairs: (0 + 4 + 4 + 0)/4 = 2)
    val anti = Seq((1L, Seq(1f, 0f)), (2L, Seq(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.diversity(anti).head
    assert(a.getAs[Double]("mean_sq_norm") == 1.0)
    assert(a.getAs[Double]("centroid_sq_norm") == 0.0)
    assert(a.getAs[Double]("diversity") == 2.0)
  }

  test("centroidDrift: cosine/L2 of exact-micro centroids; identical " +
    "corpora → (1, 0); zero centroid → null cosine (sim11)") {
    val a = Seq((1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((3L, Seq(0f, 2f))).toDF("vec_id", "embedding")
    val s = Similarity.centroidDrift(a, b).head
    assert(s.getAs[Long]("n_dims") == 2L)
    assert(s.getAs[Long]("n_a") == 2L && s.getAs[Long]("n_b") == 1L)
    assert(s.getAs[Double]("cosine") == 0.0) // orthogonal centroids
    assert(s.getAs[Double]("l2") == math.rint(math.sqrt(5.0) * 1e6) / 1e6)
    val same = Similarity.centroidDrift(a, a).head
    assert(same.getAs[Double]("cosine") == 1.0)
    assert(same.getAs[Double]("l2") == 0.0)
    val zero = Seq((9L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    val z = Similarity.centroidDrift(a, zero).head
    assert(z.isNullAt(z.fieldIndex("cosine")))
  }

  test("editVerify: exact distances, threshold filter, order " +
    "sensitivity where Jaccard is blind (dd22)") {
    val docs = Seq(
      (1L, "abcd"), (2L, "abxd"), (3L, "zzzz"),
      (4L, "a b c d"), (5L, "d c b a")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.editVerify(docs, cands, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("edit_distance"), r.getAs[Double]("similarity"))).toMap
    // one substitution over length 4 → sim 0.75
    assert(out((1L, 2L)) == ((1L, 0.75)))
    // nothing shared → sim 0, filtered
    assert(!out.contains((1L, 3L)))
    // word-reversed doc: unigram-shingle Jaccard would call these
    // identical; character edit distance kills the pair
    assert(!out.contains((4L, 5L)))
    // empty-vs-empty guards the division and keeps sim = 1
    val empty = Dedup.editVerify(
      Seq((1L, ""), (2L, "")).toDF("doc_id", "text"),
      Seq((1L, 2L)).toDF("id_a", "id_b")).head
    assert(empty.getAs[Double]("similarity") == 1.0)
    intercept[IllegalArgumentException](
      Dedup.editVerify(docs, cands, threshold = 1.5))
  }

  test("lshPlanFromHistogram: masses match the closed-form S-curve on " +
    "a two-bin histogram; best pick minimizes 10·fn+fp") {
    import spark.implicits._
    // 100 low-similarity pairs (bin 1, mid 0.15), 10 dups (bin 8, 0.85)
    val hist = Seq((1L, 100L), (8L, 10L)).toDF("jaccard_bin", "n_pairs")
    val out = Dedup.lshPlanFromHistogram(hist).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getInt(5))).toMap
    val grid = Seq(2, 4, 8, 16, 32).flatMap(b => Seq(1, 2, 4, 8).map((b, _)))
    assert(out.keySet == grid.map { case (b, r) => (b.toLong, r.toLong) }.toSet)
    def p(s: Double, b: Int, r: Int) =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    // replay the quantized scoring
    val brute = grid.map { case (b, r) =>
      val pLo = math.round(p(0.15, b, r) * 1e6)
      val pHi = math.round(p(0.85, b, r) * 1e6)
      (b.toLong, r.toLong) ->
        (100 * pLo + 10 * pHi, 100 * pLo, 10 * (1000000 - pHi))
    }.toMap
    brute.foreach { case (k, (cq, fpq, fnq)) =>
      val (cand, fp, fn, _) = out(k)
      assert(math.abs(cand - cq / 1e6) < 1e-6, s"cand at $k")
      assert(math.abs(fp - fpq / 1e6) < 1e-6, s"fp at $k")
      assert(math.abs(fn - fnq / 1e6) < 1e-6, s"fn at $k")
    }
    val bestKey = brute.toSeq.sortBy { case ((b, r), (_, fpq, fnq)) =>
      (fnq * 10 + fpq, b, r) }.head._1
    assert(out(bestKey)._4 == 1)
    assert(out.count(_._2._4 == 1) == 1)
    intercept[ParameterError](Dedup.lshPlanFromHistogram(hist, grid = Nil))
  }

  test("duplicateClusters: driver union-find fast path == distributed " +
    "min-label loop on a random long-id graph (r8 size-adaptive switch)") {
    // deterministic pseudo-random graph: 400 nodes, chains + cliques +
    // singleton islands, long enough paths to exercise convergence
    val rnd = new scala.util.Random(42)
    val edges = (0 until 300).map { i =>
      val a = rnd.nextInt(400).toLong
      val b = rnd.nextInt(400).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2) ++ (0 until 50).map(i => (1000L + i, 1001L + i))
    val pairs = edges.toDF("id_a", "id_b")
    val fast = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toSet
    val dist = Dedup.duplicateClusters(pairs, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toSet
    assert(fast == dist)
    // every cluster label is the component minimum: no label exceeds
    // its node id's own component members' min (spot check via regroup)
    val byCluster = fast.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      assert(members.map(_._1).min == c, s"cluster $c is not the min id")
    }
  }
}

object DedupSimSpec {

  /** Group-seed vocabulary modulus. Must exceed any doc count used:
    * two group seeds congruent mod the vocabulary share ALL 48 core
    * words, so a modulus below n (the old 99991 at 1 M docs) welds
    * "unique" docs into accidental clusters. */
  private val Vocab = 2147483629L // prime

  /** 50-word docs; doc groups of 10 share the first 48 words (derived
    * from the group seed over a [[Vocab]]-word vocabulary, so distinct
    * groups stay distinct), the last 2 words are per-doc perturbations.
    * Every group is a true near-duplicate cluster of exactly 10. */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val group = id - pmod(id, lit(10L))
    val words =
      (0 until 48).map(i =>
        concat(lit("w"), pmod(group * 4099 + lit(i * i * 7 + i), lit(Vocab)))) ++
        (48 until 50).map(i => concat(lit("w"), pmod(id * 17 + lit(i * 13), lit(997))))
    spark.range(n).select(id.as("doc_id"), concat_ws(" ", words: _*).as("text"))
  }
}
