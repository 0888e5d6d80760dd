package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Dedup scale bench: a deterministic synthetic corpus (groups of ten
  * documents sharing 48 of 50 vocabulary words → true near-duplicates)
  * pushed through the exact, MinHash+LSH, and SimHash banding paths at
  * sizes the sf tables don't reach. All text is generated with plain
  * codegen'd column expressions — no driver-side materialization.
  *
  * Usage: runMain graft.tools.DedupBench [nDocs ...]  (default 20k 100k)
  */
object DedupBench {

  /** Group-seed vocabulary modulus. Must exceed any doc count benched:
    * two group seeds congruent mod the vocabulary share ALL 48 core
    * words, so a modulus below n (the old 99991 at 1 M docs) welds
    * "unique" docs into accidental clusters and the sparse corpus stops
    * measuring the verify-stage prune. */
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

  /** Realistic dup-mass profile: only 10% of docs sit in 10-doc dup
    * clusters, the other 90% are unique — exercises the verify-stage
    * semi-join prune (only cluster docs should be re-shingled). */
  def sparseCorpus(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val group = when(pmod(id, lit(100L)) < 10, id - pmod(id, lit(10L))).otherwise(id)
    val words =
      (0 until 48).map(i =>
        concat(lit("w"), pmod(group * 4099 + lit(i * i * 7 + i), lit(Vocab)))) ++
        (48 until 50).map(i => concat(lit("w"), pmod(id * 17 + lit(i * 13), lit(997))))
    spark.range(n).select(id.as("doc_id"), concat_ws(" ", words: _*).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // args: sizes, plus an optional `only=<substring>` row filter for
    // targeted scale runs (the full 1 M suite is a multi-suite marathon)
    val only = args.collectFirst { case a if a.startsWith("only=") => a.drop(5) }
    val sizeArgs = args.toSeq.filterNot(_.startsWith("only="))
    val sizes = if (sizeArgs.nonEmpty) sizeArgs.map(_.toLong) else Seq(20000L, 100000L)

    val probe = TaskProfile.install(spark)
    def time(name: String)(f: => Long): Unit = {
      if (only.exists(s => !name.contains(s))) return
      probe.reset()
      val t0 = System.nanoTime()
      val rows = f
      val (task, stage) = probe.snapshot
      println(f"[dedupbench] $name%-36s ${(System.nanoTime() - t0) / 1e9}%7.1f s  " +
        f"($rows rows)  max-task ${task / 1000.0}%6.2f s (${stage.trim})")
      if (task > 10000) probe.topStages(4).foreach { case (s, ms, nt, mean) =>
        println(f"[dedupbench]     stage-max ${ms / 1000.0}%6.2f s  " +
          f"(n=$nt%d mean ${mean / 1000.0}%5.2f s)  $s") }
    }

    // observedMetrics is empty on the DataFrame under AQE; the
    // QueryExecutionListener path receives it either way
    @volatile var shingled = -1L
    val metricListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("neardup_verify")
          .foreach(r => shingled = r.getAs[Long]("docs_shingled"))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(metricListener)

    sizes.foreach { n =>
      val docs = corpus(spark, n)
      println(s"--- $n docs ---")
      time(s"exact groups")(Dedup.exactGroups(docs).count())
      time(s"minhash LSH candidates")(Dedup.minhashCandidates(docs).count())
      time(s"near-dup full (jaccard>=0.5)") {
        shingled = -1L
        val rows = Dedup.nearDuplicates(docs, threshold = 0.5).count()
        // the listener fires asynchronously after count() returns
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (shingled < 0 && System.nanoTime() < deadline) Thread.sleep(50)
        println(s"[dedupbench]   verify stage shingled $shingled of $n docs (semi-join prune)")
        rows
      }
      time(s"near-dup sparse (10% dup mass)") {
        shingled = -1L
        val rows = Dedup.nearDuplicates(sparseCorpus(spark, n), threshold = 0.5).count()
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (shingled < 0 && System.nanoTime() < deadline) Thread.sleep(50)
        println(s"[dedupbench]   verify stage shingled $shingled of $n docs (semi-join prune)")
        rows
      }
      // the two pipeline_dedup/pipeline_curate stages separately — the
      // r10 ladder found a wall-dominating single task at 1M docs and
      // this row pair attributes it (candidates+verify vs clustering)
      time(s"dup clusters sparse (CC stage)") {
        graft.Checkpoint.scoped(spark) {
          Dedup.duplicateClusters(
            Dedup.nearDuplicates(sparseCorpus(spark, n), threshold = 0.5))
        }.count()
      }
      time(s"boilerplate lines (20 sources)") {
        // 3-line docs: body + per-source footer (boilerplate in 100% of
        // the source) + unique row line — removal mass is n footers
        val multi = docs.select(col("doc_id"),
          pmod(col("doc_id"), lit(20L)).cast("string").as("source"),
          concat(col("text"), lit("\nfooter for src "),
            pmod(col("doc_id"), lit(20L)), lit("\nrow "), col("doc_id"))
            .as("text"))
        Dedup.dropBoilerplateLines(multi).count()
      }
      time(s"simhash 64b/8band pairs (ham<=3)")(
        Dedup.simhashNearPairs(docs, maxHamming = 3).count())
      time(s"simhash 32b/4band pairs (ham<=3)")(
        Dedup.simhashNearPairs(docs, maxHamming = 3, bits = 32, bands = 4).count())
      // the Manku blocked generator (dd28): same complete pair set, but
      // candidate mass 56n + true pairs where the 8-bit band keys above
      // read n²·8/256 — the config that survives the 10⁶-doc cliff
      time(s"simhash blocked 56tbl pairs (ham<=3)")(
        Dedup.simhashNearPairsBlocked(docs, maxHamming = 3).count())
      // sparse corpus = the scale-honest comparison: 90% unique docs,
      // so RANDOM band-key collisions (n²·bands/2^width) dominate the
      // banded path's candidate mass while the blocked path stays at
      // 56n + true pairs
      time(s"simhash sparse 64b/8band (ham<=3)")(
        Dedup.simhashNearPairs(sparseCorpus(spark, n), maxHamming = 3).count())
      time(s"simhash sparse blocked 56tbl (ham<=3)")(
        Dedup.simhashNearPairsBlocked(
          sparseCorpus(spark, n), maxHamming = 3).count())
      // the dd29 build/search split: index the sparse corpus ONCE, then
      // check a 1%-sized ingest batch whose docs DUPLICATE corpus docs
      // (same texts, shifted ids — a fully-duplicate ingest, the worst
      // case for collision mass). The claim under test: per-batch cost
      // ∝ batch fingerprint pass + key-pruned band scan + collision
      // mass — NOT ∝ |index| (compare the full blocked row above)
      val wantIx = only.forall(s =>
        "simhash index build (sparse)".contains(s) ||
          "simhash incremental batch (1%)".contains(s))
      if (wantIx) {
        val ixDir = java.nio.file.Files
          .createTempDirectory("dedupbench_shix").toString
        // an only= filter matching the batch row but not the build row
        // would skip the build inside time()'s gate and crash the batch
        // read on a nonexistent index — build untimed in that case
        val buildTimed = only.forall("simhash index build (sparse)".contains(_))
        if (buildTimed)
          time(s"simhash index build (sparse)") {
            Dedup.writeSimhashIndex(ixDir, sparseCorpus(spark, n))
            n
          }
        else Dedup.writeSimhashIndex(ixDir, sparseCorpus(spark, n))
        val batch = sparseCorpus(spark, math.max(n / 100, 1000L))
          .select((col("doc_id") + 3000000000L).as("doc_id"), col("text"))
        time(s"simhash incremental batch (1%)")(
          Dedup.incrementalSimhashPairs(spark, ixDir, batch).count())
      }
      // eval set = every 1000th doc's text, re-id'd: each eval doc's
      // 48-word core collides with its source group → hits ∝ eval size
      val eval = docs.where(pmod(col("doc_id"), lit(1000L)) === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      time(s"exact 13-gram decontamination")(
        Dedup.decontaminateExact(docs, eval, n = 13).count())
      time(s"line dedup (corpus-wide)")(
        Dedup.dropDuplicateLines(docs).count())
      // dup-heavy: 10-doc groups share their 48-word core, so ~all
      // grams in 9 of 10 docs are later occurrences → cost is dominated
      // by the covered-position mass, the operator's worst realistic case
      time(s"exactsubstr self-dedup n=13")(
        Dedup.dedupExactSubstrings(docs).count())
      time(s"exactsubstr self-dedup sparse")(
        Dedup.dedupExactSubstrings(sparseCorpus(spark, n)).count())
      time(s"gopher signals filter (native)")(
        docs.where(graft.text.TextAnalysis.gopherKeepNative(col("text"))).count())
      time(s"unigram-LM cross-entropy (self-ref)")(
        graft.text.LangModel.crossEntropy(docs, docs).count())
      // linkage family (r8): the LOSSLESS prefix-filter join and the
      // er1 composition (pairs → min-label CC → survivorship) — the
      // catalog's most expensive entries get the same scale rows as the
      // probabilistic paths. Dup mass: each 10-doc group verifies 45
      // pairs → pair mass 4.5n dense / 0.45n sparse.
      time(s"prefix join dense (ppj1 shape)")(
        graft.dedup.SetJoin.prefixFilterJoin(docs, theta = 0.5).count())
      time(s"prefix join sparse (10% dup mass)")(
        graft.dedup.SetJoin.prefixFilterJoin(
          sparseCorpus(spark, n), theta = 0.5).count())
      time(s"er1 entities (pairs->CC->survivor)") {
        val d = sparseCorpus(spark, n)
          .withColumn("n_chars", length(col("text")))
        graft.Checkpoint.scoped(spark) {
          val pairs = graft.dedup.SetJoin.prefixFilterJoin(d, theta = 0.5)
            .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
          val labels = Dedup.duplicateClusters(pairs)
            .select(col("id").as("doc_id"), col("cluster"))
          d.select(col("doc_id"), col("n_chars"))
            .join(labels, Seq("doc_id"), "left")
            .withColumn("entity", coalesce(col("cluster"), col("doc_id")))
            .groupBy("entity")
            .agg(count(lit(1)).as("n_members"),
              max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
                .as("canonical_doc"))
        }.count()
      }
    }

    // SemDeDup at scale: 64-dim embedding corpus with 10% dup mass
    // (10-vector groups share a pseudo-random direction; per-vector
    // bump on one dimension keeps them near- but not exact-duplicates),
    // quantizer trained on a 2% hash sample (k=4096, one Lloyd round —
    // the FAISS practice), dedup then assigns ALL vectors and prunes
    // within cells. Cost ∝ Σ cell m² with cells ≈ n/k, the paper's own
    // scaling lever; the maxBucket guard caps any degenerate cell.
    val nEmb = sizes.max
    def embCorpus(n: Long): DataFrame = {
      val id = col("id")
      val group = when(pmod(id, lit(100L)) < 10, id - pmod(id, lit(10L))).otherwise(id)
      // murmur3 per (group, dim): a linear-congruential form here makes
      // every group a constant shift of every other (near-collinear
      // vectors → everything "deduplicates"); a real hash keeps
      // inter-group cosines near 0 at 64 dims
      spark.range(n).select(id.as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (pmod(hash(group, d).cast("long"), lit(2039L))
            .cast("double") / 2039.0 - 0.5)
            + when(d === pmod(id, lit(64L)), 0.05).otherwise(0.0))
          .as("embedding"))
    }
    val embs = embCorpus(nEmb)
    println(s"--- semdedup: $nEmb 64-dim vectors ---")
    // lazy: the kmeans fit eagerly checkpoints per round, so an
    // `only=` run that skips the semdedup rows must not pay for it
    lazy val quantizer = graft.sim.Similarity.kmeansCentroids(
      graft.text.Sampling.sampleByHash(embs, "vec_id", 0.02, "embbench"),
      k = 4096, iters = 1)
    time(s"semdedup k=4096 (10% dup mass)")(
      Dedup.semanticDeduplicate(embs, quantizer, "vec_id", "embedding",
        threshold = 0.8, maxBucket = 10000).count())
    // every vector identical → ONE cell of n vectors: the guard must
    // drop the cell from pairing (all survive) instead of exploding
    // n²/2 cosine pairs in a single task; the remaining cost is the
    // one unavoidable assignment pass
    val embAdv = spark.range(nEmb).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), _ => lit(1.0)).as("embedding"))
    time(s"semdedup adversarial one cell (capped)")(
      Dedup.semanticDeduplicate(embAdv, quantizer, "vec_id", "embedding",
        threshold = 0.8).count())

    // Adversarial: one giant exact-duplicate clique — every doc lands in
    // the SAME bucket in every band. Under the r11 default the guard
    // RAISES (a silent drop voided the completeness claim — the dd27
    // 10M-doc cliff); with dropOversized=true the bucket is dropped
    // (0 pairs) without a straggler task. Both modes exercised here:
    // without ANY guard this is a 5·10⁹-pair explosion in one task.
    val nAdv = sizes.max
    val adversarial = spark.range(nAdv).select(col("id").as("doc_id"),
      lit("identical adversarial document body with plenty of words to shingle")
        .as("text"))
    println(s"--- adversarial: $nAdv identical docs, default maxBucket ---")
    time(s"minhash default (guard raises)") {
      try {
        Dedup.minhashCandidates(adversarial).count()
        println(s"[dedupbench]   ERROR: oversized bucket did NOT raise")
        -1L
      } catch {
        case e: Exception =>
          println(s"[dedupbench]   guard raised as designed: " +
            s"${Option(e.getMessage).getOrElse(e.toString).take(120)}")
          0L
      }
    }
    time(s"minhash capped opt-in (expect 0 pairs)")(
      Dedup.minhashCandidates(adversarial, dropOversized = true).count())
    time(s"simhash capped opt-in (expect 0 pairs)")(
      Dedup.simhashNearPairs(adversarial, maxHamming = 3,
        dropOversized = true).count())
    // exactsubstr has no pair join to bomb: n identical docs put n
    // occurrences in each gram's hash bucket — one window sort per
    // bucket, covered mass ∝ n — and exactly the FIRST doc survives.
    // n = 5: the 10-word body must actually form grams (13 > 10 words
    // would vacuously keep everyone)
    time(s"exactsubstr adversarial (expect 1 doc)")(
      Dedup.dedupExactSubstrings(adversarial, n = 5).count())
    // cross-corpus: identical boilerplate on BOTH sides would emit
    // |corpus|×|ref| candidate pairs in one task without the guard
    time(s"cross-corpus capped opt-in (expect 0 pairs)")(
      Dedup.crossNearDuplicates(
        adversarial,
        adversarial.select((col("doc_id") + 2000000000L).as("doc_id"), col("text")),
        threshold = 0.5, dropOversized = true).count())
    // Hot-gram worst case for the PREFIX filter: tiny docs (two
    // shingles each) all sharing one 3-shingle. The shared gram is
    // globally hottest, but with s=2 the prefix covers BOTH tokens, so
    // without the guard the hot bucket pairs C(n,2) candidates — all
    // passing the positional filter, all REJECTED at verify
    // (inter=1/union=3 < θ). The maxBucket guard must RAISE (the r8
    // loud-exactness contract) in seconds, not run quadratically.
    val hotGram = spark.range(nAdv).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma u"), col("id")).as("text"))
    // the guard only fires when the hot bucket EXCEEDS maxBucket — at
    // nAdv <= the default 100k the row would legitimately grind the
    // quadratic path instead (measured: 825 s at nAdv = 100000), so pin
    // the cap below the hot-bucket size for any bench size
    val advCap = math.max(1000L, math.min(nAdv / 2, 100000L)).toInt
    time(s"prefix join hot-gram (guard raises)") {
      try {
        graft.dedup.SetJoin.prefixFilterJoin(hotGram, theta = 0.5,
          maxBucket = advCap).count()
        println(s"[dedupbench]   ERROR: hot-gram corpus did NOT trip the guard")
        -1L
      } catch {
        case e: Exception =>
          println(s"[dedupbench]   guard raised as designed: " +
            s"${Option(e.getMessage).getOrElse(e.toString).take(120)}")
          0L
      }
    }
    spark.stop()
  }
}
