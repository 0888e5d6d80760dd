package graft.dedup

import graft.{Buckets, Parallelism}
import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.text.TextAnalysis
import graft.Exact.Micro

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is a hash-groupBy — one shuffle on a 32-hex-char key,
  *    uniformly distributed by construction.
  *  - MinHash/LSH never compares all pairs: shingle → k min-hashes →
  *    band signatures → self-join ON band bucket. Candidate pairs are
  *    only generated inside buckets, so the join is an equi-join Catalyst
  *    executes as a shuffled hash join on the band key.
  *  - All hashes are md5-derived so results are engine-independent
  *    (reproducible against the DuckDB oracle and across Spark versions —
  *    no dependence on Spark's internal Murmur3 seeds).
  */
object Dedup {

  /** Exact duplicate groups: md5 over normalized text, keep the lowest id
    * as canonical. Returns (content_key, canonical_id, dup_count). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("content_key", md5(lower(trim(col(textCol)))))
      .groupBy("content_key")
      .agg(
        min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("dup_count"))

  /** Exact-dedup projection: keep one row per distinct content. */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(md5(lower(trim(col(textCol))))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Word-level shingles of size n as an array column (null-free).
    * transform over a slide of the word array — no explode needed. */
  def shingles(textCol: Column, n: Int = 3): Column =
    // bindOnce: referenced bare inside the transform lambda, the word
    // array (regex normalize + split) would be rebuilt PER SHINGLE —
    // lambda bodies get no subexpression elimination (SPARK-35410).
    // This column form sits on the ppj1/er1 hot path via
    // [[SetJoin.prefixFilterJoin]]'s tokenizer.
    graft.text.TextAnalysis.bindOnce(
      split(trim(regexp_replace(lower(textCol), "[^a-z0-9 ]", " ")), "\\s+"),
      words => {
        val count = size(words) - (n - 1)
        // guard: sequence(0, -1) would generate a DESCENDING range, not empty
        when(count > 0,
          transform(
            sequence(lit(0), count - 1),
            i => concat_ws(" ", slice(words, i + 1, lit(n)))))
          .otherwise(array())
      })

  /** One MinHash value: the lexicographic min of md5(salt || shingle) —
    * a universal-ish hash family indexed by salt, engine-independent. */
  def minhash(shingleArr: Column, salt: Int): Column =
    array_min(transform(shingleArr, s => md5(concat(lit(salt.toString + "|"), s))))

  /** Exploded shingle stream `(id, shingle)` — the scale path.
    *
    * Round 5: one native expression ([[graft.functions.ShingleArray]])
    * builds the whole shingle array per row inside whole-stage codegen,
    * then a single Generate explodes it — byte-identical output to the
    * previous posexplode→`lead()`-window chain WITHOUT the per-doc sort
    * of the word stream (the window rode a hash exchange; now the only
    * shuffle left is the [[graft.Parallelism.keyed]] repartition, which
    * coarse-partitioned local inputs still need before the CPU-heavy
    * md5 work downstream). The array-lambda formulation ([[shingles]])
    * remains the reference semantics; it evaluates interpreted (~2.4
    * ms/doc, 25× slower) and stays out of hot paths. */
  def shingleRows(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3): DataFrame =
    Parallelism.keyed(docs, col(idCol)).select(
      col(idCol),
      explode(graft.functions.MinHashShingles.shingleArrayNative(col(textCol), n))
        .as("__s"))

  /** Shingle set per doc as ONE projected array column — the verify-stage
    * form: no explode, no re-collect, zero shuffles. Output
    * `(id, __sh array<string>)`; shingle-less docs keep an empty array. */
  private[graft] def shingleArrays(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame =
    docs.select(
      col(idCol),
      graft.functions.MinHashShingles.shingleArrayNative(col(textCol), n).as("__sh"))

  /** MinHash signatures + LSH band keys. numHashes = bands × rowsPerBand.
    * Band key b = md5 of the concatenated minhashes in that band.
    *
    * Computed by exploding shingles and taking `min(md5(salt||shingle))`
    * per salt as ONE hash aggregation — codegen'd with map-side partial
    * aggregation, one pass over the shingle stream, one shuffle on the
    * id. (The array-lambda formulation — array_min(transform(...)) —
    * is not whole-stage-codegen'd and gets re-inlined once per hash by
    * projection collapse: measured 60× slower at 8 hashes.)
    *
    * This wide (id, band_0..band_{b-1}) form is the REFERENCE semantics
    * and the equivalence anchor for the native kernel; the operators
    * below use [[minhashMelted]] (one native expression + posexplode —
    * no signature aggregation at all). */
  def withMinhashBands(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2): DataFrame = {
    val exploded = shingleRows(docs, idCol, textCol, shingleSize)
    val numHashes = bands * rowsPerBand
    val mins = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("__s")))).as(s"__mh$i"))
    val sig = exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"__mh${b * rowsPerBand + r}"))
      md5(concat_ws("|", slice: _*)).as(s"band_$b")
    }
    sig.select(col(idCol) +: bandCols: _*)
  }

  /** Melted band rows `(id, __band, __bk)` via the native one-pass
    * [[graft.functions.MinHashBands]] expression: the whole signature
    * (shingling, per-salt min-md5 folds, band keys) is computed inside
    * whole-stage codegen per row and posexplode melts it — hash-identical
    * to `withMinhashBands` + posexplode (spec-asserted) with NO shingle
    * window and NO signature aggregation. Shingle-less docs return a
    * null band array, which Generate drops — same docs the old
    * aggregation never emitted. [[graft.Parallelism.keyed]] stays: the
    * md5 folding is the CPU-heavy stage and a coarse-partitioned source
    * would serialize it. */
  private def minhashMelted(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      bands: Int,
      rowsPerBand: Int): DataFrame =
    Parallelism.keyed(docs, col(idCol)).select(
      col(idCol),
      posexplode(graft.functions.MinHashShingles.minhashBandsNative(
        col(textCol), shingleSize, bands, rowsPerBand)).as(Seq("__band", "__bk")))

  /** LSH parameter planner: pick (bands, rowsPerBand) for a target
    * Jaccard threshold within a hash budget. The s-curve P(candidate) =
    * 1 − (1 − s^r)^b has its steepest point near s* ≈ (1/b)^(1/r); the
    * planner scans every (b, r) with b·r ≤ maxHashes and returns the
    * configuration whose s* lands closest to `threshold`, along with
    * the capture probability AT the threshold — the driver-side sizing
    * arithmetic every minhash deployment does once (Leskovec et al.,
    * MMDS ch. 3). Pure driver math over ≤ maxHashes² cells; no Spark
    * job. */
  final case class LshPlan(
      bands: Int, rowsPerBand: Int, crossover: Double, pAtThreshold: Double)

  def lshPlan(threshold: Double, maxHashes: Int = 64): LshPlan = {
    if (threshold <= 0 || threshold >= 1)
      throw new graft.ParameterError(
        s"threshold must be in (0, 1): $threshold")
    if (maxHashes < 2)
      throw new graft.ParameterError(s"maxHashes must be >= 2: $maxHashes")
    val candidates = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / r
      if b * r >= 2
    } yield {
      val sStar = math.pow(1.0 / b, 1.0 / r)
      val pAtT = 1.0 - math.pow(1.0 - math.pow(threshold, r), b)
      LshPlan(b, r, sStar, pAtT)
    }
    candidates.minBy(p =>
      (math.abs(p.crossover - threshold), -p.bands * p.rowsPerBand))
  }

  /** LSH candidate pairs: ids sharing any band bucket (deduplicated).
    *
    * Scale shape: the band signatures are melted to long
    * `(band_idx, band_key, id)` rows, so ALL bands are bucketed by ONE
    * shuffle on (band_idx, band_key) — not one per band.
    *
    * `maxBucket` guards the pair explosion: a bucket of m ids emits
    * O(m²) pairs, so one degenerate bucket (mass exact-duplicates fed in
    * without [[dropExactDuplicates]] first) concentrates the whole job in
    * one task. A bucket above the cap RAISES by default (see
    * [[graft.Buckets]]); `dropOversized = true` drops it from candidate
    * generation instead — run exact dedup first if that loses recall
    * you need. The bucket-size check runs as a window count over the
    * same shuffle BEFORE collect_list, so an oversized bucket never
    * materializes as an in-memory array; in drop mode the drop is
    * observable via the Spark `observe` metric `minhash_buckets`
    * (rows_in_overflow, max_bucket). */
  def minhashCandidates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      maxBucket: Int = 10000,
      dropOversized: Boolean = false): DataFrame = {
    // Pairs come from WITHIN each bucket (groupBy + collect_list + double
    // explode) rather than a self-equi-join: the signature pipeline runs
    // once — a self-join would compute it per side (the planner does not
    // reuse the exchange across differently-aliased join inputs), and the
    // round-1 persist() workaround pinned the melt in executor memory for
    // the session. Bucket lists stay small by construction: md5 band keys
    // only collide for genuine near-duplicates, so the explode² blowup is
    // exactly the candidate-pair count the join would have emitted.
    // Round 5: the melt comes straight from the native minhash_bands
    // expression — no shingle window, no signature aggregation.
    val melted = minhashMelted(docs, idCol, textCol, shingleSize, bands, rowsPerBand)
    bandPairs(melted, idCol, maxBucket, Buckets.Metric("minhash_buckets"),
      "minhashCandidates", dropOversized)
  }

  /** Candidate pairs (id_a < id_b) of a band melt (id, __band, __bk):
    * the in-bucket pair generation shared by [[minhashCandidates]] and
    * [[minhashJaccardEstimates]]. */
  private def bandPairs(
      melted: DataFrame,
      idCol: String,
      maxBucket: Int,
      metric: Buckets.Metric,
      site: String,
      dropOversized: Boolean): DataFrame = {
    val lists = Buckets.capped(melted, Seq("__band", "__bk"), maxBucket,
      Buckets.Raise(site, "run dropExactDuplicates first or widen rowsPerBand")
        .orDrop(dropOversized), Some(metric))
      .where(col("__n") > 1)
      .groupBy("__band", "__bk")
      .agg(collect_list(col(idCol)).as("__ids"))
    Buckets.pairs(lists, "__ids", "id_a", "id_b")(_ < _)
      .select("id_a", "id_b")
      .distinct()
  }

  /** Verify-FREE near-dup scoring: estimate each candidate pair's
    * Jaccard as the fraction of agreeing MinHash signature components
    * (E[agree] = J, Broder 1997) — the web-scale shortcut that never
    * re-reads document text. Where [[nearDuplicates]]' verify stage
    * re-shingles candidate docs (exact but a second text read), the
    * estimator touches only the numHashes×32-hex signatures already
    * computed for banding; at 100 TB that is the difference between
    * re-scanning candidate text and joining two tiny signature columns.
    *
    * ONE shingle pass total: the signature aggregation (exploded
    * min-md5, one shuffle on the id) is lazily checkpointed and feeds
    * (a) the band melt → bucket pairs (same `maxBucket` window guard +
    * `minhash_est_buckets` observe metric as [[minhashCandidates]]) and
    * (b) both aliased sides of the estimate join — without the
    * checkpoint the planner would re-run the signature pipeline 3×
    * (the dd4 lesson). Output (id_a, id_b, est_jaccard); the estimate
    * is an exact small-integer ratio (matches/numHashes), no rounding
    * needed. */
  def minhashJaccardEstimates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      maxBucket: Int = 10000,
      dropOversized: Boolean = false): DataFrame = {
    val numHashes = bands * rowsPerBand
    val exploded = shingleRows(docs, idCol, textCol, shingleSize)
    val mins = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("__s")))).as(s"__mh$i"))
    val sig = exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .checkpointed(eager = false)
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"__mh${b * rowsPerBand + r}"))
      md5(concat_ws("|", slice: _*))
    }
    val melted = sig.select(
      col(idCol), posexplode(array(bandCols: _*)).as(Seq("__band", "__bk")))
    val pairs = bandPairs(melted, idCol, maxBucket,
      Buckets.Metric("minhash_est_buckets"), "minhashJaccardEstimates", dropOversized)
    val a = sig.select(
      (col(idCol).as("id_a") +:
        (0 until numHashes).map(i => col(s"__mh$i").as(s"__a$i"))): _*)
    val b = sig.select(
      (col(idCol).as("id_b") +:
        (0 until numHashes).map(i => col(s"__mh$i").as(s"__b$i"))): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (matches.cast("double") / numHashes).as("est_jaccard"))
  }

  /** n-gram (word-shingle) Jaccard similarity for a candidate pair —
    * |A∩B| / |A∪B| over distinct shingles. */
  def jaccard(a: Column, b: Column): Column = {
    val ad = array_distinct(a)
    val bd = array_distinct(b)
    val inter = size(array_intersect(ad, bd)).cast("double")
    val union = (size(ad) + size(bd)).cast("double") - inter
    when(union > 0, inter / union).otherwise(0.0)
  }

  /** Full near-dup pipeline: LSH candidates → verify with exact Jaccard ≥
    * threshold. Returns (id_a, id_b, jaccard).
    *
    * Verify-stage prune: only docs appearing in ≥1 candidate pair are
    * re-shingled (left-semi join on id_a ∪ id_b before the shingle
    * projection). At web scale the candidate docs are a tiny fraction of
    * the corpus (∝ true duplicate mass), so the verify stage reads
    * candidate docs only instead of making a second O(corpus) shingle
    * pass. Round 5: shingle sets come from the native array expression
    * (no explode→re-collect round trip), and both the candidate frame
    * (referenced 3×: two prune projections + the verify probe) and the
    * repartitioned shingle frame (referenced 2×: both verify-join
    * sides) are LAZILY checkpointed — planner/AQE exchange reuse does
    * not bridge differently-aliased occurrences of these subtrees (the
    * 1 M-doc bench measured the candidate pipeline executing 3×
    * without the checkpoint), so each pipeline runs exactly once at
    * first action, and the checkpointed shingle RDD keeps its hash
    * partitioning so the verify joins are exchange-free. Shingled-doc
    * count is observable via the `neardup_verify` observe metric. */
  /** DD22: edit-distance verification of an LSH candidate set — the
    * character-level second opinion next to [[nearDuplicates]]' shingle
    * Jaccard (Jaccard is blind to ORDER: "a b c d" and "d c b a" share
    * unigram shingles; edit distance is not). similarity =
    * 1 − lev/max(|a|, |b|); pairs at or above `threshold` survive.
    *
    * Cost is ∝ candidate-pair mass × |a|·|b| per pair (the classic DP)
    * — strictly a VERIFY stage for LSH-sized candidate sets over
    * short-to-medium documents, never an all-pairs primitive; the
    * candidate generator's maxBucket guard is what bounds it. Exact
    * integer distance (both engines implement the same classic
    * recurrence), one double division, 6dp. Output
    * (id_a, id_b, edit_distance, similarity). */
  def editVerify(
      docs: DataFrame,
      candidates: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.8): DataFrame = {
    require(threshold >= 0 && threshold <= 1,
      s"threshold must be in [0, 1]: $threshold")
    val sim = round(
      lit(1.0) - col("edit_distance").cast("double") /
        greatest(length(col("__ta")), length(col("__tb")), lit(1)), 6)
    val paired = candidates
      .join(docs.select(col(idCol).as("id_a"), col(textCol).as("__ta")), "id_a")
      .join(docs.select(col(idCol).as("id_b"), col(textCol).as("__tb")), "id_b")
    // levenshtein is O(|a|·|b|) per pair
    Parallelism.spreadWhenNarrow(docs)(paired, col("id_a"), col("id_b"))
      .withColumn("edit_distance",
        levenshtein(col("__ta"), col("__tb")).cast("long"))
      .withColumn("similarity", sim)
      .where(col("similarity") >= threshold)
      .select(col("id_a"), col("id_b"), col("edit_distance"),
        col("similarity"))
  }

  def nearDuplicates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      maxBucket: Int = 10000,
      dropOversized: Boolean = false): DataFrame = {
    // the candidate frame is referenced THREE times (both id projections
    // of the semi-join prune + the verify join's probe side). The
    // trailing distinct() exchange is canonically identical at all three
    // occurrences, but AQE does NOT reuse stages across the
    // CollectMetrics-bearing subtrees — measured at 1 M docs the whole
    // candidate pipeline executed 3× (458 s vs ~250 s). Lazy checkpoint:
    // no job at construction, the pipeline runs once at first action.
    // (The checkpoint swallows the inner `minhash_buckets` metric for
    // this composition; call minhashCandidates directly to observe it.)
    val cands =
      minhashCandidates(docs, idCol, textCol, shingleSize, bands, rowsPerBand,
        maxBucket, dropOversized)
        .checkpointed(eager = false)
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol)))
      .distinct()
    val pruned = docs.join(candIds, Seq(idCol), "left_semi")
    // the shingled frame feeds BOTH verify-join sides under different
    // aliases. Planner exchange reuse does NOT bridge the two aliased
    // occurrences here (measured: the semi-join + shingle pass executed
    // per side), so the repartitioned frame is lazily checkpointed —
    // ONE shingle pass + ONE shuffle at first action, and the
    // checkpointed RDD keeps its hash partitioning, so both verify
    // joins consume it exchange-free. The observe sits ABOVE the
    // checkpoint (a metric below a checkpoint is invisible to
    // downstream query executions); each join streams the full frame,
    // so the metric reports one row per shingled doc either way.
    val sh = shingleArrays(pruned, idCol, textCol, shingleSize)
      .repartition(col(idCol))
      .checkpointed(eager = false)
      .observe("neardup_verify", count(lit(1)).as("docs_shingled"))
    cands
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__shb")), "id_b")
      .withColumn("jaccard", jaccard(col("__sha"), col("__shb")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Publish a corpus's melted LSH band rows `(id, __band, __bk)` as a
    * parquet band index, partitioned by band position — the dedup
    * build/search split (the [[graft.sim.Similarity.writeIvfadcIndex]]
    * pattern): index once, then every subsequent ingest batch is checked
    * against the corpus WITHOUT re-shingling or re-minhashing it. The
    * incremental scan reads three narrow columns (id, band, key) instead
    * of the corpus text — at 100 TB of text the band index is ~10⁻³ of
    * the corpus bytes, and the corpus text is only touched at verify,
    * semi-joined down to candidate ids (∝ duplicate mass of the batch). */
  def writeMinhashIndex(
      dir: String,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2): Unit =
    minhashMelted(docs, idCol, textCol, shingleSize, bands, rowsPerBand)
      .write.mode("overwrite").partitionBy("__band").parquet(dir)

  /** Append a new batch's band rows to an existing [[writeMinhashIndex]]
    * index (after the batch passed [[incrementalNearDuplicates]] and was
    * admitted). Caller contract: batch ids are disjoint from indexed ids,
    * and the (shingleSize, bands, rowsPerBand) parameters match the
    * build — band keys from different parameters never collide usefully,
    * they just silently find nothing. */
  def appendToMinhashIndex(
      dir: String,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2): Unit =
    minhashMelted(docs, idCol, textCol, shingleSize, bands, rowsPerBand)
      .write.mode("append").partitionBy("__band").parquet(dir)

  /** Candidate pairs of an ingest batch against a published band index
    * (plus within-batch pairs): ids sharing any band bucket where at
    * least ONE side is new. Identical pair semantics to running
    * [[minhashCandidates]] over (indexed ∪ batch) and keeping pairs that
    * involve a batch doc — spec-asserted — but the indexed corpus
    * contributes a narrow parquet scan, not a minhash recompute.
    *
    * Scale shape: the batch's band keys (bounded by the batch, the small
    * side by construction) broadcast-semi-join the index melt BEFORE the
    * bucket shuffle, so only buckets the batch actually touches are
    * shuffled — index rows reaching the window ∝ the batch's collision
    * mass, not |index|. Same `maxBucket` window-count guard + observe
    * metric (`incremental_buckets`) as [[minhashCandidates]]. */
  def incrementalCandidates(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      maxBucket: Int = 10000,
      dropOversized: Boolean = false): DataFrame = {
    val idx = spark.read.parquet(dir)
      .select(col(idCol), col("__band").cast("int").as("__band"), col("__bk"),
        lit(false).as("__new"))
    // the batch melt feeds BOTH the union and the key-prune side — lazy
    // checkpoint so the batch minhash pipeline runs once (the dd4
    // aliased-recompute policy)
    val neu =
      minhashMelted(batch, idCol, textCol, shingleSize, bands, rowsPerBand)
        .withColumn("__new", lit(true))
        .checkpointed(eager = false)
    val newKeys = neu.select("__band", "__bk").distinct()
    val touched = idx.unionByName(neu)
      .join(newKeys.hint("broadcast"), Seq("__band", "__bk"), "left_semi")
    batchPairs(touched, Seq("__band", "__bk"), idCol, maxBucket,
      Buckets.Metric("incremental_buckets"),
      Buckets.Raise("incrementalCandidates",
        "pre-dedup the batch or rebuild the index with wider rowsPerBand")
        .orDrop(dropOversized))
  }

  /** In-bucket pairs (id_a < id_b) of indexed ∪ batch rows (id, keys,
    * __new) with at least one batch doc: the pair generation shared by
    * [[incrementalCandidates]] and [[incrementalSimhashPairs]]. The
    * predicate compares ids, never the (id, __new) structs, so a doc
    * both indexed and in the batch never pairs with itself. */
  private def batchPairs(
      rows: DataFrame,
      keys: Seq[String],
      idCol: String,
      maxBucket: Int,
      metric: Buckets.Metric,
      onOver: Buckets.OnOver): DataFrame = {
    val lists = Buckets.capped(rows, keys, maxBucket, onOver, Some(metric))
      .where(col("__n") > 1)
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col(idCol).as("id"), col("__new"))).as("__ids"))
    Buckets.pairs(lists, "__ids", "a", "b") { (a, b) =>
      a("id") < b("id") && (a("__new") || b("__new"))
    }
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Incremental near-dup pipeline: [[incrementalCandidates]] against a
    * published index → exact-Jaccard verify at `threshold`. `corpus` is
    * the indexed docs' TEXT table (a storage scan at scale) — it is only
    * read for docs appearing in a candidate pair (left-semi prune, the
    * [[nearDuplicates]] verify stance), so the per-batch cost is the
    * batch minhash + a narrow index scan + verify ∝ duplicate mass.
    * Result-identical to `nearDuplicates(indexed ∪ batch)` filtered to
    * pairs involving a batch doc. Returns (id_a, id_b, jaccard). */
  def incrementalNearDuplicates(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      maxBucket: Int = 10000,
      dropOversized: Boolean = false): DataFrame = {
    val cands = incrementalCandidates(spark, dir, batch, idCol, textCol,
      shingleSize, bands, rowsPerBand, maxBucket, dropOversized)
      .checkpointed(eager = false)
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol)))
      .distinct()
    val texts = corpus.select(col(idCol), col(textCol))
      .unionByName(batch.select(col(idCol), col(textCol)))
      .join(candIds, Seq(idCol), "left_semi")
    val sh = shingleArrays(texts, idCol, textCol, shingleSize)
      .repartition(col(idCol))
      .checkpointed(eager = false)
    cands
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__shb")), "id_b")
      .withColumn("jaccard", jaccard(col("__sha"), col("__shb")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus near-duplicate matches — the decontamination primitive:
    * which corpus docs near-match any doc of a reference set (an eval
    * benchmark, a held-out test split)? Same LSH shape as
    * [[nearDuplicates]] but the band bucket join is BETWEEN two corpora,
    * so candidate cost ∝ true cross-duplicate mass, never |corpus|²;
    * the verify stage shingles only candidate docs on both sides.
    * `broadcastRef = true` (default) hints the reference side into a
    * broadcast join — eval sets are dimension-sized next to a training
    * corpus; disable for corpus-vs-corpus dedup of comparable sizes.
    * Returns (corpus_id, ref_id, jaccard). */
  def crossNearDuplicates(
      corpus: DataFrame,
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      broadcastRef: Boolean = true,
      maxBucket: Int = 10000,
      dropOversized: Boolean = false): DataFrame = {
    // each melt is referenced twice (hot-key census + the guarded join)
    // — materialize rather than re-running the minhash sig pipeline.
    // LAZY checkpoint: the frame is corpus-sized, so an eager one would
    // run Spark jobs at CONSTRUCTION time (before the caller even acts)
    // and is storage the caller never opted into until they execute;
    // lazy materializes on first use and is reused from there on.
    // Round 5: the melt is the native minhash_bands expression + one
    // posexplode (see minhashMelted) — no shingle window, no sig agg.
    def melted(docs: DataFrame, as: String) =
      minhashMelted(docs, idCol, textCol, shingleSize, bands, rowsPerBand)
        .withColumnRenamed(idCol, as)
        .checkpointed(eager = false)
    val rm = melted(ref, "ref_id")
    val cm = melted(corpus, "corpus_id")
    // degenerate-bucket guard (graft.Buckets): shared boilerplate can
    // put m corpus × n ref docs into ONE (band, key) bucket, and the
    // equi-join would emit m·n rows in a single task — a bucket over
    // maxBucket on EITHER side raises by default; dropOversized=true
    // prunes it (hot keys are few by definition, so the anti-join
    // broadcasts), reported by `cross_hot_buckets`.
    val onOver = Buckets.Raise("crossNearDuplicates", "pre-dedup the corpora",
      group = "band bucket",
      loss = "pruning it would silently lose every cross-match in the bucket")
      .orDrop(dropOversized)
    def hotKeys(df: DataFrame) =
      Buckets.oversized(df, Seq("__band", "__bk"), maxBucket, onOver)
    // referenced twice (both anti-joins) and aliased reuse doesn't
    // bridge that (the nearDuplicates 1M lesson) — without the
    // checkpoint the census pass over each melt runs twice. Bounded
    // frame (hot keys are few by definition), checkpoint kept lazy so
    // construction stays job-free; the observe sits ABOVE it (metrics
    // below a checkpoint are invisible) and counts |hot| either way.
    val hot = hotKeys(cm).union(hotKeys(rm)).distinct()
      .checkpointed(eager = false)
      .observe("cross_hot_buckets", count(lit(1)).as("dropped_buckets"))
    val cmOk = cm.join(broadcast(hot), Seq("__band", "__bk"), "left_anti")
    val rmOk = rm.join(broadcast(hot), Seq("__band", "__bk"), "left_anti")
    // materialize the candidate pairs once (∝ cross-duplicate mass):
    // they are referenced three times below (verify join + both
    // semi-join prunes), and relying on runtime exchange reuse leaves
    // the two minhash sig pipelines exposed to partial re-execution —
    // the duplicateClusters edge-list lesson (lazy: first action
    // computes it, the other two references reuse)
    val cands = cmOk
      .join(if (broadcastRef) broadcast(rmOk) else rmOk, Seq("__band", "__bk"))
      .select("corpus_id", "ref_id")
      .distinct()
      .checkpointed(eager = false)
    def prunedShingles(docs: DataFrame, as: String, ids: DataFrame) =
      shingleArrays(docs.join(ids, docs(idCol) === ids(as), "left_semi"),
        idCol, textCol, shingleSize)
        .select(col(idCol).as(as), col("__sh"))
    val ca = prunedShingles(corpus, "corpus_id", cands.select("corpus_id").distinct())
    val rb = prunedShingles(ref, "ref_id", cands.select("ref_id").distinct())
      .withColumnRenamed("__sh", "__shr")
    cands
      .join(ca, "corpus_id")
      .join(if (broadcastRef) broadcast(rb) else rb, "ref_id")
      .withColumn("jaccard", jaccard(col("__sh"), col("__shr")))
      .where(col("jaccard") >= threshold)
      .select("corpus_id", "ref_id", "jaccard")
  }

  /** PaLM-style containment-fraction contamination (Chowdhery et al.
    * 2022, §apx. "memorization"): the fraction of a document's DISTINCT
    * word n-grams that appear anywhere in the reference set — PaLM
    * flags a doc contaminated when ≥70% of its 8-grams are seen in the
    * eval data. Complements [[ngramOverlap]] (absolute hit count) and
    * [[crossNearDuplicates]] (symmetric Jaccard, which a short eval doc
    * quoted inside a long document never reaches): containment
    * normalizes by the DOC's own gram count, so full-quote inclusions
    * score 1.0 regardless of the size ratio.
    *
    * Scale shape: identical to [[ngramOverlap]] — reference grams
    * collapse to distinct hashes (broadcast for eval-set-sized refs),
    * corpus streams through the native shingle expression once, a LEFT
    * join marks hits with no corpus×ref blowup, and two hash
    * aggregations ride the id key (per-(doc, gram) dedup, then the
    * per-doc fraction). Docs with fewer than n words have no grams and
    * emit no row. Returns (corpus_id, n_grams, hits, containment,
    * contaminated) with `contaminated` = containment ≥ `threshold`
    * on the 6-decimal-rounded fraction. */
  def containmentFractions(
      corpus: DataFrame,
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      threshold: Double = 0.7,
      broadcastRef: Boolean = true): DataFrame = {
    val refGrams = shingleRows(ref, idCol, textCol, n)
      .select(md5(col("__s")).as("__h")).distinct()
      .withColumn("__hit", lit(1L))
    shingleRows(corpus, idCol, textCol, n)
      .select(col(idCol).as("corpus_id"), md5(col("__s")).as("__h"))
      .join(if (broadcastRef) broadcast(refGrams) else refGrams, Seq("__h"), "left")
      .groupBy("corpus_id", "__h")
      .agg(max(coalesce(col("__hit"), lit(0L))).as("__g_hit"))
      .groupBy("corpus_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("__g_hit")).as("hits"))
      .withColumn("containment",
        round(col("hits").cast("double") / col("n_grams"), 6))
      .withColumn("contaminated", col("containment") >= threshold)
  }

  /** Decontamination projection: corpus minus everything near-matching
    * the reference set (anti-join on the match ids). */
  def decontaminate(
      corpus: DataFrame,
      matches: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    corpus.join(
      matches.select(col("corpus_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Exact n-gram overlap decontamination (the GPT-3 appendix-C /
    * PaLM-style 13-gram collision rule): flag every corpus doc that
    * shares at least one exact word n-gram with the reference set (an
    * eval benchmark / held-out split). Complements
    * [[crossNearDuplicates]]: near-dup catches paraphrased leakage,
    * exact n-gram collision catches verbatim quotation of even a single
    * benchmark sentence inside an otherwise-unrelated doc (where
    * whole-doc Jaccard stays far below any threshold).
    * Returns (corpus_id, hits) — hits = DISTINCT overlapping n-grams.
    *
    * Scale shape: both sides stream through [[shingleRows]]
    * (volume-linear; one window shuffle on the doc id each); the
    * reference side collapses to distinct n-gram hashes — benchmark
    * eval sets are dimension-sized next to a training corpus, so they
    * broadcast by default and the collision test is a broadcast
    * equi-join on a 32-hex key with no corpus×ref pair blowup. The
    * per-doc count then rides the id partitioning the shingle window
    * already established. `broadcastRef = false` for a reference corpus
    * too big to broadcast — the join degrades to a shuffled hash join
    * on the n-gram hash, cost still ∝ collision mass. */
  def ngramOverlap(
      corpus: DataFrame,
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 13,
      broadcastRef: Boolean = true): DataFrame = {
    val refGrams = shingleRows(ref, idCol, textCol, n)
      .select(md5(col("__s")).as("__h")).distinct()
    shingleRows(corpus, idCol, textCol, n)
      .select(col(idCol).as("corpus_id"), md5(col("__s")).as("__h"))
      .join(if (broadcastRef) broadcast(refGrams) else refGrams, "__h")
      .groupBy("corpus_id")
      .agg(count_distinct(col("__h")).as("hits"))
  }

  /** Exact-overlap decontamination projection: corpus minus every doc
    * flagged by [[ngramOverlap]] (anti-join on the flagged ids). */
  def decontaminateExact(
      corpus: DataFrame,
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 13,
      broadcastRef: Boolean = true): DataFrame =
    corpus.join(
      ngramOverlap(corpus, ref, idCol, textCol, n, broadcastRef)
        .select(col("corpus_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Contaminated-SPAN redaction: instead of dropping every corpus doc
    * that quotes an eval n-gram ([[decontaminateExact]] — which wastes
    * an entire document over one quoted benchmark sentence), excise
    * exactly the tokens covered by some matching n-gram and keep the
    * rest. Returns (id, n_tokens, text) in NORMALIZED token space (the
    * n-gram match space — lowercased alphanumeric words; raw-byte
    * offsets don't survive word-level shingling, and training corpora
    * are tokenized downstream anyway). Docs whose every token is
    * covered (or that normalize to nothing) disappear.
    *
    * Scale shape: reference grams hash + distinct + broadcast (as
    * [[ngramOverlap]]); gram assembly rides ONE per-doc window; flagged
    * gram starts explode to n covered positions each — extra rows
    * ∝ collision mass only. Three linear shuffles total (gram window on
    * id, covered-position dedup and anti-join on (id, position),
    * reassembly on id); no pair joins. The token explosion (`toks`) is
    * deliberately computed TWICE (gram-hash pass + reassembly probe)
    * rather than checkpointed — it is ~|corpus tokens| rows, the most
    * expensive thing here to STORE, while recomputing it is one scan +
    * one regex split (cheap, embarrassingly parallel); the collision
    * side flows through a single reference. */
  def redactContaminated(
      corpus: DataFrame,
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 13,
      broadcastRef: Boolean = true): DataFrame = {
    val refGrams = shingleRows(ref, idCol, textCol, n)
      .select(md5(col("__s")).as("__h")).distinct()
    val toks = normalizedTokens(corpus, idCol, textCol)
    val covered = tokenGrams(toks, idCol, n)
      .join(if (broadcastRef) broadcast(refGrams) else refGrams, "__h")
      .select(col(idCol),
        explode(sequence(col("__p"), col("__p") + (n - 1))).as("__p"))
      .distinct()
    reassemble(toks.join(covered, Seq(idCol, "__p"), "left_anti"),
      idCol, textCol)
  }

  /** The normalized token space shared by the span-excision operators
    * ([[redactContaminated]], [[dedupExactSubstrings]]): lowercased
    * alphanumeric words with their 0-based positions, (id, __p, __w). */
  private def normalizedTokens(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        posexplode(
          split(trim(regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " ")), "\\s+"))
          .as(Seq("__p", "__w")))
      .where(col("__w") =!= "")

  /** Word n-gram hashes over [[normalizedTokens]] rows: (id, __p, __h)
    * with __p the gram's START token position — assembled by ONE
    * per-doc lead() window (no self-join). */
  private def tokenGrams(toks: DataFrame, idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("__p")
    val parts = (0 until n).map { k =>
      (if (k == 0) col("__w") else lead(col("__w"), k).over(w)).as(s"__w$k")
    }
    toks
      .select(col(idCol) +: col("__p") +: parts: _*)
      .where(col(s"__w${n - 1}").isNotNull)
      .select(col(idCol), col("__p"),
        md5(concat_ws(" ", (0 until n).map(i => col(s"__w$i")): _*)).as("__h"))
  }

  /** Rebuild (id, n_tokens, text) from surviving [[normalizedTokens]]
    * rows in original token order. Docs with no surviving tokens
    * disappear (groupBy over an empty group emits nothing). */
  private def reassemble(
      kept: DataFrame, idCol: String, textCol: String): DataFrame =
    kept
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        array_sort(collect_list(struct(col("__p"), col("__w")))).as("__a"))
      .select(col(idCol), col("n_tokens"),
        concat_ws(" ", transform(col("__a"), e => e.getField("__w"))).as(textCol))

  /** ExactSubstr self-deduplication (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): every word n-gram
    * keeps its corpus-FIRST occurrence under the (doc id, position)
    * total order; every LATER occurrence — in a higher-id doc, later in
    * the same doc, or a doc's verbatim quote of another — has its n
    * covered tokens excised, and the doc keeps the rest. This is
    * [[redactContaminated]]'s span-excision turned on the corpus
    * itself: it kills repeated boilerplate PASSAGES (license headers,
    * templated paragraphs) that repeat across documents too short a
    * fraction of each doc for whole-doc near-dup to fire, without
    * discarding the unique remainder of any document. Returns
    * (id, n_tokens, text) in the normalized token space (the dd14
    * contract); docs whose every token is covered disappear.
    *
    * The reference implementation builds a corpus-wide suffix array —
    * inherently sequential over a single flattened byte string. The
    * Spark-native equivalent is sliding-gram hashing: same removal
    * semantics at word granularity (a duplicated run of m ≥ n tokens is
    * covered by its m − n + 1 duplicated grams, so whole repeated
    * passages excise completely), volume-linear, and shuffle-
    * partitioned by the gram hash rather than sorted globally.
    *
    * Scale shape: tokens explode once per pass (recomputed in the
    * reassembly probe, not stored — the dd14 stance); gram assembly
    * rides ONE per-doc window; first-vs-later ranking is ONE window
    * partitioned on the gram hash ordered by (id, position) — the
    * [[dropDuplicateLines]] shape: a pathologically hot gram ("all
    * rights reserved …" × 10⁸) sorts only its own occurrences inside
    * its own hash bucket, cost ∝ that gram's duplicate mass, never
    * corpus². Covered positions explode n rows per DUPLICATE gram
    * occurrence only (∝ duplicate mass). Four linear shuffles (gram
    * window on id, rank window on the hash, covered-position distinct
    * on (id, p), reassembly on id); no pair joins anywhere. */
  def dedupExactSubstrings(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 13): DataFrame = {
    val toks = normalizedTokens(docs, idCol, textCol)
    val later = tokenGrams(toks, idCol, n)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__h").orderBy(col(idCol), col("__p"))))
      .where(col("__rn") > 1)
    val covered = later
      .select(col(idCol),
        explode(sequence(col("__p"), col("__p") + (n - 1))).as("__p"))
      .distinct()
    reassemble(toks.join(covered, Seq(idCol, "__p"), "left_anti"),
      idCol, textCol)
  }

  /** Source/URL-level dedup (the CCNet/C4 "one document per URL" stage):
    * keep exactly ONE row per `keyCol` — the one maximizing `priority`
    * (e.g. [[graft.text.TextAnalysis.qualityScore]]), ties broken by the
    * LOWEST `idCol`. Returns the surviving rows with their original
    * columns.
    *
    * Scale shape: ONE aggregation with `min_by` over (−priority, id) —
    * partial map-side combine means each executor ships one candidate
    * row per key per partition, NOT the key's whole group (a window
    * rank would shuffle and sort every row of a hot key). Numeric
    * `priority` required (the negation is the tie-break trick);
    * IEEE −0.0/0.0 compare equal in Spark ordering so the id breaks
    * that tie too. */
  def keepBestPerKey(
      docs: DataFrame,
      keyCol: String,
      priority: Column,
      idCol: String = "doc_id"): DataFrame = {
    val payload = struct(docs.columns.map(col): _*)
    // null priority → +∞ in the MIN ordering = always LOSES (bare
    // struct ordering is nulls-FIRST, which would crown the one doc
    // whose score is undefined); an all-null group falls to lowest id
    val np = coalesce(-priority, lit(Double.PositiveInfinity))
    docs
      .groupBy(col(keyCol).as("__k"))
      .agg(min_by(payload, struct(np.as("__np"), col(idCol))).as("__best"))
      .select(col("__best.*"))
  }

  /** Corpus-wide most-frequent word n-grams — the boilerplate-mining
    * report (what C4/CCNet operators eyeball before writing removal
    * rules): (ngram, occurrences, docs) for the `topK` grams with at
    * least `minCount` occurrences, ties broken by the gram text.
    *
    * Scale shape: shingles stream volume-linearly into ONE count
    * aggregation (map-side partial combine collapses repeats before the
    * shuffle — the hot boilerplate gram is exactly the one that
    * combines best), the per-gram doc count is a count_distinct expand
    * on the same keys, and the top-k is TakeOrdered (no global sort
    * materialization). */
  def frequentNgrams(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      topK: Int = 50,
      minCount: Int = 2): DataFrame =
    shingleRows(docs, idCol, textCol, n)
      .groupBy(col("__s").as("ngram"))
      .agg(count(lit(1)).as("occurrences"),
        count_distinct(col(idCol)).as("docs"))
      .where(col("occurrences") >= minCount)
      .orderBy(col("occurrences").desc, col("ngram"))
      .limit(topK)

  /** C4-style corpus-wide line deduplication (Raffel et al. 2020 §2.2
    * keep-first-occurrence; CCNet's paragraph hashing is the same shape):
    * drop every non-blank line that already occurred ANYWHERE in the
    * corpus — in a lower-id doc, or earlier in the same doc — then
    * reassemble each document in original line order. The classic kill
    * for boilerplate (nav bars, cookie banners, footers) that repeats
    * across millions of pages but never makes whole docs near-dups.
    * Documents whose every line is dropped disappear. Returns (id, text).
    *
    * Scale shape: posexplode lines (volume-linear) → ONE window ranked
    * by (doc id, line position) partitioned on the line hash (md5 — a
    * uniformly distributed shuffle key regardless of how skewed the
    * boilerplate is) → keep rank 1 → one groupBy(id) reassembly via a
    * sorted struct collect. Two shuffles, both linear, no pair joins.
    * The per-bucket sort cost is bounded by the duplicate mass of THAT
    * line, and a pathologically hot line (the empty-footer case) still
    * sorts only its own occurrences. */
  def dropDuplicateLines(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val ln = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__p", "__l")))
      .where(trim(col("__l")) =!= "")
    val w = Window.partitionBy(md5(col("__l"))).orderBy(col(idCol), col("__p"))
    ln
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__p"), col("__l")))).as("__a"))
      .select(col(idCol),
        concat_ws("\n", transform(col("__a"), e => e.getField("__l"))).as(textCol))
  }

  /** Per-source boilerplate-line removal (the RefinedWeb/CCNet policy
    * distinct from [[dropDuplicateLines]]' keep-first): a line is
    * boilerplate within a source when it occurs in at least `minDocs`
    * documents AND in at least `fracDocs` of that source's documents —
    * then EVERY occurrence is removed (a nav bar is noise in the first
    * page too, which keep-first cannot express). Documents whose every
    * line is boilerplate disappear. Returns (id, source, text).
    *
    * Scale shape: one posexplode (volume-linear) → distinct on
    * (source, line-hash, doc) → count per (source, line-hash) joined
    * against the per-source doc totals (|sources|-bounded broadcast) →
    * the boilerplate set is (source, hash)-distinct with mass ∝ lines
    * repeated past the threshold, anti-joined back on the uniformly
    * distributed hash key → sorted-struct reassembly. Three linear
    * shuffles, no pair joins, no windows over unbounded groups. */
  def dropBoilerplateLines(
      docs: DataFrame,
      minDocs: Int = 2,
      fracDocs: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    if (minDocs < 1)
      throw new graft.ParameterError(s"minDocs must be >= 1: $minDocs")
    if (fracDocs <= 0 || fracDocs > 1)
      throw new graft.ParameterError(s"fracDocs must be in (0, 1]: $fracDocs")
    val ln = docs
      .select(col(idCol), col(sourceCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__p", "__l")))
      .where(trim(col("__l")) =!= "")
      .withColumn("__h", md5(col("__l")))
    val srcTotals = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__docs"))
    val boiler = ln
      .select(col(sourceCol), col("__h"), col(idCol)).distinct()
      .groupBy(col(sourceCol), col("__h"))
      .agg(count(lit(1)).as("__df"))
      .join(broadcast(srcTotals), sourceCol)
      .where(col("__df") >= minDocs &&
        col("__df") >= col("__docs") * fracDocs)
      .select(col(sourceCol), col("__h"))
    ln
      .join(boiler, Seq(sourceCol, "__h"), "left_anti")
      .groupBy(col(idCol), col(sourceCol))
      .agg(array_sort(collect_list(struct(col("__p"), col("__l")))).as("__a"))
      .select(col(idCol), col(sourceCol),
        concat_ws("\n", transform(col("__a"), e => e.getField("__l"))).as(textCol))
  }

  /** Duplicate clustering: connected components over verified near-dup
    * pairs, labeling every clustered doc with the MINIMUM id of its
    * component (the canonical survivor). Returns (id, cluster).
    *
    * Iterative min-label propagation: each round, a node's label becomes
    * the min of its own and its neighbors' labels — one equi-join shuffle
    * + partial-aggregated min per round, converging in O(component
    * diameter) rounds. Near-dup components are band-bucket cliques and
    * their unions, so the diameter is small (2-4 rounds in practice);
    * `localCheckpoint` truncates the growing lineage each round, and the
    * per-round convergence probe is a bounded driver scalar (one long).
    * A component whose diameter exceeds `maxIters` fails loudly rather
    * than returning partly-propagated labels (for adversarial chain
    * topologies raise `maxIters` — rounds are cheap — or pre-split with
    * the alternating large-star/small-star variant of Kiveris et al.,
    * which this graph shape does not need). */
  def duplicateClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 30,
      driverMaxEdges: Long = DriverCcMaxEdges): DataFrame =
    // scope the iteration (the PageRank lifecycle pattern): the edge
    // list and every round's labels are released at exit, leaving only
    // the eagerly-checkpointed result — a long-lived session composing
    // dedup → soft-weights → sampling no longer accumulates per-round
    // block pressure from each clustering run it triggers
    graft.Checkpoint.scoped(pairs.sparkSession) {
    // materialize the edge list ONCE: every propagation round joins it,
    // and without the checkpoint each round would re-execute the entire
    // upstream candidate+verify pipeline (measured 10.4 s → 3.9 s on the
    // dd7 bench query). Edge mass ∝ true duplicates, so the checkpoint
    // is small relative to the corpus.
    // Two-step edge materialization (r8): the HEAVY upstream (candidate
    // + verify pipelines feeding `pairs`) runs adaptively (keepAqe —
    // AQE coalescing matters inside that job), then the cheap second
    // checkpoint re-keys the already-materialized edge list by SRC
    // under an AQE-off capture. Per round, the dst-side labels join is
    // a broadcast whenever labels fit (AQE's call — node labels ∝
    // distinct dup nodes), so the join output KEEPS the src
    // partitioning and the min-label groupBy(src) — the per-round
    // shuffle of the whole edge mass, the biggest term — runs
    // exchange-free. When labels outgrow broadcast, AQE degrades to
    // the sort-merge baseline, never worse than the unpartitioned form.
    val rawEdges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .checkpointed(eager = true, keepAqe = true)
    // Size-adaptive execution (r8). Edge mass ∝ true duplicate mass —
    // in real curation runs a small fraction of the corpus, and at the
    // bench/gate tiers a few hundred rows, where the DISTRIBUTED loop's
    // cost is pure per-round latency (measured: 20 rounds × ~0.35 s of
    // job overhead on a 617-node graph whose actual data work is
    // microseconds). Below `DriverCcMaxEdges` (a documented bounded
    // collect, the maxBucket cost class) long-id graphs run exact
    // union-find on the driver — byte-identical output (cluster = min
    // node id per component). Above it, or for non-integral ids, the
    // O(log diameter) distributed loop below handles any scale.
    val longIds = rawEdges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val edgeCount = rawEdges.count()
    if (longIds && edgeCount <= driverMaxEdges) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      rawEdges.collect().foreach { row =>
        val a = row.getLong(0)
        val b = row.getLong(1)
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      // min node id per component: roots are minimal by construction
      // (unions always point the larger root at the smaller)
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.forEach((k, _) => out += ((k, find(k))))
      val spark = pairs.sparkSession
      import spark.implicits._
      out.toSeq.toDF("id", "cluster")
    } else {
    val edges = rawEdges.repartition(col("src")).checkpointed(eager = true)
    // both directions of every pair appear, so src alone covers all nodes
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .checkpointed(eager = true, keepAqe = true) // round state
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("__dl")), "dst")
        .groupBy("src")
        .agg(min("__dl").as("__nbrMin"))
        .withColumnRenamed("src", "id")
      // phase 1: min over self and neighbors (classic label propagation)
      val cand = labels
        .join(nbrMin, Seq("id"), "left")
        .select(
          col("id"), col("cluster").as("__old"),
          least(col("cluster"), coalesce(col("__nbrMin"), col("cluster"))).as("cluster"))
        .checkpointed(eager = true, keepAqe = true)
      // phase 2 (r8): POINTER JUMP — labels are node ids, so each row's
      // label row exists; adopting the label's own label halves the
      // remaining distance to the component minimum every round, so
      // convergence is O(log diameter) rounds instead of O(diameter)
      // (Shiloach-Vishkin shortcutting; measured 20 → 6 rounds and
      // 7.9 → 3.1 s CC time on the gr3 co-shipment graph whose diameter
      // is ~19). Monotone: the jump target's label can only be ≤ ours,
      // so least() keeps every intermediate state a valid upper bound
      // and the fixpoint (no change incl. jumps) is the exact min-label.
      val updated = cand
        .join(cand.select(col("id").as("cluster"), col("cluster").as("__j")),
          Seq("cluster"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("__j"), col("cluster"))).as("cluster"),
          (least(col("cluster"), coalesce(col("__j"), col("cluster"))) < col("__old"))
            .cast("long").as("__chg"))
        .checkpointed(eager = true, keepAqe = true)
      changed = updated.agg(coalesce(sum("__chg"), lit(0L))).head.getLong(0)
      labels = updated.drop("__chg")
      iter += 1
    }
    if (changed > 0)
      throw new graft.GraftError(
        s"duplicate clustering did not converge in $maxIters rounds — " +
          "component diameter exceeds maxIters; raise it")
    labels
    }
  }

  /** Bounded-collect ceiling for [[duplicateClusters]]' driver-side
    * union-find fast path: 2M undirected edge rows ≈ 32 MB collected —
    * the documented-bound cost class (cf. maxBucket). Above it the
    * distributed min-label + pointer-jump loop runs. */
  val DriverCcMaxEdges: Long = 2000000L

  /** Survivor selection: drop every doc labeled with a cluster minimum
    * other than itself — keeps one canonical doc per near-dup component
    * plus all unclustered docs. The non-survivor set is an anti-join
    * against the (tiny relative to corpus) clustered-node labels. */
  def dropNearDuplicates(
      docs: DataFrame,
      clusters: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      clusters.where(col("id") =!= col("cluster")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Quality-aware survivor selection: where [[dropNearDuplicates]]
    * keeps each near-dup cluster's min-LABEL member (an arbitrary but
    * deterministic choice), this keeps the cluster's BEST member by a
    * caller-supplied quality score — the curation-grade policy (keep
    * the cleanest copy of the boilerplate family, not the
    * lowest-numbered one). Ties break to the lowest id; unclustered
    * docs always survive.
    *
    * Plan: quality is evaluated for CLUSTERED docs only (a left-semi
    * prune — cluster mass ∝ duplicates, so a corpus-wide score pass is
    * never paid here), one rank window per cluster (bounded by cluster
    * size), one anti-join back. */
  def keepBestPerCluster(
      docs: DataFrame,
      clusters: DataFrame,
      quality: Column,
      idCol: String = "doc_id"): DataFrame = {
    val joined = docs
      .join(clusters.select(col("id").as(idCol), col("cluster")), Seq(idCol))
    // keyed on the window's partition column, so the ranking window
    // reuses the spread's exchange
    val clustered = Parallelism.spreadWhenNarrow(docs)(joined, col("cluster"))
      .select(col(idCol), col("cluster"), quality.as("__q"))
    val losers = clustered
      .withColumn("__rn", row_number().over(
        Window.partitionBy("cluster").orderBy(col("__q").desc, col(idCol))))
      .where(col("__rn") > 1)
      .select(col(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** TX27: per-source duplication report — the corpus-health view a
    * curation run reads first ("which feed is re-crawling itself"):
    * per source, document count and how many docs are exact duplicates
    * of an earlier doc (corpus-WIDE first-occurrence, so a copy
    * crossing sources bills to the copier, not the origin). One md5
    * window + one hash agg. Output (source, n_docs, n_dup_docs,
    * dup_rate 6dp). */
  def sourceDupReport(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs
      .withColumn("__rn", row_number().over(w))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_rate",
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
  }

  /** TX28: source-overlap matrix — shingle-set Jaccard between every
    * pair of SOURCES ("which feeds copy each other", the corpus-level
    * companion of [[sourceDupReport]]'s doc-level rate). The source
    * column is a LOW-CARDINALITY dimension (feeds, crawls — tens, not
    * millions): per distinct (source, shingle) the shingle's source
    * SET is collected (bounded by |sources|) and pairs explode inside
    * it — C(|sources|, 2) worst case per shingle, 1 for the typical
    * unshared shingle — so intersection mass drives cost, never an
    * all-pairs join of shingle sets. Per-source distinct counts are a
    * bounded frame broadcast twice. Output (source_a, source_b,
    * n_common, jaccard) for source_a < source_b. */
  def sourceOverlapMatrix(
      docs: DataFrame,
      shingleSize: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      maxSources: Int = 10000): DataFrame = {
    // the low-cardinality contract is LOUD, not documentation: a
    // high-cardinality group column (a doc id passed as "source")
    // would make the per-shingle source sets corpus-sized. One
    // bounded driver scalar (the requireFresh cost class).
    val nSrc = docs.select(col(sourceCol)).distinct().count()
    if (nSrc > maxSources)
      throw new graft.ParameterError(
        s"sourceOverlapMatrix needs a low-cardinality source dimension: " +
          s"$nSrc distinct values exceed maxSources=$maxSources")
    val ss = docs.select(col(idCol).as("__id"), col(sourceCol).as("__src"))
      .join(shingleRows(docs, idCol, textCol, shingleSize)
        .withColumnRenamed(idCol, "__id"), "__id")
      .select(col("__src"), md5(col("__s")).as("__h"))
      .distinct()
      .checkpointed(eager = false) // feeds per-source counts + pairs
    val perSource = ss.groupBy(col("__src"))
      .agg(count(lit(1)).as("__n"))
    val sets = ss
      .groupBy(col("__h"))
      .agg(sort_array(collect_set(col("__src"))).as("__set"))
    val inter = Buckets.pairs(sets, "__set", "a", "b")(_ < _)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(perSource.select(col("__src").as("a"),
        col("__n").as("__na"))), "a")
      .join(broadcast(perSource.select(col("__src").as("b"),
        col("__n").as("__nb"))), "b")
      .select(col("a").as("source_a"), col("b").as("source_b"),
        col("n_common"),
        round(col("n_common").cast("double") /
          (col("__na") + col("__nb") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Soft deduplication: instead of DROPPING near-duplicates, every doc
    * gets a sampling weight 1/|cluster| (1.0 for unclustered docs) — a
    * cluster of n near-identical pages contributes one doc's worth of
    * probability mass in expectation. This is the repetition-aware
    * alternative to hard dedup used when duplicates carry signal
    * (popularity, canonical phrasing) that outright removal destroys;
    * feed the weights to [[graft.text.Sampling.weightedSample]].
    *
    * Plan: cluster sizes are one hash agg over the clusters frame
    * (mass ∝ duplicates), then two left joins back onto the corpus ids
    * — both join keys are cluster labels/doc ids, the size side is
    * duplicate-mass-bounded. Returns (id, cluster_size, weight). */
  def softDedupWeights(
      docs: DataFrame,
      clusters: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val sizes = clusters.groupBy(col("cluster"))
      .agg(count(lit(1)).as("__cs"))
    docs.select(col(idCol))
      .join(clusters.select(col("id").as(idCol), col("cluster")),
        Seq(idCol), "left")
      .join(sizes, Seq("cluster"), "left")
      .select(col(idCol),
        coalesce(col("__cs"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("__cs"), lit(1L)), 6).as("weight"))
  }

  /** Per-word hash for simhash voting: ≤32 bits come from the first 8
    * md5 hex chars (the historical 32-bit fingerprint, kept stable for
    * the dd5 DuckDB oracle); wider fingerprints splice two 32-bit conv
    * halves — `conv` of 16 hex chars would exceed Long.MaxValue and cast
    * to null, so a single conv cannot produce a full 64-bit value. */
  private def wordHash(w: Column, bits: Int): Column =
    if (bits <= 32) conv(substring(md5(w), 1, 8), 16, 10).cast("long")
    else
      shiftleft(conv(substring(md5(w), 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(md5(w), 9, 8), 16, 10).cast("long"))

  /** SimHash (Charikar 2002): `bits`-wide fingerprint where bit i is the
    * sign of the sum over words of ±1 according to bit i of md5(word).
    * Hamming-near fingerprints ⇒ similar documents. Pure column algebra:
    * per-word hash from the md5 hex, then a bit-count aggregate per
    * position. Default 64-bit — the web-scale width (16-bit bands → 65k
    * buckets per band under [[simhashNearPairs]]); 32-bit remains for
    * demo corpora (≲10⁵ docs). */
  def simhash(textCol: Column, bits: Int = 64): Column = {
    val words = array_distinct(
      split(trim(regexp_replace(lower(textCol), "[^a-z0-9 ]", " ")), "\\s+"))
    val hashes = transform(words, w => wordHash(w, bits))
    val bitCols = (0 until bits).map { i =>
      // votes for bit i: +1 when set, −1 when clear; MSB of the fingerprint
      val votes = aggregate(
        hashes,
        lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** One-pass scalar simhash — identical fingerprints to [[simhash]] /
    * [[simhashDf]] (same normalization, md5-derived word hash, vote
    * rule; equivalence spec-asserted) in a SINGLE traversal per
    * document. For per-row hot paths where neither the exploded
    * aggregation ([[simhashDf]]) nor codegen is available — the
    * streaming ingest UDF: the column [[simhash]] evaluates one
    * interpreted higher-order pass per BIT (64 at the default width). */
  // compiled once — String.replaceAll/split recompile per call, which
  // is per-row work in the simhash hot path (r12)
  private val SimhashScrubRe = java.util.regex.Pattern.compile("[^a-z0-9 ]")
  private val SimhashWsRe = java.util.regex.Pattern.compile("\\s+")

  def simhashScalar(text: String, bits: Int = 64): Long = {
    val norm = SimhashScrubRe
      .matcher(text.toLowerCase(java.util.Locale.ROOT)).replaceAll(" ").trim
    val words = SimhashWsRe.split(norm).distinct
    val votes = new Array[Int](bits)
    val md = java.security.MessageDigest.getInstance("MD5")
    words.foreach { w =>
      md.reset()
      val d = md.digest(w.getBytes("UTF-8"))
      // first 8 md5 hex chars = bytes 0-3 big-endian; chars 9-16 = 4-7
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val h =
        if (bits <= 32) h1
        else {
          val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
            ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
          (h1 << 32) | h2
        }
      var i = 0
      while (i < bits) {
        if (((h >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    var fp = 0L
    var i = 0
    while (i < bits) {
      if (votes(i) > 0) fp |= (1L << i)
      i += 1
    }
    fp
  }

  /** DataFrame-level simhash: identical fingerprints to [[simhash]], but
    * computed by exploding distinct words and aggregating ±1 votes per
    * bit with plain hash-agg sums — one codegen'd aggregation instead of
    * 32 array-lambda passes per row. This is the scale path: explode →
    * partial map-side aggregation → one shuffle on the id. */
  def simhashDf(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bits: Int = 64): DataFrame = {
    val words = Parallelism.keyed(docs, col(idCol))
      .select(col(idCol),
        explode(array_distinct(
          split(trim(regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " ")), "\\s+")))
          .as("__w"))
      .withColumn("__h", wordHash(col("__w"), bits))
    val votes = (0 until bits).map { i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"__v$i")
    }
    val fingerprint = (0 until bits)
      .map(i => when(col(s"__v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    words.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), fingerprint.as("simhash"))
  }

  /** Hamming distance between two simhash fingerprints (popcount of the
    * XOR — codegen'd `bit_count`, width-independent). */
  def hammingDistance(a: Column, b: Column, bits: Int = 64): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** SimHash near-pairs via hamming-LSH banding — the dd5 scale path.
    *
    * Pigeonhole: two fingerprints within hamming ≤ bands−1 differ in at
    * most bands−1 bit-bands, so they share AT LEAST ONE of the `bands`
    * equal-width bands. Candidates therefore come from ONE self-equi-join
    * on (band_idx, band_bits) over the exploded band rows — never an
    * all-pairs theta join — and each candidate is verified with the exact
    * popcount. Same shape as [[minhashCandidates]]: the fingerprint is
    * the native one-pass [[graft.functions.SimHash]] expression (round
    * 5 — the exploded ±1-vote aggregation [[simhashDf]] stays as the
    * reference form and spec anchor), so the only exchanges are the
    * [[graft.Parallelism.keyed]] repartition and the band-bucket shuffle.
    * Null-text docs are filtered first: the aggregation never emitted a
    * row for them, while the native expression would carry a null
    * fingerprint into the banding.
    *
    * Default 64 bits / 8 bands: 8-bit bands keep the pigeonhole bound at
    * maxHamming ≤ 7 with 256 buckets per band and a 64-bit verify. For
    * bigger bucket alphabets at the same width use bands = 4 (16-bit
    * bands → 65k buckets, maxHamming ≤ 3). The 32-bit/4-band demo
    * configuration remains supported (and is what the dd5 oracle pins).
    * `maxBucket` guards degenerate buckets before the in-bucket pair
    * explosion, like [[minhashCandidates]]: an oversized bucket RAISES
    * by default ([[graft.Buckets]] — at the banded collision cliff,
    * n ≳ 2^(bits/bands), EVERY bucket overflows and a silent drop
    * returned a near-empty, correct-looking pair set; use
    * [[simhashNearPairsBlocked]] past the cliff). `dropOversized =
    * true` restores the drop, observable via the `simhash_buckets`
    * observe metric. */
  def simhashNearPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      bits: Int = 64,
      bands: Int = 8,
      maxBucket: Int = 10000,
      dropOversized: Boolean = false): DataFrame = {
    val fp = Parallelism.keyed(docs.where(col(textCol).isNotNull), col(idCol))
      .select(col(idCol),
        graft.functions.SimHash.simhashNative(col(textCol), bits).as("__fp"))
    fingerprintNearPairs(fp, idCol, "__fp", maxHamming, bits, bands,
      maxBucket, metricName = "simhash_buckets", dropOversized = dropOversized)
  }

  /** [[simhashNearPairs]] with [[fingerprintNearPairsBlocked]] candidate
    * generation — the ≥10⁶-document configuration: same fingerprints,
    * same exact-popcount verify, same complete pair set at the same
    * maxHamming, but candidate mass C(blocks, maxHamming)·n instead of
    * the banded n²·bands/2^(bits/bands). */
  def simhashNearPairsBlocked(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      bits: Int = 64,
      blocks: Int = 8,
      maxBucket: Int = 10000,
      dropOversized: Boolean = false): DataFrame = {
    val fp = Parallelism.keyed(docs.where(col(textCol).isNotNull), col(idCol))
      .select(col(idCol),
        graft.functions.SimHash.simhashNative(col(textCol), bits).as("__fp"))
    fingerprintNearPairsBlocked(fp, idCol, "__fp", maxHamming, bits, blocks,
      maxBucket, metricName = "simhash_buckets", dropOversized = dropOversized)
  }

  /** Hamming-LSH banded near-pairs over ANY precomputed bit fingerprint
    * — the generic core behind [[simhashNearPairs]] (text) and
    * [[graft.multimodal.Multimodal.perceptualNearPairs]] (media pHash):
    * band the fingerprint, candidates share a (band, key) bucket, exact
    * popcount verifies. Pigeonhole-complete for maxHamming < bands.
    * Same `maxBucket` degenerate-bucket guard + observe metric as every
    * other pair-explosion site. Output (id_a, id_b, hamming). */
  def fingerprintNearPairs(
      fp: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int,
      bits: Int = 64,
      bands: Int = 8,
      maxBucket: Int = 10000,
      metricName: String = "fingerprint_buckets",
      dropOversized: Boolean = false): DataFrame = {
    require(maxHamming < bands, "pigeonhole banding needs maxHamming < bands")
    require(bits % bands == 0, s"bands must divide bits: $bits/$bands")
    val width = bits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandArr = array((0 until bands).map(b =>
      shiftright(col(fpCol), b * width).bitwiseAND(mask)): _*)
    val banded = fp
      .where(col(fpCol).isNotNull)
      .select(col(idCol), col(fpCol),
        posexplode(bandArr).as(Seq("__band", "__key")))
    bucketedFingerprintPairs(banded, idCol, fpCol, maxHamming, bits,
      maxBucket, metricName, dropOversized)
  }

  /** Block-permutation hamming-LSH (Manku, Jain & Das Sarma 2007, §3 —
    * the WWW near-duplicates construction): the fingerprint splits into
    * `blocks` equal blocks and each TABLE keys on a (blocks −
    * maxHamming)-subset of them, packed into one long. Pigeonhole: ≤
    * maxHamming flipped bits touch ≤ maxHamming blocks, so some keyed
    * subset is entirely clean and the pair shares that table's key —
    * complete, like [[fingerprintNearPairs]], but with C(blocks,
    * maxHamming) tables of (blocks−maxHamming)·width-bit keys instead
    * of `bands` tables of width-bit keys.
    *
    * Why it exists: banded keys of bits/bands width collide at RANDOM —
    * expected in-bucket pair mass is n²·bands/2^(bits/bands), quadratic
    * once n approaches the per-band key space (the measured dd27 sf1
    * story: 8-bit keys ⇒ 256 buckets/band ⇒ 39M candidate pairs from
    * 50k docs). Here the key carries (blocks−maxHamming)·width bits —
    * the default 8-block/hamming-3 config keys on 40 bits, so random
    * collisions stay negligible past 10⁹ docs and candidate mass is
    * C(8,3)·n = 56n exploded rows — LINEAR, the 100-TB path. The table
    * count is the price of completeness; callers trading recall for
    * fan-out should drop maxHamming, not blocks. */
  def fingerprintNearPairsBlocked(
      fp: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int,
      bits: Int = 64,
      blocks: Int = 8,
      maxBucket: Int = 10000,
      metricName: String = "fingerprint_buckets",
      dropOversized: Boolean = false): DataFrame = {
    val banded = fp
      .where(col(fpCol).isNotNull)
      .select(col(idCol), col(fpCol),
        posexplode(blockedKeyArray(fpCol, bits, blocks, maxHamming))
          .as(Seq("__band", "__key")))
    bucketedFingerprintPairs(banded, idCol, fpCol, maxHamming, bits,
      maxBucket, metricName, dropOversized)
  }

  /** The C(blocks, blocks−maxHamming) packed table keys of the Manku
    * block-permutation construction — shared by
    * [[fingerprintNearPairsBlocked]] and the simhash index family
    * (build and search must derive keys identically, or index lookups
    * silently find nothing — the appendToMinhashIndex contract). One
    * native [[graft.functions.BlockedKeys]] node: each key the kept
    * blocks packed little-endian into one long, 56 tables for the
    * 8-block/hamming-3 default. */
  private def blockedKeyArray(
      fpCol: String, bits: Int, blocks: Int, maxHamming: Int): Column = {
    require(maxHamming >= 0 && maxHamming < blocks,
      s"block pigeonhole needs 0 <= maxHamming < blocks: $maxHamming/$blocks")
    require(bits % blocks == 0, s"blocks must divide bits: $bits/$blocks")
    val width = bits / blocks
    val keep = blocks - maxHamming
    require(keep * width <= 63,
      s"packed key must fit a signed long: $keep blocks x $width bits")
    graft.functions.BlockedKeys.blockedKeysNative(col(fpCol), bits, blocks, maxHamming)
  }

  /** Shared verify stage of the two hamming-LSH candidate generators:
    * within-bucket pair generation — one pass over the fingerprints, no
    * self-join (see minhashCandidates for the rationale); the window
    * count guards collect_list from degenerate buckets. */
  private def bucketedFingerprintPairs(
      banded: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int,
      bits: Int,
      maxBucket: Int,
      metricName: String,
      dropOversized: Boolean): DataFrame = {
    val lists = Buckets.capped(banded, Seq("__band", "__key"), maxBucket,
      Buckets.Raise(metricName,
        "route to the blocked generator (fingerprintNearPairsBlocked, " +
          "whose wide keys keep random collisions negligible)")
        .orDrop(dropOversized),
      Some(Buckets.Metric(metricName)))
      .where(col("__n") > 1)
      .groupBy("__band", "__key")
      .agg(collect_list(struct(col(idCol).as("id"), col(fpCol).as("sh")))
        .as("__m"))
    Buckets.pairs(lists, "__m", "a", "b")((a, b) => a("id") < b("id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDistance(col("a.sh"), col("b.sh"), bits).as("hamming"))
      .where(col("hamming") <= maxHamming) // popcount BEFORE the distinct:
      .distinct() // far fewer rows reach the dedup shuffle
  }

  /** Publish a corpus's simhash fingerprints + Manku blocked-table
    * keys as a parquet index — the fingerprint-path build/search split
    * (cf. [[writeMinhashIndex]]), with a stronger property: verify
    * needs only the 8-byte fingerprints, so an ingest batch NEVER
    * re-reads indexed TEXT at all (the minhash path still re-shingles
    * candidate docs). Layout (see [[publishSimhashIndex]]): `dir/fp`
    * holds (id, __fp), `dir/bands` holds flat (id, __band, __key)
    * files, `dir/_params` the key parameters. At 100 TB of text the
    * index is ~10⁻⁴ of the corpus bytes (8 B + 56 keyed rows per doc),
    * and per-batch cost is the batch fingerprint pass + a key-pruned
    * narrow band scan.
    *
    * Caller contract (the [[appendToMinhashIndex]] stance): search
    * parameters (bits, blocks, maxHamming) must MATCH the build —
    * keys from different parameters never collide usefully. */
  def writeSimhashIndex(
      dir: String,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      bits: Int = 64,
      blocks: Int = 8): Unit =
    publishSimhashIndex(dir, docs, idCol, textCol, maxHamming, bits,
      blocks, mode = "overwrite")

  /** Append an admitted batch to a [[writeSimhashIndex]] index (after
    * it passed [[incrementalSimhashPairs]]). Batch ids must be
    * disjoint from indexed ids; parameters must match the build; the
    * index must exist (an append to an empty dir would publish an
    * index without `_params`, which every later search accepts). */
  def appendToSimhashIndex(
      dir: String,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      bits: Int = 64,
      blocks: Int = 8): Unit =
    publishSimhashIndex(dir, docs, idCol, textCol, maxHamming, bits,
      blocks, mode = "append")

  /** Key-derivation params persisted with the index (r12 ADVICE): a
    * search with mismatched (bits, blocks, maxHamming) silently finds
    * nothing — the worst failure mode, a correct-LOOKING empty result.
    * The build writes `dir/_params`; append and search validate it and
    * RAISE on mismatch. A missing file (legacy index) is accepted. */
  private def simhashParamsLine(maxHamming: Int, bits: Int, blocks: Int): String =
    s"""{"bits":$bits,"blocks":$blocks,"maxHamming":$maxHamming}"""

  // r13 (ADVICE): `_params` goes through Hadoop's FileSystem like the
  // bands parquet itself, so the guard holds for hdfs://, s3a:// and
  // any other non-local index dir (the java.nio version threw after
  // writing bands on write, and silently skipped validation on read).
  private def paramsPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_params")

  private def indexFs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def checkSimhashParams(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, maxHamming: Int, bits: Int, blocks: Int, site: String): Unit = {
    val p = paramsPath(dir)
    val fs = indexFs(spark, dir)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val buf = new java.io.ByteArrayOutputStream()
      try org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      finally in.close()
      val stored =
        buf.toString(java.nio.charset.StandardCharsets.UTF_8.name()).trim
      val asked = simhashParamsLine(maxHamming, bits, blocks)
      if (stored != asked)
        throw new graft.GraftError(
          s"$site: index at $dir was built with $stored but the call " +
            s"asks for $asked — keys from different parameters never " +
            "collide usefully, so the search would return a correct-" +
            "looking EMPTY result; match the build parameters")
    }
  }

  /** Writes or extends the index. Layout: `dir/fp` (id, __fp) and
    * `dir/bands` (id, __band, __key) are flat parquet tables, one file
    * per write task, both fed by one lazily checkpointed fingerprint
    * frame; `dir/_params` holds the key parameters. A probe lists each
    * table as one directory and reads it with a pinned schema, so it
    * launches neither a file-listing nor a footer-inference job.
    *
    * Legacy layout: an index written with `bands` partitioned into one
    * `__band=k` dir per table stays searchable, and an append keeps
    * that layout (detected by one driver-side glob for
    * `bands/__band=*`, no Spark job), so no index mixes the two. */
  private def publishSimhashIndex(
      dir: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      bits: Int,
      blocks: Int,
      mode: String): Unit = {
    val fs = indexFs(docs.sparkSession, dir)
    val partitionedBands = mode == "append" && {
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "fp")))
        throw new graft.GraftError(
          s"appendToSimhashIndex: no index at $dir — an append would " +
            "publish one without _params, which every later search " +
            "accepts unchecked; build it with writeSimhashIndex first")
      checkSimhashParams(docs.sparkSession, dir, maxHamming, bits, blocks,
        "appendToSimhashIndex")
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, "bands/__band=*")))
        .exists(_.nonEmpty)
    }
    // the fingerprint frame feeds BOTH writes — lazy checkpoint so the
    // text pass runs once (the dd4 aliased-recompute policy)
    val fp = Parallelism.keyed(docs.where(col(textCol).isNotNull), col(idCol))
      .select(col(idCol),
        graft.functions.SimHash.simhashNative(col(textCol), bits).as("__fp"))
      .checkpointed(eager = false)
    val bands = fp.select(col(idCol),
      posexplode(blockedKeyArray("__fp", bits, blocks, maxHamming))
        .as(Seq("__band", "__key")))
    // r13 (guide §2.6): the fp and bands writes are independent given
    // the checkpointed fingerprint frame — submit both from a thread
    // pool; concurrent first-touch of the lazy checkpoint is safe (the
    // block manager's per-partition compute lock makes one job compute
    // a partition and the other wait on the cached block).
    // A failed write rethrows only after its sibling settled
    // (graft.Concurrent) — no job left writing into the index dir.
    graft.Concurrent.runAll(
      () => fp.write.mode(mode).parquet(s"$dir/fp"),
      () =>
        if (partitionedBands) {
          // legacy layout: one shuffle on the table position, pinned to
          // the table count, so each task writes one band dir
          val nBands = (0 until blocks).combinations(blocks - maxHamming).size
          bands.repartition(nBands, col("__band"))
            .write.mode(mode).partitionBy("__band").parquet(s"$dir/bands")
        } else bands.write.mode(mode).parquet(s"$dir/bands"))
    if (mode != "append") {
      val out = fs.create(paramsPath(dir), true)
      try out.write((simhashParamsLine(maxHamming, bits, blocks) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Near-duplicate pairs of an ingest batch against a published
    * [[writeSimhashIndex]] index (plus within-batch pairs): complete
    * at `maxHamming` by the block pigeonhole, verified with the exact
    * popcount, involving at least one batch doc — result-identical to
    * [[simhashNearPairsBlocked]] over (indexed ∪ batch) filtered to
    * batch-involving pairs (spec-asserted), WITHOUT re-fingerprinting
    * or re-reading the indexed corpus text.
    *
    * Scale shape: the batch's table keys (bounded by the batch — the
    * small side by construction) broadcast-semi-join the band index
    * BEFORE the bucket shuffle, so index rows reaching the window ∝
    * the batch's collision mass, not |index|; verify joins the two
    * fingerprint columns only, pruned to candidate ids. Same
    * [[graft.Buckets]] default-raise + `incremental_simhash_buckets`
    * observe metric as every pair generator. Returns
    * (id_a, id_b, hamming). */
  def incrementalSimhashPairs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      bits: Int = 64,
      blocks: Int = 8,
      maxBucket: Int = 10000,
      dropOversized: Boolean = false): DataFrame = {
    checkSimhashParams(spark, dir, maxHamming, bits, blocks,
      "incrementalSimhashPairs")
    // batch fingerprints feed the band melt AND the verify join
    val fpNew = Parallelism.keyed(batch.where(col(textCol).isNotNull), col(idCol))
      .select(col(idCol),
        graft.functions.SimHash.simhashNative(col(textCol), bits).as("__fp"))
      .checkpointed(eager = false)
    val neu = fpNew
      .select(col(idCol),
        posexplode(blockedKeyArray("__fp", bits, blocks, maxHamming))
          .as(Seq("__band", "__key")))
      .withColumn("__new", lit(true))
      .checkpointed(eager = false) // feeds the union + the key prune
    val newKeys = neu.select("__band", "__key").distinct()
    // both index tables are read with a pinned schema (the batch's id
    // type), so no probe infers one from parquet footers — a Spark job
    // per table. A stored id type the batch's cannot read raises in
    // the scan; a stored id column of another name reads as null, and
    // a null indexed id raises (it could never pair, so the probe
    // would silently return fewer pairs).
    val idField = StructField(idCol, fpNew.schema.head.dataType)
    def indexTable(name: String, cols: StructField*): DataFrame =
      spark.read.schema(StructType(idField +: cols)).parquet(s"$dir/$name")
        .withColumn(idCol, when(col(idCol).isNull, raise_error(lit(
          s"incrementalSimhashPairs: an indexed row at $dir/$name has no " +
            s"$idCol — the index was built with another id column or " +
            "with null ids")))
          .otherwise(col(idCol)))
    val idx = indexTable("bands",
      StructField("__band", IntegerType), StructField("__key", LongType))
      .withColumn("__new", lit(false))
    val touched = idx.unionByName(neu)
      .join(newKeys.hint("broadcast"), Seq("__band", "__key"), "left_semi")
    // candidate pairs referenced three times below (two id prunes +
    // the verify probe) — lazy checkpoint, the nearDuplicates policy
    val cands = batchPairs(touched, Seq("__band", "__key"), idCol, maxBucket,
      Buckets.Metric("incremental_simhash_buckets"),
      Buckets.Raise("incrementalSimhashPairs", "pre-dedup the batch exactly first")
        .orDrop(dropOversized))
      .checkpointed(eager = false)
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol)))
      .distinct()
    // verify reads 8-byte fingerprints only — indexed text is never
    // touched; the fp scan is pruned to candidate ids (∝ dup mass).
    // Referenced by both verify-join sides → lazy checkpoint.
    val fps = indexTable("fp", StructField("__fp", LongType))
      .unionByName(fpNew)
      .join(candIds, Seq(idCol), "left_semi")
      .checkpointed(eager = false)
    cands
      .join(fps.select(col(idCol).as("id_a"), col("__fp").as("__fa")), "id_a")
      .join(fps.select(col(idCol).as("id_b"), col("__fp").as("__fb")), "id_b")
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("__fa"), col("__fb"), bits).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicates within blocking buckets: candidate
    * pairs share a coarse bucket (provided column), verified by cosine ≥
    * threshold. For unblocked ANN use [[graft.sim.Similarity]].
    *
    * Same within-bucket pair generation as [[minhashCandidates]] (one
    * pass, no self-join — a self-equi-join would run the scan + norm
    * pipeline once per aliased side) with the same `maxBucket` guard: a
    * bucket of m vectors emits O(m²) cosine pairs, so one degenerate
    * bucket (a zero vector, a default embedding) would concentrate the
    * whole job in one task. An oversized bucket RAISES by default
    * ([[graft.Buckets]]); with `dropOversized = true` it is dropped
    * before the collect_list ever materializes it — observable via the
    * `embedding_buckets` observe metric. Unlike the id-only minhash
    * lists, a bucket list here carries the vectors (≤ maxBucket·dim
    * doubles per group) — size `maxBucket` with the embedding dimension
    * in mind (the 1000 default holds a 768-dim bucket ≈ 6 MB). */
  def embeddingNearDuplicates(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      bucketCol: String,
      threshold: Double,
      maxBucket: Int = 1000,
      dropOversized: Boolean = false): DataFrame = {
    import graft.sim.Similarity
    val rows = embs
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        Similarity.norm(col(vecCol)).as("__nm"), col(bucketCol).as("__bk"))
    val lists = Buckets.capped(rows, Seq("__bk"), maxBucket,
      Buckets.Raise("embeddingNearDuplicates", "refine the blocking column")
        .orDrop(dropOversized),
      Some(Buckets.Metric("embedding_buckets")))
      .where(col("__n") > 1)
      .groupBy("__bk")
      .agg(collect_list(struct(col("__id"), col("__v"), col("__nm"))).as("__m"))
    Buckets.pairs(lists, "__m", "a", "b")((a, b) => a("__id") < b("__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        Similarity.cosinePrenormed(
          col("a.__v"), col("b.__v"), col("a.__nm"), col("b.__nm")).as("cosine"))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Canonical-fingerprint dedup (word-order-insensitive exact dup). */
  def canonicalGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("fingerprint", TextAnalysis.canonicalFingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space with a coarse quantizer, then drop semantic duplicates WITHIN
    * each cluster — pairs above the cosine threshold keep only the member
    * FARTHEST from the cluster centroid (the paper's keep-low-centroid-
    * similarity rule, which retains the cluster's diverse rim rather than
    * its redundant core).
    *
    * `centroids` is any trained quantizer, normally
    * [[graft.sim.Similarity.kmeansCentroids]] — the same deterministic
    * model the IVF family uses, so one k-means fit can serve both ANN
    * search and semantic dedup.
    *
    * Scale shape: assignment is [[graft.sim.Similarity.assignCells]]
    * (broadcast crossJoin → min_by partial agg, ONE shuffle on the id);
    * the pair stage is the [[embeddingNearDuplicates]] within-bucket
    * generation keyed on the ASSIGNED CELL — cost ∝ Σ cell m², bounded
    * by `maxBucket` with the `semdedup_cells` observe metric (an
    * oversized cell only loses its intra-cell PRUNING — its members all
    * survive — which is the conservative failure for a dedup). The drop
    * rule is per-PAIR (each pair independently discards its
    * higher-(centroid-cosine, id) member), not connected-component
    * closure: one extra linear shuffle instead of [[duplicateClusters]]'
    * O(diameter) propagation rounds, matching the published
    * implementations' semantics. Ties (identical vectors have identical
    * centroid cosines) break on the id, so the survivor set is
    * deterministic under any partitioning.
    *
    * (`maxBucket` < 2 makes the pair filter statically unsatisfiable —
    * Catalyst folds the whole pair subtree, including the observe node,
    * to an empty relation: everyone survives and no metric is emitted.)
    *
    * Returns the SURVIVORS: (id, cell_id, cent_cos round 6). */
  /** Cell assignment + centroid-cosine priority for the cluster-based
    * pruning family ([[semanticDeduplicate]], [[prototypePrune]]):
    * (cell_id, __id, __v, __nm, __cc). `checkpoint` for callers that
    * reference the frame more than once (pair stage + anti-join) —
    * aliased exchange reuse doesn't bridge that (the nearDuplicates
    * 1 M lesson); single-pass callers skip it so column pruning still
    * reaches the scan (a checkpoint would pin the corpus-sized vector
    * column they never read again). */
  private def cellPriorities(
      embs: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      checkpoint: Boolean): DataFrame = {
    import graft.sim.Similarity
    val prio = Similarity.assignCells(
      embs.select(col(idCol), col(vecCol)), centroids, vecCol, idCol)
      .join(broadcast(centroids), Seq("cell_id"))
      .select(col("cell_id"), col(idCol).as("__id"), col(vecCol).as("__v"),
        Similarity.norm(col(vecCol)).as("__nm"),
        Similarity.cosine(col(vecCol), col("centroid")).as("__cc"))
    if (checkpoint) prio.checkpointed(eager = false) else prio
  }

  def semanticDeduplicate(
      embs: DataFrame,
      centroids: DataFrame, // (cell_id, centroid) — e.g. kmeansCentroids
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBucket: Int = 1000): DataFrame = {
    import graft.sim.Similarity
    val prio = cellPriorities(embs, centroids, idCol, vecCol, checkpoint = true)
    val cells = Buckets.capped(prio, Seq("cell_id"), maxBucket, Buckets.Drop,
      Some(Buckets.Metric("semdedup_cells", maxField = "max_cell")))
      .where(col("__n") > 1)
      .groupBy("cell_id")
      .agg(collect_list(struct(col("__id"), col("__v"), col("__nm"), col("__cc")))
        .as("__m"))
    val losers = Buckets.pairs(cells, "__m", "a", "b")((a, b) => a("__id") < b("__id"))
      .where(Similarity.cosinePrenormed(
        col("a.__v"), col("b.__v"), col("a.__nm"), col("b.__nm")) >= threshold)
      // drop the pair member CLOSER to the centroid (higher cent_cos)
      .select(greatest(
        struct(col("a.__cc").as("cc"), col("a.__id").as("id")),
        struct(col("b.__cc").as("cc"), col("b.__id").as("id")))
        .getField("id").as("__id"))
      .distinct()
    prio.join(losers, Seq("__id"), "left_anti")
      .select(col("__id").as(idCol), col("cell_id"),
        round(col("__cc"), 6).as("cent_cos"))
  }

  /** Semantic decontamination — the [[semanticDeduplicate]] mechanism
    * pointed ACROSS corpora (the embedding-space analogue of
    * [[crossNearDuplicates]]): flag corpus docs whose embedding is
    * cosine-≥ `threshold` to ANY eval-set embedding sharing its
    * quantizer cell. Paraphrased eval leakage that exact/minhash
    * decontamination misses (different tokens, same meaning) lands in
    * the same cell and scores high.
    *
    * Scale shape: both sides pay one cell-assignment pass; the EVAL
    * side (benchmark-sized, orders smaller than the corpus) collapses
    * to per-cell member lists and BROADCASTS, so the corpus streams
    * once with no shuffle beyond its assignment and comparisons cost
    * |corpus ∩ occupied cells| × cell's eval members — never
    * corpus × eval. An eval cell beyond `maxBucket` RAISES by default
    * ([[graft.Buckets]] — a dropped hot cell silently loses every
    * contamination match in it); `dropOversized = true` drops it
    * instead (observable via the `semdecon_cells` observe metric):
    * raise the cap or refine the quantizer. Returns one row
    * per contaminated corpus doc: (idCol, eval_id, sim round 6) with
    * the strongest match (ties → higher eval id, the struct-max
    * order). */
  def semanticContamination(
      corpus: DataFrame,
      evalSet: DataFrame,
      centroids: DataFrame, // (cell_id, centroid) — e.g. kmeansCentroids
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBucket: Int = 1000,
      dropOversized: Boolean = false): DataFrame = {
    import graft.sim.Similarity
    val c = cellPriorities(corpus, centroids, idCol, vecCol, checkpoint = false)
    val e = cellPriorities(evalSet, centroids, idCol, vecCol, checkpoint = false)
    val evalCells = Buckets.capped(e, Seq("cell_id"), maxBucket,
      Buckets.Raise("semanticContamination", "refine the quantizer (more centroids)")
        .orDrop(dropOversized),
      Some(Buckets.Metric("semdecon_cells", maxField = "max_cell")))
      .groupBy("cell_id")
      .agg(collect_list(struct(col("__id"), col("__v"), col("__nm"))).as("__em"))
    c.join(broadcast(evalCells), Seq("cell_id"))
      .select(col("__id"), col("__v"), col("__nm"), explode(col("__em")).as("ev"))
      .withColumn("__sim", Similarity.cosinePrenormed(
        col("__v"), col("ev.__v"), col("__nm"), col("ev.__nm")))
      .where(col("__sim") >= threshold)
      .groupBy(col("__id"))
      .agg(max(struct(col("__sim"), col("ev.__id"))).as("__m"))
      .select(col("__id").as(idCol), col("__m.__id").as("eval_id"),
        round(col("__m.__sim"), 6).as("sim"))
  }

  /** SSL-prototypes data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws"): within each cluster, DROP the most prototypical
    * `dropFraction` of examples — the ones closest to their centroid —
    * and keep the hard rim, the selection that beats random pruning on
    * large corpora in the paper. The same trained quantizer serves
    * [[semanticDeduplicate]], the IVF family, and this.
    *
    * Per cell of m members the drop count is ⌊dropFraction·m⌋ under the
    * (centroid-cosine DESC, id) total order, so the survivor set is
    * deterministic and a 1-member cell never empties. Scale shape: one
    * assignment shuffle ([[graft.sim.Similarity.assignCells]]) + ONE
    * rank window partitioned by cell — cells are corpus/k sized by
    * construction (scale k with the corpus as the quantizer fit
    * already requires); no pair generation at all, so no maxBucket is
    * needed — a degenerate cell costs one task's sort of its members,
    * never m².
    *
    * Returns survivors: (id, cell_id, cent_cos round 6). */
  def prototypePrune(
      embs: DataFrame,
      centroids: DataFrame, // (cell_id, centroid) — e.g. kmeansCentroids
      idCol: String,
      vecCol: String,
      dropFraction: Double): DataFrame = {
    if (dropFraction < 0 || dropFraction >= 1)
      throw new graft.ParameterError(
        s"dropFraction must be in [0, 1): $dropFraction")
    // single downstream pass → no checkpoint; project the vector away
    // BEFORE the rank window so its exchange moves (cell, id, cc) rows,
    // not 64-float embeddings
    val prio = cellPriorities(embs, centroids, idCol, vecCol, checkpoint = false)
      .select(col("cell_id"), col("__id"), col("__cc"))
    val w = Window.partitionBy("cell_id").orderBy(col("__cc").desc, col("__id"))
    prio
      .withColumn("__rk", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy("cell_id")))
      .where(col("__rk") > floor(lit(dropFraction) * col("__m")))
      .select(col("__id").as(idCol), col("cell_id"),
        round(col("__cc"), 6).as("cent_cos"))
  }

  /** DD26: data-driven LSH parameter planner — unlike [[lshPlan]]
    * (the driver-side textbook S-curve fit), this scores (bands,
    * rowsPerBand) configurations against the corpus's OWN
    * candidate-pair Jaccard histogram (the dd24 evidence). For each config, the banding collision
    * probability P(s) = 1 − (1 − sʳ)ᵇ (Leskovec/Rajaraman/Ullman
    * ch. 3) is evaluated at each histogram bin's midpoint; pairs at or
    * above `threshold` that LSH would MISS accumulate as fn_mass,
    * pairs below it that LSH would surface accumulate as fp_mass
    * (wasted verify work), and exp_candidates is the total expected
    * verify load. The best row minimizes 10·fn + fp (recall-weighted:
    * a missed duplicate costs more than a wasted verify) with a
    * deterministic (bands, rows) tie-break.
    *
    * Scale shape: the histogram is ≤ 10 rows and the grid is a
    * driver-literal constant — the whole planner is a bounded
    * crossJoin; the expensive part (the histogram) is the dd24 pass
    * the pipeline already ran. Each P is micro-quantized at 1e6 (the
    * benford fixed-constant argument: bin mids × grid are a finite
    * data-independent set, so engines can't straddle a rounding edge
    * differently between runs), making every mass an exact BIGINT
    * sum of n_pairs · Pq products. */
  def lshPlanFromHistogram(
      jaccardHist: DataFrame,
      grid: Seq[(Int, Int)] =
        Seq(2, 4, 8, 16, 32).flatMap(b => Seq(1, 2, 4, 8).map(r => (b, r))),
      threshold: Double = 0.5,
      binCol: String = "jaccard_bin",
      nCol: String = "n_pairs"): DataFrame = {
    if (grid.isEmpty) throw new graft.ParameterError("grid must be non-empty")
    if (threshold <= 0 || threshold >= 1)
      throw new graft.ParameterError(s"threshold in (0,1): $threshold")
    val thresholdBin = math.round(threshold * 10).toInt
    val g = jaccardHist.sparkSession.range(1)
      .select(explode(array(grid.map { case (b, r) =>
        struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"))
      }: _*)).as("__g"))
      .select(col("__g.bands"), col("__g.rows_per_band"))
    val s = (col(binCol) * 2 + 1).cast("double") / 20.0
    val pq = Micro.long(lit(1.0) -
      pow(lit(1.0) - pow(s, col("rows_per_band").cast("double")),
        col("bands").cast("double")))
    val scored = jaccardHist
      .select(col(binCol), col(nCol))
      .crossJoin(broadcast(g)) // ≤10 bins × a literal grid — bounded
      .select(col("bands"), col("rows_per_band"),
        (col(nCol) * pq).as("__cq"),
        when(col(binCol) < thresholdBin, col(nCol) * pq)
          .otherwise(0L).as("__fpq"),
        when(col(binCol) >= thresholdBin, col(nCol) * (lit(Micro.unit) - pq))
          .otherwise(0L).as("__fnq"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(sum(col("__cq")).as("__cq"), sum(col("__fpq")).as("__fpq"),
        sum(col("__fnq")).as("__fnq"))
    val wBest = Window.orderBy( // bounded: the literal grid
      (col("__fnq") * 10 + col("__fpq")).asc,
      col("bands").asc, col("rows_per_band").asc)
    scored
      .withColumn("__rk", row_number().over(wBest))
      .select(
        col("bands"), col("rows_per_band"),
        round(Micro.back(col("__cq")), 6).as("exp_candidates"),
        round(Micro.back(col("__fpq")), 6).as("fp_mass"),
        round(Micro.back(col("__fnq")), 6).as("fn_mass"),
        when(col("__rk") === 1, 1).otherwise(0).as("is_best"))
  }
}
