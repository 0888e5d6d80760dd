package graft.text

import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ParameterError

/** N-gram language-model scoring for corpus quality filtering:
  *
  *  - [[crossEntropy]] — per-document cross-entropy (nats/token) under an
  *    add-one-smoothed unigram LM trained on a reference corpus, the
  *    CCNet-style "perplexity against a clean LM" quality signal
  *    (Wenzek et al. 2020 use a KenLM 5-gram; the unigram form keeps the
  *    same pipeline shape — train counts, score by mean log-prob — as
  *    pure relational algebra).
  *  - [[dsirLogWeights]] — Data Selection with Importance Resampling
  *    (Xie et al. 2023): per-document mean log importance ratio between
  *    a target and a raw distribution over HASHED BIGRAM features.
  *
  * Scale shape (both): training is one explode + hash-groupBy over the
  * reference corpus (volume-linear, one shuffle on the token/bucket
  * key); corpus totals are ONE integer scalar row broadcast back;
  * scoring is explode → equi-join the count table → one integer-sum
  * aggregation riding the doc-id key. No all-pairs joins anywhere.
  *
  * Cross-engine determinism: per-token/-feature log terms are quantized
  * to MICRO-nat integers (`round(ln(·)·10⁶)` as BIGINT) before the
  * per-doc sum, so the unordered combine is exact integer addition —
  * results reproduce bit-for-bit across partitionings and engines; a
  * last-ulp `ln` difference between math libraries would have to land
  * within ~4e-9 of a rounding boundary to matter (same tolerance stance
  * as Retrieval's BM25 idf).
  */
object LangModel {

  /** Unigram counts of the reference corpus: (__token, __cnt). Tokens
    * are [[TextAnalysis.normWords]] (lowercase, alphanumeric); docs that
    * normalize to nothing contribute nothing. */
  def unigramCounts(ref: DataFrame, textCol: String = "text"): DataFrame =
    ref
      .select(explode(TextAnalysis.normWords(col(textCol))).as("__token"))
      .where(col("__token") =!= "")
      .groupBy("__token")
      .agg(count(lit(1)).as("__cnt"))

  /** Per-doc cross-entropy (nats/token) and perplexity of `docs` under
    * the add-one-smoothed unigram LM of `ref`:
    * p(t) = (c_t + 1) / (T + V), OOV → 1 / (T + V), so
    * ce(d) = ln(T + V) − (1/n)·Σ_t ln(c_t + 1).
    * Returns (id, n_tokens, cross_entropy, perplexity); docs with no
    * normalized tokens are dropped (no rows to score). High
    * cross-entropy vs a clean reference LM = low-quality/off-domain
    * text — the standard CCNet filter signal.
    *
    * `broadcastVocab` hints the count table into a broadcast join for
    * dimension-sized vocabularies; the default shuffled hash join on
    * the token key handles open-ended web-scale vocab. */
  def crossEntropy(
      docs: DataFrame,
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      broadcastVocab: Boolean = false): DataFrame = {
    // materialize the vocab counts once: they feed BOTH the scalar
    // stats agg and the per-token scoring join, and relying on runtime
    // exchange reuse leaves the reference-corpus explode+groupBy
    // exposed to re-execution (the crossNearDuplicates lesson). The
    // frame is vocab-sized, not corpus-sized — but a web-corpus vocab
    // is open-ended, so the checkpoint is LAZY: no Spark job runs at
    // construction time, materialization happens on the caller's first
    // action and is reused from there.
    val counts = unigramCounts(ref, textCol).checkpointed(eager = false)
    // ONE integer scalar row: total token mass T and vocab size V
    val stats = counts.agg(
      sum(col("__cnt")).as("__T"), count(lit(1)).as("__V"))
    val toks = docs
      .select(col(idCol), explode(TextAnalysis.normWords(col(textCol))).as("__token"))
      .where(col("__token") =!= "")
    val lnTV = log((col("__T") + col("__V")).cast("double"))
    val ce = lnTV - col("__S").cast("double") / 1e6 / col("n_tokens")
    toks
      .join(if (broadcastVocab) broadcast(counts) else counts, Seq("__token"), "left")
      // micro-nat integer per token: exact unordered summation
      .withColumn("__m",
        round(log(coalesce(col("__cnt"), lit(0L)).cast("double") + 1.0) * 1e6, 0)
          .cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__m")).as("__S"))
      .crossJoin(broadcast(stats))
      .select(
        col(idCol),
        col("n_tokens"),
        round(ce, 6).as("cross_entropy"),
        round(exp(ce), 4).as("perplexity"))
  }

  /** CCNet head/middle/tail bucketing (Wenzek et al. 2020): label each
    * scored document by where its LM score falls against precomputed
    * cutoffs — `labels(i)` for score ≤ `cutoffs(i)`, the last label
    * above every cutoff. Lower cross-entropy = more reference-like, so
    * with ascending cutoffs the first label is CCNet's "head" (best
    * third). Cutoffs normally come from
    * [[Sampling.hashSampleQuantiles]] over a [[crossEntropy]] run —
    * exactly CCNet's sampled-cutoffs-then-constant-filter split, which
    * keeps this a pure codegen'd when-chain: shuffle-free, volume-
    * linear, pushed past column pruning; no global sort or single-
    * partition ntile window anywhere. */
  def perplexityBuckets(
      scored: DataFrame,
      cutoffs: Seq[Double],
      labels: Seq[String] = Seq("head", "middle", "tail"),
      scoreCol: String = "cross_entropy"): DataFrame = {
    if (labels.size != cutoffs.size + 1)
      throw new ParameterError(
        s"need exactly ${cutoffs.size + 1} labels for ${cutoffs.size} cutoffs, " +
          s"got ${labels.size}")
    if (cutoffs.sorted != cutoffs)
      throw new ParameterError(s"cutoffs must be ascending: $cutoffs")
    val bucket = cutoffs.zip(labels).foldRight(lit(labels.last)) {
      case ((c, l), acc) => when(col(scoreCol) <= c, l).otherwise(acc)
    }
    scored.withColumn("bucket", bucket)
  }

  /** Hashed bigram feature bucket in [0, buckets): first 8 md5 hex chars
    * of the space-joined bigram, mod the bucket count — engine-
    * independent (the md5 idiom of the dedup/sampling family). */
  def featureBucket(gram: Column, buckets: Int): Column =
    conv(substring(md5(gram), 1, 8), 16, 10).cast("long") % buckets

  /** DSIR importance log-weights (Xie et al. 2023 "Data Selection for
    * Language Models via Importance Resampling"): score every doc by the
    * mean log importance ratio of its hashed bigram features between a
    * `target` corpus (what you want more of) and a `raw` corpus (what
    * the doc pool looks like), with add-one smoothing over the `buckets`
    * hash range:
    *
    *   w(d) = (1/n)·Σ_g [ ln p_target(b(g)) − ln p_raw(b(g)) ]
    *
    * Returns (id, n_features, log_weight). Positive = target-like;
    * feed `exp(log_weight)` (or a rank cutoff) into Gumbel-free
    * deterministic resampling via [[Sampling.sampleByHash]]-style
    * thresholds. Docs with fewer than 2 normalized words have no
    * bigrams and are dropped.
    *
    * The bucket distribution table has at most `buckets` rows by
    * construction, so the scoring join broadcasts. */
  def dsirLogWeights(
      docs: DataFrame,
      target: DataFrame,
      raw: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 8192): DataFrame = {
    if (buckets <= 0) throw new ParameterError(s"buckets must be positive: $buckets")

    def bucketRows(corpus: DataFrame): DataFrame =
      graft.dedup.Dedup.shingleRows(corpus, idCol, textCol, n = 2)
        .select(featureBucket(col("__s"), buckets).as("__b"))

    // each bucket-count frame (≤ `buckets` rows) feeds both the ratio
    // table and its totals agg — materialize instead of re-running the
    // corpus shingle pipelines (see crossEntropy's counts note)
    val tCnt = bucketRows(target).groupBy("__b").agg(count(lit(1)).as("__ct"))
      .checkpointed(eager = true)
    val rCnt = bucketRows(raw).groupBy("__b").agg(count(lit(1)).as("__cr"))
      .checkpointed(eager = true)
    // ≤ `buckets` rows: the full smoothed ratio table, broadcastable by
    // construction (buckets absent from both corpora never join anyway —
    // their micro term would be ln(1)−ln(1) = 0, matching the coalesce)
    val table = tCnt.join(rCnt, Seq("__b"), "full_outer")
      .select(
        col("__b"),
        round((log(coalesce(col("__ct"), lit(0L)).cast("double") + 1.0) -
          log(coalesce(col("__cr"), lit(0L)).cast("double") + 1.0)) * 1e6, 0)
          .cast("long").as("__m"))
    val totals = tCnt.agg(sum(col("__ct")).as("__Tt"))
      .crossJoin(rCnt.agg(sum(col("__cr")).as("__Tr")))
    // w = S/n + ln((Tr + B) / (Tt + B)): the per-feature varying part is
    // the exact micro-sum; the corpus-total part is one scalar ln
    val shift = log((col("__Tr") + buckets).cast("double")) -
      log((col("__Tt") + buckets).cast("double"))
    graft.dedup.Dedup.shingleRows(docs, idCol, textCol, n = 2)
      .select(col(idCol), featureBucket(col("__s"), buckets).as("__b"))
      .join(broadcast(table), Seq("__b"), "left")
      .withColumn("__m", coalesce(col("__m"), lit(0L)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_features"), sum(col("__m")).as("__S"))
      .crossJoin(broadcast(totals))
      .select(
        col(idCol),
        col("n_features"),
        round(col("__S").cast("double") / 1e6 / col("n_features") + shift, 6)
          .as("log_weight"))
  }

  /** Unigram-distribution divergences between two corpora: KL(A‖B),
    * KL(B‖A), and the (symmetric, ln-2-bounded) Jensen-Shannon
    * divergence over their add-one-smoothed word distributions —
    * "how far has this month's crawl drifted from the reference mix"
    * as ONE number per direction, the corpus-level complement of
    * [[dsirLogWeights]]' per-document importance view. Smoothing is
    * over the UNION vocabulary (p = (c_A + 1) / (N_A + V)), so
    * one-sided words contribute finitely and both KLs are defined.
    *
    * Exactness: counts are exact longs; V/N_A/N_B fold to ONE scalar
    * row crossJoined back (the BM25 stance), each word's divergence
    * contributions quantize to integer picos before the distributed
    * sum (the micro-nat lesson — a plain double Σ over an unordered
    * word partitioning differs run-to-run), and the joined count
    * frame is lazily checkpointed because it feeds both the scalar
    * agg and the contribution pass (the crossEntropy lesson).
    *
    * Scale shape: two count aggregations (map-side combining), one
    * full-outer equi-join on the word key (co-partitioned), one final
    * agg to a single row. Nothing driver-side, nothing quadratic.
    * Output (vocab_size, n_tokens_a, n_tokens_b, kl_ab, kl_ba, js). */
  def corpusDivergence(
      a: DataFrame,
      b: DataFrame,
      textCol: String = "text"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val joined = unigramCounts(a, textCol).withColumnRenamed("__cnt", "__ca")
      .join(unigramCounts(b, textCol).withColumnRenamed("__cnt", "__cb"),
        Seq("__token"), "full_outer")
      .select(
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
      .checkpointed(eager = false)
    val stats = joined.agg(
      count(lit(1)).as("__V"),
      sum(col("__ca")).as("__Na"),
      sum(col("__cb")).as("__Nb"))
    val p = (col("__ca") + 1).cast("double") /
      (col("__Na") + col("__V")).cast("double")
    val q = (col("__cb") + 1).cast("double") /
      (col("__Nb") + col("__V")).cast("double")
    val m = (p + q) / 2
    def pico(c: Column): Column = round(c * 1e12).cast("long").cast(dec)
    joined
      .crossJoin(broadcast(stats))
      .agg(
        max(col("__V")).as("vocab_size"),
        max(col("__Na")).as("n_tokens_a"),
        max(col("__Nb")).as("n_tokens_b"),
        sum(pico(p * log(p / q))).as("__kab"),
        sum(pico(q * log(q / p))).as("__kba"),
        sum(pico(lit(0.5) * (p * log(p / m) + q * log(q / m)))).as("__js"))
      .select(
        col("vocab_size"), col("n_tokens_a"), col("n_tokens_b"),
        round(col("__kab").cast("double") / 1e12, 6).as("kl_ab"),
        round(col("__kba").cast("double") / 1e12, 6).as("kl_ba"),
        round(col("__js").cast("double") / 1e12, 6).as("js"))
  }
}
