package graft.text

import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ParameterError
import graft.Exact.Pico

/** Vocabulary construction and out-of-vocabulary measurement — the
  * tokenizer-prep stage of a training pipeline (fix a top-V word list
  * on the corpus, then measure each document's OOV mass; a high OOV
  * rate flags encoding damage, boilerplate, or out-of-domain text).
  *
  * Scale shape: the count aggregation is one shuffle on the word
  * (map-side partials collapse repeats early); top-V selection is
  * `orderBy(...).limit(V)` — Catalyst's TakeOrderedAndProject, a
  * per-partition top-V then a V-row driver merge, NOT a global sort.
  * The vocabulary is ≤ V rows by construction, so the OOV probe join
  * always broadcasts. */
object Vocab {

  /** The word stream `(idCol, __s)` — [[graft.dedup.Dedup.shingleRows]]
    * unigrams with the empty-split artifact removed (blank docs emit
    * "" from the word split; not a word). */
  private def words(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.dedup.Dedup.shingleRows(docs, idCol, textCol, n = 1)
      .where(col("__s") =!= "")

  /** Top-V vocabulary: (word, cnt, rank), rank 1..V by count
    * descending with lexicographic tie-break (deterministic — count
    * ties are common in any real corpus). */
  def vocabulary(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      topV: Int = 10000): DataFrame = {
    if (topV <= 0) throw new ParameterError(s"topV must be positive: $topV")
    import org.apache.spark.sql.expressions.Window
    val counts = words(docs, idCol, textCol)
      .groupBy(col("__s").as("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(topV)
    // rank over the ≤ V-row result — bounded unpartitioned window
    counts.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("word"))))
  }

  /** Per-doc OOV measurement against a `(word, ...)` vocabulary frame:
    * (idCol, n_tokens, n_oov, oov_rate). Token occurrences count
    * multiplicatively (OOV MASS, not distinct types). Docs with no
    * words emit n_tokens = 0 and a null rate. */
  def oovRates(
      docs: DataFrame,
      vocab: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val stats = words(docs, idCol, textCol)
      .join(broadcast(vocab.select(col("word").as("__v"))),
        col("__s") === col("__v"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
  }

  /** Top-K adjacent-word collocations by pointwise mutual information:
    * `(l, r, pair_cnt, pmi)` — the statistical-phrase miner (word2vec
    * phrase pass / multi-word-expression detection). PMI =
    * ln(p(l,r) / (p(l)·p(r))) with the joint over the bigram total and
    * marginals over the unigram total. `minCount` floors the joint
    * count (PMI's low-frequency pathology: a 1-count pair of two rare
    * words maxes the score).
    *
    * Scale shape: one bigram agg + one unigram agg (both map-side
    * combining), totals as ONE scalar row crossJoined back, two
    * vocab-keyed equi-joins for the marginals, TakeOrderedAndProject
    * for the top-K. Selection orders by the ROUNDED pmi then (l, r) —
    * ranking on the raw double would be engine-dependent within an
    * ulp. */
  def collocations(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minCount: Long = 5L,
      topK: Int = 100): DataFrame = {
    if (minCount < 1) throw new ParameterError(s"minCount must be >= 1: $minCount")
    if (topK <= 0) throw new ParameterError(s"topK must be positive: $topK")
    val uni = words(docs, idCol, textCol)
      .groupBy(col("__s").as("word")).agg(count(lit(1)).as("__cu"))
    // bigram totals derive from the AGGREGATED counts (vocab²-bounded),
    // not a second corpus pass
    val bigAll = graft.dedup.Dedup.shingleRows(docs, idCol, textCol, n = 2)
      .where(col("__s") =!= "")
      .select(split(col("__s"), " ").getItem(0).as("l"),
        split(col("__s"), " ").getItem(1).as("r"))
      .groupBy(col("l"), col("r")).agg(count(lit(1)).as("pair_cnt"))
      .checkpointed(eager = false)
    val big = bigAll.where(col("pair_cnt") >= minCount)
    val totals = uni.agg(sum(col("__cu")).as("__Nu"))
      .crossJoin(bigAll.agg(sum(col("pair_cnt")).as("__Nb")))
    big
      .join(uni.select(col("word").as("l"), col("__cu").as("__cl")), "l")
      .join(uni.select(col("word").as("r"), col("__cu").as("__cr")), "r")
      .crossJoin(broadcast(totals))
      .select(col("l"), col("r"), col("pair_cnt"),
        round(log(
          (col("pair_cnt").cast("double") / col("__Nb")) /
            ((col("__cl").cast("double") / col("__Nu")) *
              (col("__cr").cast("double") / col("__Nu")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("l"), col("r"))
      .limit(topK)
  }

  /** Zipf-law fit over the top-V word frequencies: the least-squares
    * slope (and R²) of ln(count) on ln(rank) — a healthy natural-
    * language corpus fits slope ≈ −1; a flat slope flags templated/
    * boilerplate text and a cliff flags a truncated or deduplicated-
    * to-death vocabulary (corpus-health companion to
    * [[graft.text.TextAnalysis]]'s per-doc signals). Counts and ranks
    * are exact integers from [[vocabulary]]; the regression runs over
    * the ≤ V-row frame via the engine's regr_slope/regr_r2 (identical
    * covariance algebra in any engine; accumulation-order noise over
    * ≤ V rows sits far below the 6dp rounding). Output one row
    * (n_types, n_tokens, zipf_slope, zipf_r2) — n_tokens is the
    * top-V token mass, matching what the fit actually saw. */
  def zipfFit(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      topV: Int = 100): DataFrame =
    vocabulary(docs, idCol, textCol, topV)
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("cnt")).as("n_tokens"),
        round(regr_slope(log(col("cnt")), log(col("rank"))), 6)
          .as("zipf_slope"),
        round(regr_r2(log(col("cnt")), log(col("rank"))), 6).as("zipf_r2"))

  /** Heaps'-law fit — vocabulary growth V(N) ≈ k·N^β measured in ONE
    * pass via nested hash sampling: a document's md5 hash unit u is
    * compared against every fraction f at once, so a word's presence
    * in the f-sample is `min(u over its docs) < f` and the f-sample's
    * token mass is the sum over docs with u < f — ten nested corpora
    * from two aggregations, no ten-fold rescan. β for natural text
    * sits ≈ 0.4–0.6; templated or synthetic corpora deviate hard, so
    * the slope is a corpus-health signal next to [[zipfFit]]. The
    * (V, N) points are exact integers; the log-log slope comes from
    * regr_slope over the ≤ |fractions|-row frame (6dp). Output one
    * row (n_points, heaps_beta, heaps_r2, plus v_100/n_100 — the
    * full-corpus types/tokens). */
  def heapsFit(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      fractions: Seq[Double] = (1 to 10).map(_ / 10.0),
      seed: String = "heaps"): DataFrame = {
    if (fractions.isEmpty || fractions.exists(f => f <= 0 || f > 1))
      throw new ParameterError(s"fractions must be in (0, 1]: $fractions")
    val u = Sampling.hashUnit(col(idCol), seed)
    val toks = words(docs, idCol, textCol).withColumn("__u", u)
      .checkpointed(eager = false) // feeds the type AND token aggs
    // per word: the smallest doc-hash that carries it into a sample
    val perWord = toks.groupBy(col("__s"))
      .agg(min(col("__u")).as("__umin"))
    val typeCounts = perWord.agg(
      fractions.zipWithIndex.map { case (f, i) =>
        sum(when(col("__umin") < f, 1L).otherwise(0L)).as(s"__v$i")
      }.head, fractions.zipWithIndex.tail.map { case (f, i) =>
        sum(when(col("__umin") < f, 1L).otherwise(0L)).as(s"__v$i")
      }: _*)
    val tokenCounts = toks.agg(
      fractions.zipWithIndex.map { case (f, i) =>
        sum(when(col("__u") < f, 1L).otherwise(0L)).as(s"__n$i")
      }.head, fractions.zipWithIndex.tail.map { case (f, i) =>
        sum(when(col("__u") < f, 1L).otherwise(0L)).as(s"__n$i")
      }: _*)
    val points = fractions.indices.map(i =>
      s"named_struct('v', __v$i, 'n', __n$i)").mkString(", ")
    typeCounts.crossJoin(broadcast(tokenCounts))
      .select(explode(expr(s"array($points)")).as("__p"))
      .select(col("__p.v").as("__v"), col("__p.n").as("__n"))
      .where(col("__v") > 0 && col("__n") > 0)
      .agg(
        count(lit(1)).as("n_points"),
        round(regr_slope(log(col("__v")), log(col("__n"))), 6)
          .as("heaps_beta"),
        round(regr_r2(log(col("__v")), log(col("__n"))), 6).as("heaps_r2"),
        max(col("__v")).as("v_full"),
        max(col("__n")).as("n_full"))
  }

  /** Mutual information I(token-presence; class) per vocabulary word —
    * the classic filter-style feature screen for text classifiers
    * (Manning & Schütze §13.5.1): rank words by how much knowing
    * "document contains w" tells you about the document's class.
    *
    * Counts are document-level presence (distinct doc-word pairs), the
    * (word × class) grid is COMPLETED by a bounded crossJoin before the
    * left join — the absent cell (t=1 count 0) still contributes its
    * t=0 term, the ct1 complete-grid discipline. Both binary branches
    * of each cell are fixed IEEE expressions over exact integer counts
    * (products stay in BIGINT until one final double division),
    * micro-nat-quantized at 1e12 per cell and summed per word; 0·ln 0
    * cells drop via `when` guards. One doc-token explode + three
    * bounded aggregations; the grid is topV · |classes| rows.
    */
  def featureMi(
      docs: DataFrame,
      classCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      topV: Int = 50): DataFrame = {
    val vocab = vocabulary(docs, idCol, textCol, topV)
      .select(col("word"))
    val pres = words(docs, idCol, textCol)
      .join(broadcast(vocab), col("__s") === col("word"))
      .select(col(idCol), col("word")).distinct()
      .join(docs.select(col(idCol), col(classCol).as("__c")), Seq(idCol))
    val nTc = pres.groupBy(col("word"), col("__c"))
      .agg(count(lit(1)).as("__ntc"))
    val nC = docs.groupBy(col(classCol).as("__c"))
      .agg(count(lit(1)).as("__nc"))
    val nT = nTc.groupBy(col("word")).agg(sum(col("__ntc")).as("__nt"))
    val n = docs.agg(count(lit(1)).as("__N"))
    // grid completion: broadcast the VOCAB side — its subtree ends in
    // the top-V limit, so the nested-loop's build side is provably
    // bounded (the CatalogPlanSpec contract)
    val grid = nC.crossJoin(broadcast(vocab)) // bounded: topV × |classes|
      .join(broadcast(nTc), Seq("word", "__c"), "left")
      .na.fill(0L, Seq("__ntc"))
      .join(broadcast(nT), Seq("word"))
      .crossJoin(broadcast(n)) // one scalar row — bounded by design
    val a = col("__ntc"); val b = col("__nc") - col("__ntc")
    val t1 = when(a > 0,
      a.cast("double") / col("__N") *
        log((a * col("__N")).cast("double") /
          (col("__nt") * col("__nc")).cast("double"))).otherwise(0.0)
    val t0 = when(b > 0 && col("__N") > col("__nt"),
      b.cast("double") / col("__N") *
        log((b * col("__N")).cast("double") /
          ((col("__N") - col("__nt")) * col("__nc")).cast("double")))
      .otherwise(0.0)
    grid
      .select(col("word"), Pico.long(t1 + t0).as("__q"))
      .groupBy(col("word"))
      .agg(round(Pico.back(sum(col("__q"))), 6).as("mi"))
  }
}
