package graft.text

import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ParameterError

/** BM25 keyword retrieval over a document corpus (Robertson-Spärck
  * Jones probabilistic model — the lexical baseline every RAG /
  * data-curation pipeline keeps next to its embedding index).
  *
  * Scale design: for a FIXED query term set there is no inverted index
  * to build — per-term term frequencies are per-row column algebra on
  * the scan (`size(filter(words, _ = term))`), corpus statistics (N,
  * Σdl, per-term document frequencies) are ONE tiny aggregate row
  * broadcast back, and scoring is codegen'd arithmetic. Net cost: one
  * scan + one scalar agg + a top-k — no explode, no posting-list
  * shuffle. Determinism: the per-document score sums query terms in
  * FIXED column order (not a `groupBy().sum()` whose addition order is
  * partition-dependent), so results reproduce bit-for-bit across
  * engines and cluster sizes.
  */
object Retrieval {

  /** The fixed-query scan both scorers share: the narrow lazily-
    * checkpointed `(id, dl, tf_0…tf_k)` frame. The tokenization is
    * evaluated ONCE per row into an intermediate `__w` column in its
    * own projection: `dl` and every per-term `tf` reference that array,
    * and higher-order functions (the `filter` lambdas) sit outside
    * whole-stage codegen, so inlining [[TextAnalysis.normWords]] into
    * each consumer re-ran the regex+split k+1 times per document —
    * measured 13.2 s → 3.7 s on the 50k-doc tier corpus. CollapseProject
    * keeps the two projections separate because the shared expression is
    * non-cheap and multiply-referenced. Null-text docs are dropped up
    * front (`size(null)` = -1 would corrupt dl/tf and the corpus stats).
    *
    * POPULATION CONTRACT: the retrieval corpus is the docs with
    * non-null text — every corpus statistic (BM25's N and Σdl, QL's
    * |C| and cf_t, tf-idf's df) is computed over that population, and
    * the ir1/ir5 oracle SQL filters `text IS NOT NULL` to match. A
    * null-text doc can't match any query term, so it contributes
    * nothing a ranker could return either way; counting it into N
    * alone (and not dl) would skew idf/length-norm inconsistently. */
  private def perDocTermFrequencies(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String]): DataFrame = {
    val tokenized = docs.where(col(textCol).isNotNull).select(
      col(idCol),
      when(length(trim(col(textCol))) === 0, array().cast("array<string>"))
        .otherwise(TextAnalysis.normWords(col(textCol))).as("__w"))
    def tf(term: String): Column =
      size(filter(col("__w"), w => w === lit(term))).cast("long")
    tokenized.select(
      col(idCol) +: size(col("__w")).cast("long").as("__dl") +:
        queryTerms.zipWithIndex.map { case (t, i) => tf(t).as(s"__tf$i") }: _*)
      .checkpointed(eager = false)
  }

  /** Top-k documents by BM25 score for `queryTerms` (matched against
    * [[TextAnalysis.normWords]] tokens). Returns (id, score) with
    * score rounded to 6 so last-ulp `ln` differences between math
    * libraries can't change the output; ties break by id. */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      topK: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    if (queryTerms.isEmpty) throw new ParameterError("queryTerms must be non-empty")
    if (queryTerms.distinct.size != queryTerms.size)
      throw new ParameterError(s"duplicate query terms: ${queryTerms.mkString(", ")}")

    // materialize the narrow (id, dl, tf…) frame once: it feeds both
    // the stats aggregate and the scoring pass, and without a common
    // exchange nothing dedups the two corpus scans + tokenizations
    // (the crossNearDuplicates lesson) — this IS the "one scan" the
    // design comment promises. LAZY checkpoint: the frame is
    // corpus-row-count-sized, so materialization waits for the caller's
    // first action instead of running jobs at construction time; the
    // stats subquery computes it, the scoring pass reuses it.
    // null text would flow `size(null)` = -1 into dl/tf and corrupt the
    // corpus stats; a null-text doc can't match anything, so drop it
    // up front (the simhashNearPairs stance)
    val perDoc = perDocTermFrequencies(docs, idCol, textCol, queryTerms)

    // one scalar row: N, Σdl, df_i — integer aggregates only, so the
    // unordered combine is exact (see Verify gotchas on float sums)
    val aggs = count(lit(1)).as("__N") +: sum(col("__dl")).as("__sumdl") +:
      queryTerms.indices
        .map(i => sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = perDoc.agg(aggs.head, aggs.tail: _*)

    val scored = perDoc.crossJoin(broadcast(stats))
    // dl/avgdl as dl*N/Σdl: every operand integer-exact, one division
    val lenNorm = col("__dl").cast("double") * col("__N") / col("__sumdl")
    val termScores = queryTerms.indices.map { i =>
      val tfc = col(s"__tf$i").cast("double")
      val idf = log(lit(1.0) + (col("__N") - col(s"__df$i") + 0.5) / (col(s"__df$i") + 0.5))
      idf * tfc * (k1 + 1) / (tfc + lit(k1) * (lit(1 - b) + lit(b) * lenNorm))
    }
    scored
      .select(col(idCol), round(termScores.reduce(_ + _), 6).as("score"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** IR5: Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty
    * 2001) — the language-modeling counterpart to [[bm25TopK]]:
    * score(q, d) = Σ_t ln((tf_t,d + μ·cf_t/|C|) / (dl_d + μ)), where
    * cf_t is the term's corpus frequency and |C| the corpus token
    * count. Same one-scan shape as BM25: a narrow (id, dl, tf…)
    * frame checkpoints once and feeds both the scalar stats row
    * (integer-exact unordered sums) and the scoring pass; per-doc
    * arithmetic is fixed-order IEEE, so the oracle replays it.
    * A query term absent from the whole corpus (cf = 0) is DROPPED
    * from the sum — it would send every document to −∞ equally —
    * matching the standard LM-retrieval convention; empty documents
    * score from the background model alone (tf = 0, dl = 0). */
  def queryLikelihoodTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      topK: Int = 20,
      mu: Double = 2000.0): DataFrame = {
    if (queryTerms.isEmpty) throw new ParameterError("queryTerms must be non-empty")
    if (queryTerms.distinct.size != queryTerms.size)
      throw new ParameterError(s"duplicate query terms: ${queryTerms.mkString(", ")}")
    if (mu <= 0) throw new ParameterError(s"mu must be positive: $mu")

    // null text would flow `size(null)` = -1 into dl/tf: a garbage
    // non-null score where the oracle's NULL would diverge — the
    // shared builder drops null-text docs up front
    val perDoc = perDocTermFrequencies(docs, idCol, textCol, queryTerms)

    val aggs = sum(col("__dl")).as("__C") +:
      queryTerms.indices.map(i => sum(col(s"__tf$i")).as(s"__cf$i"))
    val stats = perDoc.agg(aggs.head, aggs.tail: _*)

    val termScores = queryTerms.indices.map { i =>
      val p = lit(mu) * col(s"__cf$i") / col("__C")
      when(col(s"__cf$i") > 0,
        log((col(s"__tf$i") + p) / (col("__dl") + lit(mu))))
        .otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(stats)) // one scalar row — bounded by design
      .select(col(idCol), round(termScores.reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): fused(d) =
    * Σ_lists 1/(k + rank_list(d)) — the standard score-free way to
    * combine a lexical and a semantic ranking (hybrid search). Inputs
    * are frames that are ALREADY bounded top-k lists carrying `docCol`
    * + `rankCol` (1-based); the fusion aggregation and final ranking
    * run over Σ|lists| rows — bounded by construction, so the global
    * ordering window is not a data-volume sort (pass `partitionCols`
    * for per-query fusion to keep it per-slot anyway).
    *
    * Each term is pico-quantized (round(1e12/(k+rank)) — rank is a
    * small int, so the value is identical in any engine) and summed as
    * exact integers: fusion order can't wobble the score. Output
    * (partitionCols…, docCol, n_lists, rrf_score, rank) with
    * deterministic (score DESC, doc) ordering. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      docCol: String,
      rankCol: String = "rank",
      kRrf: Int = 60,
      topK: Int = 20,
      partitionCols: Seq[String] = Nil): DataFrame = {
    if (rankings.isEmpty) throw new ParameterError("rrfFuse needs >= 1 ranking")
    if (kRrf < 0) throw new ParameterError(s"kRrf must be >= 0: $kRrf")
    val keyCols = partitionCols :+ docCol
    val terms = rankings.map(_.select(
      (keyCols.map(col) :+
        round(lit(1e12) / (lit(kRrf) + col(rankCol))).cast("long").as("__t")): _*))
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col("__s").desc, col(docCol))
    terms.reduce(_ unionByName _)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__t")).as("__s"), count(lit(1)).as("n_lists"))
      .withColumn("rrf_score", col("__s").cast("double") / 1e12)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .drop("__s")
  }

  /** Corpus-wide tf-idf document vectors in sparse (doc, term) form —
    * the inverted-index companion to [[bm25TopK]]'s fixed-query scoring:
    * one row per (document, distinct term) with the raw term frequency,
    * the term's document frequency, and weight tf × ln(N/df) (the
    * classic Salton form; ln(N/df) ≥ 0, = 0 for a term in every doc).
    * Terms live in the [[TextAnalysis.normWords]] space. `minDf` prunes
    * the hapax tail (df < minDf terms are noise for retrieval and
    * dominate the vocabulary row count at corpus scale).
    *
    * Scale shape: tokens explode once (volume-linear) into a
    * groupBy(id, term) tf aggregation (map-side partial combine);
    * the (id, term) frame is LAZILY checkpointed because BOTH the df
    * aggregation and the output join consume it (differently-aliased
    * subtrees re-execute the tokenize otherwise — the bm25 lesson);
    * df is one further groupBy(term) whose output is vocabulary-sized
    * (AQE broadcasts the join back when the vocab is small; a 100 TB
    * corpus vocabulary stays a shuffled equi-join on the term — linear,
    * no pair blowup). N is ONE bounded scalar row broadcast in, the
    * bm25 stats-row pattern. No global sort; weight is per-row
    * arithmetic, rounded to 6 so `ln` last-ulp noise can't leak into
    * hashes. */
  def tfidf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Int = 1): DataFrame = {
    if (minDf < 1) throw new ParameterError(s"minDf must be >= 1: $minDf")
    val tf = docs
      .select(col(idCol), explode(TextAnalysis.normWords(col(textCol))).as("term"))
      .where(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .checkpointed(eager = false)
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
    // N over the same population as every other retrieval stat: docs
    // with non-null text (the perDocTermFrequencies contract)
    val n = docs.where(col(textCol).isNotNull).agg(count(lit(1)).as("__N"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("__N").cast("double") / col("df")), 6)
          .as("tfidf"))
  }

  /** Exact-phrase matches: for each phrase, every document whose
    * normalized word stream contains that word sequence, with the
    * OVERLAPPING occurrence count — `(phraseIdCol, idCol, n_hits)`.
    *
    * Scale design: no positional inverted index. The classic plan
    * (posting-list self-joins per query word) concentrates on stopword
    * hot keys; here the corpus streams ONCE PER DISTINCT PHRASE LENGTH
    * as sliding L-grams and equi-joins the broadcast phrase list on the
    * FULL phrase — the join key's selectivity IS the match mass, so
    * output and shuffle are proportional to true hits at any corpus
    * size. The distinct-length set is a bounded driver scalar over the
    * (small, user-supplied) phrase frame — the requireFresh cost class.
    *
    * Phrases are normalized with the same kernel as documents
    * (lower → non-alphanumeric scrub → whitespace split); a phrase
    * that normalizes to no words raises [[ParameterError]] — it would
    * otherwise silently match nothing. */
  def phraseMatches(
      docs: DataFrame,
      phrases: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      phraseIdCol: String = "phrase_id",
      phraseCol: String = "phrase"): DataFrame = {
    val norm = phrases.select(
      col(phraseIdCol),
      array_join(filter(TextAnalysis.normWords(col(phraseCol)),
        w => w =!= ""), " ").as("__p"))
      .withColumn("__len", when(col("__p") === "", 0)
        .otherwise(size(split(col("__p"), " "))))
    // bounded driver probe over the query frame, not the corpus
    val lengths = norm.select(col("__len")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (lengths.isEmpty) throw new ParameterError("phrases frame is empty")
    if (lengths.head == 0)
      throw new ParameterError(
        "a phrase normalized to no words — it can never match")
    val hits = lengths.map { len =>
      graft.dedup.Dedup.shingleRows(docs, idCol, textCol, n = len)
        .join(broadcast(norm.where(col("__len") === len)),
          col("__s") === col("__p"))
        .groupBy(col(phraseIdCol), col(idCol))
        .agg(count(lit(1)).as("n_hits"))
    }
    hits.reduce(_ unionByName _)
  }
}
