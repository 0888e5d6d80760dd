package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ParameterError
import graft.Exact.Micro

/** Ranking-quality metrics — the evaluation harness for the retrieval
  * stack ([[Similarity]] ANN variants, BM25): recall@k, MRR, nDCG@k of
  * any ranked candidate frame against a binary relevance set. An ANN
  * index you can't score is a liability at 100 TB — recall@k against
  * brute-force ground truth is exactly how IVF/PQ nprobe trade-offs
  * get tuned.
  *
  * Scale shape: one equi-join of the ranked frame against the
  * relevance pairs on (query, doc) — linear, shuffled on the pair key
  * — then per-query hash aggregations; the ideal-DCG term runs a
  * bounded HOF over ≤ k elements on the QUERY-count frame, never the
  * corpus. Determinism: DCG terms are micro-quantized longs (exact
  * unordered sums — the micro-nat stance), so dcg/idcg divides two
  * exact integers identically in any engine.
  */
object RankEval {

  /** Per-query metrics: `(queryIdCol, n_rel, n_hits, recall_at_k, mrr,
    * ndcg_at_k)`. `ranked` carries (queryIdCol, docIdCol, rankCol),
    * rank 1-based; rows with rank > k are ignored. `relevant` carries
    * DISTINCT (queryIdCol, docIdCol) pairs. Queries with an empty
    * relevance set emit null recall/ndcg (nothing to retrieve is not a
    * score of 0); queries with relevant docs but no hits score 0.0. */
  def rankingMetrics(
      ranked: DataFrame,
      relevant: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      docIdCol: String = "neighbor_id",
      rankCol: String = "rank"): DataFrame = {
    if (k <= 0) throw new ParameterError(s"k must be positive: $k")
    val q = col(queryIdCol)
    // micro-quantized gain of a 1-based rank/position column
    def gainMicro(pos: org.apache.spark.sql.Column) =
      Micro.inv(log2(pos.cast("double") + 1)).cast("long")

    val relCounts = relevant.groupBy(q).agg(count(lit(1)).as("n_rel"))
    val hits = ranked.where(col(rankCol) <= k)
      .join(relevant, Seq(queryIdCol, docIdCol))
      .groupBy(q)
      .agg(
        count(lit(1)).as("n_hits"),
        min(col(rankCol)).as("__minr"),
        sum(gainMicro(col(rankCol))).as("__dcgm"))
    ranked.select(q).distinct()
      .join(relCounts, Seq(queryIdCol), "left")
      .join(hits, Seq(queryIdCol), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("__idcgm",
        when(col("n_rel") > 0,
          aggregate(
            sequence(lit(1), least(col("n_rel"), lit(k.toLong)).cast("int")),
            lit(0L),
            (acc, i) => acc + gainMicro(i))))
      .select(
        q,
        col("n_rel"),
        col("n_hits"),
        when(col("n_rel") > 0,
          round(col("n_hits").cast("double") / col("n_rel"), 6))
          .as("recall_at_k"),
        coalesce(round(lit(1.0) / col("__minr"), 6), lit(0.0)).as("mrr"),
        when(col("n_rel") > 0,
          round(coalesce(col("__dcgm"), lit(0L)).cast("double") /
            col("__idcgm"), 6))
          .as("ndcg_at_k"))
  }
}
