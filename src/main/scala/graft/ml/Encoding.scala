package graft.ml

import graft.Checkpoint._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ParameterError

/** Leakage-safe categorical feature encoding — the K-fold smoothed
  * target (mean) encoding every tabular-ML pipeline applies to
  * high-cardinality categoricals (Micci-Barreca 2001): a row's
  * encoding uses target statistics from the OTHER folds only, so the
  * feature never sees its own label, and a Bayesian smoothing prior
  * shrinks thin categories toward the fold's global mean.
  *
  * Scale shape: one groupBy on (category, fold) — a frame bounded by
  * |categories|·K, NOT by rows — then broadcast joins of the per-
  * category and per-fold marginals (both dimension-bounded). The
  * encoded table joins back to data on the category key at apply time;
  * nothing here explodes or collects.
  *
  * Exactness: targets are exact integer cents and folds are the
  * deterministic md5 hash of the row id ([[graft.text.Sampling
  * .hashUnit]]), so every sum is BIGINT; the prior and the smoothed
  * encoding are fixed-shape IEEE expressions of those integers, 6dp.
  */
object Encoding {

  /** CL6: out-of-fold smoothed target encoding.
    * encoding(c, f) = (S_c − S_cf + m·prior_f) / (n_c − n_cf + m),
    * prior_f = (S − S_f)/(n − n_f) — all sums over the other folds.
    * Output one row per observed (category, fold): (category, fold,
    * n_rows, prior, encoding), target in `valueCol` units, 6dp. Null
    * prior/encoding when the other folds are empty (single-fold data —
    * only possible when K=1, which is rejected). */
  def targetEncode(
      df: DataFrame,
      categoryCol: String,
      valueCol: String,
      idCol: String,
      folds: Int = 5,
      smoothing: Double = 20.0,
      seed: String = "te"): DataFrame = {
    if (folds < 2)
      throw new ParameterError(s"folds must be >= 2: $folds")
    if (smoothing <= 0)
      throw new ParameterError(s"smoothing must be positive: $smoothing")
    val cents = round(col(valueCol) * 100).cast("long")
    val cells = df
      .select(col(categoryCol).as("category"),
        floor(graft.text.Sampling.hashUnit(col(idCol), seed) * folds)
          .cast("long").as("fold"),
        cents.as("__v"))
      .groupBy(col("category"), col("fold"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__v")).as("__s"))
      .checkpointed(eager = false) // feeds three marginals + output
    val perCat = cells.groupBy(col("category"))
      .agg(sum(col("n_rows")).as("__nc"), sum(col("__s")).as("__sc"))
    val perFold = cells.groupBy(col("fold"))
      .agg(sum(col("n_rows")).as("__nf"), sum(col("__s")).as("__sf"))
    val glob = cells.agg(sum(col("n_rows")).as("__ng"),
      sum(col("__s")).as("__sg"))
    val prior = (col("__sg") - col("__sf")).cast("double") /
      (col("__ng") - col("__nf")).cast("double") / 100.0
    val enc = ((col("__sc") - col("__s")).cast("double") / 100.0 +
      lit(smoothing) * prior) /
      ((col("__nc") - col("n_rows")).cast("double") + lit(smoothing))
    cells
      .join(broadcast(perCat), Seq("category"))
      .join(broadcast(perFold), Seq("fold"))
      .crossJoin(broadcast(glob)) // 1-row grouping-free agg
      .select(
        col("category"), col("fold"), col("n_rows"),
        round(when(col("__ng") > col("__nf"), prior), 6).as("prior"),
        round(when(col("__ng") > col("__nf"), enc), 6).as("encoding"))
  }
}
