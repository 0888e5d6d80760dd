package graft.panel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ParameterError
import graft.Exact.Micro

/** Exact per-group quantiles at scale — the "p50/p90/p99 per segment"
  * report a 100 TB pipeline wants EXACT (SLO attestation, billing
  * tiers), where approx_percentile's error bound is the thing being
  * audited. The q-quantile is the lower order statistic v₍k₎ with
  * k = ⌈q·n⌉ (type-1), recovered from the value histogram's inclusive
  * prefix counts: v₍k₎ = min{v : F(v) ≥ k}.
  *
  * Shape: ONE (group, value) histogram aggregation, one grouped
  * [[PrefixSum.inclusiveAuto]] two-level scan (never a per-group
  * whole-histogram window), a bounded (group × |qs|) target frame
  * joined back, and one min-aggregation. Ranks are exact integers:
  * k = (round(q·10⁶)·n + 10⁶−1) div 10⁶ — the micro-quantized ceiling,
  * so an IEEE product like 0.9·150 can't straddle the integer boundary
  * differently across engines. */
object Quantiles {

  /** `(groupCols…, q, n, value)` — one row per group × quantile;
    * `vCol` must be integral (cents discipline). */
  def exactQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      vCol: Column,
      qs: Seq[Double]): DataFrame = {
    if (qs.isEmpty) throw new ParameterError("qs must be non-empty")
    if (qs.distinct.size != qs.size)
      throw new ParameterError(s"duplicate quantiles: ${qs.mkString(", ")}")
    qs.foreach { q =>
      if (q <= 0 || q > 1) throw new ParameterError(s"q must be in (0, 1]: $q")
    }
    val g = groupCols.map(col)
    val hist = df.select(g :+ vCol.cast("long").as("__v"): _*)
      .groupBy(g :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.inclusiveAuto(
      hist, "__v", Seq("__cum" -> "__c"), partCols = groupCols)
    val totals = hist.groupBy(g: _*).agg(sum(col("__c")).as("n"))
    // one row per group × q, k in exact micro-integer arithmetic
    val targets = totals.select(
      g :+ col("n") :+ explode(array(qs.map(q =>
        struct(lit(q).as("q"), lit(Micro.of(q)).as("__qm"))): _*))
        .as("__t"): _*)
      .select(g :+ col("n") :+ col("__t.q").as("q") :+
        expr("(__t.__qm * n + 999999) div 1000000").as("__k"): _*)
    cum
      .join(targets, groupCols)
      .where(col("__cum") >= col("__k"))
      .groupBy(g :+ col("q") :+ col("n"): _*)
      .agg(min(col("__v")).as("value"))
      .select(g ++ Seq(col("q"), col("n"), col("value")): _*)
  }
}
