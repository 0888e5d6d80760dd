package graft.perf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.panel.Panel.Keys
import graft.Exact.Micro

/** Fama-MacBeth two-pass factor analysis (Fama & MacBeth 1973): pass 1
  * runs an independent cross-sectional OLS of forward returns on factor
  * exposures at every date; pass 2 treats the per-date coefficient
  * series as draws and reports mean risk premia with t-stats.
  *
  * Scale shape: pass 1 is ONE hash aggregation — the normal-equation
  * moment sums (n, Σx, Σxx, Σxy, …) per date slot — followed by a
  * per-row closed-form Cramer solve on the aggregated (bounded, one row
  * per date) frame. No per-date matrices are collected, no window over
  * the panel, no joins: the cost is a panel scan + one shuffle,
  * identical at 10⁴ or 10⁹ rows per date. Pass 2 is one bounded
  * aggregation over ≤|dates| rows.
  *
  * Determinism: inputs are micro-quantized (×1e6 rounded) so every
  * moment accumulates EXACTLY in decimal(38,0) regardless of partition
  * order; the Cramer determinants then evaluate a fixed double
  * expression tree over those exact sums (bit-identical across engines;
  * the oracle mirrors the same parenthesization), and only the final
  * coefficients are rounded (6dp). A long accumulator would wrap: micro
  * squares reach 10²² per row.
  */
object FactorModel {

  private def d(c: Column): Column = c.cast("double")

  /** PX9: per-row residuals from the [[crossSectionalRegression]] fit —
    * the two-factor neutralization (beta + size, sector + momentum …)
    * that single-factor [[graft.panel.Panel.residualReturns]] can't
    * express: resid = y − α̂ − β̂₁f₁ − β̂₂f₂ against the row's own date
    * fit. The coefficient frame is slot-sized (dates), broadcast back
    * onto the panel; coefficients are the regression's ROUNDED 6dp
    * outputs, so the residual is one deterministic per-row expression.
    * Rows excluded from the fit (any null input) or on unfittable
    * dates (n < 3, singular design) get a null residual. Appends
    * `out`. */
  def withCrossSectionalResiduals(
      df: DataFrame,
      y: Column,
      f1: Column,
      f2: Column,
      out: String = "resid2")(implicit k: Keys): DataFrame = {
    val coefs = crossSectionalRegression(df, y, f1, f2)
      .select(k.slotCols.map(col) :+ col("alpha") :+ col("beta1") :+
        col("beta2"): _*)
    df
      .join(broadcast(coefs), k.slotCols, "left")
      .withColumn(out,
        round(when(
          y.isNotNull && f1.isNotNull && f2.isNotNull &&
            col("alpha").isNotNull,
          y - col("alpha") - col("beta1") * f1 - col("beta2") * f2), 6)
          + lit(0.0))
      .drop("alpha", "beta1", "beta2")
  }

  /** Pass 1: per-date-slot OLS `y = a + b1·f1 + b2·f2` via exact moment
    * sums + Cramer's rule on the 3×3 normal equations. Rows with any
    * null among (y, f1, f2) are excluded (pairwise-complete, the
    * [[Signals.infoCoefficient]] stance). Coefficients are null when
    * n < 3 or the design is singular (|det| below 1e-12 of the micro
    * scale — collinear or constant factors). Output (slot…, n, alpha,
    * beta1, beta2) rounded to 6dp, −0.0-normalized. */
  def crossSectionalRegression(
      df: DataFrame,
      y: Column,
      f1: Column,
      f2: Column)(implicit k: Keys): DataFrame = {
    val rows = df.where(y.isNotNull && f1.isNotNull && f2.isNotNull)
      .select(
        (k.slotCols.map(col) :+ Micro.dec(y).as("__y") :+ Micro.dec(f1).as("__x1") :+
          Micro.dec(f2).as("__x2")): _*)
    val agg = rows
      .groupBy(k.slotCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("__x1")).as("__s1"),
        sum(col("__x2")).as("__s2"),
        sum(col("__x1") * col("__x1")).as("__s11"),
        sum(col("__x2") * col("__x2")).as("__s22"),
        sum(col("__x1") * col("__x2")).as("__s12"),
        sum(col("__y")).as("__sy"),
        sum(col("__x1") * col("__y")).as("__s1y"),
        sum(col("__x2") * col("__y")).as("__s2y"))
    // Scale algebra: with D = diag(1, 1e-6, 1e-6), the true moment
    // matrix is A = D·Ã·D and the moment vector is b = 1e-6·D·b̃, where
    // Ã/b̃ are the INTEGER micro sums below — so β = A⁻¹b =
    // 1e-6·D⁻¹·Ã⁻¹·b̃: the Cramer ratios over the integer sums give the
    // betas directly and alpha with one residual 1e-6.
    val n = d(col("n"))
    val s1 = d(col("__s1")); val s2 = d(col("__s2"))
    val s11 = d(col("__s11")); val s22 = d(col("__s22"))
    val s12 = d(col("__s12"))
    val sy = d(col("__sy")); val s1y = d(col("__s1y")); val s2y = d(col("__s2y"))
    // 3×3 symmetric Cramer — EXACT same parenthesization as the oracle
    def det3(
        a: Column, b: Column, c: Column,
        e: Column, f: Column, g: Column,
        h: Column, i: Column, j: Column): Column =
      a * (f * j - g * i) - b * (e * j - g * h) + c * (e * i - f * h)
    val t1 = n * (s11 * s22 - s12 * s12)
    val t2 = s1 * (s1 * s22 - s12 * s2)
    val t3 = s2 * (s1 * s12 - s11 * s2)
    val det = t1 - t2 + t3
    val detA = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
    val detB1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
    val detB2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
    // singularity guard is RELATIVE to the expansion magnitude: an
    // exactly-collinear design has integer det 0, but the double
    // products round above 2^53 — what survives is cancellation noise
    // ≪ 1e-9 of the term mass. (Any fixed threshold is cross-engine
    // deterministic — the whole expression tree is identical — this one
    // also rejects garbage coefficients near singularity.)
    val mag = abs(t1) + abs(t2) + abs(t3)
    val ok = col("n") >= 3 && mag > 0.0 && abs(det) > mag * 1e-9
    agg.select(
      (k.slotCols.map(col) :+ col("n") :+
        (round(when(ok, detA / det / Micro.factor), 6) + 0.0).as("alpha") :+
        (round(when(ok, detB1 / det), 6) + 0.0).as("beta1") :+
        (round(when(ok, detB2 / det), 6) + 0.0).as("beta2")): _*)
  }

  /** Pass 2: risk premia — the time-series mean, annualization-free
    * t-stat (mean/std·√n) and positive-share of each per-date
    * coefficient series from [[crossSectionalRegression]]. Dates where
    * the solve was null (singular/thin) are excluded per coefficient.
    * Coefficients arrive 6dp-rounded, so ×1e6 re-quantization is exact
    * and the summary sums accumulate order-free in decimal; the final
    * mean/std division is the only double site (6dp). */
  def riskPremia(coeffs: DataFrame, cols: Seq[String] = Seq("alpha", "beta1", "beta2")): DataFrame = {
    val aggs = cols.flatMap { c =>
      val m = Micro.dec(col(c))
      Seq(
        count(col(c)).as(s"__n_$c"),
        sum(m).as(s"__s_$c"),
        sum(m * m).as(s"__ss_$c"))
    }
    val out = cols.flatMap { c =>
      val n = d(col(s"__n_$c"))
      val s = d(col(s"__s_$c")); val ss = d(col(s"__ss_$c"))
      val mean = s / n / Micro.factor
      // sample std over the micro series: √((Σx²·n − (Σx)²)/(n(n−1)))
      val varN = (ss * n - s * s) / (n * (n - 1))
      val std = sqrt(varN) / Micro.factor
      Seq(
        col(s"__n_$c").as(s"n_$c"),
        (round(when(col(s"__n_$c") > 0, mean), 6) + 0.0).as(s"mean_$c"),
        (round(when(col(s"__n_$c") >= 2 && std =!= 0.0,
          mean / std * sqrt(n)), 6) + 0.0).as(s"t_$c"))
    }
    coeffs.agg(aggs.head, aggs.tail: _*).select(out: _*)
  }
}
