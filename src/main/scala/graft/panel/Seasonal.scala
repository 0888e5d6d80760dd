package graft.panel

import graft.Checkpoint._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series seasonal structure over the (sid, date, close) panel:
  * additive trend/seasonal/residual decomposition (the classical-
  * decomposition core of STL, period = ISO weekday) and naive-forecast
  * error baselines (MASE / sMAPE — Hyndman & Koehler 2006), the
  * yardsticks every forecasting pipeline reports before any model.
  *
  * Scale shape: one sid-partitioned window pass for the rolling sums,
  * one (sid, weekday) aggregate (≤ 7·|sids| rows), one per-sid
  * aggregate, and two sid-keyed equi-joins — everything shuffles on
  * the sid key once and stays there (AQE-friendly, no unpartitioned
  * windows, no row explosion).
  *
  * Exactness: prices become exact cents; every SUM is over BIGINTs
  * (7·c − Σ₇c detrending keeps the rational trend exact; the weekday
  * means stay integer-numerator rationals; the weekday-mean adjustment
  * multiplies through by the weekday count instead of dividing), and
  * the only doubles are fixed-shape per-row IEEE expressions of those
  * integers, 6dp. */
object Seasonal {

  /** TS2: classical additive decomposition, period = ISO weekday.
    * trend = centered 7-row rolling mean (full windows only);
    * seasonal = per-(sid, weekday) mean of (close − trend), re-centered
    * to mean 0 across the sid's observed weekdays; residual = the rest.
    *
    * Quantization: the weekday mean s_d = num_d/(7·cnt_d) cents is
    * micro-quantized at 1e12 (one rounding per weekday cell); the
    * re-centering is EXACT in that quantized space — s_d·K − Σs (K =
    * observed weekdays ≤ 7) — so both engines see identical integers
    * until the final 6dp rounding. Output price units.
    *
    * Output (sid, date, close, trend, seasonal, residual) on rows with
    * a full trend window. */
  def decompose(
      panel: DataFrame,
      sidCol: String = "sid",
      dateCol: String = "date",
      closeCol: String = "close"): DataFrame = {
    val c = round(col(closeCol) * 100).cast("long")
    val w7 = Window.partitionBy(col(sidCol)).orderBy(col(dateCol))
      .rowsBetween(-3, 3)
    val rows = panel
      .select(col(sidCol).as("sid"), col(dateCol).as("date"), c.as("__c"))
      .withColumn("__s7", sum(col("__c")).over(w7))
      .withColumn("__k7", count(lit(1)).over(w7))
      .where(col("__k7") === 7)
      .withColumn("__dow", ((dayofweek(col("date")) + 5) % 7 + 1).cast("long"))
      .checkpointed(eager = false) // feeds the weekday cells AND the output
    val cells = rows
      .groupBy(col("sid"), col("__dow"))
      .agg(sum(col("__c") * 7 - col("__s7")).as("__num"),
        count(lit(1)).as("__cnt"))
      .select(col("sid"), col("__dow"),
        round(col("__num").cast("double")
          / (col("__cnt") * 7).cast("double") * 1e12).cast("long").as("__sq"))
    val perSid = cells
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("__K"), sum(col("__sq")).as("__S"))
    val seas = (col("__sq") * col("__K") - col("__S")).cast("double") /
      col("__K").cast("double") / 1e12 / 100.0
    rows
      .join(cells, Seq("sid", "__dow"))
      .join(perSid, Seq("sid"))
      .select(
        col("sid"), col("date"),
        (col("__c").cast("double") / 100.0).as("close"),
        round(col("__s7").cast("double") / 7.0 / 100.0, 6).as("trend"),
        round(seas, 6).as("seasonal"),
        round(col("__c").cast("double") / 100.0
          - col("__s7").cast("double") / 7.0 / 100.0 - seas, 6)
          .as("residual"))
  }

  /** TS3: naive-forecast evaluation per sid — forecast f_t = c_{t−lag}
    * (seasonal-naive at `lag` = 7), scored with MAE (price units),
    * MASE (MAE vs the in-sample one-step naive MAE — the scale-free
    * "did you beat persistence" number), and sMAPE (each per-row term
    * 2|c−f|/(c+f) micro-quantized at 1e12 before the order-free BIGINT
    * sum; prices are positive so the denominator never degenerates).
    * Sids with no full lag window, or a flat series (zero one-step
    * MAE), emit null MASE rather than ±inf.
    *
    * Output (sid, n_eval, mae, mase, smape). */
  def forecastEval(
      panel: DataFrame,
      lag: Int = 7,
      sidCol: String = "sid",
      dateCol: String = "date",
      closeCol: String = "close"): DataFrame = {
    require(lag >= 1, s"lag must be >= 1: $lag")
    val c = round(col(closeCol) * 100).cast("long")
    val w = Window.partitionBy(col(sidCol)).orderBy(col(dateCol))
    val rows = panel
      .select(col(sidCol).as("sid"), col(dateCol).as("date"), c.as("__c"))
      .withColumn("__f", lag_(col("__c"), lag, w))
      .withColumn("__p", lag_(col("__c"), 1, w))
    rows
      .groupBy(col("sid"))
      .agg(
        count(col("__f")).as("n_eval"),
        sum(abs(col("__c") - col("__f"))).as("__e7"),
        count(col("__p")).as("__n1"),
        sum(abs(col("__c") - col("__p"))).as("__e1"),
        sum(when(col("__f").isNotNull,
          round(lit(2.0) * abs(col("__c") - col("__f")).cast("double")
            / (col("__c") + col("__f")).cast("double") * 1e12).cast("long"))
          .otherwise(0L)).as("__sm"))
      .where(col("n_eval") > 0)
      .select(
        col("sid"), col("n_eval"),
        round(col("__e7").cast("double") / col("n_eval").cast("double")
          / 100.0, 6).as("mae"),
        round(when(col("__n1") > 0 && col("__e1") > 0,
          (col("__e7").cast("double") / col("n_eval").cast("double"))
            / (col("__e1").cast("double") / col("__n1").cast("double"))), 6)
          .as("mase"),
        round(col("__sm").cast("double") / 1e12
          / col("n_eval").cast("double"), 6).as("smape"))
  }

  /** TS4: trend and seasonal STRENGTH (Hyndman & Athanasopoulos, FPP
    * §12.2): F_T = max(0, 1 − Var(R)/Var(T+R)) and
    * F_S = max(0, 1 − Var(R)/Var(S+R)) over the [[decompose]]
    * components — the 0..1 "is there actually a trend/seasonality
    * here" screen that picks which sids deserve a seasonal model.
    *
    * Exactness: the published 6dp components re-quantize to exact
    * micro integers (round(x·1e6)), the composite series T+R / S+R are
    * integer ADDITIONS of those (never a double sum), and the raw
    * moments accumulate as DECIMAL(38,0) (the w26 discipline — micro²
    * ≈ 1e22 overflows BIGINT; DuckDB mirrors with HUGEINT, and both
    * engines' big-integer→double casts are correctly rounded, so the
    * variance shapes see identical inputs). Var ≤ 0 (constant series)
    * → null strength rather than ±inf.
    *
    * Output (sid, n, f_trend, f_seasonal), 6dp. */
  def strength(
      panel: DataFrame,
      sidCol: String = "sid",
      dateCol: String = "date",
      closeCol: String = "close"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rq = round(col("residual") * 1e6).cast("long")
    val tq = round(col("trend") * 1e6).cast("long")
    val sq = round(col("seasonal") * 1e6).cast("long")
    def d(c: String) = col(c).cast("double")
    def variance(s1: String, s2: String) =
      d(s2) / d("n") - (d(s1) / d("n")) * (d(s1) / d("n"))
    def f(s1: String, s2: String) = {
      val v = variance(s1, s2)
      round(when(v > 0,
        greatest(lit(0.0), lit(1.0) - variance("__r1", "__r2") / v)), 6)
    }
    decompose(panel, sidCol, dateCol, closeCol)
      .select(col("sid"), rq.as("__rq"), (tq + rq).as("__tv"),
        (sq + rq).as("__sv"))
      .groupBy(col("sid"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__rq").cast(dec)).as("__r1"),
        sum(col("__rq").cast(dec) * col("__rq").cast(dec)).as("__r2"),
        sum(col("__tv").cast(dec)).as("__t1"),
        sum(col("__tv").cast(dec) * col("__tv").cast(dec)).as("__t2"),
        sum(col("__sv").cast(dec)).as("__s1"),
        sum(col("__sv").cast(dec) * col("__sv").cast(dec)).as("__s2"))
      .select(col("sid"), col("n"),
        f("__t1", "__t2").as("f_trend"),
        f("__s1", "__s2").as("f_seasonal"))
  }

  /** W32: mean-reversion half-life per sid — the AR(1) fit
    * c_t = α + ρ·c_{t−1} + ε whose ρ turns into the Ornstein–Uhlenbeck
    * half-life −ln2/lnρ: "how many days until a shock has decayed by
    * half", the number that sizes every pairs/mean-reversion trade and
    * the natural companion to the coint1 spread screen.
    *
    * Exactness: the regression moments are exact integer cents
    * accumulated as DECIMAL(38,0) (the w26/ts4 discipline; DuckDB
    * HUGEINT mirrors), ρ is one Cramer-style IEEE expression of those
    * integers, and the half-life is a FINAL per-row transcendental of
    * that identical double (the ev25 exp stance — no transcendental is
    * ever summed). ρ outside (0, 1), or a degenerate variance, yields
    * null half-life: the series isn't mean-reverting (or is constant),
    * and ±inf would poison downstream sorts.
    *
    * Output (sid, n, rho, half_life), 6dp. */
  def meanReversionHalfLife(
      panel: DataFrame,
      sidCol: String = "sid",
      dateCol: String = "date",
      closeCol: String = "close"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val c = round(col(closeCol) * 100).cast("long")
    val w = Window.partitionBy(col(sidCol)).orderBy(col(dateCol))
    def d(c0: org.apache.spark.sql.Column) = c0.cast("double")
    val num = d(col("n") * col("__sxy") - col("__sx") * col("__sy"))
    val den = d(col("n") * col("__sxx") - col("__sx") * col("__sx"))
    val rho = num / den
    panel
      .select(col(sidCol).as("sid"), col(dateCol).as("date"), c.as("__y"))
      .withColumn("__x", lag_(col("__y"), 1, w))
      .where(col("__x").isNotNull)
      .groupBy(col("sid"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum(col("__x").cast(dec) * col("__y").cast(dec)).as("__sxy"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__sxx"))
      .select(
        col("sid"), col("n"),
        round(when(den > 0, rho), 6).as("rho"),
        round(when(den > 0 && rho > 0 && rho < 1,
          -log(lit(2.0)) / log(rho)), 6).as("half_life"))
  }

  /** ML36: split-conformal prediction interval for the seasonal-naive
    * forecaster (Vovk 2005; Lei et al. 2018) — the distribution-free
    * "±q̂ covers the truth with probability ≥ 1−α" guarantee every
    * forecast consumer should get alongside a point estimate.
    *
    * Rows with a full `lag` window split by the deterministic md5 hash
    * of (sid, date) into CALIBRATION (< calFraction) and TEST; q̂ is
    * the ⌈(n_cal+1)(1−α)⌉-th order statistic of the calibration's
    * absolute forecast errors — EXACT integer cents end to end: the
    * order statistic comes from a cumulative count over the
    * distinct-error-cents histogram via the two-level bucket scan
    * (residual cents are near-continuous, the qn1 class — see
    * [[graft.panel.PrefixSum]]), never a sort of rows. The test row coverage of [f−q̂, f+q̂] is then an
    * exact integer ratio — the empirical check of the guarantee.
    *
    * Output ONE row (alpha, n_cal, n_test, k, q_hat_cents, coverage). */
  def conformalInterval(
      panel: DataFrame,
      lag: Int = 7,
      alphaPct: Int = 10,
      calFraction: Double = 0.5,
      seed: String = "cf",
      sidCol: String = "sid",
      dateCol: String = "date",
      closeCol: String = "close"): DataFrame = {
    require(lag >= 1, s"lag must be >= 1: $lag")
    require(alphaPct >= 1 && alphaPct <= 99, s"alphaPct in [1,99]: $alphaPct")
    require(calFraction > 0 && calFraction < 1,
      s"calFraction in (0,1): $calFraction")
    val c = round(col(closeCol) * 100).cast("long")
    val w = Window.partitionBy(col(sidCol)).orderBy(col(dateCol))
    val rows = panel
      .select(col(sidCol).as("sid"), col(dateCol).as("date"), c.as("__c"))
      .withColumn("__f", lag_(col("__c"), lag, w))
      .where(col("__f").isNotNull)
      .select(
        abs(col("__c") - col("__f")).as("__r"),
        (graft.text.Sampling.hashUnit(
          concat_ws("|", col("sid"), col("date")), seed) < calFraction)
          .as("__cal"))
      .checkpointed(eager = false) // feeds the histogram AND coverage
    val kq = rows.agg(
      sum(when(col("__cal"), 1L).otherwise(0L)).as("n_cal"),
      sum(when(!col("__cal"), 1L).otherwise(0L)).as("n_test"))
      .withColumn("k", // ⌈(n_cal+1)(100−α)/100⌉ as exact integer math
        call_function("div",
          (col("n_cal") + 1) * (100 - alphaPct) + 99, lit(100L)))
    // distributed two-level prefix scan (r9): residual cents are
    // near-continuous — the qn1 583k-distinct-in-600k-rows class — so a
    // single unpartitioned cumulative window here was a table-sized
    // one-task sort at scale (see graft.panel.PrefixSum)
    val hist = graft.panel.PrefixSum.inclusive(
      rows.where(col("__cal"))
        .groupBy(col("__r")).agg(count(lit(1)).as("__cnt")),
      "__r", Seq("__cum" -> "__cnt"))
    val qhat = hist
      .crossJoin(broadcast(kq)) // 1-row grouping-free agg
      .where(col("__cum") >= col("k"))
      .agg(min(col("__r")).as("q_hat_cents"))
    rows.where(!col("__cal"))
      .crossJoin(broadcast(qhat))
      .agg(sum(when(col("__r") <= col("q_hat_cents"), 1L).otherwise(0L))
        .as("__cov"))
      .crossJoin(broadcast(kq))
      .crossJoin(broadcast(qhat))
      .select(
        (lit(alphaPct).cast("double") / 100.0).as("alpha"),
        col("n_cal"), col("n_test"), col("k"), col("q_hat_cents"),
        round(when(col("n_test") > 0,
          coalesce(col("__cov"), lit(0L)).cast("double")
            / col("n_test").cast("double")), 6).as("coverage"))
  }

  /** TS5: Holt double-exponential smoothing (level + linear trend)
    * over the DAILY count series of an event log — the one-step
    * forecaster between naive (ts3's baseline) and full seasonal
    * decomposition (ts2).
    *
    * Exactness: the recursion runs in micro-quantized integers with
    * tenth-scaled smoothing weights — lₜ = (α10·yₜ·10⁶ +
    * (10−α10)·(lₜ₋₁+bₜ₋₁)) ÷10, bₜ = (β10·(lₜ−lₜ₋₁) + (10−β10)·bₜ₋₁)
    * ÷10, division TRUNCATING TOWARD ZERO — so every state is a
    * BIGINT both engines reproduce bit-exactly (DuckDB replays the
    * recursion as a recursive CTE with a sign-split floor division).
    *
    * Scale: the DISTRIBUTED pass is the daily aggregate; the recursion
    * itself is inherently sequential (an IIR filter — no prefix-sum
    * form survives integer quantization) and runs on the driver over
    * the CALENDAR-BOUNDED day series (the pca2 bounded-collect class:
    * ≤ |days| rows regardless of event count). Output per day:
    * (day, y, level_micro, trend_micro, forecast_micro) — exact
    * integer micro-units (no double re-rounding at the boundary);
    * forecast is the one-step-ahead prediction lₜ₋₁+bₜ₋₁, null on the
    * first day. */
  def holt(
      events: DataFrame,
      alphaTenths: Int = 3,
      betaTenths: Int = 1,
      tsCol: String = "ts"): DataFrame = {
    require(alphaTenths >= 1 && alphaTenths <= 9, s"alphaTenths in 1..9: $alphaTenths")
    require(betaTenths >= 1 && betaTenths <= 9, s"betaTenths in 1..9: $betaTenths")
    val spark = events.sparkSession
    // bounded collect: one row per calendar day
    val daily = events
      .groupBy(to_date(col(tsCol).cast("timestamp")).as("day"))
      .agg(count(lit(1)).as("y"))
      .orderBy("day")
      .collect()
      .map(r => (r.getDate(0), r.getLong(1)))
    require(daily.length >= 2, "holt needs at least 2 days")
    def tdiv(x: Long, d: Long): Long = x / d // JVM: truncates toward zero
    val n = daily.length
    val l = new Array[Long](n)
    val b = new Array[Long](n)
    l(0) = daily(0)._2 * 1000000L
    b(0) = (daily(1)._2 - daily(0)._2) * 1000000L
    var i = 1
    while (i < n) {
      val pred = l(i - 1) + b(i - 1)
      l(i) = tdiv(alphaTenths * daily(i)._2 * 1000000L +
        (10L - alphaTenths) * pred, 10L)
      b(i) = tdiv(betaTenths * (l(i) - l(i - 1)) +
        (10L - betaTenths) * b(i - 1), 10L)
      i += 1
    }
    import spark.implicits._
    daily.indices.map { j =>
      (daily(j)._1, daily(j)._2, l(j), b(j),
        if (j == 0) None else Some(l(j - 1) + b(j - 1)))
    }.toDF("day", "y", "level_micro", "trend_micro", "forecast_micro")
  }

  // scala-side alias: functions.lag collides with the `lag` parameter
  private def lag_(c: org.apache.spark.sql.Column, n: Int,
      w: org.apache.spark.sql.expressions.WindowSpec) =
    org.apache.spark.sql.functions.lag(c, n).over(w)
}
