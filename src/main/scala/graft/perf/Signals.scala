package graft.perf

import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.panel.Panel
import graft.panel.Panel.Keys
import graft.Exact.{Dec, Micro, Pico, decSum}

/** Pre-backtest signal evaluation — the alphalens-style questions a user
  * asks of `prices_to_signals` output BEFORE committing to a full
  * backtest: does the signal rank-order forward returns (information
  * coefficient), and do the top quantiles outperform the bottom
  * (quantile portfolio returns)? The reference leaves this to pandas
  * notebooks over the panel; at 100 TB the panel never fits one node,
  * so both measures are expressed as per-date-slot windows + one hash
  * aggregation — the cross-sectional family's plan shape
  * (`Panel.perDateRankAvg`), no joins beyond what the panel already has.
  *
  * Determinism: ranks are exact integers (2× the average tie rank), so
  * every Spearman sum is an exact decimal(38,0) accumulation — the
  * engine-order-dependent part is ONE double division per date, rounded
  * to 6dp. Forward returns are per-row IEEE ratios (bit-deterministic).
  */
object Signals {

  /** h-period forward return per sid: price(t+h)/price(t) − 1 via a lead
    * window over the sid ordering — the label the signal is evaluated
    * against. Null on the last h bars of each sid (pandas shift(-h)
    * stance: no wraparound, no zero-fill). */
  def withForwardReturn(
      df: DataFrame,
      horizon: Int,
      priceCol: String = "close",
      outCol: String = "fwd_return")(implicit k: Keys): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1: $horizon")
    df.withColumn(outCol,
      lead(col(priceCol), horizon).over(k.bySid) / col(priceCol) - 1)
  }

  /** Doubled average rank (ties share): 2·rank + tie_count − 1 is an
    * exact INTEGER even for shared ranks — the Spearman sums over it are
    * order-free exact arithmetic. Nulls rank last and get no rank
    * (the [[Panel.perDateRankAvg]] stance). */
  private def rank2x(c: Column)(implicit k: Keys): Column = {
    val ordered = Window.partitionBy(k.slotCols.map(col): _*).orderBy(c.asc_nulls_last)
    val ties = Window.partitionBy((k.slotCols.map(col) :+ c): _*)
    when(c.isNotNull,
      lit(2L) * rank().over(ordered) + count(lit(1)).over(ties) - 1L)
  }

  /** Per-date Spearman information coefficient of `signal` vs `fwd`:
    * Pearson correlation of the within-date average ranks, from EXACT
    * decimal(38,0) rank sums (n·Σxy − Σx·Σy over integer doubled ranks —
    * immune to accumulation order at any cross-section width; a long
    * accumulator would wrap near n ≈ 10⁶ sids/date since the sums grow
    * ∝ 4n³). Rows where either side is null are excluded (pandas
    * `corr` pairwise-complete stance); ic is null when n < 2 or either
    * side is flat (zero rank variance). Output (date, n, ic) with ic
    * rounded to 6dp — the one double division per date is the only
    * engine-noise site.
    *
    * Plan: two rank windows over the date slot (the cross-sectional
    * family's one exchange) + ONE hash aggregation per date. No joins,
    * no global sort — scales with the panel scan. */
  def infoCoefficient(
      df: DataFrame,
      signal: Column,
      fwd: Column)(implicit k: Keys): DataFrame = {
    val both = df.where(signal.isNotNull && fwd.isNotNull)
    val ranked = both
      .withColumn("__rx", rank2x(signal).cast(Dec))
      .withColumn("__ry", rank2x(fwd).cast(Dec))
    ranked
      .groupBy(k.slotCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("__rx")).as("__sx"),
        sum(col("__ry")).as("__sy"),
        sum(col("__rx") * col("__rx")).as("__sxx"),
        sum(col("__ry") * col("__ry")).as("__syy"),
        sum(col("__rx") * col("__ry")).as("__sxy"))
      .select(
        (k.slotCols.map(col) :+ col("n") :+ {
          val n = col("n").cast(Dec)
          val covN = n * col("__sxy") - col("__sx") * col("__sy")
          val vxN = n * col("__sxx") - col("__sx") * col("__sx")
          val vyN = n * col("__syy") - col("__sy") * col("__sy")
          // + 0.0 normalizes IEEE −0.0 (the rollingBeta lesson)
          (round(
            when(col("n") >= 2 && vxN =!= 0 && vyN =!= 0,
              covN.cast("double") /
                sqrt(vxN.cast("double") * vyN.cast("double"))), 6) + 0.0).as("ic")
        }): _*)
  }

  /** Time-series summary of a per-date IC series ([[infoCoefficient]]
    * output): mean IC, ICIR (mean/std — the signal's risk-adjusted
    * consistency), t-stat (ICIR·√n) and hit rate (share of positive-IC
    * dates). Null-IC dates (thin/flat cross-sections) are excluded.
    * IC arrives 6dp-rounded, so ×1e6 re-quantization is exact and the
    * sums accumulate order-free in decimal(38,0); one double division
    * at the end (6dp). Bounded input (≤ one row per date) → one-row
    * output; ICIR/t null when n < 2 or the series is flat. */
  /** IC decay curve: the mean per-date Spearman IC of `signal` at each
    * forward horizon — how fast the signal's information content dies
    * (a 1-day signal with flat decay is tradeable weekly; a cliff after
    * day 1 is not). One [[infoCoefficient]] pass per horizon over the
    * SAME panel (each is the cross-sectional family's two rank windows
    * + one agg; k horizons = k·that, no joins), unioned and collapsed
    * to one row per horizon. The mean re-quantizes the 6dp ICs to
    * micro ints (the icSummary stance) and rounds the integer quotient
    * BEFORE scaling down (the VWAP .5-boundary lesson). Output
    * (horizon, n_dates, mean_ic). */
  def icDecay(
      df: DataFrame,
      signal: Column,
      horizons: Seq[Int],
      priceCol: String = "close")(implicit k: Keys): DataFrame = {
    require(horizons.nonEmpty, "horizons must be non-empty")
    require(horizons.distinct == horizons, s"duplicate horizons: $horizons")
    val perH = horizons.map { h =>
      infoCoefficient(
        withForwardReturn(df, h, priceCol), signal, col("fwd_return"))
        .select(lit(h.toLong).as("horizon"), col("ic"))
    }.reduce(_ unionByName _)
    perH
      .groupBy(col("horizon"))
      .agg(
        count(col("ic")).as("n_dates"),
        sum(Micro.dec(col("ic"))).as("__s"))
      .select(
        col("horizon"), col("n_dates"),
        (Micro.mean(col("__s"), col("n_dates")) + 0.0)
          .as("mean_ic"))
  }

  /** Poisson(1) cumulative cutoffs for k = 0..7 (the tail clamps at 8).
    * Shared by the Spark plan and (via Double.toString round-trip —
    * shortest-repr parsing is bit-exact) the SQL oracle. */
  private[graft] val PoissonCdf: Seq[Double] = {
    var p = math.exp(-1.0)
    val out = Seq.newBuilder[Double]
    var c = 0.0
    for (k <- 0 to 7) {
      c += p; out += c; p /= (k + 1).toDouble + 0.0
      // p for k+1 = p_k / (k+1)
    }
    out.result()
  }

  /** Bootstrap confidence interval for the MEAN per-date IC: B
    * deterministic Poisson(1) resamples of the IC series (the
    * "Poisson bootstrap" — each replica's weight for date d is an
    * inverse-CDF lookup on the md5 hash of (replica, date), so the
    * whole procedure is reproducible in any engine and needs no
    * random state), replica means as exact micro sums with
    * integer-quotient rounding, then interpolated percentiles over
    * the B-row replica frame. Answers "is the mean IC distinguishable
    * from 0" without distributional assumptions — the icSummary
    * t-stat's nonparametric check.
    *
    * Scale shape: the IC frame is bounded (one row per date), so the
    * date × B cross join is bounded × B (broadcast the B-row side),
    * one hash agg to B replica means, one bounded agg to the CI row.
    * Output (n_boot, n_dates, mean_ic, ci_lo, ci_hi). */
  def icBootstrap(
      ic: DataFrame,
      b: Int = 200,
      alpha: Double = 0.05,
      seed: String = "boot",
      icCol: String = "ic",
      dateCol: String = "date"): DataFrame = {
    require(b >= 2, s"need at least 2 replicas: $b")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0, 1): $alpha")
    val spark = ic.sparkSession
    val reps = spark.range(b).select(col("id").as("__b"))
    val base = ic.where(col(icCol).isNotNull)
      .select(col(dateCol).as("__d"),
        Micro.long(col(icCol)).as("__m"))
      .checkpointed(eager = false) // feeds the resample AND the plain mean
    val u = graft.text.Sampling.hashUnit(
      concat_ws("|", col("__b"), col("__d")), seed)
    val w = PoissonCdf.zipWithIndex.foldRight(lit(8)) {
      case ((c, k), acc) => when(u < c, k).otherwise(acc)
    }
    val means = base
      .crossJoin(broadcast(reps))
      .withColumn("__w", w.cast("long"))
      .groupBy(col("__b"))
      .agg(decSum(col("__w") * col("__m")).as("__s"),
        sum(col("__w")).as("__n"))
      .where(col("__n") > 0)
      .select(Micro.mean(col("__s"), col("__n"))
        .as("__mean"))
    val ci = means.agg(
      count(lit(1)).as("n_boot"),
      round(percentile(col("__mean"), lit(alpha / 2)), 6).as("ci_lo"),
      round(percentile(col("__mean"), lit(1 - alpha / 2)), 6).as("ci_hi"))
    val overall = base.agg(
      count(lit(1)).as("n_dates"),
      Micro.mean(decSum(col("__m")), count(lit(1)))
        .as("mean_ic"))
    ci.crossJoin(broadcast(overall))
      .select(col("n_boot"), col("n_dates"), col("mean_ic"),
        col("ci_lo"), col("ci_hi"))
  }

  def icSummary(ic: DataFrame, icCol: String = "ic"): DataFrame = {
    val m = Micro.dec(col(icCol))
    val n = col("n_dates").cast("double")
    val s = col("__s").cast("double"); val ss = col("__ss").cast("double")
    val mean = s / n / Micro.factor
    // sample variance: (Σx²·n − (Σx)²)/(n(n−1)) at micro scale
    val std = sqrt((ss * n - s * s) / (n * (n - 1))) / Micro.factor
    ic.agg(
        count(col(icCol)).as("n_dates"),
        sum(m).as("__s"),
        sum(m * m).as("__ss"),
        sum(when(col(icCol) > 0, 1L).otherwise(0L)).as("__hits"))
      .select(
        col("n_dates"),
        (round(when(col("n_dates") > 0, mean), 6) + 0.0).as("mean_ic"),
        (round(when(col("n_dates") >= 2 && std =!= 0.0, mean / std), 6) + 0.0)
          .as("ic_ir"),
        (round(when(col("n_dates") >= 2 && std =!= 0.0,
          mean / std * sqrt(n)), 6) + 0.0).as("t_stat"),
        round(when(col("n_dates") > 0,
          col("__hits").cast("double") / n), 6).as("hit_rate"))
  }

  /** IC6: Newey-West (1987) autocorrelation-robust t for the IC mean —
    * overlapping forward returns serially correlate the IC series, so
    * [[icSummary]]'s IID t overstates significance; the Bartlett-
    * weighted long-run variance γ₀ + 2Σ_{l≤L}(1 − l/(L+1))γ_l is the
    * published fix. Demeaned micro ICs come from one bounded
    * unpartitioned window over the date-ordered series (the perf_daily
    * post-aggregation class); each lag-l autocovariance is ONE exact
    * decimal sum of lagged products, and the Bartlett weights are
    * driver constants. Output one row
    * (n_dates, mean_ic, t_iid, t_nw). */
  def icNeweyWest(
      ic: DataFrame,
      lags: Int = 5,
      icCol: String = "ic",
      dateCol: String = "date"): DataFrame = {
    require(lags >= 1, s"lags must be >= 1: $lags")
    val w = Window.orderBy(col(dateCol))
    val base = ic.where(col(icCol).isNotNull)
      .withColumn("__m", Micro.long(col(icCol)))
    // demeaning needs the global mean — exact integer ratio via a
    // bounded one-row broadcast (the series is post-aggregation-sized)
    val tot = base.agg(count(lit(1)).as("__n"), sum(col("__m")).as("__sm"))
    val lagged = base.crossJoin(broadcast(tot))
      .withColumn("__d", // micro deviations ×n: integer-exact demeaning
        col("__m") * col("__n") - col("__sm"))
      .select(Seq(col(dateCol), col("__n"), col("__d")) ++
        (1 to lags).map(l => lag(col("__m") * col("__n") - col("__sm"), l)
          .over(w).as(s"__d$l")): _*)
    val aggs =
      Seq(count(lit(1)).as("n_dates"),
        sum(col("__d").cast(Dec) * col("__d").cast(Dec)).as("__g0")) ++
        (1 to lags).map(l =>
          sum(col("__d").cast(Dec) * col(s"__d$l").cast(Dec)).as(s"__g$l"))
    lagged.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(tot))
      .select(Seq(col("n_dates")) ++ {
        val n = col("n_dates").cast("double")
        val scale = col("__n").cast("double") // deviations carry ×n
        val mean = col("__sm").cast("double") / n / Micro.factor
        // γ_l = Σ d_t·d_{t−l} / n, in (micro·n)² units
        def gamma(l: Int) =
          (if (l == 0) col("__g0") else col(s"__g$l")).cast("double") / n
        val lrv = (1 to lags).foldLeft(gamma(0)) { case (acc, l) =>
          acc + lit(2.0 * (1.0 - l.toDouble / (lags + 1))) * gamma(l)
        }
        val sd0 = sqrt(gamma(0) / n) / scale / Micro.factor // IID se of the mean
        val sdNw = sqrt(lrv / n) / scale / Micro.factor
        val ok = col("n_dates") >= (lags + 2)
        Seq(
          (round(when(col("n_dates") > 0, mean), 6) + 0.0).as("mean_ic"),
          (round(when(ok && sd0 > 0, mean / sd0), 6) + 0.0).as("t_iid"),
          (round(when(ok && sdNw > 0, mean / sdNw), 6) + 0.0).as("t_nw"))
      }: _*)
  }

  /** Per-(date, quantile-bin) mean forward return: bin the signal into q
    * cross-sectional buckets ([[Panel.quantileBin]] — explicit tiebreak
    * so ntile is deterministic) and average the forward return per
    * bucket as an exact integer pico sum ÷ count (order-free; the
    * per-row pico scaling of an IEEE ratio is bit-deterministic).
    * Long-the-top-short-the-bottom spread is `mean_fwd[q] −
    * mean_fwd[1]` downstream. Null-forward rows (the last h bars) are
    * excluded BEFORE binning so partial dates don't skew bucket sizes.
    * Output (date, bin, n, mean_fwd) with mean_fwd rounded to 6dp.
    *
    * Plan: one ntile window over the date slot + ONE hash aggregation —
    * (dates × q) result rows, no joins. */
  def quantileReturns(
      df: DataFrame,
      signal: Column,
      fwd: Column,
      q: Int,
      tiebreak: Column)(implicit k: Keys): DataFrame = {
    require(q >= 2, s"need at least 2 quantile bins: $q")
    df.where(signal.isNotNull && fwd.isNotNull)
      .withColumn("__bin", Panel.quantileBin(signal, q, tiebreak))
      .withColumn("__fp", Pico.dec(fwd))
      // long bin: Spark's ntile is INT, most SQL engines' is BIGINT —
      // emit the wider type so results compare schema-identical
      .groupBy((k.slotCols.map(col) :+ col("__bin").cast("long").as("bin")): _*)
      .agg(count(lit(1)).as("n"), sum(col("__fp")).as("__s"))
      .withColumn("mean_fwd",
        round(col("__s").cast("double") / col("n") / Pico.factor, 6) + 0.0)
      .drop("__s")
  }
}
