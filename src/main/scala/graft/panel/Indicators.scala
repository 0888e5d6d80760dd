package graft.panel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.panel.Panel.Keys
import graft.Exact.{Dec, Micro}

/** Classic technical indicators over (sid, date) bars — the signal
  * vocabulary `prices_to_signals` strategies are written in. Each is
  * windows over the sid partitioning the W family already pays (one
  * exchange shared by every indicator in the select), with the repo's
  * exactness discipline: per-bar terms are micro-quantized so the
  * rolling sums are exact integers under any partitioning, and each
  * indicator pays exactly one double division per row (6dp).
  */
object Indicators {

  /** Average True Range (Wilder 1978, SMA form): TR = max(high − low,
    * |high − prevClose|, |low − prevClose|) per bar (first bar: high −
    * low), averaged over a trailing `window`-bar frame — null until the
    * window fills. The standard volatility-normalizer for stops and
    * position sizing. Appends `tr` and `atr_<window>`. */
  def atr(
      bars: DataFrame,
      window: Int,
      highCol: String = "high",
      lowCol: String = "low",
      closeCol: String = "close")(implicit k: Keys): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val prevC = lag(col(closeCol), 1).over(k.bySid)
    val tr = when(prevC.isNull, col(highCol) - col(lowCol))
      .otherwise(greatest(
        col(highCol) - col(lowCol),
        abs(col(highCol) - prevC),
        abs(col(lowCol) - prevC)))
    val f = k.rollingFrame(window)
    bars
      .withColumn("tr", tr)
      .withColumn("__trm", Micro.dec(col("tr")))
      .withColumn(s"atr_$window",
        round(when(count(col("__trm")).over(f) === window,
          sum(col("__trm")).over(f).cast("double") / window / Micro.factor), 6))
      .drop("__trm")
  }

  /** Stochastic oscillator %K: 100·(close − Lₙ)/(Hₙ − Lₙ), where Hₙ/Lₙ
    * are the trailing `window` high/low extremes — where the close sits
    * in its recent range. Rolling max/min are ORDER-FREE exact
    * aggregates (no accumulation at all), so %K is one per-row division
    * (6dp); null until the window fills or when the range is flat
    * (Hₙ = Lₙ). Appends `stoch_k_<window>`. */
  def stochasticK(
      bars: DataFrame,
      window: Int,
      highCol: String = "high",
      lowCol: String = "low",
      closeCol: String = "close")(implicit k: Keys): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val f = k.rollingFrame(window)
    val hn = max(col(highCol)).over(f)
    val ln = min(col(lowCol)).over(f)
    bars.withColumn(s"stoch_k_$window",
      round(when(count(col(closeCol)).over(f) === window && hn =!= ln,
        (col(closeCol) - ln) * 100.0 / (hn - ln)), 6) + 0.0)
  }

  /** On-Balance Volume: running Σ sign(Δclose)·volume per sid — the
    * classic volume-flow confirmation line. Volume is summed as exact
    * longs (flat days contribute 0, the first bar has no defined change
    * and contributes 0 — Granville's convention), so the cumulative
    * series is an exact integer under any partitioning. Appends
    * `obv`. */
  def obv(
      bars: DataFrame,
      closeCol: String = "close",
      volumeCol: String = "volume")(implicit k: Keys): DataFrame = {
    val diff = Micro.dec(col(closeCol)) - Micro.dec(lag(col(closeCol), 1).over(k.bySid))
    val signed = when(diff.isNull || diff === 0, 0L)
      .when(diff > 0, col(volumeCol).cast("long"))
      .otherwise(-col(volumeCol).cast("long"))
    bars.withColumn("obv", sum(signed).over(k.cumFrame))
  }

  /** Relative Strength Index (Cutler's SMA form — Wilder's original
    * smoothing is recursive and not window-expressible; the SMA variant
    * is the standard fixed-window restatement): RSI = 100·ΣG/(ΣG+ΣL)
    * over the trailing `window` bar-to-bar changes, where G/L are the
    * positive/negative change magnitudes. Because both sums are exact
    * micro integers, the RSI is one division of exact ints — no
    * mean-of-means wobble. Null until the window fills or when the
    * window is completely flat (ΣG+ΣL = 0: momentum undefined, not
    * 50). Appends `rsi_<window>`. */
  def rsi(
      bars: DataFrame,
      window: Int,
      closeCol: String = "close")(implicit k: Keys): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val diff = Micro.dec(col(closeCol)) - Micro.dec(lag(col(closeCol), 1).over(k.bySid))
    val f = k.rollingFrame(window)
    bars
      // null change (the first bar) stays null — it must not count as a
      // zero move toward the window's fill
      .withColumn("__g",
        when(diff.isNotNull, when(diff > 0, diff).otherwise(lit(0).cast(Dec))))
      .withColumn("__l",
        when(diff.isNotNull, when(diff < 0, -diff).otherwise(lit(0).cast(Dec))))
      .withColumn(s"rsi_$window", {
        val g = sum(col("__g")).over(f)
        val l = sum(col("__l")).over(f)
        round(when(count(col("__g")).over(f) === window && (g + l) =!= 0,
          g.cast("double") * 100.0 / (g + l).cast("double")), 6)
      })
      .drop("__g", "__l")
  }

  /** W23: Kaufman Efficiency Ratio (Kaufman 1995): |net n-bar change| /
    * Σ|bar changes| over the same trailing window — 1 on a straight
    * line (all movement is signal), → 0 on churn (all movement is
    * noise). The adaptivity dial of KAMA and the cheapest trendiness
    * screen there is. Micro-quantized bar changes make both sums exact
    * integers; null until the window has `window` changes or when the
    * path length is 0 (a flat window has no efficiency). Appends
    * `ker_<window>`. */
  def efficiencyRatio(
      bars: DataFrame,
      window: Int,
      closeCol: String = "close")(implicit k: Keys): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val diff = Micro.dec(col(closeCol)) - Micro.dec(lag(col(closeCol), 1).over(k.bySid))
    val f = k.rollingFrame(window)
    bars
      .withColumn("__d", diff)
      .withColumn(s"ker_$window", {
        val path = sum(abs(col("__d"))).over(f)
        val net = abs(sum(col("__d")).over(f))
        round(when(count(col("__d")).over(f) === window && path =!= 0,
          net.cast("double") / path.cast("double")), 6)
      })
      .drop("__d")
  }

  /** Bollinger bands: trailing `window`-bar SMA ± `numStd` sample
    * standard deviations — the mean-reversion envelope. The mid line
    * is an exact micro sum over the window; the band offset derives
    * from the ROUNDED 6dp stddev (windowed σ accumulation is
    * engine-internal; rounding BEFORE the band arithmetic makes the
    * band values reproducible anywhere — the volTargetScale stance).
    * Null until the window fills. Appends `bb_mid_<w>`, `bb_up_<w>`,
    * `bb_dn_<w>`. */
  def bollinger(
      bars: DataFrame,
      window: Int,
      numStd: Double = 2.0,
      closeCol: String = "close")(implicit k: Keys): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    require(numStd > 0, s"numStd must be positive: $numStd")
    val f = k.rollingFrame(window)
    val full = count(col(closeCol)).over(f) === window
    val mid = round(when(full,
      sum(Micro.dec(col(closeCol))).over(f).cast("double") / window / Micro.factor), 6)
    val sd = round(when(full, stddev_samp(col(closeCol)).over(f)), 6)
    bars
      .withColumn(s"bb_mid_$window", mid)
      .withColumn(s"bb_up_$window",
        round(col(s"bb_mid_$window") + sd * numStd, 6))
      .withColumn(s"bb_dn_$window",
        round(col(s"bb_mid_$window") - sd * numStd, 6))
  }

  /** Rolling volume-weighted average price: Σ(close·volume)/Σvolume
    * over the trailing `window` bars — the institutional execution
    * benchmark (a close above its VWAP is trading rich). The notional
    * numerator is micro-quantized per bar and the volume denominator
    * summed as exact longs, so the VWAP is ONE division of exact
    * integers. Null until the window fills or while the window's total
    * volume is 0 (undefined, not 0/0). Appends `vwap_<window>`. */
  def vwap(
      bars: DataFrame,
      window: Int,
      closeCol: String = "close",
      volumeCol: String = "volume")(implicit k: Keys): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val f = k.rollingFrame(window)
    val notional = Micro.dec(col(closeCol) * col(volumeCol))
    val vol = sum(col(volumeCol).cast("long")).over(f)
    // round the micro-int quotient, THEN scale down: rounding the
    // already-divided double at 6dp can land exactly on a .5 decimal
    // boundary where BigDecimal-style and multiply-round engines
    // disagree by one ulp (observed at sf0.01); the integer quotient
    // is correctly rounded in both
    bars.withColumn(s"vwap_$window",
      when(count(col(closeCol)).over(f) === window && vol =!= 0,
        Micro.mean(sum(notional).over(f), vol)))
  }
}
