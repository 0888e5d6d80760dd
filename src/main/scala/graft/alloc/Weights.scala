package graft.alloc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.panel.Panel
import graft.panel.Panel.Keys
import graft.Exact.{Micro, Pico, decSum}

/** Weight-allocation algorithms (reference mixins/weight.py:22-113, D1-D5).
  *
  * All are Column expressions combining the row's signal with per-date
  * cross-sectional aggregates (`Window.partitionBy(date)`), so a whole
  * allocation chain stays in one select — one shuffle on `date`, no joins,
  * no driver materialization. At 100 TB the per-date partitions are the
  * sid-universe cross-sections (≤ ~100k rows each): safely unskewed.
  */
object Weights {

  /** D1 `allocate_equal_weights` (weight.py:22-36): divide each signal by
    * the day's active-signal count; no signals → divide by 1. */
  def equalWeights(signal: Column, cap: Double = 1.0)(implicit k: Keys): Column = {
    val n = Panel.perDateAbsCount(signal)
    val divisor = when(n =!= 0, n).otherwise(lit(1.0))
    signal / divisor * lit(cap)
  }

  /** D2 `allocate_fixed_weights` (weight.py:38-46). */
  def fixedWeights(signal: Column, weight: Double): Column =
    signal * lit(weight)

  /** D3 `allocate_fixed_weights_capped` (weight.py:48-66): fixed weights,
    * but days whose absolute fixed-weight sum exceeds the cap fall back to
    * equal weights. */
  def fixedWeightsCapped(signal: Column, weight: Double, cap: Double = 1.0)(
      implicit k: Keys): Column = {
    val fixed = fixedWeights(signal, weight)
    val fixedSum = Panel.perDateSum(abs(fixed))
    when(fixedSum > cap, equalWeights(signal, cap)).otherwise(fixed)
  }

  /** D4 `allocate_market_neutral_fixed_weights_capped` (weight.py:68-87):
    * cap each side at cap/2, then optionally neutralize. */
  def marketNeutralFixedWeightsCapped(
      signal: Column,
      weight: Double,
      cap: Double = 1.0,
      neutralize: Boolean = true)(implicit k: Keys): Column = {
    val longSig = when(signal > 0, signal).otherwise(lit(0.0))
    val shortSig = when(signal < 0, signal).otherwise(lit(0.0))
    val perSide = cap * 0.5
    val longW = fixedWeightsCapped(longSig, weight, perSide)
    val shortW = fixedWeightsCapped(shortSig, weight, perSide)
    val combined = when(longW > 0, longW).otherwise(shortW)
    if (neutralize) neutralizeWeights(combined) else combined
  }

  /** D5 `neutralize_weights` (weight.py:89-113): scale the overweight side
    * down to the lighter side's total, per date. */
  def neutralizeWeights(weight: Column)(implicit k: Keys): Column = {
    val longW = when(weight > 0, weight).otherwise(lit(0.0))
    val shortW = when(weight < 0, weight).otherwise(lit(0.0))
    val totalLong = Panel.perDateSum(longW)
    val totalShort = Panel.perDateSum(abs(shortW))
    val longDenom = when(totalLong === 0, lit(1.0)).otherwise(totalLong)
    val shortDenom = when(totalShort === 0, lit(1.0)).otherwise(totalShort)
    val longScaled =
      when(totalLong <= totalShort, longW).otherwise(longW * totalShort / longDenom)
    val shortScaled =
      when(totalShort <= totalLong, shortW).otherwise(shortW * totalLong / shortDenom)
    // + 0.0 normalizes IEEE −0.0 (a date with zero longs scales the short
    // side by totalLong=0.0, giving −1.0·0.0 = −0.0) to +0.0 so results
    // hash-match decimal engines; a no-op for every other value.
    when(longScaled > 0, longScaled).otherwise(shortScaled) + lit(0.0)
  }

  /** Inverse-volatility allocation (risk-parity-lite): each active
    * signal's weight ∝ 1/vol, normalized so per-date |weights| sum to 1
    * — low-vol names carry more capital, the standard vol-balanced
    * sizing published far beyond any one engine. `vol` is the caller's
    * trailing volatility column, expected PRE-ROUNDED (the voltarget
    * stance: identical inputs divide identically in any engine).
    *
    * Exactness: 1/vol is quantized to micro units per row, so the
    * per-date normalizer is an exact integer sum (order-free); the
    * final weight is one per-row division of exact integers. Rows with
    * null/zero/negative vol (warm-up bars, degenerate series) get
    * weight 0 — not a share of the book. Same one-shuffle shape as
    * D1-D5. */
  def inverseVolWeights(signal: Column, vol: Column)(implicit k: Keys): Column = {
    val ivq = when(signal =!= 0 && signal.isNotNull && vol > 0,
      Micro.long(abs(signal) / vol)).otherwise(0L)
    val tot = sum(ivq).over(k.byDate)
    when(tot =!= 0, signum(signal) * ivq.cast("double") / tot).otherwise(0.0) +
      lit(0.0) // −0.0 → +0.0 (a zero-quantized short row)
  }

  /** D30: benchmark-hedge overlay — the per-date hedge weight
    * −Σᵢ wᵢ·βᵢ to put on `hedgeSid` so the book's market beta nets to
    * ~0 (the index-future overlay every beta-aware desk runs; D5's
    * dollar-neutral is NOT beta-neutral when longs and shorts carry
    * different betas). `betas` is a per-sid dimension frame (e.g.
    * [[graft.perf.Performance.riskContributions]]' risk_share, which
    * IS beta-to-portfolio) — expected PRE-ROUNDED (the voltarget
    * stance), broadcast into the weights panel. Sids with no beta
    * contribute 0 (can't hedge what isn't measured — they stay in the
    * book unhedged, documented rather than silently scaled). Per-row
    * w·β exposures quantize to picos so the per-date sum is exact.
    * Output one row per date: (dateCol, sidCol = hedgeSid,
    * hedge_weight). */
  def betaHedge(
      weights: DataFrame,
      betas: DataFrame,
      hedgeSid: String,
      weightCol: String = "weight",
      betaCol: String = "beta",
      sidCol: String = "sid",
      dateCol: String = "date"): DataFrame = {
    weights
      .join(broadcast(betas.select(col(sidCol), col(betaCol))),
        Seq(sidCol), "left")
      .groupBy(col(dateCol))
      .agg(decSum(Pico.long(col(weightCol) * coalesce(col(betaCol), lit(0.0)))).as("__e"))
      .select(
        col(dateCol), lit(hedgeSid).as(sidCol),
        (-Pico.back(col("__e")) + 0.0).as("hedge_weight"))
  }

  /** D33: short-sale locate constraint — clamp each SHORT weight at the
    * sid's `max_short_weight` from the borrow/locate table (easy-to-
    * borrow names carry a large cap, hard-to-borrow a small one). A sid
    * MISSING from the table is unshortable (clamped to 0), the
    * capByParticipation stance: no locate data means no short, and a
    * silently unconstrained short is the expensive kind of wrong. Long
    * weights pass through untouched. `was_constrained` flags clamped
    * rows. Pure broadcast-join + clamp (the borrow table is a
    * dimension); no arithmetic beyond negate/least, so weights keep
    * their exact upstream values. */
  def constrainShortsByBorrow(
      weights: DataFrame,
      borrow: DataFrame,
      weightCol: String = "weight",
      sidCol: String = "sid"): DataFrame =
    weights
      .join(broadcast(borrow.select(col(sidCol), col("max_short_weight"))),
        Seq(sidCol), "left")
      .withColumn("was_constrained",
        col(weightCol) < 0 && (col("max_short_weight").isNull ||
          -col(weightCol) > col("max_short_weight")))
      .withColumn(weightCol,
        when(col(weightCol) < 0,
          // + 0.0: an unshortable sid clamps to −0.0 → normalize
          -least(-col(weightCol), coalesce(col("max_short_weight"), lit(0.0)))
            + lit(0.0))
          .otherwise(col(weightCol)))
      .drop("max_short_weight")
}
