package graft.events

import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Buckets, ParameterError}
import graft.Exact.{Basis, Dec, Micro, Nano, Pico, decSum}

/** Event-stream analytics over an append-only (user, ts, type) log —
  * the session/funnel/retention/path views every product-analytics
  * pipeline derives, and at LLM scale the same shapes that segment
  * interaction logs into training conversations.
  *
  * Scale shape: every operator is windows/aggregations partitioned by
  * the user key — one shuffle on `userCol`, per-user partitions bounded
  * by a single user's event count (the natural skew bound of an event
  * log; a runaway bot user shows up as ONE hot partition and is exactly
  * the thing [[graft.plans.Skew]] salting exists for). No self-joins on
  * time ranges: ordering is expressed with lag/cumsum windows.
  * Timestamps order within user by (ts, eventIdCol) so duplicate
  * timestamps can't make results partition-dependent.
  */
object Events {

  /** Exact integer microseconds of a timestamp column, tolerant of
    * TIMESTAMP vs TIMESTAMP_NTZ inputs (parquet writes either,
    * depending on isAdjustedToUTC; the cast is a no-op for LTZ and
    * session-UTC reinterpretation for NTZ). */
  private def micros(c: org.apache.spark.sql.Column) =
    unix_micros(c.cast("timestamp"))

  /** Gap-based sessionization: a new session starts where the gap from
    * the user's previous event exceeds `gapSeconds`. Adds `session_idx`
    * (1-based per user, in time order) to every event row. One window
    * pass (lag + running sum) on the user partition. */
  def sessionize(
      events: DataFrame,
      gapSeconds: Long,
      userCol: String = "user_id",
      tsCol: String = "ts",
      eventIdCol: String = "event_id"): DataFrame = {
    if (gapSeconds <= 0)
      throw new ParameterError(s"gapSeconds must be positive: $gapSeconds")
    // gaps in exact integer MICROseconds — second-truncating the
    // timestamps first would move events near the gap boundary between
    // engines that truncate differently
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(eventIdCol))
    events
      .withColumn("__prev", lag(micros(col(tsCol)), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          micros(col(tsCol)) - col("__prev") > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("__new")).over(w))
      .drop("__prev", "__new")
  }

  /** EV23: gap sessions via Spark's NATIVE `session_window` aggregate —
    * the built-in operator form of [[sessionize]]+[[sessionStats]]:
    * one groupBy((user, session_window(ts, gap))) instead of a window
    * pass plus a re-aggregation, and the SAME code runs under
    * Structured Streaming with a watermark (append mode) where the
    * lag-based formulation cannot (ordered windows aren't streamable).
    * Boundary semantics differ from [[sessionize]] BY CONTRACT: the
    * native operator starts a new session when the gap is ≥
    * `gapSeconds` (a session window spans [ts, ts+gap)), while
    * sessionize's `>` keeps a boundary-exact event in-session — both
    * are pinned by their own oracles. Output
    * (userCol, start_ts, end_ts, n_events, duration_sec). */
  def sessionWindows(
      events: DataFrame,
      gapSeconds: Long,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    if (gapSeconds <= 0)
      throw new ParameterError(s"gapSeconds must be positive: $gapSeconds")
    events
      .groupBy(col(userCol),
        session_window(col(tsCol), s"$gapSeconds seconds"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"),
        max(col(tsCol)).as("end_ts"))
      .select(col(userCol), col("start_ts"), col("end_ts"), col("n_events"),
        ((unix_micros(col("end_ts").cast("timestamp")) -
          unix_micros(col("start_ts").cast("timestamp"))) / 1e6)
          .as("duration_sec"))
  }

  /** Per-session summary: (user, session_idx, n_events, start_ts,
    * end_ts, duration_sec). One aggregation over [[sessionize]]. */
  def sessionStats(
      events: DataFrame,
      gapSeconds: Long,
      userCol: String = "user_id",
      tsCol: String = "ts",
      eventIdCol: String = "event_id"): DataFrame =
    sessionize(events, gapSeconds, userCol, tsCol, eventIdCol)
      .groupBy(col(userCol), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"),
        max(col(tsCol)).as("end_ts"))
      .withColumn("duration_sec",
        (micros(col("end_ts")) - micros(col("start_ts"))) / lit(1e6))

  /** First-occurrence funnel: a user reaches stage k when the FIRST
    * occurrences of steps 1..k are in non-decreasing time order
    * (t₁ ≤ t₂ ≤ … ≤ tₖ — the "did A before first B before first C"
    * semantics; re-doing an earlier step later never un-converts).
    * Returns one row per stage: (stage, step, n_users). ONE hash
    * aggregation per user (k conditional mins) + one bounded count —
    * no per-stage joins, no event self-joins. */
  def funnel(
      events: DataFrame,
      steps: Seq[String],
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    if (steps.isEmpty) throw new ParameterError("funnel steps must be non-empty")
    if (steps.distinct.size != steps.size)
      throw new ParameterError(s"duplicate funnel steps: ${steps.mkString(", ")}")
    val aggCols = steps.map(s =>
      min(when(col(typeCol) === s, col(tsCol))).as(s"__t_$s"))
    val perUser = events.groupBy(col(userCol)).agg(aggCols.head, aggCols.tail: _*)
    val reached = steps.indices.map { k =>
      val chain = (0 to k).map(i => col(s"__t_${steps(i)}"))
      val ordered = chain.sliding(2).filter(_.size == 2)
        .map(p => p(0) <= p(1))
        .foldLeft(chain.map(_.isNotNull).reduce(_ && _))(_ && _)
      sum(ordered.cast("long")).as(s"__n_$k")
    }
    val counts = perUser.agg(reached.head, reached.tail: _*)
    val stages = steps.indices.map { k =>
      struct(lit(k + 1L).as("stage"), lit(steps(k)).as("step"),
        col(s"__n_$k").as("n_users"))
    }
    counts
      .select(explode(array(stages: _*)).as("__r"))
      .select(col("__r.stage"), col("__r.step"), col("__r.n_users"))
  }

  /** Day-granular retention cohorts: cohort = the user's first active
    * day; one row per (cohort_day, day_offset) with the distinct-user
    * count active that many days after their first day (offset 0 =
    * cohort size). Cost: one (user, day) dedup, one per-user min, one
    * user-keyed join (both sides already shuffled on user), one count
    * agg. */
  def retentionCohorts(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val userDays = events
      .select(col(userCol), to_date(col(tsCol)).as("__day"))
      .distinct()
    val cohorts = userDays.groupBy(col(userCol))
      .agg(min(col("__day")).as("cohort_day"))
    userDays.join(cohorts, userCol)
      .groupBy(col("cohort_day"),
        datediff(col("__day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Daily event-count anomaly scores per type: trailing-window z-score
    * of each (type, day) count against the preceding `window` OBSERVED
    * days of that type (row frame — days with zero events don't appear
    * and don't dilute; a silent day shows up as the NEXT day's spike).
    * z is null until a full window accrues or when the window is flat
    * (σ = 0). Both mean and σ round to 6dp BEFORE the z division, so
    * the z itself divides identical inputs in any engine (the
    * vol-target stance). One agg + one window per type partition. */
  def countAnomalies(
      events: DataFrame,
      window: Int,
      threshold: Double = 2.0,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    if (window < 2) throw new ParameterError(s"window must be >= 2: $window")
    if (threshold <= 0)
      throw new ParameterError(s"threshold must be positive: $threshold")
    val w = Window.partitionBy(col(typeCol)).orderBy(col("day"))
      .rowsBetween(-(window - 1), Window.currentRow)
    events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__full", count(col("cnt")).over(w) === window)
      .withColumn("mean", round(avg(col("cnt")).over(w), 6))
      .withColumn("std", round(stddev_samp(col("cnt")).over(w), 6))
      .withColumn("z",
        when(col("__full") && col("std") > 0,
          round((col("cnt") - col("mean")) / col("std"), 6)))
      .withColumn("anomaly",
        coalesce(abs(col("z")) >= threshold, lit(false)))
      .drop("__full")
  }

  /** Top-K consecutive event-type transitions (the path/Markov view):
    * per user in (ts, eventId) order, count (type → next type) bigrams
    * corpus-wide. Deterministic top-K: (count DESC, from, to) via
    * TakeOrderedAndProject. */
  def transitions(
      events: DataFrame,
      topK: Int,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      eventIdCol: String = "event_id"): DataFrame = {
    if (topK <= 0) throw new ParameterError(s"topK must be positive: $topK")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(eventIdCol))
    events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .where(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("from_type"), col("to_type"))
      .limit(topK)
  }

  /** Conversion-lag distribution: seconds from each user's FIRST
    * `fromType` event to their FIRST `toType` event (users converting
    * before ever touching `fromType`, or never converting, are
    * excluded), summarized as exact interpolated percentiles — the
    * "how long does view→purchase take" funnel-latency view. ONE hash
    * aggregation per user (two conditional mins — the funnel shape) +
    * one bounded percentile pass over the per-user lags; lags are
    * exact integer microseconds ÷ 1e6, and `percentile` interpolation
    * is the same formula in Spark and DuckDB (the winsorize lesson),
    * rounded to 6dp. */
  def conversionLag(
      events: DataFrame,
      fromType: String,
      toType: String,
      percentiles: Seq[Double] = Seq(0.25, 0.5, 0.9),
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0, 1]: ${percentiles.mkString(", ")}")
    val lag = events
      .groupBy(col(userCol))
      .agg(
        min(when(col(typeCol) === fromType, micros(col(tsCol)))).as("__f"),
        min(when(col(typeCol) === toType, micros(col(tsCol)))).as("__t"))
      .where(col("__f").isNotNull && col("__t").isNotNull && col("__t") >= col("__f"))
      .select(((col("__t") - col("__f")) / 1e6).as("__lag"))
    val aggs = count(lit(1)).as("n_users") +:
      percentiles.map(p =>
        round(percentile(col("__lag"), lit(p)), 6)
          .as(s"p${(p * 100).round}"))
    lag.agg(aggs.head, aggs.tail: _*)
  }

  /** EV22: time-windowed conversion rate — of users who first did
    * `fromType`, what fraction did `toType` within `windowSeconds` OF
    * that first touch: the SLA-bounded funnel metric ("converted
    * within the hour") that [[conversionLag]]'s unconstrained lag and
    * [[funnel]]'s any-time reach both miss. The windowed test uses the
    * first `toType` AT OR AFTER the first touch (exact integer µs) — a
    * pre-touch conversion neither counts nor masks a later in-window
    * one, which is why the conditional min must be computed AGAINST
    * the first-touch time, not globally: first-touch via an
    * unordered per-user window, then one per-user aggregation. Both
    * steps hash-partition on the user key, so Catalyst plans ONE
    * exchange. Output one row (n_touched, n_converted, rate 6dp).
    */
  def windowedConversion(
      events: DataFrame,
      fromType: String,
      toType: String,
      windowSeconds: Long,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    if (windowSeconds <= 0)
      throw new ParameterError(s"windowSeconds must be positive: $windowSeconds")
    val m = micros(col(tsCol))
    val w = Window.partitionBy(col(userCol))
    events
      .withColumn("__f", min(when(col(typeCol) === fromType, m)).over(w))
      .where(col("__f").isNotNull)
      .groupBy(col(userCol))
      .agg(
        first(col("__f")).as("__fu"),
        min(when(col(typeCol) === toType && m >= col("__f"), m)).as("__t"))
      .agg(
        count(lit(1)).as("n_touched"),
        sum(when(col("__t").isNotNull &&
          col("__t") - col("__fu") <= windowSeconds * 1000000L, 1L)
          .otherwise(0L)).as("n_converted"))
      .withColumn("rate",
        round(col("n_converted").cast("double") / col("n_touched"), 6))
  }

  /** First-/last-touch attribution: for every `conversionType` event,
    * the FIRST and the most recent `touchTypes` event at or before it
    * in the user's (ts, event_id)-ordered stream, plus seconds since
    * the last touch. The marketing-analytics staple (which campaign
    * click gets credit for the purchase), and the event-stream form of
    * the as-of join — expressed as first/last-ignore-nulls over ONE
    * cumulative frame per user: one shuffle on the user key, no
    * self-joins, no per-conversion scans. Conversions with no prior
    * touch keep null touch columns (pandas merge_asof stance, not a
    * dropped row). Ties at the same timestamp resolve by event_id (the
    * stream's total order). */
  def attribution(
      events: DataFrame,
      touchTypes: Seq[String],
      conversionType: String): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isTouch = col("event_type").isin(touchTypes: _*)
    def touch(c: Column) = when(isTouch, c)
    events
      .withColumn("__fid", first(touch(col("event_id")), ignoreNulls = true).over(w))
      .withColumn("__fty", first(touch(col("event_type")), ignoreNulls = true).over(w))
      .withColumn("__lid", last(touch(col("event_id")), ignoreNulls = true).over(w))
      .withColumn("__lty", last(touch(col("event_type")), ignoreNulls = true).over(w))
      .withColumn("__lts", last(touch(col("ts")), ignoreNulls = true).over(w))
      .where(col("event_type") === conversionType)
      .select(
        col("user_id"),
        col("event_id").as("conversion_id"),
        col("__fid").as("first_touch_id"),
        col("__fty").as("first_touch_type"),
        col("__lid").as("last_touch_id"),
        col("__lty").as("last_touch_type"),
        // exact integer µs difference; one division per row
        ((unix_micros(col("ts").cast("timestamp")) -
          unix_micros(col("__lts").cast("timestamp"))) / 1e6)
          .as("sec_since_touch"))
  }

  /** EV15: inter-event burstiness (Goh & Barabási 2008): per user,
    * B = (σ − μ)/(σ + μ) over inter-arrival times — B → −1 periodic
    * (a cron job), ≈ 0 Poisson (organic), → +1 bursty (a human; also
    * a scraper between sleeps). The per-user moments use exact
    * integer-microsecond gaps with decimal sums (raw-moment algebra),
    * B rounds to 6dp per user, and the corpus roll-up re-quantizes
    * the rounded Bs to micro ints (the icSummary stance) with
    * integer-quotient means. Users with fewer than `minGaps`
    * inter-arrivals are excluded (one gap always yields σ = 0 →
    * B = −1, which would just count users with two events). One
    * window pass + two hash aggs. Output one row
    * (n_users, mean_burstiness, frac_bursty). */
  def burstiness(
      events: DataFrame,
      minGaps: Int = 2,
      userCol: String = "user_id",
      tsCol: String = "ts",
      eventIdCol: String = "event_id"): DataFrame = {
    if (minGaps < 1) throw new ParameterError(s"minGaps must be >= 1: $minGaps")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(eventIdCol))
    val gaps = events
      .withColumn("__m", micros(col(tsCol)))
      .withColumn("__g", col("__m") - lag(col("__m"), 1).over(w))
      .where(col("__g").isNotNull)
    val perUser = gaps
      .groupBy(col(userCol))
      .agg(
        count(lit(1)).as("__n"),
        decSum(col("__g")).as("__s"),
        sum((col("__g").cast(Dec) * col("__g").cast(Dec))).as("__ss"))
      .where(col("__n") >= minGaps)
      .withColumn("__mu", col("__s").cast("double") / col("__n"))
      .withColumn("__sg",
        sqrt(greatest(col("__ss").cast("double") / col("__n") -
          col("__mu") * col("__mu"), lit(0.0))))
      .withColumn("__b",
        round(when(col("__sg") + col("__mu") > 0,
          (col("__sg") - col("__mu")) / (col("__sg") + col("__mu"))), 6))
      .where(col("__b").isNotNull)
    perUser
      .agg(
        count(lit(1)).as("n_users"),
        sum(Micro.long(col("__b"))).as("__bs"),
        sum(when(col("__b") > 0, 1L).otherwise(0L)).as("__pos"))
      .select(
        col("n_users"),
        (Micro.mean(col("__bs"), col("n_users")) + 0.0)
          .as("mean_burstiness"),
        (Micro.ratio(col("__pos"), col("n_users")) / Micro.factor)
          .as("frac_bursty"))
  }

  /** EV14: Markov removal-effect attribution (Anderl et al. 2014 —
    * the published multi-touch model that replaced last-click): build
    * the first-order chain over journey touchpoints, measure the
    * K-step conversion probability from START, then for each channel
    * REDIRECT every transition into it to the loss state and measure
    * again — the channel's credit is how much conversion probability
    * disappears without it, normalized across channels.
    *
    * Journeys: per user in (ts, event_id) order, truncated after the
    * FIRST conversion; a journey without one ends in NULL (loss).
    * Transition counts are exact integers over the BOUNDED state space
    * (|touchTypes| + 3), so every downstream frame is dimension-sized:
    * the K power steps are tiny joins with masses kept as pico longs
    * (each step rounds mass·(cnt/out) — the PageRank discipline), and
    * the per-scenario conversion masses are bounded driver scalars
    * (the requireFresh cost class). `steps` bounds path length
    * explicitly (paths longer than K earn no credit — documented,
    * not silent). Output one row per channel:
    * (channel, base_p, removed_p, removal_effect, share). */
  def markovAttribution(
      events: DataFrame,
      touchTypes: Seq[String],
      conversionType: String,
      steps: Int = 6,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      eventIdCol: String = "event_id"): DataFrame = {
    if (touchTypes.isEmpty)
      throw new ParameterError("touchTypes must be non-empty")
    if (touchTypes.contains(conversionType))
      throw new ParameterError(
        s"conversionType $conversionType cannot also be a touch type")
    if (steps < 1) throw new ParameterError(s"steps must be >= 1: $steps")
    val spark = events.sparkSession
    import spark.implicits._

    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(eventIdCol))
    val journey = events
      .where(col(typeCol).isin((touchTypes :+ conversionType): _*))
      .withColumn("__isconv",
        (col(typeCol) === conversionType).cast("long"))
      .withColumn("__prevconv", coalesce(
        sum(col("__isconv")).over(w.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .where(col("__prevconv") === 0)
    val wj = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(eventIdCol))
    val steps0 = journey
      .withColumn("__from", coalesce(lag(col(typeCol), 1).over(wj), lit("START")))
      .withColumn("__to", col(typeCol))
      .withColumn("__last", lead(col(typeCol), 1).over(wj).isNull)
    val edgesRaw = steps0.select(col("__from"), col("__to"))
      .unionByName(steps0
        .where(col("__last") && col("__to") =!= conversionType)
        .select(col("__to").as("__from"), lit("NULL").as("__to")))
    // mapped to absorbing names once: conversion → CONV
    val edges = edgesRaw
      .withColumn("__to",
        when(col("__to") === conversionType, "CONV").otherwise(col("__to")))
      .groupBy(col("__from"), col("__to"))
      .agg(count(lit(1)).as("__cnt"))
      .checkpointed(eager = false) // bounded; reused per scenario
    val totals = edges.groupBy(col("__from"))
      .agg(sum(col("__cnt")).as("__out"))

    // ALL scenarios (base + one per removed channel) iterate in ONE
    // tagged frame: the per-scenario chains are independent and
    // identically sized, so batching turns (|channels|+1) × steps job
    // chains into `steps` joins over a (scenario × states)-bounded
    // frame — 4× fewer jobs on the bench query, bit-identical masses
    // (each (scenario, state) row sees exactly the arithmetic the
    // per-scenario loop ran).
    if (touchTypes.contains("__BASE__"))
      throw new ParameterError("channel name __BASE__ is reserved")
    val scens = ("__BASE__" +: touchTypes).toDF("__scen")
    val probs = edges.crossJoin(broadcast(scens))
      .withColumn("__to",
        when(col("__to") === col("__scen"), "NULL").otherwise(col("__to")))
      .groupBy(col("__scen"), col("__from"), col("__to"))
      .agg(sum(col("__cnt")).as("__cnt"))
      // redirect preserves out-degree, so totals are scenario-free
      .join(totals, "__from")
      .withColumnRenamed("__from", "__state")
      .checkpointed(eager = false)
    var v = scens.select(col("__scen"), lit("START").as("__state"),
      lit(Pico.unit).as("__mass"))
    for (_ <- 1 to steps) {
      val absorbed = v.where(col("__state").isin("CONV", "NULL"))
      val flowed = v.join(probs, Seq("__scen", "__state"))
        .select(col("__scen"), col("__to").as("__state"),
          round(col("__mass").cast("double") *
            (col("__cnt").cast("double") / col("__out").cast("double")))
            .cast("long").as("__mass"))
      v = absorbed.unionByName(flowed)
        .groupBy(col("__scen"), col("__state"))
        .agg(sum(col("__mass")).as("__mass"))
        .checkpointed(eager = false) // truncate the growing lineage
    }
    val masses = v.where(col("__state") === "CONV")
      .select(col("__scen"), col("__mass"))
      .collect() // bounded: ≤ |channels| + 1 rows
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = masses.getOrElse("__BASE__", 0L)
    val removedMasses = touchTypes.map(c => c -> masses.getOrElse(c, 0L))
    // integer half-up rounding throughout — math.rint is half-EVEN and
    // SQL round half-up, so a .5 boundary would hash-split the engines;
    // per-step rounding can leave a picos-scale negative effect → clamp
    val effects = removedMasses.map { case (c, m) =>
      (c, m, math.max(base - m, 0L))
    }
    val totalEff = effects.map(_._3).sum
    effects.map { case (c, m, e) =>
      val effect = ((e + 500000L) / Micro.unit) / Micro.factor
      val share =
        if (totalEff > 0)
          ((2L * e * Micro.unit + totalEff) / (2L * totalEff)) / Micro.factor
        else 0.0
      (c, base / Pico.factor, m / Pico.factor, effect, share)
    }.toDF("channel", "base_p", "removed_p", "removal_effect", "share")
  }

  /** Cohort LTV curves: cumulative revenue per user by cohort age —
    * "what is a week-N signup worth by day d", the payback-period
    * table. Users cohort by FIRST-activity week; every revenue event
    * books at its age in days since that first day; ages accumulate
    * per cohort and divide by the FULL cohort size (users who never
    * pay still dilute — that's the point of per-user LTV). Revenue
    * sums as exact integer cents, the cumulative pass is a window per
    * cohort over the bounded (cohort, age) frame, and the final
    * division rounds the integer quotient (micro per user). Output
    * (cohort, age_days, n_users, n_payers, cum_value_per_user). */
  def cohortLtv(
      events: DataFrame,
      revenueType: String = "purchase",
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      valueCol: String = "value"): DataFrame = {
    val day = to_date(col(tsCol).cast("timestamp"))
    val firsts = events
      .groupBy(col(userCol))
      .agg(min(day).as("__f"))
      .withColumn("__cohort", date_trunc("week", col("__f")).cast("date"))
      .checkpointed(eager = false) // feeds sizes AND the revenue join
    val sizes = firsts.groupBy(col("__cohort"))
      .agg(count(lit(1)).as("n_users"))
    val rev = events
      .where(col(typeCol) === revenueType && col(valueCol).isNotNull)
      .select(col(userCol), day.as("__d"),
        round(col(valueCol) * 100).cast("long").as("__cents"))
      .join(firsts, Seq(userCol))
      .groupBy(col("__cohort"), datediff(col("__d"), col("__f")).cast("long")
        .as("age_days"))
      .agg(sum(col("__cents")).as("__c"))
    val w = Window.partitionBy(col("__cohort")).orderBy(col("age_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("__cum", sum(col("__c")).over(w))
      .join(broadcast(sizes), Seq("__cohort"))
      .select(
        col("__cohort").as("cohort"),
        col("age_days"),
        col("n_users"),
        (Basis.ratio(col("__cum"), col("n_users")) / Micro.factor)
          .as("cum_value_per_user"))
  }

  /** Kaplan–Meier survival curve over user lifetimes: S(t) =
    * Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ), the right-censoring-correct "how long do
    * users stay" estimator (naive mean lifetime is biased low because
    * users still active at the corpus edge haven't finished living).
    * A user's lifetime is last-activity − first-activity in days; the
    * user is an EVENT (churned) if their last activity is at least
    * `censorDays` before the corpus's last day, CENSORED otherwise
    * (they count in the risk sets they reach but never as a death).
    *
    * Exactness: risk and event counts are exact integers (one
    * per-user agg, one per-duration agg, a reverse-cumulative count
    * over the bounded duration frame); each step's ln(1 − d/n) is
    * computed on identical integer-ratio doubles in any engine,
    * micro-nat-quantized, and cumulatively summed (the monthlyReturns
    * product pattern) — a d = n step pins S at 0 from there on
    * instead of ln(0). Curve rows only at event times (standard KM).
    * Output (t, n_risk, n_events, survival), 6dp. */
  def kaplanMeier(
      events: DataFrame,
      censorDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    if (censorDays < 1)
      throw new ParameterError(s"censorDays must be >= 1: $censorDays")
    val day = to_date(col(tsCol).cast("timestamp"))
    val perUser = events
      .groupBy(col(userCol))
      .agg(min(day).as("__f"), max(day).as("__l"))
      .checkpointed(eager = false) // feeds the max-day agg AND the curve
    val maxD = perUser.agg(max(col("__l")).as("__mx"))
    val obs = perUser
      .crossJoin(broadcast(maxD))
      .select(
        datediff(col("__l"), col("__f")).cast("long").as("__dur"),
        when(datediff(col("__mx"), col("__l")) >= censorDays, 1L)
          .otherwise(0L).as("__ev"))
    val wDesc = Window.orderBy(col("__dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("__dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs
      .groupBy(col("__dur"))
      .agg(count(lit(1)).as("__c"), sum(col("__ev")).as("__d"))
      .withColumn("__n", sum(col("__c")).over(wDesc))
      .where(col("__d") > 0)
      .withColumn("__lnm",
        when(col("__d") < col("__n"),
          Pico.long(log((col("__n") - col("__d")).cast("double") /
            col("__n")))))
      .withColumn("__gone",
        sum(when(col("__d") === col("__n"), 1L).otherwise(0L)).over(wAsc))
      .select(
        col("__dur").as("t"),
        col("__n").as("n_risk"),
        col("__d").as("n_events"),
        round(when(col("__gone") > 0, 0.0).otherwise(
          exp(Pico.back(sum(col("__lnm")).over(wAsc)))), 6)
          .as("survival"))
  }

  /** Nelson–Aalen cumulative hazard H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over the same
    * lifetime/censoring model as [[kaplanMeier]] (shared risk-set
    * derivation: one per-user agg, one per-duration agg, a
    * reverse-cumulative risk count over the bounded duration frame).
    *
    * Exactness: each increment dᵢ/nᵢ is one IEEE division of exact
    * integers, micro-nat-quantized at 1e12 and cumulatively summed —
    * the kaplanMeier ln-term discipline, so both engines agree
    * bit-for-bit. `fh_survival` = exp(−H) is the Fleming–Harrington
    * survival estimator, derived from the SAME quantized sum (KM ≤ FH
    * pointwise; the gap is a model-risk diagnostic). Curve rows only at
    * event times; output 6dp. Scale: everything after the per-user agg
    * lives on the duration frame, bounded by the corpus date span. */
  def nelsonAalen(
      events: DataFrame,
      censorDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    if (censorDays < 1)
      throw new ParameterError(s"censorDays must be >= 1: $censorDays")
    val day = to_date(col(tsCol).cast("timestamp"))
    val perUser = events
      .groupBy(col(userCol))
      .agg(min(day).as("__f"), max(day).as("__l"))
      .checkpointed(eager = false) // feeds the max-day agg AND the curve
    val maxD = perUser.agg(max(col("__l")).as("__mx"))
    val obs = perUser
      .crossJoin(broadcast(maxD))
      .select(
        datediff(col("__l"), col("__f")).cast("long").as("__dur"),
        when(datediff(col("__mx"), col("__l")) >= censorDays, 1L)
          .otherwise(0L).as("__ev"))
    val wDesc = Window.orderBy(col("__dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("__dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs
      .groupBy(col("__dur"))
      .agg(count(lit(1)).as("__c"), sum(col("__ev")).as("__d"))
      .withColumn("__n", sum(col("__c")).over(wDesc))
      .where(col("__d") > 0)
      .withColumn("__hq",
        Pico.long(col("__d").cast("double") / col("__n")))
      .withColumn("__cum", sum(col("__hq")).over(wAsc))
      .select(
        col("__dur").as("t"),
        col("__n").as("n_risk"),
        col("__d").as("n_events"),
        round(Pico.back(col("__cum")), 6).as("cum_hazard"),
        round(exp(-col("__cum").cast("double") / Pico.factor), 6).as("fh_survival"))
  }

  /** Two-proportion A/B conversion test with DETERMINISTIC hash
    * assignment ([[graft.text.Sampling.hashUnit]] — the same md5 split
    * in any engine, retry/resize-proof): users below 0.5 are arm A,
    * conversion = any `conversionType` event. Outputs per-arm exact
    * counts, rates (integer-quotient rounding), and the pooled
    * two-proportion z statistic — the number a launch review reads;
    * |z| > 1.96 ≈ 95% two-sided. The z is one algebraic expression of
    * exact integer ratios (identical IEEE in any engine, 6dp); null
    * when an arm is empty or the pooled rate is degenerate (0 or 1 —
    * no variance). One groupBy(user) agg + ONE scalar row. */
  def abTest(
      events: DataFrame,
      conversionType: String,
      seed: String = "ab",
      userCol: String = "user_id",
      typeCol: String = "event_type"): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(max(when(col(typeCol) === conversionType, 1L).otherwise(0L))
        .as("__c"))
      .withColumn("__a",
        graft.text.Sampling.hashUnit(col(userCol), seed) < 0.5)
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val pa = col("conv_a").cast("double") / na
    val pb = col("conv_b").cast("double") / nb
    val pool = (col("conv_a") + col("conv_b")).cast("double") / (na + nb)
    perUser
      .agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__a"), col("__c")).otherwise(0L)).as("conv_a"),
        sum(when(!col("__a"), col("__c")).otherwise(0L)).as("conv_b"))
      .select(
        col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        (Micro.ratio(col("conv_a"), col("n_a")) / Micro.factor)
          .as("rate_a"),
        (Micro.ratio(col("conv_b"), col("n_b")) / Micro.factor)
          .as("rate_b"),
        (round(when(col("n_a") > 0 && col("n_b") > 0 &&
          pool > 0 && pool < 1,
          (pa - pb) / sqrt(pool * (lit(1.0) - pool) * (lit(1.0) / na + lit(1.0) / nb))),
          6) + 0.0).as("z_score"))
  }

  /** Qini uplift curve (Radcliffe 2007) — the causal companion to
    * [[abTest]]: rank users by a targeting score, and per score decile
    * report the CUMULATIVE incremental conversions the treatment bought
    * over the control baseline, control-scaled:
    * Qini(k) = cumConvT(k) − cumConvC(k) · cumNT(k)/cumNC(k).
    * A model that targets persuadables first climbs steeply then
    * flattens; random targeting is a straight line to the same endpoint.
    *
    * Treatment arms come from the deterministic md5 split
    * ([[graft.text.Sampling.hashUnit]], ≥ 0.5 = treated); the score
    * here is the user's total event value (a stand-in for a model
    * score — callers pass their own). Deciles are rank-proportional
    * via the two-level descending bucket rank (the r8 woeIv/PrefixSum
    * decomposition — near-continuous score cents make a distinct-value
    * histogram table-sized; no global ntile, no histogram join). Counts are exact integers; each Qini value is
    * one fixed IEEE expression over cumulative integer counts, 6dp,
    * null while the control cumulative is empty. */
  def qiniCurve(
      events: DataFrame,
      conversionType: String,
      seed: String = "uplift",
      deciles: Int = 10,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      valueCol: String = "value"): DataFrame = {
    if (deciles < 2)
      throw new ParameterError(s"deciles must be >= 2: $deciles")
    val perUser = events
      .groupBy(col(userCol))
      .agg(
        max(when(col(typeCol) === conversionType, 1L).otherwise(0L)).as("__c"),
        sum(round(col(valueCol) * 100).cast("long")).as("__s"))
      .withColumn("__t",
        graft.text.Sampling.hashUnit(col(userCol), seed) >= 0.5)
      .checkpointed(eager = false) // feeds histogram + rank join
    // two-level DESCENDING rank (r8 — the woeIv/PrefixSum shape): spend
    // cents are near-continuous, so the old distinct-score histogram
    // window + table-sized join was a single-task scan at scale. Rows
    // bucket by a fixed width; row_number runs per bucket ordered
    // (score desc, user); descending bucket-count offsets (the only
    // unpartitioned window, over occupied buckets — range-bounded)
    // shift local numbers to global ranks.
    val bucketed = perUser.withColumn("__bk",
      floor(Micro.back(col("__s"))).cast("long"))
    val offsets = bucketed.groupBy(col("__bk"))
      .agg(count(lit(1)).as("__bc"))
      .select(col("__bk"),
        coalesce(sum(col("__bc")).over(
          Window.orderBy(col("__bk").desc)
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("__off"))
    val n = perUser.agg(count(lit(1)).as("__N"))
    val wb = Window.partitionBy("__bk")
      .orderBy(col("__s").desc, col(userCol))
    val byDecile = bucketed
      .withColumn("__rin", row_number().over(wb).cast("long"))
      .join(broadcast(offsets), Seq("__bk")) // range-bounded bucket frame
      .crossJoin(broadcast(n)) // one scalar row — bounded by design
      .withColumn("__rank", col("__off") + col("__rin"))
      .withColumn("decile",
        call_function("div", (col("__rank") - 1L) * deciles, col("__N")) + 1L)
      .groupBy(col("decile"))
      .agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("n_treated"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("n_control"),
        sum(when(col("__t"), col("__c")).otherwise(0L)).as("conv_treated"),
        sum(when(!col("__t"), col("__c")).otherwise(0L)).as("conv_control"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0) // ≤ deciles rows — bounded
    byDecile
      .withColumn("__cnt", sum(col("n_treated")).over(wCum))
      .withColumn("__cnc", sum(col("n_control")).over(wCum))
      .withColumn("__cct", sum(col("conv_treated")).over(wCum))
      .withColumn("__ccc", sum(col("conv_control")).over(wCum))
      .select(
        col("decile"), col("n_treated"), col("n_control"),
        col("conv_treated"), col("conv_control"),
        round(when(col("__cnc") > 0,
          col("__cct").cast("double") - col("__ccc").cast("double") *
            (col("__cnt").cast("double") / col("__cnc"))), 6).as("qini"))
  }

  /** CEP-lite pattern screen (the MATCH_RECOGNIZE / ClickHouse
    * sequenceMatch shape): each user's ordered event history collapses
    * to ONE journey string (one character per event), and behavioral
    * patterns are plain regexes over it — "viewed then clicked then
    * bought" is `v.*c.*p`, "two errors in a row" is `ee`. All patterns
    * evaluate in ONE aggregate pass over the bounded journey frame
    * (sum-per-pattern + a codegen `stack` reshape — the Quality.expect
    * discipline), so adding a pattern costs a column, not a scan.
    *
    * The journey builds from `sort_array(collect_list(struct(ts, id,
    * char)))` — the struct order IS the event order, so the string is
    * deterministic under any partitioning. Journey length is a user's
    * event count; for power users at corpus scale, cap upstream (or
    * pattern-match per session via sessionize) — the regex cost is
    * linear in journey length. `charOf` maps an event type to its
    * single journey character and must be injective over observed
    * types (the initial letter here; pass a custom mapping when types
    * collide). */
  def cepPatterns(
      events: DataFrame,
      patterns: Seq[(String, String)],
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      eventIdCol: String = "event_id"): DataFrame = {
    if (patterns.isEmpty) throw new ParameterError("no patterns")
    if (patterns.map(_._1).distinct.size != patterns.size)
      throw new ParameterError("duplicate pattern names")
    val journeys = events
      .select(col(userCol).as("__u"),
        struct(col(tsCol).as("t"), col(eventIdCol).as("e"),
          substring(col(typeCol), 1, 1).as("c")).as("__s"))
      .groupBy(col("__u"))
      .agg(array_join(
        transform(sort_array(collect_list(col("__s"))), s => s.getField("c")),
        "").as("__j"))
    val aggs = count(lit(1)).as("__n") +: patterns.map { case (name, re) =>
      sum(when(col("__j").rlike(re), 1L).otherwise(0L)).as(s"__m_$name")
    }
    val row = journeys.agg(aggs.head, aggs.tail: _*)
    val stackArgs = patterns
      .map { case (name, _) => s"'$name', `__m_$name`" }.mkString(", ")
    row
      .selectExpr("__n",
        s"stack(${patterns.length}, $stackArgs) as (pattern, n_matched)")
      .select(col("pattern"), col("__n").as("n_users"), col("n_matched"),
        round(col("n_matched").cast("double") / col("__n"), 6)
          .as("match_rate"))
  }

  /** Daily + trailing-`window`-day active users (DAU/WAU/MAU family)
    * WITHOUT a count-distinct-over-window: each user's deduped activity
    * days become disjoint coverage intervals — day aᵢ covers
    * [aᵢ, min(aᵢ + window − 1, aᵢ₊₁ − 1, last observed day)] — so after
    * the interval explode every user contributes AT MOST ONE row per
    * covered day and the rolling-distinct count is a plain exact
    * count(*). A windowed `approx_count_distinct` would be inexact and
    * a per-day distinct self-join quadratic; this is the interval-sweep
    * restatement.
    *
    * Scale shape: one distinct shuffle to user-days, one lead window on
    * the user partition, an explode bounded by window × |user-days|
    * rows worst case (each ≤ `window` days, far less on dense
    * activity), one final date aggregation. Days beyond the last
    * observed day are clipped (the series ends with the data, not
    * `window` days of phantom decay). Output
    * (date, dau, active_<window>), dates with an in-window active user
    * only. */
  def activeUsers(
      events: DataFrame,
      window: Int = 28,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    if (window < 1) throw new ParameterError(s"window must be >= 1: $window")
    val days = events
      .select(col(userCol).as("__u"),
        to_date(col(tsCol).cast("timestamp")).as("__d"))
      .distinct()
      .checkpointed(eager = false) // feeds the max-date agg AND the sweep
    val maxD = days.agg(max(col("__d")).as("__mx"))
    val w = Window.partitionBy(col("__u")).orderBy(col("__d"))
    days
      .withColumn("__next", lead(col("__d"), 1).over(w))
      .crossJoin(broadcast(maxD))
      .withColumn("__end",
        least(
          coalesce(date_sub(col("__next"), 1), col("__mx")),
          date_add(col("__d"), window - 1),
          col("__mx")))
      .select(col("__d"),
        explode(sequence(col("__d"), col("__end"))).as("date"))
      .groupBy(col("date"))
      .agg(
        sum(when(col("date") === col("__d"), 1L).otherwise(0L)).as("dau"),
        count(lit(1)).as(s"active_$window"))
  }

  /** EV20: pooled retention-decay fit — exponential λ and half-life of
    * the retention curve R(d) = retained(d) / capable(d), with the
    * right-censoring correction a naive pooled curve gets wrong: a
    * cohort only enters offset d's DENOMINATOR if the observation
    * window reaches that far (cohort_day + d ≤ max observed day), so
    * young cohorts don't drag the tail down. Fit: no-surprises OLS of
    * ln R(d) on d over d = 1..maxOffset (R > 0), with nano-quantized
    * log points and decimal sums (the hurst discipline) — both frames
    * in the fit are offset-bounded (≤ maxOffset rows), cohort sizes are
    * day-bounded, and the only data-volume work is retentionCohorts'
    * own distinct + aggregation. Output one row
    * (n_points, lambda, half_life_days). */
  def retentionDecay(
      events: DataFrame,
      maxOffset: Int = 30,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    if (maxOffset < 2)
      throw new ParameterError(s"maxOffset must be >= 2: $maxOffset")
    val rc = retentionCohorts(events, userCol, tsCol)
      .checkpointed(eager = false) // feeds sizes, maxday, and actives
    val sizes = rc.where(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_users").as("__size"))
    val maxDay = rc.agg(max(
      date_add(col("cohort_day"), col("day_offset").cast("int"))).as("__mx"))
    val offsets = rc.sparkSession.range(1, maxOffset + 1)
      .select(col("id").as("day_offset"))
    val denom = sizes.crossJoin(broadcast(maxDay))
      .crossJoin(broadcast(offsets))
      .where(datediff(col("__mx"), col("cohort_day")) >= col("day_offset"))
      .groupBy(col("day_offset"))
      .agg(sum(col("__size")).as("__cap"))
    val act = rc
      .where(col("day_offset").between(1, maxOffset))
      .groupBy(col("day_offset"))
      .agg(sum(col("n_users")).as("__act"))
    val pts = denom.join(act, Seq("day_offset"), "left")
      .where(col("__cap") > 0 && coalesce(col("__act"), lit(0L)) > 0)
      .select(col("day_offset").as("__x"),
        Nano.long(log(col("__act").cast("double") / col("__cap").cast("double"))).as("__y"))
    pts
      .agg(
        count(lit(1)).as("n_points"),
        sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum((col("__x").cast(Dec) * col("__x").cast(Dec))).as("__sxx"),
        sum((col("__x").cast(Dec) * col("__y").cast(Dec))).as("__sxy"))
      .select(Seq(col("n_points")) ++ {
        val nd = col("n_points").cast(Dec)
        val det = nd * col("__sxx") - col("__sx").cast(Dec) * col("__sx").cast(Dec)
        val slope = when(col("n_points") >= 2 && det =!= 0,
          (nd * col("__sxy") - col("__sx").cast(Dec) * col("__sy").cast(Dec))
            .cast("double") / det.cast("double") / Nano.factor)
        val lambda = -slope
        Seq(
          (round(lambda, 6) + 0.0).as("lambda"),
          (round(when(lambda > 0, lit(math.log(2.0)) / lambda), 6) + 0.0)
            .as("half_life_days"))
      }: _*)
  }

  /** EV18: new-vs-returning DAU split — each active day of a user is
    * "new" on their first-ever day and "returning" after, the growth
    * decomposition behind every DAU chart. One distinct on
    * (user, day), one per-user min window (unordered — no sort), one
    * date aggregation. Output (date, new_users, returning_users,
    * dau). */
  def newVsReturning(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val days = events
      .select(col(userCol).as("__u"),
        to_date(col(tsCol).cast("timestamp")).as("date"))
      .distinct()
    days
      .withColumn("__first",
        min(col("date")).over(Window.partitionBy(col("__u"))))
      .groupBy(col("date"))
      .agg(
        sum(when(col("date") === col("__first"), 1L).otherwise(0L))
          .as("new_users"),
        sum(when(col("date") =!= col("__first"), 1L).otherwise(0L))
          .as("returning_users"))
      .withColumn("dau", col("new_users") + col("returning_users"))
  }

  /** EV21: within-session event-type co-occurrence lift — which
    * behaviors travel together in ONE visit (view∧purchase vs
    * view∧support_ticket), the association strength behind next-action
    * models: lift(a,b) = P(a∧b)/(P(a)·P(b)) over sessions. Sessions
    * come from [[sessionize]]; each session's distinct type set is
    * BOUNDED by the type alphabet, so pairs explode inside the
    * collected set (the tx28 shape — co-occurrence mass drives cost,
    * never sessions²). Per-type session counts are a bounded broadcast.
    * Output (type_a, type_b, n_sessions, lift 6dp) for a < b. */
  def sessionCooccurrence(
      events: DataFrame,
      gapSeconds: Long = 1800,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      eventIdCol: String = "event_id",
      maxTypes: Int = 1000): DataFrame = {
    // LOUD low-cardinality contract (the sourceOverlapMatrix stance):
    // a per-event unique column passed as the type would make each
    // session's collected set session-sized. Bounded driver scalar.
    val nTypes = events.select(col(typeCol)).distinct().count()
    if (nTypes > maxTypes)
      throw new ParameterError(
        s"sessionCooccurrence needs a low-cardinality type column: " +
          s"$nTypes distinct values exceed maxTypes=$maxTypes")
    val st = sessionize(events, gapSeconds, userCol, tsCol, eventIdCol)
      .select(col(userCol).as("__u"), col("session_idx").as("__sx"),
        col(typeCol).as("__t"))
      .distinct()
      .checkpointed(eager = false) // totals + per-type + pairs
    val nSess = st.select(col("__u"), col("__sx")).distinct().count() // bounded scalar
    val perType = st.groupBy(col("__t")).agg(count(lit(1)).as("__n"))
    val sets = st
      .groupBy(col("__u"), col("__sx"))
      .agg(sort_array(collect_set(col("__t"))).as("__set"))
    val pairs = Buckets.pairs(sets, "__set", "type_a", "type_b")(_ < _)
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_sessions"))
    pairs
      .join(broadcast(perType.select(col("__t").as("type_a"),
        col("__n").as("__na"))), "type_a")
      .join(broadcast(perType.select(col("__t").as("type_b"),
        col("__n").as("__nb"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_sessions"),
        round(col("n_sessions").cast("double") * nSess.toDouble /
          (col("__na").cast("double") * col("__nb").cast("double")), 6)
          .as("lift"))
  }

  /** EV19: weekday × hour activity profile — the load heatmap behind
    * capacity planning and bot forensics (humans have a diurnal
    * shape; scrapers are flat). One hash aggregation on the bounded
    * (7 × 24) grid; dow follows ISO (1 = Monday).
    * Output (dow, hour, n_events, n_users). */
  def hourlyProfile(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame =
    events
      .groupBy(
        dayofweek(col(tsCol).cast("timestamp")).as("__d"), // 1 = Sunday
        hour(col(tsCol).cast("timestamp")).cast("long").as("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col(userCol)).as("n_users"))
      // Spark dayofweek is 1=Sunday; report ISO 1=Monday..7=Sunday
      .select(
        (pmod(col("__d") + 5, lit(7)) + 1).cast("long").as("dow"),
        col("hour"), col("n_events"), col("n_users"))

  /** EV16: Gini coefficient of per-user activity concentration, per
    * event type — the Lorenz-curve summary behind "1% of users generate
    * X% of events" (and, on an LLM interaction log, "these N accounts
    * are the scraper traffic").
    *
    * Computed WITHOUT ranking individual users: per-user counts are
    * integers, so they collapse to a (type, count)→users histogram and
    * the rank-weighted Lorenz sum telescopes per block — a run of `c`
    * users sharing count `n` starting at rank `r` contributes
    * n·(c·r + c·(c−1)/2) regardless of tie order. The only window runs
    * over the HISTOGRAM (bounded by distinct per-user counts, not by
    * users), so no per-type user sort exists anywhere: two hash aggs,
    * one dimension-sized window, exact decimal sums. Gini =
    * 2·W/(N·S) − (N+1)/N over ascending counts.
    * Output (event_type, n_users, total_events, gini). */
  def activityGini(
      events: DataFrame,
      userCol: String = "user_id",
      typeCol: String = "event_type"): DataFrame = {
    val perUser = events
      .groupBy(col(typeCol), col(userCol))
      .agg(count(lit(1)).as("__n"))
    val hist = perUser
      .groupBy(col(typeCol), col("__n"))
      .agg(count(lit(1)).as("__c"))
    val wh = Window.partitionBy(col(typeCol)).orderBy(col("__n"))
    hist
      .withColumn("__r", // starting rank of this count-block (1-based)
        coalesce(sum(col("__c")).over(
          wh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + 1L)
      // triangular tie-term c·(c−1)/2 in exact long DIV (always even;
      // long holds it up to ~3e9 users sharing one count value)
      .withColumn("__half", expr("__c * (__c - 1) DIV 2"))
      .withColumn("__w", // block Lorenz mass: n·Σ_{i=r}^{r+c−1} i
        col("__n").cast(Dec) *
          (col("__c").cast(Dec) * col("__r").cast(Dec) +
            col("__half").cast(Dec)))
      .groupBy(col(typeCol))
      .agg(
        sum(col("__c")).as("n_users"),
        sum(col("__n").cast(Dec) * col("__c").cast(Dec)).as("__s"),
        sum(col("__w")).as("__wsum"))
      .select(
        col(typeCol),
        col("n_users"),
        col("__s").cast("long").as("total_events"),
        (Micro(lit(2.0) * col("__wsum").cast("double") /
            (col("n_users").cast("double") * col("__s").cast("double")) -
            (col("n_users") + 1).cast("double") / col("n_users"))
          / Micro.factor + 0.0).as("gini"))
  }

  /** EV17: RFM segmentation (recency / frequency / monetary quintiles)
    * — the classic lifecycle segmentation, computed with EXACT
    * value-tied quantile bins instead of `ntile`: an unpartitioned
    * ntile over every user is a single-task global sort at scale, so
    * each metric is first quantized to integers (days / counts /
    * cents), collapsed to a value→users histogram, and the bin of a
    * value-block is ceil(5·cum/N) over the histogram's cumulative
    * count — ties share a bin by construction, results are invariant
    * to partitioning, and the only windows run over the histograms
    * (bounded by distinct metric values). Users join their bins back
    * on the metric value (histogram side is value-distinct; broadcast
    * when small). Recency bin 1 = most recent fifth; frequency and
    * monetary bin 5 = heaviest fifth. Monetary sums `valueCol` over
    * `monetaryType` events only (0 for users without any).
    *
    * Recency (days) and frequency (event counts) histograms are
    * dimension-bounded, but MONETARY distinct values (cents of a
    * continuous column) can approach user cardinality — so binning
    * uses the metric quantized to a multiple of `monetaryQuantumCents`,
    * and a histogram past `maxBins` RAISES loudly by default (the
    * sessionCooccurrence stance — the binning contract is the caller's
    * requested quantum, and silently departing from it would diverge
    * from any result pinned against that quantum, e.g. the ev17
    * oracle's raw-cents bins). `autoCoarsen = true` opts in to the
    * scale path instead: probe {10q, …, 10⁸q} with ONE bounded
    * aggregate over the distinct-value frame and take the FINEST
    * candidate whose histogram fits `maxBins` (a continuous monetary
    * column at 100 TB trips the raise on the default q = 1 on its
    * first run), reporting the chosen quantum on stderr and via the
    * `rfm_quantum` observe metric; the loud raise remains for
    * distributions that even the coarsest candidate can't collapse.
    * `monetary_cents` output sums remain EXACT cents — the quantum
    * affects only which users tie into a bin.
    * Output one row per populated (r_bin, f_bin, m_bin) segment:
    * (r_bin, f_bin, m_bin, n_users, monetary_cents). */
  def rfmSegments(
      events: DataFrame,
      monetaryType: String = "purchase",
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      valueCol: String = "value",
      monetaryQuantumCents: Long = 1L,
      maxBins: Long = 100000L,
      autoCoarsen: Boolean = false): DataFrame = {
    if (monetaryQuantumCents <= 0)
      throw new ParameterError(
        s"monetaryQuantumCents must be positive: $monetaryQuantumCents")
    val anchor = events.agg(max(to_date(col(tsCol).cast("timestamp")))
      .as("__anchor"))
    val perUser = events
      .crossJoin(broadcast(anchor))
      .groupBy(col(userCol))
      .agg(
        min(datediff(col("__anchor"), to_date(col(tsCol).cast("timestamp"))))
          .cast("long").as("__rec"),
        count(lit(1)).as("__freq"),
        coalesce(sum(when(col(typeCol) === monetaryType,
          round(col(valueCol) * 100).cast("long")).otherwise(0L)), lit(0L))
          .as("__mon"))
      .checkpointed(eager = false) // feeds three histograms + the join
    // Guard the one non-dimension-bounded histogram. Happy path first:
    // ONE distinct-count at the requested quantum (the same bounded
    // driver scalar the loud-raise design always paid). On a breach the
    // default RAISES (the caller's pinned binning contract); under
    // autoCoarsen probe the remaining candidates {10q, …, 10⁸q} in ONE
    // aggregate over the DISTINCT monetary values (≤ n_users rows; the
    // 8-way Expand is over that bounded frame, never over events) and
    // take the finest quantum that fits maxBins. Exact integer
    // arithmetic throughout — the chosen binning is
    // partitioning-invariant.
    def quantized(q: Long): Column = col("__mon") - pmod(col("__mon"), lit(q))
    val nAtRequested = perUser
      .agg(countDistinct(quantized(monetaryQuantumCents)).as("__n"))
      .head().getLong(0)
    val (quantum, nMonBins) =
      if (nAtRequested <= maxBins) (monetaryQuantumCents, nAtRequested)
      else if (!autoCoarsen)
        throw new ParameterError(
          s"rfmSegments monetary histogram has $nAtRequested distinct " +
            s"quantized values at quantum $monetaryQuantumCents (> maxBins=" +
            s"$maxBins): raise monetaryQuantumCents or maxBins, or pass " +
            "autoCoarsen=true to probe coarser powers-of-10 quanta " +
            "(binning then departs from the requested quantum)")
      else {
        // up-front overflow reject (r12 ADVICE): for quanta above
        // Long.MaxValue/10 the FIRST iterate element already wraps, and
        // a wrap landing positive and under the bound would probe a
        // nonsense quantum — the post-wrap takeWhile can't catch that
        val coarser =
          if (monetaryQuantumCents > Long.MaxValue / 10L) Seq.empty[Long]
          else Iterator.iterate(monetaryQuantumCents * 10L)(_ * 10L)
            .take(8).takeWhile(q => q > 0L && q <= Long.MaxValue / 10L).toSeq
        if (coarser.isEmpty)
          throw new ParameterError(
            s"rfmSegments: monetaryQuantumCents=$monetaryQuantumCents is " +
              "already beyond the powers-of-10 auto-coarsening range " +
              "(coarser candidates overflow Long): raise maxBins instead")
        val probes = coarser.zipWithIndex.map { case (q, i) =>
          countDistinct(quantized(q)).as(s"__n$i") }
        val binCounts = perUser.select(col("__mon")).distinct()
          .agg(probes.head, probes.tail: _*).head()
        coarser.indices
          .map(i => coarser(i) -> binCounts.getLong(i))
          .find(_._2 <= maxBins)
          .getOrElse(throw new ParameterError(
            s"rfmSegments monetary histogram has " +
              s"${binCounts.getLong(coarser.size - 1)} distinct quantized " +
              s"values even at quantum ${coarser.last} (> maxBins=" +
              s"$maxBins): raise monetaryQuantumCents (currently " +
              s"$monetaryQuantumCents) beyond the 10^8 auto-coarsening " +
              "range or raise maxBins"))
      }
    if (quantum != monetaryQuantumCents)
      System.err.println(
        s"[rfmSegments] auto-coarsened monetary quantum " +
          s"$monetaryQuantumCents -> $quantum cents " +
          s"($nMonBins bins <= maxBins=$maxBins)")
    // binning key: quantized monetary (exact cents kept for sums). The
    // chosen quantum is also surfaced as an observe metric (the house
    // observability surface) — the stderr note above is human-facing.
    val binned = perUser.withColumn("__monq",
      (col("__mon") - pmod(col("__mon"), lit(quantum))).cast("long"))
      .observe("rfm_quantum",
        max(lit(quantum)).as("monetary_quantum_cents"),
        max(lit(nMonBins)).as("monetary_bins"))
    // value-tied quintile bin over each metric's integer histogram:
    // bin(v) = ceil(5·cum(v)/N), cum inclusive of v's own block, values
    // ascending — so the largest fifth lands in bin 5 for every metric
    // (for recency "largest" = stalest days, i.e. bin 1 = most recent).
    // The cumulatives ride ONE grouped two-level bucket scan (r9):
    // recency is calendar-bounded and __monq is maxBins-guarded, but
    // __freq is distinct per-user activity COUNTS — heavy-tailed data
    // cardinality, the qn1 class (see graft.panel.PrefixSum) — and
    // melting the three histograms into one (metric, value) frame runs
    // the whole family through a single scan chain instead of three
    // (job-count, not volume, dominates locally).
    val melted = binned
      .select(explode(array(
        struct(lit("__rec").as("m"), col("__rec").as("v")),
        struct(lit("__freq").as("m"), col("__freq").as("v")),
        struct(lit("__monq").as("m"), col("__monq").as("v")))).as("x"))
      .select(col("x.m").as("__metric"), col("x.v").as("__v"))
      .groupBy("__metric", "__v").agg(count(lit(1)).as("__c"))
    val tots = melted.groupBy("__metric").agg(sum(col("__c")).as("__tot"))
    val allBins = graft.panel.PrefixSum.inclusiveAuto(
      melted, "__v", Seq("__cum" -> "__c"), partCols = Seq("__metric"))
      .join(broadcast(tots), "__metric") // ≤ 3 rows — bounded
      .select(col("__metric"), col("__v"),
        (floor((col("__cum") * 5 - 1) / col("__tot")) + 1)
          .cast("long").as("__bin"))
      // EAGER: the three slice joins below broadcast-build
      // CONCURRENTLY — a lazy checkpoint has no materialization lock
      // and they would race and triplicate the scan chain
      .checkpointed(eager = true)
    def bins(metric: String): DataFrame = allBins
      .where(col("__metric") === metric)
      .select(col("__v").as(metric), col("__bin").as(s"${metric}_bin"))
    binned
      .join(broadcast(bins("__rec")), "__rec")
      .join(broadcast(bins("__freq")), "__freq")
      .join(broadcast(bins("__monq")), "__monq")
      .groupBy(
        col("__rec_bin").as("r_bin"),
        col("__freq_bin").as("f_bin"),
        col("__monq_bin").as("m_bin"))
      .agg(count(lit(1)).as("n_users"), sum(col("__mon")).as("monetary_cents"))
  }

  /** Contingency table + χ² independence terms for two categorical
    * event dimensions: per cell, the observed count, the expected count
    * under independence (row·col/total — per-row IEEE division), and
    * the micro-quantized χ² contribution ((O−E)²/E, rounded to 6dp) so
    * the TOTAL χ² is an exact integer sum over the bounded cell table.
    *
    * Scale: one data-volume aggregate to cell counts; the margins are
    * windows over the CELL table (bounded: |dim1|·|dim2| rows), never
    * over events — the unpartitioned total-count window is over that
    * same bounded table, not data. */
  def chiSquare(events: DataFrame, dim1: Column, dim2: Column): DataFrame = {
    val observed = events.groupBy(dim1.as("d1"), dim2.as("d2"))
      .agg(count(lit(1)).as("__o"))
    // complete the grid: a ZERO cell still has E = row·col/total > 0
    // and contributes E to χ² — groupBy alone would silently drop it.
    // Both sides of the crossJoin are dimension-bounded distinct sets.
    val cells = observed.select(col("d1")).distinct()
      .crossJoin(observed.select(col("d2")).distinct())
      .join(observed, Seq("d1", "d2"), "left")
      .withColumn("o", coalesce(col("__o"), lit(0L))).drop("__o")
    val rowT = sum(col("o")).over(Window.partitionBy("d1"))
    val colT = sum(col("o")).over(Window.partitionBy("d2"))
    val tot = sum(col("o")).over(Window.partitionBy())
    cells
      .withColumn("expected",
        rowT.cast("double") * colT.cast("double") / tot.cast("double"))
      .withColumn("chi2_term_micro",
        Micro.long((col("o").cast("double") - col("expected"))
          * (col("o").cast("double") - col("expected"))
          / col("expected")))
  }

  /** Two-proportion z-test on user-level conversion between variants:
    * a user belongs to the variant of their FIRST event (ordered by
    * ts, eventId — deterministic under reassignment noise) and converts
    * if they ever emit `convType`. One row: per-variant user/conversion
    * counts, the pooled z statistic, and the |z| ≥ 1.96 flag.
    *
    * Determinism: counts are exact integers; z is a fixed expression
    * tree of IEEE divisions, one multiply chain, and ONE sqrt (sqrt is
    * correctly rounded by IEEE-754, so engines agree bit-for-bit —
    * unlike exp/erf, which is why no p-value column is emitted: a
    * normal CDF would drag libm in). The two variant rows reduce on
    * the driver-free crossJoin of two 1-row aggregates. */
  def abConversionZ(
      events: DataFrame,
      variant: Column,
      convType: String,
      userCol: String = "user_id",
      tsCol: String = "ts",
      eventIdCol: String = "event_id",
      typeCol: String = "event_type"): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(
        min_by(variant, struct(col(tsCol), col(eventIdCol))).as("__var"),
        max((col(typeCol) === convType).cast("long")).as("__conv"))
    val sides = perUser.groupBy("__var")
      .agg(count(lit(1)).as("n"), sum(col("__conv")).as("conv"))
    val a = sides.orderBy("__var").limit(1)
      .select(col("__var").as("variant_a"), col("n").as("n_a"), col("conv").as("conv_a"))
    val b = sides.orderBy(col("__var").desc).limit(1)
      .select(col("__var").as("variant_b"), col("n").as("n_b"), col("conv").as("conv_b"))
    val p1 = col("conv_a").cast("double") / col("n_a").cast("double")
    val p2 = col("conv_b").cast("double") / col("n_b").cast("double")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    a.crossJoin(b) // two 1-row frames — bounded by design
      .withColumn("z", (p1 - p2) / se)
      .withColumn("significant_95", abs(col("z")) >= 1.96)
  }

  /** AB4: Wald's sequential probability ratio test over the daily
    * conversion stream — the always-valid alternative to fixed-horizon
    * A/B tests: stop the moment the cumulative log-likelihood ratio
    * crosses ln((1−β)/α) (accept H1: p = p1) or ln(β/(1−α)) (accept
    * H0: p = p0), instead of waiting out the horizon.
    *
    * Exactness: the only transcendentals are FOUR constants of the
    * hypothesis literals — micro-quantized ONCE on the driver
    * ([[sprtConstants]]) and inlined as integer literals on BOTH
    * engines, so the daily LLR is an exact integer cumsum
    * (conversions·lnR1 + misses·lnR0) and the stopping decision is an
    * integer comparison. One user-day aggregate + one bounded
    * day-ordered cumulative window.
    *
    * Output per day (test arm = odd user ids): (day, trials,
    * conversions, llr_micro, decision ∈ accept_h1/accept_h0/continue). */
  def sprt(
      events: DataFrame,
      p0: Double,
      p1: Double,
      alpha: Double = 0.05,
      beta: Double = 0.2,
      convType: String = "purchase",
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    val (lnR1, lnR0, hi, lo) = sprtConstants(p0, p1, alpha, beta)
    val day = to_date(col(tsCol).cast("timestamp"))
    val userDays = events
      .where(pmod(col(userCol), lit(2)) === 1) // the test arm
      .groupBy(day.as("day"), col(userCol))
      .agg(max((col(typeCol) === convType).cast("long")).as("__conv"))
    val daily = userDays.groupBy(col("day"))
      .agg(count(lit(1)).as("trials"), sum(col("__conv")).as("conversions"))
    // bounded window: one row per calendar day
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("llr_micro",
        sum(col("conversions")).over(w) * lnR1 +
          sum(col("trials") - col("conversions")).over(w) * lnR0)
      .withColumn("decision",
        when(col("llr_micro") >= hi, "accept_h1")
          .when(col("llr_micro") <= lo, "accept_h0")
          .otherwise("continue"))
  }

  /** The four SPRT integer constants (micro-quantized log ratios),
    * shared verbatim by the engine and the DuckDB oracle so neither
    * engine evaluates a transcendental. */
  def sprtConstants(
      p0: Double, p1: Double, alpha: Double, beta: Double): (Long, Long, Long, Long) = {
    if (!(p0 > 0 && p1 > p0 && p1 < 1))
      throw new ParameterError(s"need 0 < p0 < p1 < 1: $p0, $p1")
    if (!(alpha > 0 && alpha < 1 && beta > 0 && beta < 1))
      throw new ParameterError(s"alpha/beta in (0,1): $alpha, $beta")
    (Micro.of(math.log(p1 / p0)),
      Micro.of(math.log((1 - p1) / (1 - p0))),
      Micro.of(math.log((1 - beta) / alpha)),
      Micro.of(math.log(beta / (1 - alpha))))
  }

  /** Time-window funnel (ClickHouse `windowFunnel` semantics): the
    * deepest strictly-ordered chain step₁ < step₂ < … < stepₖ whose
    * LAST event falls within `windowMicros` of its FIRST, per user —
    * unlike [[funnel]], which chains each step's first occurrence and
    * misses chains begun by a later occurrence.
    *
    * Algorithm — greedy anchor maximization, zero pair joins: scanning
    * each user's events in time order, an event of type stepₖ carries
    * anchor aₖ = the MAXIMUM chain-start time over step₍ₖ₋₁₎ events
    * strictly before it (a₁ = own ts). Maximizing the start at every
    * level is optimal (aₖ is monotone in aₖ₋₁), and the window check
    * `ts − aₖ ≤ W` at the chain end covers the intermediates (ts is
    * increasing along the chain). Each level is one running max over
    * the SAME (user, ts)-sorted window — k−1 cascaded carries on ONE
    * shuffle, so the corpus sorts once; a bot user is one hot
    * partition (the documented skew bound), never a pair blow-up.
    *
    * Output: (depth, n_users) for depth 1..steps.size — users whose
    * deepest feasible chain reaches that depth exactly. */
  def windowFunnel(
      events: DataFrame,
      steps: Seq[String],
      windowMicros: Long,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    if (steps.size < 2)
      throw new ParameterError(s"windowFunnel needs >= 2 steps: $steps")
    if (steps.distinct.size != steps.size)
      throw new ParameterError(s"duplicate funnel steps: ${steps.mkString(", ")}")
    if (windowMicros <= 0)
      throw new ParameterError(s"window must be positive µs: $windowMicros")
    // RANGE frame to −1 µs: the carry sees STRICTLY-earlier events
    // only, so equal-timestamp events can never chain (the ClickHouse
    // strict-increase rule) and ties need no ordering tiebreak at all
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("__us"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val tsUs = unix_micros(col(tsCol).cast("timestamp"))
    var df = events
      .where(col(typeCol).isin(steps: _*)) // only funnel events sort
      .withColumn("__us", tsUs)
      .withColumn("__a1",
        when(col(typeCol) === steps.head, col("__us")))
    for (k <- 2 to steps.size) {
      // an anchor from a strictly-earlier event is automatically < the
      // current ts (chain starts precede their chain ends)
      df = df.withColumn(s"__c$k", max(col(s"__a${k - 1}")).over(w))
        .withColumn(s"__a$k",
          when(col(typeCol) === steps(k - 1), col(s"__c$k")))
    }
    val feasibleDepth = (steps.size to 2 by -1).foldLeft(
      when(col("__a1").isNotNull, 1L).otherwise(0L)) { (acc, k) =>
      when(col(s"__a$k").isNotNull &&
        col("__us") - col(s"__a$k") <= windowMicros, k.toLong)
        .otherwise(acc)
    }
    df.select(col(userCol), feasibleDepth.as("__d"))
      .groupBy(col(userCol))
      .agg(max(col("__d")).as("depth"))
      .where(col("depth") >= 1)
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** CUPED variance reduction (Deng et al., WSDM 2013): adjust each
    * user's post-period metric Y by their PRE-period metric X —
    * Y' = Y − θ·(X − mean X) with θ = cov(X, Y)/var(X) — which removes
    * the between-user variance X explains and shrinks A/B confidence
    * intervals by the squared correlation ρ², at zero bias (X predates
    * the assignment, so its arm-means are equal in expectation).
    *
    * Exactness: per-user X/Y are integer-cent sums; every pooled and
    * per-arm moment (n, ΣX, ΣY, ΣXY, ΣX², ΣY²) is an exact BIGINT
    * aggregate, and θ / means / ρ² are fixed IEEE expressions over
    * those integers — the cross-engine-deterministic shape. Degenerate
    * var(X) = 0 yields null θ and adjusted means (null-on-degenerate).
    *
    * Scale: ONE user-keyed aggregate over the events (map-side
    * combined), one 1-row pooled-moment frame crossJoined broadcast,
    * one |arms|-row output. Output per arm:
    * (variant, n_users, mean_post, mean_adj, theta, rho_sq). */
  def cuped(
      events: DataFrame,
      splitDate: String,
      convType: String = "purchase",
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      valueCol: String = "value"): DataFrame = {
    val isPre = col(tsCol).cast("timestamp") <
      lit(splitDate).cast("timestamp")
    val conv = col(typeCol) === convType
    val cents = round(col(valueCol) * 100).cast("long")
    val perUser = events
      .groupBy(col(userCol))
      .agg(
        sum(when(conv && isPre, cents).otherwise(0L)).as("__x"),
        sum(when(conv && !isPre, cents).otherwise(0L)).as("__y"))
      .withColumn("__arm", pmod(col(userCol), lit(2)).cast("int"))
    val pooled = perUser.agg(
      count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__y") * col("__y")).as("__syy"))
    val arms = perUser.groupBy(col("__arm").as("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("__x")).as("__ax"), sum(col("__y")).as("__ay"))
    def d(c: String): Column = col(c).cast("double")
    // double-space moments: n·ΣXY − ΣX·ΣY can exceed long range at
    // corpus scale, so the ratio arithmetic runs in IEEE doubles over
    // the exact integer sums (same expression order in the oracle)
    val covN = d("__n") * d("__sxy") - d("__sx") * d("__sy")
    val varXN = d("__n") * d("__sxx") - d("__sx") * d("__sx")
    val varYN = d("__n") * d("__syy") - d("__sy") * d("__sy")
    val theta = when(varXN =!= 0.0, covN / varXN)
    val meanX = d("__sx") / d("__n")
    val meanPost = d("__ay") / d("n_users")
    val meanAdj = meanPost - theta * (d("__ax") / d("n_users") - meanX)
    val rhoSq = when(varXN =!= 0.0 && varYN =!= 0.0,
      covN * covN / (varXN * varYN))
    arms
      .crossJoin(broadcast(pooled)) // one scalar row — bounded by design
      .select(col("variant"), col("n_users"),
        round(meanPost, 6).as("mean_post"),
        round(meanAdj, 6).as("mean_adj"),
        round(theta, 6).as("theta"),
        round(rhoSq, 6).as("rho_sq"))
  }

  /** Exact rolling `windowDays`-day distinct-user count (rolling
    * DAU/WAU/MAU) for EVERY day between the first and last activity —
    * without a per-window recount.
    *
    * The naive shape re-counts distinct users per window end (30 windows
    * × a distinct-agg each, or a day-spine range join exploding each
    * event ×W). This instead runs the classic interval-union sweep:
    * an active day d makes its user "present" for window ends
    * [d, d+W−1]; per user those intervals are merged gaps-and-islands
    * style (ONE shuffle on the user key, a lag + running-sum window),
    * and each merged island contributes +1 at its start and −1 after
    * its end. The rolling count is then the running sum of the per-day
    * deltas over the day spine.
    *
    * Scale: per-user work is bounded by that user's distinct active
    * days; the sweep aggregates to ≤ |calendar| rows, so the final
    * running-sum window — though unpartitioned — is over the DAY
    * DIMENSION (bounded: ten years ≈ 3.7 k rows), never over events.
    * At 100 TB the event→(user, day) distinct and the user-key exchange
    * are the only data-volume shuffles.
    */
  def rollingActiveUsers(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val days = events
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .distinct()
    // merge [d, d+W-1] coverage intervals per user: a new island starts
    // when this day's coverage can't touch the previous day's
    val wu = Window.partitionBy("__u").orderBy("__d")
    val islands = days
      .withColumn("__prev", lag(col("__d"), 1).over(wu))
      .withColumn("__new",
        when(col("__prev").isNull ||
          datediff(col("__d"), col("__prev")) > windowDays, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        wu.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("__u"), col("__isl"))
      .agg(min(col("__d")).as("__start"),
        date_add(max(col("__d")), windowDays - 1).as("__end"))
    val deltas = islands
      .select(col("__start").as("day"), lit(1L).as("__delta"))
      .unionByName(islands.select(
        date_add(col("__end"), 1).as("day"), lit(-1L).as("__delta")))
      .groupBy("day").agg(sum(col("__delta")).as("__delta"))
    // complete day spine (clipped to the observed activity range, so
    // trailing windows that only look into the future are not emitted)
    val range = days.agg(min(col("__d")).as("__lo"), max(col("__d")).as("__hi"))
    val spine = range.select(
      explode(sequence(col("__lo"), col("__hi"))).as("day"))
    spine
      .join(deltas, Seq("day"), "left")
      .withColumn("active_users",
        sum(coalesce(col("__delta"), lit(0L)))
          .over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("day"), col("active_users"))
  }

  /** EV29: log-rank test — does survival differ between two cohorts?
    * The standard companion to [[kaplanMeier]]/[[nelsonAalen]] (Mantel
    * 1966): at every event time t the observed arm-A deaths O₁ₜ are
    * compared to the hypergeometric expectation E₁ₜ = n₁ₜ·dₜ/nₜ with
    * variance Vₜ = dₜ·(n₁ₜ/nₜ)·(1−n₁ₜ/nₜ)·(nₜ−dₜ)/(nₜ−1); the χ²(1)
    * statistic is (ΣO₁ₜ − ΣE₁ₜ)² / ΣVₜ. Arms come from the
    * deterministic md5 split ([[graft.text.Sampling.hashUnit]] < 0.5 —
    * the ev10/ev26 discipline), lifetimes/censoring from the shared
    * kaplanMeier model (last activity ≥ `censorDays` before the corpus
    * max day = churned).
    *
    * Exactness: risk/death counts are exact integers via one per-user
    * agg + one per-duration agg + reverse-cumulative counts over the
    * bounded duration frame; each E₁ₜ and Vₜ is a fixed left-associated
    * IEEE expression of those integers, micro-quantized at 1e12 and
    * summed as BIGINT (order-free), so O₁·10¹² − ΣE₁q is EXACT. No
    * p-value column: χ²(1) tail needs erfc (libm); readers compare the
    * statistic to 3.841 (95%). V = 0 (every time has d = n, or one arm
    * empty) yields null statistic rather than ±inf.
    *
    * Scale: identical shape to kaplanMeier — everything after the
    * per-user agg lives on the duration histogram, bounded by the
    * corpus date span; the unpartitioned windows ride that bounded
    * frame. Output ONE row (n_times, o1, e1, var, chisq). */
  def logRank(
      events: DataFrame,
      censorDays: Int = 7,
      seed: String = "lr",
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    if (censorDays < 1)
      throw new ParameterError(s"censorDays must be >= 1: $censorDays")
    val day = to_date(col(tsCol).cast("timestamp"))
    val perUser = events
      .groupBy(col(userCol))
      .agg(min(day).as("__f"), max(day).as("__l"))
      .withColumn("__a",
        graft.text.Sampling.hashUnit(col(userCol), seed) < 0.5)
      .checkpointed(eager = false) // feeds the max-day agg AND the curve
    val maxD = perUser.agg(max(col("__l")).as("__mx"))
    val obs = perUser
      .crossJoin(broadcast(maxD))
      .select(
        datediff(col("__l"), col("__f")).cast("long").as("__dur"),
        when(datediff(col("__mx"), col("__l")) >= censorDays, 1L)
          .otherwise(0L).as("__ev"),
        when(col("__a"), 1L).otherwise(0L).as("__g1"))
    val wDesc = Window.orderBy(col("__dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = col("__n").cast("double")
    obs
      .groupBy(col("__dur"))
      .agg(
        count(lit(1)).as("__c"), sum(col("__ev")).as("__d"),
        sum(col("__g1")).as("__c1"),
        sum(col("__ev") * col("__g1")).as("__d1"))
      .withColumn("__n", sum(col("__c")).over(wDesc))
      .withColumn("__n1", sum(col("__c1")).over(wDesc))
      .where(col("__d") > 0)
      .select(
        col("__d1"),
        Pico.long(col("__n1").cast("double") * col("__d") / nD).as("__e1q"),
        when(col("__n") > 1,
          Pico.long(col("__d").cast("double") * col("__n1") / nD *
            (col("__n") - col("__n1")) / nD *
            (col("__n") - col("__d")) /
            (col("__n") - lit(1L)).cast("double")))
          .otherwise(0L).as("__vq"))
      .agg(
        count(lit(1)).as("n_times"),
        sum(col("__d1")).as("o1"),
        sum(col("__e1q")).as("__e1s"),
        sum(col("__vq")).as("__vs"))
      .select(
        col("n_times"), col("o1"),
        round(Pico.back(col("__e1s")), 6).as("e1"),
        round(Pico.back(col("__vs")), 6).as("var"),
        round(when(col("__vs") > 0,
          Pico.back(col("o1") * lit(Pico.unit) - col("__e1s")) *
            Pico.back(col("o1") * lit(Pico.unit) - col("__e1s")) /
            Pico.back(col("__vs"))), 6).as("chisq"))
  }

  /** AB2: Mann–Whitney U (Wilcoxon rank-sum) — do per-event values
    * differ in DISTRIBUTION between the md5 arms? The nonparametric
    * companion to [[abTest]]'s proportion z: rank all `valueType`
    * event values (average ranks on ties), U₁ = R₁ − n₁(n₁+1)/2, and
    * the tie-corrected normal approximation
    * z = (U₁ − n₁n₂/2) / sqrt(n₁n₂/12 · ((n+1) − Σ(t³−t)/(n(n−1)))).
    *
    * Exactness: values are exact cents; ranks come from the bounded
    * distinct-cents HISTOGRAM (the a12/qn1 pattern — the unpartitioned
    * cumsum rides distinct values, not rows), and every rank quantity
    * is kept in DOUBLED integer form so tied average ranks (x.5) stay
    * exact BIGINTs: 2R₁ = Σ t₁·(2·below + t + 1), 2U₁ = 2R₁ − n₁(n₁+1),
    * E[2U₁] = n₁n₂. The z is then one fixed IEEE expression with a
    * single sqrt (correctly rounded per IEEE-754 — the abConversionZ
    * argument), 6dp. Null z when an arm is empty or all values tie
    * (variance 0). Overflow bounds (documented, loud nowhere): t³ needs
    * max per-cent tie count < 2.1M; 2R₁ < 2n² needs n < 2.1e9.
    *
    * Output ONE row (n1, n2, r1_x2, u1_x2, tie_term, z). */
  def mannWhitney(
      events: DataFrame,
      valueType: String = "purchase",
      seed: String = "mw",
      userCol: String = "user_id",
      typeCol: String = "event_type",
      valueCol: String = "value"): DataFrame = {
    val hist = events
      .where(col(typeCol) === valueType)
      .select(
        round(col(valueCol) * 100).cast("long").as("__v"),
        when(graft.text.Sampling.hashUnit(col(userCol), seed) < 0.5, 1L)
          .otherwise(0L).as("__g1"))
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__t"), sum(col("__g1")).as("__t1"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val nd = (col("n1") + col("n2")).cast("double")
    val varD = n1d * n2d / 12.0 *
      ((nd + 1.0) - col("tie_term").cast("double") / nd / (nd - 1.0))
    // distributed two-level prefix scan (r8): purchase cents are
    // near-continuous, so the old unpartitioned window single-tasked
    // the whole distinct-value frame at scale
    graft.panel.PrefixSum.inclusive(hist, "__v", Seq("__cumt" -> "__t"))
      .withColumn("__below", col("__cumt") - col("__t"))
      .agg(
        sum(col("__t1")).as("n1"),
        sum(col("__t") - col("__t1")).as("n2"),
        sum(col("__t1") * (col("__below") * 2 + col("__t") + 1)).as("r1_x2"),
        sum(col("__t") * col("__t") * col("__t") - col("__t")).as("tie_term"))
      .withColumn("u1_x2", col("r1_x2") - col("n1") * (col("n1") + 1))
      .select(
        col("n1"), col("n2"), col("r1_x2"), col("u1_x2"), col("tie_term"),
        round(when(col("n1") > 0 && col("n2") > 0 && varD > 0,
          (col("u1_x2") - col("n1") * col("n2")).cast("double") /
            (sqrt(varD) * 2.0)), 6).as("z"))
  }

  /** EV32: position-based (U-shaped) multi-touch attribution — the
    * 40/20/40 rule marketing runs between [[attribution]]'s
    * first/last extremes and [[markovAttribution]]'s model: per user,
    * the touches strictly before the FIRST `convType` event share the
    * conversion credit — 40% to the first touch, 40% to the last, the
    * middle 20% split across the interior touches (1 touch → 100%,
    * 2 → 50/50).
    *
    * Exactness: credit is EXACT INTEGER micro-shares — the interior
    * split uses integer division with the remainder handed to the
    * earliest middles one micro each, so every conversion distributes
    * precisely 1,000,000 micros and per-channel sums are order-free
    * BIGINT adds (no 0.2/(k−2) float dust). One user-partitioned
    * window pass (first-conversion cutoff + position rank + count),
    * one channel aggregate.
    *
    * Output (channel, n_touches, credit) — credit in conversions,
    * 6dp. */
  def positionAttribution(
      events: DataFrame,
      touchTypes: Seq[String],
      convType: String,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      eventIdCol: String = "event_id"): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    val m = micros(col(tsCol))
    val wu = Window.partitionBy(col(userCol))
    val touches = events
      .withColumn("__fc",
        min(when(col(typeCol) === convType,
          struct(m.as("m"), col(eventIdCol).as("id")))).over(wu))
      .where(col("__fc").isNotNull &&
        col(typeCol).isin(touchTypes: _*) &&
        struct(m.as("m"), col(eventIdCol).as("id")) < col("__fc"))
    val wOrd = Window.partitionBy(col(userCol))
      .orderBy(m, col(eventIdCol))
    val i = col("__i"); val k = col("__k")
    val midBase = call_function("div", lit(200000L), k - 2)
    val midRem = lit(200000L) - midBase * (k - 2)
    val credit =
      when(k === 1, 1000000L)
        .when(k === 2, 500000L)
        .when(i === 1 || i === k, 400000L)
        .otherwise(midBase +
          when(i - 1 <= midRem, 1L).otherwise(0L))
    touches
      .withColumn("__i", row_number().over(wOrd).cast("long"))
      .withColumn("__k", count(lit(1)).over(wu))
      .groupBy(col(typeCol).as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(credit).as("__cq"))
      .select(col("channel"), col("n_touches"),
        round(Micro.back(col("__cq")), 6).as("credit"))
  }

  /** EV31: restricted mean survival time — the area under the
    * [[kaplanMeier]] curve up to horizon `tauDays`: "expected days of
    * life in the first τ days", the effect-size companion to the
    * [[logRank]] significance test (Royston & Parmar 2013) and the
    * number a retention team actually budgets with.
    *
    * Composition, not re-derivation: integrates the PUBLISHED 6dp KM
    * curve (S is a step function, so the integral is Σ S(t_{i−1})·Δt
    * with S(0)=1, plus the S(t_last)·(τ−t_last) tail) — each step term
    * is one IEEE product of a 6dp survival and an exact integer day
    * span, micro-quantized at 1e12, summed as BIGINT over the bounded
    * duration frame. Output ONE row (tau, rmst). */
  def rmst(
      events: DataFrame,
      tauDays: Long,
      censorDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    if (tauDays < 1)
      throw new ParameterError(s"tauDays must be >= 1: $tauDays")
    val km = kaplanMeier(events, censorDays, userCol, tsCol)
      .select(col("t"), col("survival"))
      .checkpointed(eager = false) // feeds the step sum AND the tail
    val wAsc = Window.orderBy(col("t")) // bounded: distinct event days
    val steps = km
      .withColumn("__pt", lag(col("t"), 1, 0L).over(wAsc))
      .withColumn("__ps", lag(col("survival"), 1, 1.0).over(wAsc))
      .where(col("__pt") < tauDays)
      .agg(sum(Pico.long(col("__ps") *
        (least(col("t"), lit(tauDays)) - col("__pt")).cast("double"))).as("__stepq"))
    val tail = km
      .agg(max(col("t")).as("__tl"),
        max_by(col("survival"), col("t")).as("__sl"))
      .select(
        when(col("__tl").isNotNull && col("__tl") < tauDays,
          Pico.long(col("__sl") * (lit(tauDays) - col("__tl")).cast("double")))
          .otherwise(
            // empty curve: nobody churned — survival 1 throughout
            when(col("__tl").isNull, lit(tauDays) * Pico.unit)
              .otherwise(0L)).as("__tailq"))
    steps
      .crossJoin(broadcast(tail)) // two 1-row aggregates — bounded
      .select(
        lit(tauDays).as("tau"),
        round(Pico.back(coalesce(col("__stepq"), lit(0L)) + col("__tailq")), 6).as("rmst"))
  }

  /** EV30: skip-gram sequential patterns — (from, to, gap) counts for
    * every ordered pair of events at distance gap ∈ [1, maxGap] in the
    * user's (ts, eventId)-ordered stream. [[transitions]] sees only
    * consecutive pairs; real journeys interleave noise events, and the
    * gap dimension shows HOW tightly two steps couple (the PrefixSpan
    * view collapsed to pairs — the part that scales).
    *
    * Scale shape: `maxGap` lead columns in ONE user-partitioned window
    * pass, exploded ×maxGap (a bounded constant, not a data-driven pair
    * join), then one count aggregate on the bounded
    * (type, type, gap) frame. Exact integer counts only. */
  def skipGrams(
      events: DataFrame,
      maxGap: Int = 5,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      eventIdCol: String = "event_id"): DataFrame = {
    if (maxGap < 1)
      throw new ParameterError(s"maxGap must be >= 1: $maxGap")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(eventIdCol))
    val leads = array((1 to maxGap).map(k => lead(col(typeCol), k).over(w)): _*)
    events
      .select(col(typeCol).as("from_type"), leads.as("__l"))
      .select(col("from_type"), posexplode(col("__l")).as(Seq("__p", "to_type")))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"),
        (col("__p") + 1).cast("long").as("gap"))
      .agg(count(lit(1)).as("n"))
  }
}
