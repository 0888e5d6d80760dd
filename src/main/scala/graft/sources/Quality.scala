package graft.sources

import graft.Exact.{Micro, Pico}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations (the Great-Expectations /
  * dbt-test shape, Spark-native): each rule is a boolean Column over a
  * table, and the report is one row per rule with checked/violation
  * counts. The reference trusts its inputs (moonshot validates shapes,
  * not values); a 100 TB ingest cannot, so this joins the catalog as an
  * extension operator.
  *
  * Plan shape: ALL predicate rules for a table evaluate in ONE aggregate
  * pass over it (`sum(case)` per rule — one scan, no matter how many
  * rules), then a codegen `stack` reshapes the single row to one row per
  * rule. Referential checks are separate left-anti joins (broadcast when
  * the parent's key side is small, shuffle otherwise — Catalyst picks).
  * Nothing is collected: the report IS a DataFrame, so it can gate a
  * pipeline with a loud `require` on `sum(n_violations)` or be written
  * alongside the data as an audit artifact.
  */
object Quality {

  /** One aggregate pass: for each (name, mustHold) rule, count rows where
    * the predicate is null-or-false. `n_checked` is the table's row count
    * (every rule sees every row; express null-tolerance inside the
    * predicate with `isNull ||`). */
  def expect(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    val aggs = count(lit(1)).as("__n") +: rules.map { case (name, pred) =>
      sum(when(pred, 0L).otherwise(1L)).as(s"__v_$name")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs =
      rules.map { case (name, _) => s"'$name', `__v_$name`" }.mkString(", ")
    row
      .selectExpr("__n",
        s"stack(${rules.length}, $stackArgs) as (rule, n_violations)")
      .select(col("rule"), col("__n").as("n_checked"), col("n_violations"))
  }

  /** Referential-integrity rule: child rows whose `childKey` has no match
    * in the parent's `parentKey` (nulls in the child key count as
    * orphans — an FK that is null is a violation here; model nullable
    * FKs by filtering the child first). Same (rule, n_checked,
    * n_violations) schema as [[expect]] so reports union cleanly. */
  def orphans(
      name: String,
      child: DataFrame,
      childKey: String,
      parent: DataFrame,
      parentKey: String): DataFrame = {
    val total = child.agg(count(lit(1)).as("n_checked"))
    val missing = child
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    total.crossJoin(missing) // two 1-row aggregates — bounded by design
      .select(lit(name).as("rule"), col("n_checked"), col("n_violations"))
  }

  /** Robust per-group outlier flags: |x − median| > k·MAD, computed
    * ENTIRELY in integer cents so both engines agree bit-for-bit (the
    * a12 exact-median discipline, applied twice).
    *
    * Mean/stddev outlier rules break exactly when needed most — the
    * outliers themselves inflate the stddev (masking) — so data-quality
    * screens use the median/MAD pair (Hampel identifier; 50% breakdown
    * point). Doubled/quadrupled fixed-point keeps every statistic
    * integral: `med2 = 2·median` in cents (sum of the two middle order
    * statistics), `dev2 = |2x − med2| = 2·|x − median|`, `mad4 =
    * 2·median(dev2) = 4·MAD`, and the flag `|x − median| > k·MAD`
    * becomes the integer comparison `2·dev2 > k·mad4`. No float enters
    * any filter or aggregate.
    *
    * Plan: both median passes are rank+count windows over the SAME
    * group-key exchange (the deviation median is a second window pass,
    * not a second shuffle — Catalyst reuses the hashpartitioning), so
    * scale ∝ one shuffle of (group, value, id). Per-group partitions are
    * bounded by group size — the natural skew bound of a keyed metric.
    *
    * Degenerate contract: a group where > 50% of values tie at the
    * median has MAD = 0 — every non-median value would flag. Callers
    * get `mad4 = 0` rows flagged ONLY if `flagZeroMad` (default false:
    * zero-MAD groups emit no flags, matching the Hampel convention of
    * falling back to "no dispersion information, no verdict"). */
  def madOutliers(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      k: Int = 5,
      flagZeroMad: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = round(col(valueCol) * 100).cast("long")
    val wAll = Window.partitionBy("__g")
    def med2Of(c: String, ord: String): Column = {
      val wOrd = Window.partitionBy("__g").orderBy(col(c), col(ord))
      val rn = row_number().over(wOrd).cast("long")
      val n = count(lit(1)).over(wAll)
      // (n+1)/2 would be DOUBLE division in Column algebra — keep the
      // middle-rank arithmetic integral via floor. ADDITIVE indicators,
      // not OR: for odd n the two middle ranks coincide and the value
      // must count TWICE (med2 = 2·median in every parity — the a12
      // multiplicity discipline; an OR would halve odd-group medians)
      sum(col(c) * ((rn === floor((n + 1) / 2).cast("long")).cast("long")
        + (rn === floor((n + 2) / 2).cast("long")).cast("long"))).over(wAll)
    }
    val scored = df
      .select(col(groupCol).as("__g"), v.as("__v"), col(idCol).as("__id"))
      .withColumn("__med2", med2Of("__v", "__id"))
      .withColumn("__dev2", abs(col("__v") * 2 - col("__med2")))
      .withColumn("__mad4", med2Of("__dev2", "__id"))
    scored
      .where(col("__dev2") * 2 > col("__mad4") * k &&
        (if (flagZeroMad) lit(true) else col("__mad4") > 0))
      .select(col("__id").as(idCol), col("__g").as(groupCol),
        col("__v").as("value_cents"), col("__med2").as("med2_cents"),
        col("__dev2").as("dev2_cents"), col("__mad4").as("mad4_cents"))
  }

  /** Per-group winsorization at exact order-statistic percentile bounds
    * — clamp, don't drop (the feature-prep companion to
    * [[madOutliers]]' flag-and-review).
    *
    * Bounds are the ⌈n·pLo⌉-th and ⌈n·pHi⌉-th order statistics of the
    * group in integer cents — no interpolation, so both engines agree
    * bit-for-bit. Percentiles are passed in basis points (Int), keeping
    * the rank arithmetic `(n·bp + 9999) div 10000` all-integer. One
    * rank window + one count window on a single group exchange, bounds
    * recovered with conditional window sums (no second scan, no join).
    */
  def winsorize(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      loBp: Int = 500,
      hiBp: Int = 9500): DataFrame = {
    require(0 < loBp && loBp < hiBp && hiBp < 10000,
      s"need 0 < loBp < hiBp < 10000, got ($loBp, $hiBp)")
    val v = round(col(valueCol) * 100).cast("long")
    val wAll = Window.partitionBy("__g")
    val wOrd = Window.partitionBy("__g").orderBy(col("__v"), col("__id"))
    def kOf(bp: Int): Column = // ⌈n·bp/10000⌉, all-integer
      call_function("div", count(lit(1)).over(wAll) * bp + 9999, lit(10000L))
    def statAt(k: Column): Column =
      sum(when(row_number().over(wOrd).cast("long") === k, col("__v"))
        .otherwise(lit(0L))).over(wAll)
    df.select(col(groupCol).as("__g"), v.as("__v"), col(idCol).as("__id"))
      .withColumn("__lo", statAt(kOf(loBp)))
      .withColumn("__hi", statAt(kOf(hiBp)))
      .select(col("__id").as(idCol), col("__g").as(groupCol),
        col("__v").as("value_cents"),
        least(greatest(col("__v"), col("__lo")), col("__hi")).as("wins_cents"),
        col("__lo").as("lo_cents"), col("__hi").as("hi_cents"))
  }

  /** Theil–Sen robust trend per group: the median of all pairwise
    * slopes (yⱼ−yᵢ)/(xⱼ−xᵢ) over xᵢ < xⱼ — a 29%-breakdown trend
    * estimate that one fat-fingered tick can't bend the way OLS bends
    * ([[madOutliers]]' regression sibling).
    *
    * Shape: the O(n²)-per-group pair expansion is explicit and
    * GUARDED — groups beyond `maxPoints` raise loudly (the Intervals
    * raise_error discipline) instead of silently expanding; the pair
    * join is an equi-join on the group key with an in-partition x<x
    * filter, and the median is the exact middle-order-statistic pick
    * (a12 discipline) over slopes ordered by (slope, xᵢ, xⱼ) — each
    * slope one per-row IEEE division of exact integers (cents/days),
    * so both engines order and pick identically. Equal-x pairs are
    * excluded (vertical slope). Output slope is in cents per x-unit:
    * `med2_slope / 2`. */
  def theilSen(
      df: DataFrame,
      groupCol: String,
      xCol: Column,
      valueCol: String,
      maxPoints: Int = 2000): DataFrame = {
    require(maxPoints >= 2, s"maxPoints must be >= 2, got $maxPoints")
    val base = df.select(col(groupCol).as("__g"), xCol.cast("long").as("__x"),
      round(col(valueCol) * 100).cast("long").as("__y"))
    val guarded = base
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("__g")))
      .withColumn("__x",
        when(col("__n") > maxPoints, raise_error(format_string(
          s"theilSen: group %s has %s points (> $maxPoints): the O(n²) " +
            "pair expansion needs an explicit opt-in via maxPoints",
          col("__g").cast("string"), col("__n").cast("string"))).cast("long"))
          .otherwise(col("__x")))
      .select("__g", "__x", "__y")
    val pairs = guarded.alias("a")
      .join(guarded.alias("b"),
        col("a.__g") === col("b.__g") && col("a.__x") < col("b.__x"))
      .select(col("a.__g").as("__g"), col("a.__x").as("__xa"), col("b.__x").as("__xb"),
        ((col("b.__y") - col("a.__y")).cast("double") /
          (col("b.__x") - col("a.__x")).cast("double")).as("__slope"))
    val wAll = Window.partitionBy("__g")
    val wOrd = Window.partitionBy("__g")
      .orderBy(col("__slope"), col("__xa"), col("__xb"))
    val rn = row_number().over(wOrd).cast("long")
    val np = count(lit(1)).over(wAll)
    pairs
      .withColumn("__np", np)
      // additive indicators (the a12 multiplicity discipline): for odd
      // n_pairs the middle ranks coincide and the slope counts twice
      .withColumn("__med2", sum(col("__slope") *
        ((rn === floor((np + 1) / 2).cast("long")).cast("int")
          + (rn === floor((np + 2) / 2).cast("long")).cast("int")).cast("double"))
        .over(wAll))
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("__np")).as("n_pairs"),
        (max(col("__med2")) / 2.0).as("slope_cents_per_x"))
  }

  /** Quantile normalization: map each value onto the REFERENCE (whole
    * table) distribution by rank — the batch-effect / cross-source
    * score-calibration transform (a source whose scores run hot is
    * pulled onto the corpus-wide distribution without inventing a
    * parametric form).
    *
    * Exact, order-statistic semantics: a row at within-group rank r of
    * nᵍ maps to the reference order statistic at rank
    * ⌈r·N/nᵍ⌉ — all-integer rank arithmetic.
    *
    * Scale shape: the within-group rank is one group-key window; the
    * reference side is NOT a global sort — it is a cumulative histogram
    * over DISTINCT integer cents (the aucDelong boundedness argument:
    * a quantized value domain is dimension-bounded, row count is not),
    * and the rank lookup is a range join against that broadcast
    * histogram (cum_{v−1} < k ≤ cum_v). The one unpartitioned window
    * runs over the histogram, never over rows. */
  def quantileNormalize(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String): DataFrame = {
    val v = round(col(valueCol) * 100).cast("long")
    val rows = df.select(col(groupCol).as("__g"), v.as("__v"), col(idCol).as("__id"))
    val wg = Window.partitionBy("__g").orderBy(col("__v"), col("__id"))
    val ranked = rows
      .withColumn("__r", row_number().over(wg).cast("long"))
      .withColumn("__ng", count(lit(1)).over(Window.partitionBy("__g")))
    // reference: cumulative histogram over distinct cents via the
    // distributed two-level scan (r8 — near-continuous columns make
    // the histogram table-sized, so the old unpartitioned window was a
    // single-task scan; see graft.panel.PrefixSum)
    val hist = graft.panel.PrefixSum.inclusive(
      rows.groupBy(col("__v").as("__hv")).agg(count(lit(1)).as("__c")),
      "__hv", Seq("__cum" -> "__c"))
      .withColumn("__lo", col("__cum") - col("__c"))
    val n = rows.agg(count(lit(1)).as("__n"))
    // rank→reference-value lookup as a LINEAR equi-join: each histogram
    // level owns the dense rank interval (lo, cum], so exploding the
    // interval yields exactly N (rank → value) rows — one shuffle join
    // on the rank key. The previous formulation joined on the interval
    // predicate directly, which plans as a broadcast nested loop
    // (O(rows × histogram levels) comparisons: 8.9 s at sf0.1 vs ~2 s
    // for this shape — the round-6 bench catch).
    val rankValue = hist.select(
      explode(sequence(col("__lo") + 1L, col("__cum"))).as("__k"),
      col("__hv"))
    ranked
      .crossJoin(broadcast(n)) // one scalar row — bounded by design
      .withColumn("__k",
        call_function("div", col("__r") * col("__n") + col("__ng") - 1L, col("__ng")))
      .join(rankValue, Seq("__k"))
      .select(col("__id").as(idCol), col("__g").as(groupCol),
        col("__v").as("value_cents"), col("__hv").as("norm_cents"))
  }

  /** Keyed snapshot diff — the reconciliation primitive behind
    * table-level regression testing and CDC backfills: classify every
    * key as `added` / `removed` / `changed` / `unchanged` between two
    * snapshots of the same keyed table. One full-outer hash join on the
    * key; change detection is null-safe column equality (`<=>`) over
    * the compare columns — no row hashing, so the classification is
    * engine-neutral and explains itself (any differing column flips the
    * row to changed; nulls compare equal to nulls only).
    *
    * Output: one row per key with `status`, plus each compared column
    * from both sides (`old_`/`new_` prefixed) so downstream can
    * aggregate per status or inspect specific drifts. Scale: the join
    * shuffles both snapshots on the key once — the same shape as the
    * merge it usually gates. */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "at least one compare column")
    val o = oldSnap.select((keys ++ compareCols).map(col): _*)
      .withColumn("__old", lit(true))
      .select(keys.map(col) ++ compareCols.map(c => col(c).as(s"old_$c")) :+
        col("__old"): _*)
    val n = newSnap.select((keys ++ compareCols).map(col): _*)
      .withColumn("__new", lit(true))
      .select(keys.map(col) ++ compareCols.map(c => col(c).as(s"new_$c")) :+
        col("__new"): _*)
    val same = compareCols
      .map(c => col(s"old_$c") <=> col(s"new_$c"))
      .reduce(_ && _)
    o.join(n, keys, "full_outer")
      .withColumn("status",
        when(col("__old").isNull, "added")
          .when(col("__new").isNull, "removed")
          .when(same, "unchanged")
          .otherwise("changed"))
      .drop("__old", "__new")
  }

  /** Freshness/completeness monitor: flag days whose row count sits
    * more than `z` standard deviations from the TRAILING `trailing`-day
    * window (prior days only — the current day must not defend itself).
    * The σ test runs ENTIRELY in integer arithmetic by squaring:
    * |x − S/n| > z·σ  ⇔  (n·x − S)² > z²·(n·Q − S²), with S/Q the
    * trailing sum and sum-of-squares — no sqrt, no floats, no
    * cross-engine drift. Days with fewer than `minObs` trailing
    * observations abstain (null) instead of guessing. Input is the
    * per-day count frame (bounded by the calendar), so the window is
    * cheap by construction. */
  def freshnessAnomalies(
      counts: DataFrame,
      dayCol: String,
      nCol: String,
      trailing: Int = 7,
      minObs: Int = 3,
      z: Int = 2): DataFrame = {
    require(trailing >= minObs && minObs >= 2, s"need trailing >= minObs >= 2")
    require(z >= 1, s"z >= 1: $z")
    val wTrail = Window.orderBy(col(dayCol)).rowsBetween(-trailing, -1)
    val x = col(nCol)
    counts
      .withColumn("__n", count(lit(1)).over(wTrail))
      .withColumn("__s", sum(x).over(wTrail))
      .withColumn("__q", sum(x * x).over(wTrail))
      .select(
        col(dayCol), x,
        when(col("__n") >= minObs,
          (col("__n") * x - col("__s")) * (col("__n") * x - col("__s")) >
            lit(z.toLong * z) * (col("__n") * col("__q") -
              col("__s") * col("__s")))
          .as("is_anomalous"))
  }

  /** Two-sided CUSUM changepoint screen (Page 1954) per group, exact
    * integer arithmetic throughout.
    *
    * The textbook recurrence S⁺ₜ = max(0, S⁺ₜ₋₁ + xₜ − μ₀ − k) is
    * sequential, but it has the closed form S⁺ₜ = Pₜ − min(0, min_{j≤t}
    * Pⱼ) with Pₜ the cumulative sum of (xₜ − μ₀ − k) — so the whole
    * screen is window algebra: one group exchange, two ordered frames
    * (cumsum + running min per side), no recursion and no driver loop.
    * μ₀ is the group's own mean held EXACT by scaling every term by the
    * group size n (work in units of cents·n): upₜ = n·xₜ − Σx − n·k.
    * The downward side mirrors with aₜ = Σx − n·k − n·xₜ. Alarm rows
    * are those where either scaled statistic exceeds n·h.
    *
    * Outputs only alarm rows (id, group, value_cents, s_pos, s_neg,
    * side), with the statistics de-scaled to value units (÷n then ÷100,
    * two IEEE divisions in that order — the oracle mirrors the shape)
    * rounded 6dp. Overflow contract: n²·max|x−μ₀| cents must stay under
    * 2⁶³ — at 10⁶-row groups of $10⁶ values that is ~10²⁰, so beyond
    * ~10⁵-row groups pre-aggregate (e.g. daily means) first; the screen
    * is designed for per-entity series, not raw corpus scale. */
  def cusum(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      orderCols: Seq[String],
      idCol: String,
      kCents: Long,
      hCents: Long): DataFrame = {
    require(kCents >= 0, s"kCents must be >= 0, got $kCents")
    require(hCents > 0, s"hCents must be > 0, got $hCents")
    val v = round(col(valueCol) * 100).cast("long")
    val wAll = Window.partitionBy("__g")
    val wOrd = Window.partitionBy("__g")
      .orderBy(orderCols.map(col) :+ col("__id"): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = df.select(
      Seq(col(groupCol).as("__g"), v.as("__v"), col(idCol).as("__id")) ++
        orderCols.map(col): _*)
    rows
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__sx", sum(col("__v")).over(wAll))
      .withColumn("__p", sum(
        col("__n") * col("__v") - col("__sx") - col("__n") * kCents).over(wOrd))
      .withColumn("__q", sum(
        col("__sx") - col("__n") * kCents - col("__n") * col("__v")).over(wOrd))
      .withColumn("__sp", col("__p") - least(min(col("__p")).over(wOrd), lit(0L)))
      .withColumn("__sn", col("__q") - least(min(col("__q")).over(wOrd), lit(0L)))
      .where(col("__sp") > col("__n") * hCents ||
        col("__sn") > col("__n") * hCents)
      .select(
        col("__id").as(idCol), col("__g").as(groupCol),
        col("__v").as("value_cents"),
        round(col("__sp").cast("double") / col("__n") / 100.0, 6).as("s_pos"),
        round(col("__sn").cast("double") / col("__n") / 100.0, 6).as("s_neg"),
        when(col("__sp") > col("__n") * hCents &&
             col("__sn") > col("__n") * hCents, "both")
          .when(col("__sp") > col("__n") * hCents, "up")
          .otherwise("down").as("side"))
  }

  /** DQ6: k-anonymity audit — the re-identification screen a dataset
    * gets before it leaves a trust boundary (Sweeney 2002): group rows
    * by the quasi-identifier columns, and report the distribution of
    * equivalence-class sizes. A row in a class of size k is
    * indistinguishable from k−1 others; classes below `threshold` are
    * the linkage-attack surface.
    *
    * One groupBy on the quasi-identifier key, one groupBy on the
    * bounded class-size histogram. Exact integers only.
    *
    * Output (k, n_classes, n_rows, at_risk 0/1) — one row per observed
    * class size. */
  def kAnonymity(
      df: DataFrame,
      quasiCols: Seq[String],
      threshold: Long = 5L): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(threshold >= 1, s"threshold must be >= 1: $threshold")
    df
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__k"))
      .groupBy(col("__k").as("k"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("__k")).as("n_rows"))
      .withColumn("at_risk", when(col("k") < threshold, 1).otherwise(0))
  }

  /** DQ12: l-diversity audit ([[kAnonymity]]'s companion, Machanavajjhala
    * et al. 2007): k-anonymity stops linkage but not ATTRIBUTE
    * disclosure — a class where every member shares the sensitive
    * value leaks it to anyone who can place a target in the class.
    * Per quasi-identifier equivalence class, report class size,
    * distinct-l (number of distinct sensitive values) and entropy-l
    * (exp of the sensitive-value Shannon entropy — the stricter
    * measure that catches 99%-skewed classes distinct-l waves
    * through); classes with distinct-l below `l` are flagged.
    *
    * One aggregation to (class, sensitive value) counts, one to the
    * class report — both quasi-key shuffles; entropy is the exact
    * micro-nat integer sum divided once (6dp). Output one row per
    * class: (quasiCols..., class_size, distinct_l, entropy_l,
    * at_risk 0/1). */
  def lDiversity(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      l: Long = 3L): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(l >= 1, s"l must be >= 1: $l")
    val g = quasiCols.map(col)
    val perValue = df
      .groupBy(g :+ col(sensitiveCol).as("__s"): _*)
      .agg(count(lit(1)).as("__c"))
    // exact micro-nat term per value: −(c/n)·ln(c/n) needs n, so carry
    // the class size in via a window on the quasi key (partitioned —
    // class-key shuffle, no global frame)
    val w = Window.partitionBy(g: _*)
    perValue
      .withColumn("__n", sum(col("__c")).over(w))
      .withColumn("__t", Micro.long(-(col("__c").cast("double") / col("__n"))
          * log(col("__c").cast("double") / col("__n"))))
      .groupBy(g: _*)
      .agg(max(col("__n")).as("class_size"),
        count(lit(1)).as("distinct_l"),
        round(exp(Micro.back(sum(col("__t")))), 6).as("entropy_l"))
      .withColumn("at_risk", when(col("distinct_l") < l, 1).otherwise(0))
  }

  /** DQ7: functional-dependency discovery (the Metanome/profiling
    * staple): for every ordered pair (A, B) of `cols`, does A → B hold
    * — i.e. does any A value map to more than one distinct B? Reports
    * the violation count rather than a bare boolean, because "holds
    * except for 12 rows" is the data-quality finding (a dirty
    * dimension), not a non-dependency.
    *
    * Shape: ONE aggregation per lhs column computes countDistinct for
    * ALL rhs columns simultaneously (|cols| scans total, not
    * |cols|²); the per-pair summaries are 1-row frames unioned.
    * Null semantics match SQL: a null lhs forms its own equivalence
    * class, null rhs values are ignored by the distinct count.
    *
    * Output (lhs, rhs, n_lhs_values, n_violating, holds 0/1). */
  def functionalDependencies(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8 && cols.distinct == cols,
      s"cols must be 2..8 distinct columns: $cols")
    cols.map { lhs =>
      val rhs = cols.filterNot(_ == lhs)
      val per = df.groupBy(col(lhs))
        .agg(countDistinct(col(rhs.head)).as(s"__${rhs.head}"),
          rhs.tail.map(r => countDistinct(col(r)).as(s"__$r")): _*)
      val summary = per.agg(
        count(lit(1)).as("n_lhs_values"),
        rhs.map(r => sum(when(col(s"__$r") > 1, 1L).otherwise(0L))
          .as(s"__v_$r")): _*)
      rhs.map(r => summary.select(
        lit(lhs).as("lhs"), lit(r).as("rhs"), col("n_lhs_values"),
        col(s"__v_$r").as("n_violating"),
        when(col(s"__v_$r") === 0, 1).otherwise(0).as("holds")))
        .reduce(_ unionByName _)
    }.reduce(_ unionByName _)
  }

  /** DQ4: Benford first-digit conformance — the fraud/fabrication
    * screen auditors run on any organically-grown amount column: real
    * multiplicative data has P(first digit = d) = log₁₀(1 + 1/d);
    * fabricated or truncated data doesn't. Values become exact cents
    * (round(x·100), positives only), and the first significant digit is
    * the leading character of the INTEGER's decimal string — no float
    * log10 near-power-of-ten edge to disagree on (leading digit is
    * invariant under the ×100). One groupBy over a ≤9-row frame; the
    * unpartitioned total-count window rides that bounded frame.
    *
    * Exactness: observed counts are exact; the 9 expected
    * probabilities are ln-based transcendentals, micro-quantized at
    * 1e12 BEFORE use (the `graft.Exact` discipline — engines' ln agree far
    * beyond 1e-12 on 9 fixed constants, and the constants are
    * scale-independent, so a green hash at one SF is green at all).
    * χ² term = (n − E)²/E with E = p_d·N, one fixed IEEE shape, 6dp.
    *
    * Output (digit 1-9 present in data, n, obs_p, exp_p, chi2_term). */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    val digits = df
      .where(col(valueCol) > 0)
      .select(substring(cents.cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val tot = sum(col("n")).over(Window.partitionBy()) // ≤ 9-row frame
    val expQ = Pico.long(log((col("digit").cast("double") + 1.0) / col("digit").cast("double"))
        / log(lit(10.0)))
    val eN = Pico.back(col("__expq")) * col("__tot").cast("double")
    digits
      .withColumn("__tot", tot)
      .withColumn("__expq", expQ)
      .select(
        col("digit"), col("n"),
        round(col("n").cast("double") / col("__tot").cast("double"), 6)
          .as("obs_p"),
        round(Pico.back(col("__expq")), 6).as("exp_p"),
        round((col("n").cast("double") - eN) * (col("n").cast("double") - eN)
          / eN, 6).as("chi2_term"))
  }

  /** DQ8: one-pass table profile — per column: row count, non-null
    * count, exact distinct count. The census every ingestion review
    * starts from (null explosions, constant columns, key candidates),
    * computed as ONE aggregate over the scan (Catalyst expands the
    * distincts; no per-column rescan) and melted to a row per column.
    * Counts only — engine-neutral integers; value-level min/max belong
    * to zonemaps (zo1), which already profile ranges. */
  def profile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    require(names.nonEmpty, "profile needs at least one column")
    val aggs = count(lit(1)).as("__n") +:
      names.flatMap(c => Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = names.map(c => struct(
      lit(c).as("column"),
      col("__n").as("n_rows"),
      col(s"__nn_$c").as("n_nonnull"),
      col(s"__nd_$c").as("n_distinct")))
    one.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.column"), col("__r.n_rows"),
        col("__r.n_nonnull"), col("__r.n_distinct"))
  }
}
