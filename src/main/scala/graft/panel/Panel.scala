package graft.panel

import graft.Checkpoint._
import graft.Exact.{Dec, Micro, Nano, Pico, decSum}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Panel algebra over long-format (sid, date[, time], …) frames.
  *
  * The reference engine (quantrocket-llc/moonshot) operates on pandas wide
  * matrices — one column per security — and its core ops are index-ordered
  * shifts/fills/rolling windows (reference: strategies/base.py:434,479-480,
  * 713,935). Here every panel is a long Spark DataFrame and each op is an
  * ordered window over `Window.partitionBy(sid).orderBy(date[, time])`.
  *
  * Design notes for scale (100 TB target):
  *  - All windows are ROWS-framed (`rowsBetween`), matching pandas row-order
  *    semantics over the (possibly gappy) trading-day sequence — never
  *    RANGE frames (SURVEY §4 trap).
  *  - Each chain of ops over the same (partition, order) keys incurs ONE
  *    shuffle: Spark reuses the sort/exchange for identical window specs.
  *  - Per-date (cross-sectional) aggregates use a `partitionBy(date)` window
  *    to keep row grain without a join; that is a second partitioning —
  *    unavoidable, same as the reference's axis=1 sums (weight.py:33).
  */
object Panel {

  /** Ordering key for panel windows. `time` is a lexically-ordered
    * "HH:MM:SS" string, matching the reference (base.py:795); extra
    * tiebreaker columns make ordering total when (date,time) repeats.
    *
    * `group` adds outer panel dimensions INSIDE one frame — a parameter
    * sweep's `variant`, a multi-account book's `account`: every per-sid
    * window partitions by (group, sid) and every cross-sectional slot by
    * (group, date[, time]), so N independent panels run in ONE plan over
    * one scan. (Grid builders like [[densify]] are per-panel ops — build
    * the grid before crossing in the group dimension.) */
  final case class Keys(
      sid: String = "sid",
      order: Seq[String] = Seq("date"),
      dateCol: String = "date",
      slot: Seq[String] = Nil,
      group: Seq[String] = Nil) {
    /** Cross-sectional slot key: (date) at EOD grain, (date, time) at
      * intraday grain (pandas axis=1 ops are per ROW of the wide frame).
      * Defaults to group ++ order cols; override when the ordering key
      * is finer than the slot (e.g. tiebreakers like event ids). */
    def slotCols: Seq[String] = if (slot.nonEmpty) slot else group ++ order
    def bySid: WindowSpec =
      Window.partitionBy((group :+ sid).map(col): _*).orderBy(order.map(col): _*)
    /** [[bySid]] with the ordering REVERSED — a prefix frame over it is
      * the O(n)-incremental way to express a suffix carry (Spark
      * recomputes current-row→unbounded-FOLLOWING frames from scratch
      * per row: quadratic on a hot partition — a 1M-event single-user
      * log ran >17 min without finishing, BASELINE.md "Round-7
      * EventsBench rows"). */
    def bySidDesc: WindowSpec =
      Window.partitionBy((group :+ sid).map(col): _*)
        .orderBy(order.map(c => col(c).desc): _*)
    def byDate: WindowSpec = Window.partitionBy(slotCols.map(col): _*)
    def cumFrame: WindowSpec =
      bySid.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def rollingFrame(n: Int): WindowSpec =
      bySid.rowsBetween(-(n - 1), Window.currentRow)
  }

  val eod: Keys = Keys()
  val intraday: Keys = Keys(order = Seq("date", "time"))

  // ---- ordered per-sid window ops (SURVEY §2.6 W1-W6) ----

  /** W1/W2: pandas `shift(n)` — previous-row value within sid. */
  def lagBySid(c: Column, n: Int = 1)(implicit k: Keys): Column =
    lag(c, n).over(k.bySid)

  /** W3: pandas `pct_change()` = value / previous value − 1. ÷0 yields
    * null — see [[safeDiv]] for the policy. */
  def pctChange(c: Column)(implicit k: Keys): Column =
    safeDiv(c, lag(c, 1).over(k.bySid)) - lit(1.0)

  /** W4: pandas `diff()` = value − previous value. */
  def diffBySid(c: Column)(implicit k: Keys): Column =
    c - lag(c, 1).over(k.bySid)

  /** W5: pandas `ffill()` — last non-null value at or before this row. */
  def ffill(c: Column)(implicit k: Keys): Column =
    last(c, ignoreNulls = true).over(k.cumFrame)

  /** Backward fill (pandas `bfill()`) — the suffix carry expressed as
    * a PREFIX frame over the reversed sort, so the window stays
    * O(n)-incremental instead of Spark's per-row suffix recompute. */
  def bfill(c: Column)(implicit k: Keys): Column =
    last(c, ignoreNulls = true)
      .over(k.bySidDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** W6: pandas `rolling(n).mean()` with default min_periods=n: null until
    * n non-null observations fill the frame. */
  def rollingMean(c: Column, n: Int)(implicit k: Keys): Column =
    whenFull(c, n, avg(c))

  def rollingSum(c: Column, n: Int)(implicit k: Keys): Column =
    whenFull(c, n, sum(c))

  def rollingMin(c: Column, n: Int)(implicit k: Keys): Column =
    whenFull(c, n, min(c))

  def rollingMax(c: Column, n: Int)(implicit k: Keys): Column =
    whenFull(c, n, max(c))

  /** pandas `rolling(n).std()` (sample std, ddof=1). */
  def rollingStd(c: Column, n: Int)(implicit k: Keys): Column =
    whenFull(c, n, stddev_samp(c))

  private def whenFull(c: Column, n: Int, agg: => Column)(implicit k: Keys): Column = {
    val f = k.rollingFrame(n)
    when(count(c).over(f) === n, agg.over(f))
  }

  /** Cumulative product via sum-of-logs (e.g., compounding returns). */
  def cumProd(c: Column)(implicit k: Keys): Column =
    exp(sum(log(c)).over(k.cumFrame))

  /** Exponentially-weighted moving average (pandas
    * `ewm(halflife=1).mean()`, adjust=True, ignore_na=False) truncated
    * to a `horizon`-row frame, per sid, as a new `outCol`.
    *
    * The recurrence form is sequential, but with weights that halve per
    * bar the tail is below one double ulp after ~53 rows, so the
    * truncated closed form `Σ xⱼ·2^(1−j)/Σ 2^(1−j)` over a bounded
    * window IS the ewma to machine precision — and a bounded window is
    * a single per-sid frame: one exchange, no recursion.
    *
    * Determinism contract (why this is oracle-able where pandas parity
    * wouldn't be): weights are EXACT binary (1/2^gap via integer shift
    * — never `pow`, whose libm varies by engine), each term is
    * micro-quantized (`round(x·w·10⁶)`), and numerator/denominator are
    * integer sums — order-free — with one final IEEE division.
    * `ignore_na=False` semantics come free: the row-number gap drives
    * the weight, so a null row still ages earlier observations while
    * contributing to neither sum. Horizon is capped at 63 (the shift
    * width; weights beyond are sub-ulp anyway). */
  def ewmaBySid(df: DataFrame, valueCol: String, outCol: String,
      horizon: Int = 50)(implicit k: Keys): DataFrame = {
    require(horizon >= 1 && horizon <= 63,
      s"horizon must be in [1, 63], got $horizon")
    val df1 = df.withColumn("__ewma_rn", row_number().over(k.bySid).cast("long"))
    val frame = Window
      .partitionBy((k.group :+ k.sid).map(col): _*)
      .orderBy(k.order.map(col): _*)
      .rowsBetween(-(horizon - 1), Window.currentRow)
    // (rn, x) pairs in frame order; the current row's rn anchors the gap
    val lst = collect_list(struct(col("__ewma_rn").as("rn"),
      col(valueCol).cast("double").as("x"))).over(frame)
    def weight(gap: Column): Column = // column-arg shiftleft: 1/2^gap, exact
      lit(1.0) / call_function("shiftleft", lit(1L), gap.cast("int")).cast("double")
    val terms = transform(lst, e => {
      val w = weight(col("__ewma_rn") - e.getField("rn"))
      struct(
        when(e.getField("x").isNotNull,
          Micro.long(e.getField("x") * w)).otherwise(lit(0L))
          .as("num"),
        when(e.getField("x").isNotNull,
          Micro.long(w)).otherwise(lit(0L)).as("den"))
    })
    // materialize `terms` in its own projection: referenced bare by both
    // folds it evaluates the window collect_list + per-element transform
    // TWICE per row (CollapseProject re-inlines only cheap expressions,
    // so the split projection is stable — the ir5 tokenize-once class)
    df1
      .withColumn("__terms", terms)
      .withColumn("__num",
        aggregate(col("__terms"), lit(0L), (a, t) => a + t.getField("num")))
      .withColumn("__den",
        aggregate(col("__terms"), lit(0L), (a, t) => a + t.getField("den")))
      .withColumn(outCol, safeDiv(col("__num").cast("double"), col("__den").cast("double")))
      .drop("__ewma_rn", "__terms", "__num", "__den")
  }

  def cumSum(c: Column)(implicit k: Keys): Column =
    sum(c).over(k.cumFrame)

  // ---- cross-sectional (per-date) aggregates (SURVEY §2.5 A1/A2) ----

  /** A1: per-date count of non-zero entries (reference weight.py:33
    * `signals.abs().sum(axis=1)` over ±1 signals), kept at row grain. */
  def perDateAbsCount(c: Column)(implicit k: Keys): Column =
    sum(abs(c)).over(k.byDate)

  def perDateSum(c: Column)(implicit k: Keys): Column =
    sum(c).over(k.byDate)

  /** A2: per-date sum over one side only (longs: c>0, shorts: c<0). */
  def perDateSumWhere(c: Column, cond: Column)(implicit k: Keys): Column =
    sum(when(cond, c).otherwise(lit(0.0))).over(k.byDate)

  /** Cross-sectional average rank of `c` within the date slot — pandas
    * `rank(axis=1)` (method='average', the default), the idiom user
    * strategies rank signals with (SURVEY §2: strategies compose extra
    * pandas ops the engine must expose). Ties share the mean of their
    * positional ranks: `rank() + (tie_count − 1)/2`, computed from two
    * window functions over the SAME (slot, value) ordering — no
    * row_number tiebreak, so the result is independent of row order
    * within a tie (deterministic under any partitioning). Nulls get no
    * rank and don't SHIFT ranks (pandas NaN stance) — ordered nulls-last
    * (Spark's ASC default is nulls-FIRST, which would offset every real
    * rank by the null count; DuckDB's default is already nulls-last). */
  def perDateRankAvg(c: Column)(implicit k: Keys): Column = {
    val ordered = Window.partitionBy(k.slotCols.map(col): _*).orderBy(c.asc_nulls_last)
    val ties = Window.partitionBy((k.slotCols.map(col) :+ c): _*)
    when(c.isNotNull,
      rank().over(ordered) + (count(lit(1)).over(ties) - 1) / 2.0)
  }

  /** Cross-sectional z-score within the date slot: (c − μ_date)/σ_date,
    * null when the slot is flat (σ=0) — the [[safeDiv]] ÷0 stance.
    * pandas `sub(mean(axis=1)).div(std(axis=1))`. */
  def zscore(c: Column)(implicit k: Keys): Column =
    safeDiv(c - avg(c).over(k.byDate), stddev_samp(c).over(k.byDate))

  /** Cross-sectional demean within the date slot (factor-neutralize the
    * panel's per-date level — pandas `sub(mean(axis=1), axis=0)`). */
  def demean(c: Column)(implicit k: Keys): Column =
    c - avg(c).over(k.byDate)

  /** Cross-sectional quantile bin (1..q) within the date slot — the
    * quintile/decile bucketing quant portfolios are formed from (long
    * top bucket, short bottom). `ntile` needs a TOTAL order to be
    * deterministic, so ties break by the `tiebreak` column (the sid);
    * pandas `qcut` differs on ties but has no deterministic distributed
    * equivalent. */
  def quantileBin(c: Column, q: Int, tiebreak: Column)(implicit k: Keys): Column =
    ntile(q).over(Window.partitionBy(k.slotCols.map(col): _*).orderBy(c, tiebreak))

  /** Winsorize: clamp `c` to its per-slot [lo, hi] quantiles (linear-
    * interpolated exact percentile — Spark and DuckDB agree on the
    * definition). The standard outlier guard before [[zscore]]. */
  def winsorize(c: Column, lo: Double, hi: Double)(implicit k: Keys): Column = {
    val w = k.byDate
    clamp(c, percentile(c, lit(lo)).over(w), percentile(c, lit(hi)).over(w))
  }

  /** W21: per-sid maximum drawdown of the close series — the
    * universe-screening column ("drop anything that ever fell 80%")
    * next to the portfolio-level [[graft.perf.Performance.drawdowns]]
    * episode table. One cumulative-max window + one hash agg per sid;
    * each date's drawdown is close/cummax − 1 ROUNDED to 6dp before
    * the min (the drawdowns argmin stance — the raw ratio differs
    * cross-engine in the last ulp). Sids that never fell emit 0.
    * Output (sid, n_days, max_drawdown). */
  def sidMaxDrawdown(
      df: DataFrame,
      closeCol: String = "close")(implicit k: Keys): DataFrame = {
    val peak = max(col(closeCol)).over(k.cumFrame)
    df
      .withColumn("__dd",
        round(when(peak > 0, col(closeCol) / peak - 1), 6))
      .groupBy(col(k.sid).as("sid"))
      .agg(
        count(lit(1)).as("n_days"),
        (coalesce(min(col("__dd")), lit(0.0)) + 0.0).as("max_drawdown"))
  }

  /** W26: per-sid return skewness and excess kurtosis — the crash-risk
    * screen ("negatively skewed carry trades", "fat-tailed
    * small-caps") as a per-sid column, next to the portfolio-level
    * [[graft.perf.Performance.momentStats]]. Population central
    * moments via the raw-moment identities over micro-quantized
    * returns (Σx, Σx², Σx³, Σx⁴ as exact decimals — the micro scale
    * cancels in both ratios), one hash aggregation per sid, doubles
    * only in the final divisions. Null when n < 3 or σ = 0.
    * Output (sid, n_days, skewness, excess_kurtosis). */
  def sidMoments(
      df: DataFrame,
      closeCol: String = "close")(implicit k: Keys): DataFrame = {
    val r = Micro.long(col(closeCol) / lag(col(closeCol), 1).over(k.bySid) - 1)
    df
      .withColumn("__r", r)
      .where(col("__r").isNotNull)
      .groupBy(col(k.sid).as("sid"))
      .agg(
        count(lit(1)).as("n_days"),
        decSum(col("__r")).as("__s1"),
        sum((col("__r").cast(Dec) * col("__r").cast(Dec))).as("__s2"),
        sum((col("__r").cast(Dec) * col("__r").cast(Dec) *
          col("__r").cast(Dec))).as("__s3"),
        sum((col("__r").cast(Dec) * col("__r").cast(Dec) *
          col("__r").cast(Dec) * col("__r").cast(Dec))).as("__s4"))
      .select(Seq(col("sid"), col("n_days")) ++ {
        val n = col("n_days").cast("double")
        val mu = col("__s1").cast("double") / n
        val m2 = col("__s2").cast("double") / n - mu * mu
        val m3 = col("__s3").cast("double") / n -
          lit(3.0) * mu * (col("__s2").cast("double") / n) +
          lit(2.0) * mu * mu * mu
        val m4 = col("__s4").cast("double") / n -
          lit(4.0) * mu * (col("__s3").cast("double") / n) +
          lit(6.0) * mu * mu * (col("__s2").cast("double") / n) -
          lit(3.0) * mu * mu * mu * mu
        val ok = col("n_days") >= 3 && m2 > 0
        Seq(
          (round(when(ok, m3 / pow(sqrt(m2), 3.0)), 6) + 0.0).as("skewness"),
          (round(when(ok, m4 / (m2 * m2) - 3.0), 6) + 0.0)
            .as("excess_kurtosis"))
      }: _*)
  }

  /** W25: per-sid rolling beta to a benchmark return column — the
    * beta PANEL [[graft.alloc.Weights.betaHedge]] consumes (its d30
    * overlay needs per-sid betas; the portfolio-level
    * [[graft.perf.Performance.rollingBeta]] answers a different
    * question). Caller supplies both return columns already aligned
    * on the row (join the benchmark series first — a broadcast date
    * join); the op itself is pure windows, so it composes with any
    * benchmark source. β = (nΣxy − ΣxΣy)/(nΣyy − (Σy)²) over the
    * trailing `window` rows where BOTH returns exist, from
    * micro-quantized exact sums; null until the window fills or when
    * the benchmark variance is 0. Appends `beta_<window>` (6dp). */
  def withRollingBeta(
      df: DataFrame,
      ret: Column,
      benchRet: Column,
      window: Int)(implicit k: Keys): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    val f = k.rollingFrame(window)
    val both = ret.isNotNull && benchRet.isNotNull
    val x = when(both, Micro.long(ret))
    val y = when(both, Micro.long(benchRet))
    val n = count(x).over(f)
    val sx = decSum(x).over(f)
    val sy = decSum(y).over(f)
    val sxy = sum((x.cast(Dec) * y.cast(Dec))).over(f)
    val syy = sum((y.cast(Dec) * y.cast(Dec))).over(f)
    val varY = n.cast(Dec) * syy - sy * sy
    df.withColumn(s"beta_$window",
      round(when(n === window && varY =!= 0,
        (n.cast(Dec) * sxy - sx * sy).cast("double") /
          varY.cast("double")), 6))
  }

  /** W24: per-sid longest underwater spell — the DURATION complement
    * of [[sidMaxDrawdown]]'s magnitude ("how long until a new high",
    * the drawdown question investors actually feel). A bar is
    * underwater when close < running peak; spells are numbered by the
    * running count of at-peak bars (one window), their lengths counted
    * per (sid, spell), and the max + the still-open tail spell
    * reported. The peak comparison is exact (cummax returns one of the
    * series' own doubles), so spell boundaries can't drift between
    * engines. Two windows + two hash aggs, all per-sid.
    * Output (sid, n_days, max_underwater, open_underwater). */
  def sidUnderwaterDuration(
      df: DataFrame,
      closeCol: String = "close")(implicit k: Keys): DataFrame = {
    val peak = max(col(closeCol)).over(k.cumFrame)
    val spelled = df
      .withColumn("__uw", (col(closeCol) < peak).cast("long"))
      .withColumn("__spell", // at-peak bars close a spell: id = #peaks so far
        sum(lit(1L) - col("__uw")).over(k.cumFrame))
      .withColumn("__last", lead(col(closeCol), 1).over(k.bySid).isNull)
    val spells = spelled
      .groupBy(col(k.sid).as("sid"), col("__spell"))
      .agg(sum(col("__uw")).as("__len"),
        max(when(col("__last") && col("__uw") === 1, 1L).otherwise(0L))
          .as("__open"),
        count(lit(1)).as("__days"))
    spells
      .groupBy(col("sid"))
      .agg(
        sum(col("__days")).as("n_days"),
        coalesce(max(col("__len")), lit(0L)).as("max_underwater"),
        coalesce(sum(when(col("__open") === 1, col("__len")).otherwise(0L)),
          lit(0L)).as("open_underwater"))
  }

  /** W20: Lo–MacKinlay variance ratio per sid —
    * Var(q-period log return) / (q · Var(1-period log return)) over
    * overlapping windows: ≈ 1 for a random walk, > 1 momentum, < 1
    * mean reversion. Log returns make the q-period return ONE
    * expression (ln(close/close_{t−q})) instead of a rolling sum, and
    * both variances use the explicit raw-moment algebra
    * ([[graft.perf.Performance.momentStats]]' stance — engine
    * variance builtins differ in small-sample form). The simple
    * overlapping population-variance estimator (no heteroskedasticity
    * correction), documented rather than silently approximated. One
    * window pass + one hash agg per sid; null when the 1-period
    * variance is 0 or either side lacks 2 observations. Output
    * (sid, n_days, vr_<q>) with 6dp. */
  def varianceRatio(
      df: DataFrame,
      q: Int,
      closeCol: String = "close")(implicit k: Keys): DataFrame = {
    require(q >= 2, s"q must be >= 2: $q")
    val r1 = log(col(closeCol) / lag(col(closeCol), 1).over(k.bySid))
    val rq = log(col(closeCol) / lag(col(closeCol), q).over(k.bySid))
    df
      .withColumn("__r1", r1)
      .withColumn("__rq", rq)
      .groupBy(col(k.sid).as("sid"))
      .agg(
        count(lit(1)).as("n_days"),
        count(col("__r1")).as("__n1"),
        avg(col("__r1")).as("__a1"),
        avg(col("__r1") * col("__r1")).as("__a11"),
        count(col("__rq")).as("__nq"),
        avg(col("__rq")).as("__aq"),
        avg(col("__rq") * col("__rq")).as("__aqq"))
      .select(
        col("sid"), col("n_days"),
        round(when(
          col("__n1") >= 2 && col("__nq") >= 2 &&
            col("__a11") - col("__a1") * col("__a1") > 0,
          (col("__aqq") - col("__aq") * col("__aq")) /
            (lit(q.toDouble) * (col("__a11") - col("__a1") * col("__a1")))),
          6).as(s"vr_$q"))
  }

  /** W22: Hurst exponent via the aggregated-variance method (Taqqu,
    * Teverovsky & Willinger 1995): per sid, log returns are summed over
    * non-overlapping blocks of k ∈ `scales`; for self-similar series
    * Var(block sum) ∝ k^2H, so H is half the OLS slope of ln Var_k on
    * ln k. H ≈ 0.5 random walk, > 0.5 trending/persistent, < 0.5
    * mean-reverting — the regime diagnostic behind [[varianceRatio]],
    * summarized across scales instead of at one q.
    *
    * Exactness: returns are micro-quantized longs, block sums exact,
    * per-scale variance from decimal moments; the ≤|scales| log-log
    * points are nano-quantized before the per-sid OLS sums, so the
    * tiny final aggregation is integer-exact too (a 4-double sum
    * would be partitioning-order noise). Plan: one window pass (lag +
    * row_number), a bounded explode (×|scales|), two hash aggs, no
    * joins. Incomplete trailing blocks are dropped; scales with < 2
    * complete blocks or zero variance contribute no point; sids with
    * < 2 points yield null. Output (sid, n_scales, hurst). */
  def hurstExponent(
      df: DataFrame,
      scales: Seq[Int] = Seq(1, 2, 4, 8),
      closeCol: String = "close")(implicit k: Keys): DataFrame = {
    require(scales.size >= 2, s"need at least 2 scales: $scales")
    require(scales.forall(_ >= 1) && scales.distinct.size == scales.size,
      s"scales must be distinct positives: $scales")
    val r = Micro.long(log(col(closeCol) / lag(col(closeCol), 1).over(k.bySid)))
    val rets = df
      .withColumn("__r", r)
      .where(col("__r").isNotNull)
      .withColumn("__rn",
        row_number().over(k.bySid) - 1)
    val lkOf = scales.map(s => s -> math.rint(math.log(s.toDouble) * Nano.factor).toLong)
    val blocks = rets
      .select(col(k.sid).as("sid"), col("__rn"), col("__r"),
        explode(lit(scales.toArray)).as("__k"))
      .groupBy(col("sid"), col("__k"),
        floor(col("__rn") / col("__k")).as("__blk"))
      .agg(count(lit(1)).as("__c"), sum(col("__r")).as("__bs"))
      .where(col("__c") === col("__k")) // complete blocks only
    val perScale = blocks
      .groupBy(col("sid"), col("__k"))
      .agg(
        count(lit(1)).as("__nb"),
        decSum(col("__bs")).as("__s"),
        sum((col("__bs").cast(Dec) * col("__bs").cast(Dec))).as("__ss"))
      .where(col("__nb") >= 2)
      .withColumn("__var",
        (col("__nb").cast(Dec) * col("__ss") - col("__s") * col("__s"))
          .cast("double") /
          (col("__nb").cast("double") * (col("__nb") - 1).cast("double")))
      .where(col("__var") > 0)
      .withColumn("__lv", Nano.long(log(col("__var"))))
      .withColumn("__lk",
        lkOf.tail.foldLeft(when(col("__k") === lkOf.head._1,
          lit(lkOf.head._2))) { case (acc, (s, v)) =>
          acc.when(col("__k") === s, lit(v))
        })
    perScale
      .groupBy(col("sid"))
      .agg(
        count(lit(1)).as("n_scales"),
        sum(col("__lk")).as("__slk"),
        sum(col("__lv")).as("__slv"),
        sum((col("__lk").cast(Dec) * col("__lk").cast(Dec))).as("__slkk"),
        sum((col("__lk").cast(Dec) * col("__lv").cast(Dec))).as("__slkv"))
      .select(
        col("sid"), col("n_scales"),
        (round(when(
          col("n_scales") >= 2 &&
            col("n_scales").cast(Dec) * col("__slkk") -
              col("__slk").cast(Dec) * col("__slk").cast(Dec) =!= 0,
          (col("n_scales").cast(Dec) * col("__slkv") -
            col("__slk").cast(Dec) * col("__slv").cast(Dec)).cast("double") /
            (col("n_scales").cast(Dec) * col("__slkk") -
              col("__slk").cast(Dec) * col("__slk").cast(Dec)).cast("double")
            / 2.0), 6) + 0.0).as("hurst"))
  }

  /** Cross-sectional robust z-score: 0.6745·(x − median)/MAD per date
    * slot (median absolute deviation, scaled so a normal sample reads
    * in σ units) — the outlier-immune counterpart of [[zscore]] (one
    * corrupt print moves a mean-based z arbitrarily; the median pair
    * doesn't budge). A DataFrame op rather than a Column helper
    * because the MAD percentile takes the median's RESULT as input —
    * a window over a window must be two projection steps (both ride
    * the same cross-sectional exchange; Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the winsorize precedent). Null when MAD = 0 (a
    * majority-constant slot has no robust scale). Appends `out`,
    * 6dp. */
  def withRobustZscore(
      df: DataFrame,
      c: Column,
      out: String = "robust_z")(implicit k: Keys): DataFrame = {
    val w = k.byDate
    df
      .withColumn("__med", percentile(c, lit(0.5)).over(w))
      .withColumn("__mad", percentile(abs(c - col("__med")), lit(0.5)).over(w))
      .withColumn(out,
        round(when(col("__mad") =!= 0,
          (c - col("__med")) * 0.6745 / col("__mad")), 6) + 0.0)
      .drop("__med", "__mad")
  }

  /** Pairwise return-correlation matrix for a NAMED sid set — the
    * portfolio-risk input (diversification check, covariance seed for
    * sizing). Deliberately bounded: the caller names the sids (a book
    * is tens of names, not the whole universe), capped at 50 because
    * the aggregation carries O(N²) moment expressions; an all-pairs
    * corpus matrix is a different (blocked) algorithm.
    *
    * Plan: one filtered hash agg to (date × N) grid cells, then ONE
    * global aggregation computing every pair's moment sums — no joins,
    * no window. Pairwise-complete: a pair's sums cover only dates where
    * BOTH sids have a return. Exactness: micro-quantized returns →
    * decimal(38,0) sums; one double division per pair (6dp,
    * −0.0-normalized). Output (sid_a, sid_b, n, corr) for i < j in the
    * given sid order. */
  def correlationMatrix(
      df: DataFrame,
      ret: Column,
      sids: Seq[String])(implicit k: Keys): DataFrame = {
    require(sids.size >= 2, s"need at least 2 sids: ${sids.size}")
    require(sids.size <= 50,
      s"correlationMatrix is for a named book (<= 50 sids), got ${sids.size}; " +
        "use a blocked all-pairs algorithm for corpus-wide matrices")
    require(sids.distinct.size == sids.size, "duplicate sids")
    val n = sids.length
    val grid = df
      .where(col(k.sid).cast("string").isin(sids: _*))
      .groupBy(k.slotCols.map(col): _*)
      .agg(
        max(when(col(k.sid).cast("string") === sids.head,
          Micro.long(ret))).as("__v0"),
        sids.tail.zipWithIndex.map { case (s, i) =>
          max(when(col(k.sid).cast("string") === s,
            Micro.long(ret))).as(s"__v${i + 1}")
        }: _*)
    val pairs = for (i <- 0 until n; j <- (i + 1) until n) yield (i, j)
    val aggs = pairs.flatMap { case (i, j) =>
      val vi = col(s"__v$i"); val vj = col(s"__v$j")
      val both = vi.isNotNull && vj.isNotNull
      def m(c: Column) = when(both, c.cast(Dec))
      Seq(
        sum(when(both, 1L)).as(s"__n_${i}_$j"),
        sum(m(vi)).as(s"__sx_${i}_$j"),
        sum(m(vj)).as(s"__sy_${i}_$j"),
        sum(m(vi * vi)).as(s"__sxx_${i}_$j"),
        sum(m(vj * vj)).as(s"__syy_${i}_$j"),
        sum(m(vi * vj)).as(s"__sxy_${i}_$j"))
    }
    val one = grid.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (i, j) =>
      val nn = coalesce(col(s"__n_${i}_$j"), lit(0L))
      val nd = nn.cast(Dec)
      val covN = nd * col(s"__sxy_${i}_$j") -
        col(s"__sx_${i}_$j") * col(s"__sy_${i}_$j")
      val vxN = nd * col(s"__sxx_${i}_$j") -
        col(s"__sx_${i}_$j") * col(s"__sx_${i}_$j")
      val vyN = nd * col(s"__syy_${i}_$j") -
        col(s"__sy_${i}_$j") * col(s"__sy_${i}_$j")
      struct(
        lit(sids(i)).as("sid_a"), lit(sids(j)).as("sid_b"), nn.as("n"),
        (round(when(nn >= 2 && vxN =!= 0 && vyN =!= 0,
          covN.cast("double") /
            sqrt(vxN.cast("double") * vyN.cast("double"))), 6) + 0.0).as("corr"))
    }
    one.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.sid_a"), col("__r.sid_b"), col("__r.n"), col("__r.corr"))
  }

  /** Engle-Granger cointegration screen over a bounded book of sid
    * pairs (Engle & Granger 1987 step 1 + the Sargan-Bhargava 1983
    * CRDW statistic as the step-2 residual test): per pair (a, b),
    * OLS of a's log price on b's (β̂ the hedge ratio, α̂ the spread
    * level), then the cointegrating-regression Durbin-Watson
    * Σ(Δe)²/Σe² over the residual series — CRDW ≈ 0 means the spread
    * random-walks (NOT cointegrated); the Sargan-Bhargava tables put
    * the 5% rejection of no-cointegration around 0.39 at T = 100.
    *
    * Same bounded-book contract as [[correlationMatrix]] (≤ 50 sids —
    * pair state lives in ONE aggregation row, not a pair join).
    * Exactness: log prices micro-quantized; OLS from decimal moment
    * sums; residuals re-quantized to micro before the Δ/Σ sums, so
    * both passes are partitioning-invariant. Plan: grid pivot (one
    * shuffle, lazily checkpointed — it feeds the moment agg AND the
    * residual pass), one-row stats broadcast back, one ordered window
    * over the date-grain series (post-aggregation, bounded), one final
    * agg. Output (sid_a, sid_b, n, beta, alpha, crdw, adf_t,
    * resid_std) with alpha/resid_std in log-price units; `adf_t` is
    * the step-2 no-intercept Dickey-Fuller t on the residuals (5%
    * no-cointegration rejection ≈ −3.34, Engle & Granger 1987). */
  def cointegrationScreen(
      df: DataFrame,
      price: Column,
      sids: Seq[String])(implicit k: Keys): DataFrame = {
    require(sids.size >= 2, s"need at least 2 sids: ${sids.size}")
    require(sids.size <= 50,
      s"cointegrationScreen is for a named book (<= 50 sids), got ${sids.size}")
    require(sids.distinct.size == sids.size, "duplicate sids")
    val n = sids.length
    val lp = Micro.long(log(price))
    val grid = df
      .where(col(k.sid).cast("string").isin(sids: _*) && price > 0)
      .groupBy(k.slotCols.map(col): _*)
      .agg(
        max(when(col(k.sid).cast("string") === sids.head, lp)).as("__v0"),
        sids.tail.zipWithIndex.map { case (s, i) =>
          max(when(col(k.sid).cast("string") === s, lp)).as(s"__v${i + 1}")
        }: _*)
      .checkpointed(eager = false)
    val pairs = for (i <- 0 until n; j <- (i + 1) until n) yield (i, j)
    val aggs = pairs.flatMap { case (i, j) =>
      val y = col(s"__v$i"); val x = col(s"__v$j")
      val both = y.isNotNull && x.isNotNull
      def m(c: Column) = when(both, c.cast(Dec))
      Seq(
        sum(when(both, 1L)).as(s"__n_${i}_$j"),
        sum(m(x)).as(s"__sx_${i}_$j"),
        sum(m(y)).as(s"__sy_${i}_$j"),
        sum(m(x * x)).as(s"__sxx_${i}_$j"),
        sum(m(x * y)).as(s"__sxy_${i}_$j"))
    }
    val stats = grid.agg(aggs.head, aggs.tail: _*)
    // residual pass: ê_t = y_t − α̂ − β̂x_t re-quantized to micro longs
    val withE = grid.crossJoin(broadcast(stats))
    val eCols = pairs.map { case (i, j) =>
      val y = col(s"__v$i"); val x = col(s"__v$j")
      val nn = col(s"__n_${i}_$j").cast(Dec)
      val vx = nn * col(s"__sxx_${i}_$j") -
        col(s"__sx_${i}_$j") * col(s"__sx_${i}_$j")
      val beta = when(col(s"__n_${i}_$j") >= 3 && vx =!= 0,
        (nn * col(s"__sxy_${i}_$j") -
          col(s"__sx_${i}_$j") * col(s"__sy_${i}_$j")).cast("double") /
          vx.cast("double"))
      val alpha = (col(s"__sy_${i}_$j").cast("double") -
        beta * col(s"__sx_${i}_$j").cast("double")) /
        col(s"__n_${i}_$j").cast("double")
      when(y.isNotNull && x.isNotNull,
        round(y - alpha - beta * x).cast("long")).as(s"__e_${i}_$j")
    }
    val wOrd = Window.orderBy(k.slotCols.map(col): _*)
    val series = withE.select(k.slotCols.map(col) ++ eCols: _*)
    val lagged = series.select(
      pairs.flatMap { case (i, j) =>
        val e = col(s"__e_${i}_$j")
        // previous OBSERVED residual — pairs skip dates they miss
        val prev = last(e, ignoreNulls = true)
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
        Seq(e, when(e.isNotNull && prev.isNotNull, e - prev)
          .as(s"__d_${i}_$j"))
      }: _*)
    val aggs2 = pairs.flatMap { case (i, j) =>
      val e = col(s"__e_${i}_$j"); val d = col(s"__d_${i}_$j")
      val prev = e - d // the lagged residual, where a Δ exists
      Seq(
        count(e).as(s"__cnt_${i}_$j"),
        count(d).as(s"__cnd_${i}_$j"),
        sum((e.cast(Dec) * e.cast(Dec))).as(s"__see_${i}_$j"),
        sum((d.cast(Dec) * d.cast(Dec))).as(s"__sdd_${i}_$j"),
        sum((prev.cast(Dec) * prev.cast(Dec))).as(s"__spp_${i}_$j"),
        sum((prev.cast(Dec) * d.cast(Dec))).as(s"__spd_${i}_$j"))
    }
    val one2 = lagged.agg(aggs2.head, aggs2.tail: _*)
      .crossJoin(broadcast(stats))
    val rows = pairs.map { case (i, j) =>
      val nn = coalesce(col(s"__n_${i}_$j"), lit(0L))
      val nd = nn.cast(Dec)
      val vx = nd * col(s"__sxx_${i}_$j") -
        col(s"__sx_${i}_$j") * col(s"__sx_${i}_$j")
      val beta = when(nn >= 3 && vx =!= 0,
        (nd * col(s"__sxy_${i}_$j") -
          col(s"__sx_${i}_$j") * col(s"__sy_${i}_$j")).cast("double") /
          vx.cast("double"))
      val alpha = (col(s"__sy_${i}_$j").cast("double") -
        beta * col(s"__sx_${i}_$j").cast("double")) / nn.cast("double")
      val see = col(s"__see_${i}_$j").cast("double")
      val crdw = when(see > 0,
        col(s"__sdd_${i}_$j").cast("double") / see)
      // Engle-Granger step 2: no-intercept Dickey-Fuller on the
      // residuals, Δe_t = φ·e_{t−1}: φ from exact decimal sums, its
      // t-statistic vs the DF distribution (5% no-cointegration
      // rejection ≈ −3.34 for a 2-variable regression, Engle &
      // Granger 1987 table II)
      val nd2 = col(s"__cnd_${i}_$j")
      val spp = col(s"__spp_${i}_$j").cast("double")
      val spd = col(s"__spd_${i}_$j").cast("double")
      val phi = spd / spp
      val s2 = (col(s"__sdd_${i}_$j").cast("double") - phi * spd) /
        (nd2 - 1).cast("double")
      val adfT = when(nd2 >= 3 && spp > 0 && s2 > 0,
        phi / sqrt(s2 / spp))
      struct(
        lit(sids(i)).as("sid_a"), lit(sids(j)).as("sid_b"), nn.as("n"),
        (round(beta, 6) + 0.0).as("beta"),
        (round(alpha / Micro.factor, 6) + 0.0).as("alpha"),
        (round(crdw, 6) + 0.0).as("crdw"),
        (round(adfT, 6) + 0.0).as("adf_t"),
        (round(sqrt(see / nn.cast("double")) / Micro.factor, 6) + 0.0)
          .as("resid_std"))
    }
    one2.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.sid_a"), col("__r.sid_b"), col("__r.n"),
        col("__r.beta"), col("__r.alpha"), col("__r.crdw"),
        col("__r.adf_t"), col("__r.resid_std"))
  }

  /** COINT2: z-scored spread signal for ONE cointegrated pair — the
    * trading leg of [[cointegrationScreen]]: spread_t = ln a − β·ln b
    * − α with the screen's PRE-ROUNDED 6dp β/α (the voltarget stance:
    * identical constants in any engine), rolling z-score over
    * `window` bars, and the classic bands — z > `entryZ` shorts the
    * spread (signal −1: short a, long β·b), z < −entryZ longs it,
    * |z| inside exits to 0. Spreads are re-quantized to micro longs
    * so the rolling moment sums are exact; z divides the ROUNDED 6dp
    * rolling std (engine-internal variance accumulation never reaches
    * the output). One date-ordered window over the joined pair series
    * (post-aggregation-sized). Output (date, spread, z, signal). */
  def spreadZSignal(
      df: DataFrame,
      price: Column,
      sidA: String,
      sidB: String,
      beta: Double,
      alpha: Double,
      window: Int,
      entryZ: Double = 2.0)(implicit k: Keys): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    require(entryZ > 0, s"entryZ must be positive: $entryZ")
    val lp = Micro.long(log(price))
    val grid = df
      .where(col(k.sid).cast("string").isin(sidA, sidB) && price > 0)
      .groupBy(k.slotCols.map(col): _*)
      .agg(
        max(when(col(k.sid).cast("string") === sidA, lp)).as("__la"),
        max(when(col(k.sid).cast("string") === sidB, lp)).as("__lb"))
      .where(col("__la").isNotNull && col("__lb").isNotNull)
    val w = Window.orderBy(k.slotCols.map(col): _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val sq = round(col("__la") - lit(beta) * col("__lb") - lit(alpha * Micro.factor))
      .cast("long")
    val spread = grid.withColumn("__sq", sq)
    val n = count(col("__sq")).over(w)
    val s1 = decSum(col("__sq")).over(w)
    val s2 = sum((col("__sq").cast(Dec) * col("__sq").cast(Dec))).over(w)
    val mean = s1.cast("double") / n.cast("double")
    val sd = round(sqrt(greatest(
      (n.cast(Dec) * s2 - s1 * s1).cast("double") /
        (n.cast("double") * (n - 1).cast("double")), lit(0.0))), 6)
    val z = round(when(n === window && sd > 0,
      (col("__sq").cast("double") - mean) / sd), 6)
    spread
      .withColumn("z", z + lit(0.0))
      .withColumn("signal",
        when(col("z") > entryZ, -1).when(col("z") < -entryZ, 1)
          .when(col("z").isNotNull, 0).cast("int"))
      .select(k.slotCols.map(col) :+
        (round(Micro.back(col("__sq")), 6) + 0.0).as("spread") :+
        col("z") :+ col("signal"): _*)
  }

  /** Range-based volatility estimators over OHLC bars (the
    * [[resampleOhlcv]] output): Parkinson 1980 (high/low range) and
    * Garman-Klass 1980 (range + open/close) per-bar variance — both
    * published estimators are ~5-7× more efficient than close-to-close
    * sampling at the same bar count. Pure per-row arithmetic on the
    * bar frame (no windows, no shuffles beyond what produced the
    * bars); outputs are per-bar VOLATILITIES (√variance) rounded to
    * 6dp — `ln` is the one libm site and its cross-engine noise is
    * ulps. Null on degenerate bars (non-positive high/low/open). */
  def rangeVolatility(
      bars: DataFrame,
      openCol: String = "open",
      highCol: String = "high",
      lowCol: String = "low",
      closeCol: String = "close"): DataFrame = {
    val ok = col(highCol) > 0 && col(lowCol) > 0 && col(highCol) >= col(lowCol)
    val hl = log(col(highCol) / col(lowCol))
    val co = log(col(closeCol) / col(openCol))
    val parkinson = sqrt(hl * hl / (4.0 * math.log(2.0)))
    val gk = sqrt(greatest(
      lit(0.0), hl * hl * 0.5 - lit(2.0 * math.log(2.0) - 1.0) * co * co))
    bars
      .withColumn("parkinson", round(when(ok, parkinson), 6))
      .withColumn("garman_klass",
        round(when(ok && col(openCol) > 0 && col(closeCol) > 0, gk), 6))
  }

  /** Market-residualized returns: r − β·m, where m is the equal-weight
    * cross-sectional mean return (the panel's own market factor) and β
    * is each sid's trailing `window`-bar sample beta vs m — the
    * market-neutralization step before cross-sectional signal work
    * (px2's zscore removes the per-date LEVEL; this removes each sid's
    * market EXPOSURE).
    *
    * Plan: m is one date-slot window (exact pico-integer mean — the
    * cross-sid sum can't wobble), β one trailing window over the sid
    * partitioning the W family already pays — no joins. β is rounded
    * to 6dp before use (windowed covariance accumulation is engine
    * noise below that — the rollingBeta stance), null until `window`
    * non-null returns accrue or while the market variance is 0;
    * `resid` rounds to 6dp, null wherever β or r is. Appends
    * (mkt_ret, beta_N, resid). */
  def residualReturns(
      df: DataFrame,
      ret: Column,
      window: Int)(implicit k: Keys): DataFrame = {
    require(window >= 2, s"beta window must be >= 2: $window")
    val slot = k.byDate
    // null (not NaN) on a return-less date so covar pairs skip it
    val m = when(count(ret).over(slot) > 0,
      sum(Pico.dec(ret)).over(slot)
        .cast("double") / count(ret).over(slot) / Pico.factor)
    val f = k.rollingFrame(window)
    val full = count(ret).over(f) === window
    val beta = round(
      when(full && var_samp(col("__m")).over(f) =!= 0,
        covar_samp(ret, col("__m")).over(f) / var_samp(col("__m")).over(f)), 6) + 0.0
    df.withColumn("__m", m)
      .withColumn(s"beta_$window", beta)
      .withColumn("resid",
        round(ret - col(s"beta_$window") * col("__m"), 6) + 0.0)
      .withColumn("mkt_ret", round(col("__m"), 6) + 0.0)
      .drop("__m")
  }

  /** W8 companion: OHLCV interval resampling — collapse each sid's bars
    * into `bucket`-grain bars with open = first price, high/low =
    * max/min, close = last price, volume = summed size, n_bars. First/
    * last are `min_by`/`max_by` over the Keys ORDER (made total by the
    * caller's tiebreakers), so they are order-free partial aggregations
    * — one hash agg, map-side combined, no window, no sort. Volume sums
    * as a long (exact); prices flow through max/min untouched (no float
    * accumulation at all). */
  def resampleOhlcv(
      df: DataFrame,
      bucket: Column,
      price: Column,
      volume: Column)(implicit k: Keys): DataFrame = {
    val orderKey = struct(k.order.map(col): _*)
    df.groupBy(((k.group :+ k.sid).map(col) :+ bucket.as("bucket")): _*)
      .agg(
        min_by(price, orderKey).as("open"),
        max(price).as("high"),
        min(price).as("low"),
        max_by(price, orderKey).as("close"),
        sum(volume.cast("long")).as("volume"),
        count(lit(1)).as("n_bars"))
  }

  /** Per-sid lag-`lagK` autocorrelation of `value`: Pearson corr of
    * (value_t, value_{t−lagK}) over each sid's ordered series — the
    * mean-reversion/momentum diagnostic run before trusting a lag-based
    * signal. Rows where either side is null (the first lagK bars, value
    * gaps) are excluded pairwise.
    *
    * Plan: one lag window over the sid partitioning the W family
    * already pays + ONE hash aggregation to (group, sid) — no joins, no
    * global sort; |sids| result rows. Exactness: both sides are
    * micro-quantized (×1e6) so the five moment sums accumulate in
    * decimal(38,0) (order-free); one double division per sid, rounded
    * to 6dp, −0.0-normalized; null when n < 2 or either side is flat.
    * Output (group…, sid, n, acf). */
  def autocorrelation(df: DataFrame, value: Column, lagK: Int)(
      implicit k: Keys): DataFrame = {
    require(lagK >= 1, s"lag must be >= 1: $lagK")
    val keyCols = (k.group :+ k.sid).map(col)
    val paired = df
      .withColumn("__x", lag(value, lagK).over(k.bySid))
      .where(value.isNotNull && col("__x").isNotNull)
      .select((keyCols :+ Micro.dec(value).as("__y") :+ Micro.dec(col("__x")).as("__x")): _*)
    val agg = paired
      .groupBy(keyCols: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__x") * col("__y")).as("__sxy"))
    val n = col("n").cast(Dec)
    val covN = n * col("__sxy") - col("__sx") * col("__sy")
    val vxN = n * col("__sxx") - col("__sx") * col("__sx")
    val vyN = n * col("__syy") - col("__sy") * col("__sy")
    agg.select(
      (keyCols :+ col("n") :+
        (round(
          when(col("n") >= 2 && vxN =!= 0 && vyN =!= 0,
            covN.cast("double") /
              sqrt(vxN.cast("double") * vyN.cast("double"))), 6) + 0.0)
          .as("acf")): _*)
  }

  // ---- scalar helpers (SURVEY §2.7) ----

  /** Guarded division: a/b where b≠0, else null — THE engine-wide ÷0
    * policy (reference `where(x != 0)` idiom, weight.py:35, base.py:955).
    *
    * Why null and not ±inf: SQL double division yields NULL on a zero
    * divisor (DuckDB plain `/`, Spark non-ANSI), and that is what the
    * oracle computes; pandas would give ±inf, but the reference never
    * hits that edge (prices are positive). Spark 4's default ANSI mode
    * instead ABORTS the whole job on ÷0 — this CaseWhen short-circuits,
    * so the raw `/` never sees a zero divisor and every expression built
    * on it is safe under either ANSI setting. */
  def safeDiv(a: Column, b: Column): Column =
    when(b =!= 0, a / b)

  /** NaN→0 (pandas `fillna(0)` over float panels). */
  def zeroFill(c: Column): Column =
    when(c.isNull || isnan(c), lit(0.0)).otherwise(c)

  /** Clamp c into [lo, hi]. */
  def clamp(c: Column, lo: Column, hi: Column): Column =
    least(greatest(c, lo), hi)

  // ---- reshapes (SURVEY §2.3) ----

  /** R1: wide→long. Unpivots `valueCols` into (field, value) rows.
    * pandas `stack()` (reference base.py:683,1703). Uses the codegen'd
    * `stack` generator — no per-row map allocation. */
  def meltFields(df: DataFrame, idCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    val pairs = valueCols
      .map(c => s"'${c.replace("'", "\\'")}', CAST(`$c` AS DOUBLE)")
      .mkString(", ")
    df.selectExpr(
      idCols.map(c => s"`$c`") :+
        s"stack(${valueCols.size}, $pairs) AS (field, value)": _*)
  }

  /** R2: long→wide pivot of sids to columns. pandas `unstack()`
    * (reference base.py:1721). Only for bounded sid sets (final outputs);
    * never pivot an unbounded sid universe at 100 TB — keep long instead. */
  def pivotSids(df: DataFrame, sids: Seq[String], valueCol: String = "value")(
      implicit k: Keys): DataFrame =
    df.groupBy(k.order.map(col): _*)
      .pivot(k.sid, sids)
      .agg(first(col(valueCol)))

  /** R3: keyed concat — tag each measure frame with its field name and
    * union (reference base.py:1382 `pd.concat(..., keys=fields)`). */
  def concatFields(frames: Seq[(String, DataFrame)]): DataFrame =
    frames
      .map { case (name, df) => df.withColumn("field", lit(name)) }
      .reduce(_ unionByName _)

  /** Densify: complete the (sid × date[,time]) grid so ordered window ops
    * see every slot (the reference's panels are dense by construction,
    * base.py:808-810). Missing values become nulls.
    *
    * Scale shape (plan-audited): two tiny distincts, a broadcast
    * nested-loop cross join building the |sids|×|slots| grid, then the
    * left join back, which exchanges BOTH sides on the compound key —
    * the grid rows are narrow synthetic (sid, slot) tuples, so the extra
    * exchange moves keys, not data. (Partitioning by sid alone cannot be
    * reused across the join under Spark's default
    * requireAllClusterKeysForCoPartition.) The join prunes nothing, so
    * call once at ingest, not per-op. */
  def densify(df: DataFrame)(implicit k: Keys): DataFrame = {
    val sids = df.select(k.sid).distinct()
    val slots = df.select(k.order.map(col): _*).distinct()
    val grid = sids.crossJoin(broadcast(slots))
    grid.join(df, k.sid +: k.order, "left")
  }

  /** Forward-fill an entire value column across a densified grid —
    * the `reindex + ffill` composite the reference uses for benchmarks
    * and contract values (base.py:935, 1500). */
  def densifyFfill(df: DataFrame, valueCol: String)(implicit k: Keys): DataFrame =
    densify(df).withColumn(valueCol, ffill(col(valueCol)))
}
