package graft.trade

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.costs.ContractValues
import graft.panel.Panel
import graft.panel.Panel.Keys
import graft.pipeline.Strategy
import graft.{GraftError, ParameterError}
import graft.Exact.Pico

/** Live-trading order generation — reference `Moonshot.trade()`
  * (strategies/base.py:1572-1806, lifecycle SURVEY §3.2).
  *
  * The pipeline is the backtest rerun on latest data, sliced at the signal
  * date, fanned out across accounts (a crossJoin against a broadcast
  * allocations table — the reference's weights ⊗ allocations outer
  * product, base.py:1609-1616), converted to quantities via NLV and FX,
  * and diffed against live positions + open orders.
  */
object Trade {

  /** ALLOW_REBALANCE gate (reference base.py:1774-1796). */
  sealed trait Rebalance
  case object AllowRebalance extends Rebalance
  case object NoRebalance extends Rebalance
  final case class RebalanceThreshold(minPct: Double) extends Rebalance

  /** D20 date resolution (reference base.py:716-837): the signal date is
    * the review date when given, else derived from the exchange calendar
    * when the strategy sets one (base.py:742-757: closed exchange → the
    * moment it last closed; open → now in the calendar's timezone), else
    * "today" in the strategy timezone. The trade time is that moment's
    * "HH:mm:ss" (lexical, matching the reference's string time
    * comparisons). */
  def resolveSignalDateTime(
      timezone: String,
      reviewDate: Option[String] = None,
      now: () => java.time.Instant = () => java.time.Instant.now(),
      calendar: Option[CalendarStatus] = None): (String, String) =
    reviewDate match {
      case Some(d) if d.contains(" ") =>
        // review date with a time ("2018-05-02 12:05:00") — continuous
        // intraday reviews slice at that moment (base.py:744-760)
        val Array(date, time) = d.split(" ", 2)
        (date, time)
      case Some(d) => (d, "23:59:59") // date-only: end-of-day semantics
      case None =>
        calendar match {
          case Some(st) if st.status == "closed" =>
            // closed exchange: signals correspond to the date (and moment)
            // it last closed (base.py:745-750)
            splitTimestamp(st.since)
          case Some(st) =>
            // open exchange: today in the CALENDAR timezone, not the
            // strategy timezone (base.py:751-753)
            nowIn(st.timezone, now)
          case None => nowIn(timezone, now)
        }
    }

  private def nowIn(timezone: String, now: () => java.time.Instant): (String, String) = {
    val zoned = now().atZone(java.time.ZoneId.of(timezone))
    (zoned.toLocalDate.toString,
      zoned.toLocalTime.format(java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss")))
  }

  /** "2018-05-01T14:00:00" / "2018-05-01 14:00:00" / "2018-05-01" →
    * (date, "HH:mm:ss"); date-only means midnight, like pd.Timestamp. */
  private def splitTimestamp(ts: String): (String, String) = {
    val norm = ts.replace('T', ' ')
    if (norm.contains(" ")) {
      val Array(date, time) = norm.split(" ", 2)
      (date, time.take(8))
    } else (norm, "00:00:00")
  }

  /** D20: slice the weights panel at the signal date (and latest
    * time ≤ tradeTime when intraday — reference base.py:794-795 picks
    * `max(times < trade_time)` lexically). Staleness validation
    * (base.py:772-784) is a driver-side scalar check. */
  def todayWeights(
      panel: DataFrame,
      signalDate: String,
      tradeTime: Option[String] = None)(implicit k: Keys): DataFrame = {
    val onDate = panel.where(col(k.dateCol) === lit(signalDate))
    tradeTime match {
      case None => onDate
      case Some(t) =>
        // W10: latest bar strictly before the trade time, per sid
        val eligible = onDate.where(col("time") < lit(t))
        // validation (base.py:795-830): an empty slice must not silently
        // read as "no orders". In the reference's dense grid the two
        // failure modes are separate checks; on a sparse long panel ONE
        // isEmpty probe (a single take(1) job) covers the happy path, and
        // only a failure pays for the second probe to pick the right error.
        if (eligible.isEmpty) {
          val anyEarlierTime = !panel.where(col("time") < lit(t)).isEmpty
          if (!anyEarlierTime)
            throw new GraftError(
              "cannot determine which target weights to use for orders " +
                "because target weights DataFrame contains no times earlier " +
                s"than trade time $t for signal date $signalDate")
          else
            throw new GraftError(
              s"no $t data found in prices DataFrame for signal date " +
                s"$signalDate, is the underlying data up-to-date?")
        }
        val w = Window.partitionBy(k.sid).orderBy(col("time").desc)
        eligible.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
    }
  }

  /** Staleness check (base.py:772-784): error if the panel's max date is
    * older than the expected signal date. Driver-side scalar agg. When no
    * calendar is set, the panel is daily, and the gap is exactly one day,
    * the reference appends a hint that a trading calendar would have
    * resolved the date to the last close (base.py:779-784). */
  def requireFresh(
      panel: DataFrame,
      signalDate: String,
      calendarSet: Boolean = false,
      intraday: Boolean = false)(implicit k: Keys): Unit = {
    val maxDate = panel.agg(max(col(k.dateCol))).head.get(0)
    val fresh = maxDate != null && maxDate.toString >= signalDate
    if (!fresh) {
      var msg =
        s"expected signal date $signalDate not found in target weights DataFrame, " +
          s"is the underlying data up-to-date? (max date is $maxDate) — prices are stale"
      val oneDayGap = maxDate != null &&
        java.time.LocalDate.parse(maxDate.toString.take(10)).plusDays(1).toString == signalDate
      if (!calendarSet && !intraday && oneDayGap)
        msg += s" If your strategy trades before the open and $signalDate data " +
          "is not expected, try setting CALENDAR = <exchange>"
      throw new GraftError(msg)
    }
  }

  /** R5 + J2 + D21 core: today's weights × allocations → target
    * quantities per (sid, account).
    *
    * @param weights    (sid, weight[, close]) — today's slice
    * @param master     securities master incl. currency/secType/magnifier/
    *                   multiplier (broadcast)
    * @param allocations (account, allocation) — tiny, broadcast
    * @param balances   (account, currency, netLiquidation) — tiny
    * @param rates      (baseCurrency, quoteCurrency, rate) — tiny;
    *                   self-rate patched to 1 (base.py:1720)
    */
  def targetQuantities(
      weights: DataFrame,
      master: DataFrame,
      allocations: DataFrame,
      balances: DataFrame,
      rates: DataFrame,
      balanceFields: Seq[String] = Seq("netLiquidation"),
      cvField: String = "close"): DataFrame = {
    // ACCOUNT_BALANCE_FIELD (base.py:1647-1649, 1670-1671): the equity
    // basis is the named balance field, or the LESSER of several.
    val nlvExpr =
      if (balanceFields.size == 1) col(balanceFields.head)
      else least(balanceFields.map(col): _*)
    val accounts = allocations
      .join(
        balances.select(col("account") +: col("currency") +: balanceFields.map(col): _*),
        Seq("account"), "left")
      .withColumn("netLiquidation", nlvExpr)
      .withColumnRenamed("currency", "baseCurrency")
      .select("account", "allocation", "baseCurrency", "netLiquidation")

    // FX special case (base.py:1640-1645): for CASH pairs the conversion
    // target is the pair's BASE currency, taken from the Symbol ("EUR" or
    // "EUR.USD" → EUR), not the Currency field (100 EUR.USD = 100 EUR).
    val masterCols = Seq(
      col("sid"), col("currency"), col("secType"),
      col("priceMagnifier"), col("multiplier")) ++
      (if (master.columns.contains("symbol")) Seq(col("symbol")) else Nil)
    val quoteCurrency =
      if (master.columns.contains("symbol"))
        when(col("secType") === "CASH",
          split(col("symbol"), "\\.").getItem(0)).otherwise(col("currency"))
      else col("currency")
    val withMaster = weights
      .join(broadcast(master.select(masterCols: _*)), Seq("sid"), "left")
      .withColumn("quoteCurrency", quoteCurrency)
      .drop("currency", "symbol")

    // account fan-out: weights ⊗ allocations (R5)
    val fanned = withMaster.crossJoin(broadcast(accounts))

    // J2: (base, quote) → rate, self-rate ≡ 1
    val withRate = fanned
      .join(broadcast(rates), Seq("baseCurrency", "quoteCurrency"), "left")
      .withColumn(
        "rate",
        when(col("baseCurrency") === col("quoteCurrency"), 1.0)
          .otherwise(col("rate")))

    // D21: weight × allocation × NLV × FX ÷ |contract value|, rounded
    val cv = ContractValues.contractValue(
      col(cvField), col("secType"), col("priceMagnifier"), col("multiplier"))
    val safeCv = abs(when(cv =!= 0, cv))
    // round().fillna(0).astype(int) (base.py:1734): share quantities are
    // integers from here on — BIGINT, not DOUBLE, so a migrating user's
    // golden dicts compare 10 to 10, not 10.0.
    withRate
      .withColumn(
        "target_quantity",
        coalesce(
          round(col("weight") * col("allocation") * col("netLiquidation") *
            col("rate") / safeCv),
          lit(0.0)).cast("long"))
      .select("sid", "account", "target_quantity")
  }

  /** S5 + J3 (reference base.py:1808-1855): live positions ⋈ open orders,
    * SELL remaining negated, summed per (sid, account), full-outer
    * combined with position quantity. */
  def positionsAndOrders(positions: DataFrame, openOrders: DataFrame): DataFrame = {
    val orderQty = openOrders
      .withColumn(
        "remaining",
        when(col("action") === "SELL", -col("remaining")).otherwise(col("remaining")))
      .groupBy("sid", "account")
      .agg(sum("remaining").as("remaining"))
    positions
      .select("sid", "account", "quantity")
      .join(orderQty, Seq("sid", "account"), "full_outer")
      .withColumn("quantity", coalesce(col("quantity"), lit(0.0)) + coalesce(col("remaining"), lit(0.0)))
      .select("sid", "account", "quantity")
  }

  /** J4 + ALLOW_REBALANCE gate (base.py:1760-1796): net quantities =
    * target − (positions + open orders), optionally suppressing
    * same-direction rebalances below the threshold. */
  def netQuantities(
      targets: DataFrame,
      positionsOrders: DataFrame,
      rebalance: Rebalance = AllowRebalance): DataFrame = {
    val joined = targets
      .join(positionsOrders, Seq("sid", "account"), "left")
      .withColumn("held", coalesce(col("quantity"), lit(0.0)))
      .withColumn("net_quantity", col("target_quantity") - col("held"))
    val isRebalance = (col("target_quantity") > 0 && col("held") > 0) ||
      (col("target_quantity") < 0 && col("held") < 0)
    val gated = rebalance match {
      case AllowRebalance => joined
      case NoRebalance =>
        joined.withColumn("net_quantity", when(isRebalance, 0.0).otherwise(col("net_quantity")))
      case RebalanceThreshold(minPct) =>
        joined.withColumn(
          "net_quantity",
          when(isRebalance && abs(col("net_quantity") / col("held")) < minPct, 0.0)
            .otherwise(col("net_quantity")))
    }
    gated.select("sid", "account", "net_quantity")
  }

  /** D22 order stubs (base.py:657-692): signed quantity → BUY/SELL rows,
    * zeros dropped. TotalQuantity is an integer share count (the
    * reference's quantities are `astype(int)` by base.py:1734; the
    * round() here absorbs fractional held positions). */
  def orderStubs(netQuantities: DataFrame, orderRef: String): DataFrame =
    netQuantities
      .where(col("net_quantity") =!= 0 && round(col("net_quantity")) =!= 0)
      .select(
        col("sid"),
        col("account"),
        when(col("net_quantity") > 0, "BUY").otherwise("SELL").as("action"),
        lit(orderRef).as("orderRef"),
        round(abs(col("net_quantity"))).cast("long").as("totalQuantity"))

  /** R6 `reindex_like_orders` (base.py:547-605): slice a panel column at
    * the signal date (and time) and attach it to the orders by sid — the
    * hook used to decorate orders with prices (e.g. limit prices from
    * prior closes). Broadcast join: the day's slice is one row per sid. */
  def reindexLikeOrders(
      orders: DataFrame,
      panel: DataFrame,
      valueCol: String,
      signalDate: String,
      signalTime: Option[String] = None)(implicit k: Keys): DataFrame = {
    val onDate = panel.where(col(k.dateCol) === lit(signalDate))
    val sliced = signalTime match {
      case Some(t) if panel.columns.contains("time") =>
        onDate.where(col("time") === lit(t))
      case None if panel.columns.contains("time") =>
        // base.py:595-599: a time-indexed frame with no signal time would
        // join multiple rows per sid — the reference raises; so do we
        throw new GraftError(
          "cannot reindex DataFrame like orders because DataFrame contains " +
            "'time', please take a cross-section first, for example: " +
            "panel.where(col(\"time\") === \"15:45:00\")")
      case _ => onDate
    }
    orders.join(
      broadcast(sliced.select(col(k.sid), col(valueCol))), Seq(k.sid), "left")
  }

  /** Assign order ids in the reference's shape (base.py:650-651): the
    * row's POSITION in (sid, account) order, "." , a session-unique
    * suffix — "0.1691856000", "1.1691856000", … The unpartitioned
    * row_number window is bounded by design: an orders frame is one row
    * per (sid, account) traded today, not a data-volume relation. */
  def withOrderIds(
      orders: DataFrame,
      suffix: String = (System.currentTimeMillis / 1000L).toString): DataFrame =
    if (orders.columns.contains("orderId")) orders
    else {
      val w = Window.orderBy("sid", "account")
      orders.withColumn(
        "orderId",
        concat_ws(".", (row_number().over(w) - 1).cast("string"), lit(suffix)))
    }

  /** D23 child/bracket orders (base.py:607-655): copy orders, reverse the
    * action, link ParentId ← OrderId (assigning positional ids first if
    * the frame has none, like the reference). */
  def childOrders(orders: DataFrame): DataFrame =
    withOrderIds(orders)
      .withColumnRenamed("orderId", "parentId")
      .withColumn(
        "action",
        when(col("action") === "BUY", "SELL").otherwise("BUY"))

  /** Participation-rate cap: clamp each order stub's quantity at
    * `rate` × the sid's average daily volume — the standard execution
    * constraint (never be more than X% of the tape). `adv` is a
    * per-sid frame (sid, adv) the caller computed from its volume
    * panel (trailing mean, full-history mean — its choice); it is
    * broadcast onto the bounded stubs frame. A sid missing from `adv`
    * is UNTRADEABLE (capped to 0 and dropped) rather than uncapped —
    * no volume data means no participation estimate, and a silent
    * uncapped order is the expensive kind of wrong. Capped quantities
    * floor (never round up past the limit); `was_capped` flags the
    * clamped rows. */
  def capByParticipation(
      stubs: DataFrame,
      adv: DataFrame,
      rate: Double): DataFrame = {
    if (rate <= 0 || rate > 1)
      throw new ParameterError(s"participation rate must be in (0, 1]: $rate")
    val cap = floor(col("adv") * rate).cast("long")
    stubs
      .join(broadcast(adv), Seq("sid"), "left")
      .withColumn("was_capped",
        col("adv").isNull || col("totalQuantity") > cap)
      .withColumn("totalQuantity",
        when(col("adv").isNull, 0L)
          .otherwise(least(col("totalQuantity"), cap)))
      .where(col("totalQuantity") > 0)
      .drop("adv")
  }

  /** TWAP order slicing: split each stub into `times.length` timed child
    * slices of equal size, earlier slices absorbing the integer
    * remainder (a 10-share order over 3 times trades 4/3/3) — the
    * standard large-order execution schedule, downstream of [[orderStubs]]
    * the way [[childOrders]] is. Pure integer column algebra + one
    * bounded explode (|times| × orders rows); zero-quantity slices are
    * dropped, so an order smaller than the slice count trades only its
    * first `totalQuantity` slices. Output keeps the parent's id as
    * `parentId` with the slice index and time. */
  def twapSlices(
      stubs: DataFrame,
      times: Seq[String],
      suffix: String = (System.currentTimeMillis / 1000L).toString): DataFrame = {
    if (times.isEmpty)
      throw new ParameterError("twapSlices needs at least one execution time")
    if (times.distinct.size != times.size)
      throw new ParameterError(s"duplicate execution times: ${times.mkString(", ")}")
    val n = times.length
    val rem = pmod(col("totalQuantity"), lit(n.toLong))
    // totalQuantity is a positive long ≪ 2^53 (share counts), so the
    // double division truncates exactly
    val base = (col("totalQuantity") / n).cast("long")
    val slices = array(times.zipWithIndex.map { case (t, i) =>
      struct(
        lit(i).as("slice_idx"),
        lit(t).as("slice_time"),
        (base + when(lit(i) < rem, 1L).otherwise(0L)).as("quantity"))
    }: _*)
    withOrderIds(stubs, suffix)
      .select(col("sid"), col("account"), col("action"), col("orderRef"),
        col("orderId").as("parentId"), explode(slices).as("__s"))
      .where(col("__s.quantity") > 0)
      .select(col("sid"), col("account"), col("action"), col("orderRef"),
        col("parentId"), col("__s.slice_idx").as("slice_idx"),
        col("__s.slice_time").as("slice_time"),
        col("__s.quantity").as("quantity"))
  }

  /** D40: position reconciliation — the expected book (what the engine
    * believes it holds) full-outer-joined against the broker's report,
    * every break labeled: MATCHED, QTY_DIFF, MISSING_AT_BROKER
    * (position the broker doesn't show), UNEXPECTED_AT_BROKER (the
    * reverse). The morning-check every live desk runs before enabling
    * orders; both inputs are blotter-sized (S5's cost class), the join
    * is one (sid, account) full outer with exact integer quantities.
    * Output (sid, account, expected_qty, reported_qty, diff, status).
    */
  def reconcilePositions(
      expected: DataFrame,
      reported: DataFrame): DataFrame = {
    val e = expected.select(col("sid"), col("account"),
      col("quantity").as("expected_qty"))
    val r = reported.select(col("sid"), col("account"),
      col("quantity").as("reported_qty"))
    e.join(r, Seq("sid", "account"), "full_outer")
      .withColumn("diff",
        coalesce(col("reported_qty"), lit(0L)) -
          coalesce(col("expected_qty"), lit(0L)))
      .withColumn("status",
        when(col("expected_qty").isNotNull && col("reported_qty").isNotNull &&
          col("diff") === 0, "MATCHED")
          .when(col("expected_qty").isNotNull && col("reported_qty").isNotNull,
            "QTY_DIFF")
          .when(col("reported_qty").isNull, "MISSING_AT_BROKER")
          .otherwise("UNEXPECTED_AT_BROKER"))
  }

  /** D35: internal order crossing — when one account BUYs a sid another
    * account SELLs, the desk crosses internally and only the NET goes
    * to market (half the commissions and none of the spread on the
    * crossed quantity; also the compliance-visible "internalization"
    * number). Per sid, the crossable quantity is min(ΣBUY, ΣSELL),
    * allocated to each side's orders in deterministic (account,
    * orderRef) order by a running-sum clamp — exact integer column
    * algebra, one window per side partitioned by (sid, action)
    * (bounded by a sid's order count), no joins beyond the broadcast
    * of nothing: per-sid totals ride the same window pass. Output the
    * stub rows + (crossed_qty, external_qty); fully crossed orders
    * stay visible with external_qty 0. */
  def crossOrders(stubs: DataFrame): DataFrame = {
    val bySide = Window.partitionBy(col("sid"), col("action"))
      .orderBy(col("account"), col("orderRef"))
    val sidAll = Window.partitionBy(col("sid"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sideTot = sum(when(col("action") === "BUY", col("totalQuantity")))
      .over(sidAll)
    val otherTot = sum(when(col("action") === "SELL", col("totalQuantity")))
      .over(sidAll)
    val crossQty = least(coalesce(sideTot, lit(0L)), coalesce(otherTot, lit(0L)))
    val cumBefore = coalesce(
      sum(col("totalQuantity")).over(bySide.rowsBetween(
        Window.unboundedPreceding, -1)), lit(0L))
    stubs
      .withColumn("__cross", crossQty)
      .withColumn("crossed_qty",
        greatest(lit(0L), least(col("totalQuantity"),
          col("__cross") - cumBefore)))
      .withColumn("external_qty", col("totalQuantity") - col("crossed_qty"))
      .drop("__cross")
  }

  /** D32: Almgren-Chriss optimal execution schedule (Almgren & Chriss
    * 2000, closed form): remaining holdings after slice j follow
    * sinh(κT·(1−j/N))/sinh(κT) — risk aversion front-loads the
    * schedule; κT → 0 recovers [[twapSlices]]' uniform trajectory.
    * `kappaT` is the dimensionless urgency κ·T (callers calibrate it
    * from λσ²/η off-line; the engine takes the shape parameter, not a
    * market-impact model).
    *
    * The N schedule fractions are DRIVER-side constants (rounded to 12
    * dp before quantizing shares, so the integer schedule is exact and
    * engine-independent); per-order slice quantities telescope from
    * rounded remaining-holdings — they sum to totalQuantity exactly and
    * are non-negative because rounding preserves monotonicity. Same
    * bounded explode shape as [[twapSlices]]; zero slices dropped.
    * Output (sid, account, action, orderRef, parentId, slice_idx,
    * slice_time, quantity). */
  def almgrenSlices(
      stubs: DataFrame,
      times: Seq[String],
      kappaT: Double,
      suffix: String = (System.currentTimeMillis / 1000L).toString): DataFrame = {
    if (times.isEmpty)
      throw new ParameterError("almgrenSlices needs at least one execution time")
    if (times.distinct.size != times.size)
      throw new ParameterError(s"duplicate execution times: ${times.mkString(", ")}")
    if (kappaT <= 0)
      throw new ParameterError(s"kappaT must be positive: $kappaT")
    val n = times.length
    // remaining fraction AFTER slice j (j = 0 → 1.0, j = N → 0.0)
    val frac: Int => Double = j =>
      math.rint(math.sinh(kappaT * (n - j).toDouble / n) /
        math.sinh(kappaT) * Pico.factor) / Pico.factor
    def remaining(j: Int) =
      round(col("totalQuantity") * lit(frac(j))).cast("long")
    val slices = array(times.zipWithIndex.map { case (t, i) =>
      struct(
        lit(i).as("slice_idx"),
        lit(t).as("slice_time"),
        (remaining(i) - remaining(i + 1)).as("quantity"))
    }: _*)
    withOrderIds(stubs, suffix)
      .select(col("sid"), col("account"), col("action"), col("orderRef"),
        col("orderId").as("parentId"), explode(slices).as("__s"))
      .where(col("__s.quantity") > 0)
      .select(col("sid"), col("account"), col("action"), col("orderRef"),
        col("parentId"), col("__s.slice_idx").as("slice_idx"),
        col("__s.slice_time").as("slice_time"),
        col("__s.quantity").as("quantity"))
  }

  /** Live entry point: resolve the signal date/time (reviewDate >
    * CALENDAR > strategy-timezone-now, base.py:738-757), validate price
    * freshness (with the calendar hint on a one-day gap,
    * base.py:772-784), then run the order pipeline — the reference's
    * `trade()` end-to-end with resolution included. [[run]] remains the
    * explicit-date entry for backtest-shaped callers and tests. */
  def runLive(
      strategy: Strategy,
      timezone: String,
      prices: DataFrame,
      master: DataFrame,
      allocations: DataFrame,
      balances: DataFrame,
      rates: DataFrame,
      positions: DataFrame,
      openOrders: DataFrame,
      calendars: Option[DataFrame] = None,
      reviewDate: Option[String] = None,
      rebalance: Rebalance = AllowRebalance,
      now: () => java.time.Instant = () => java.time.Instant.now()): DataFrame = {
    implicit val k: Keys = strategy.keys
    val (signalDate, tradeTime) =
      Calendars.resolveForStrategy(strategy, timezone, calendars, reviewDate, now)
    val intraday = prices.columns.contains("time")
    requireFresh(prices, signalDate,
      calendarSet = strategy.calendar.isDefined, intraday = intraday)
    run(strategy, prices, master, allocations, balances, rates, positions,
      openOrders, signalDate, if (intraday) Some(tradeTime) else None, rebalance)
  }

  /** Full trade() driver (§3.2). Returns the orders table, empty when all
    * net quantities are zero (base.py:1800). */
  def run(
      strategy: Strategy,
      prices: DataFrame,
      master: DataFrame,
      allocations: DataFrame,
      balances: DataFrame,
      rates: DataFrame,
      positions: DataFrame,
      openOrders: DataFrame,
      signalDate: String,
      tradeTime: Option[String] = None,
      rebalance: Rebalance = AllowRebalance): DataFrame = {
    implicit val k: Keys = strategy.keys
    var p = strategy.pricesToSignals(prices)
    p = strategy.signalsToTargetWeights(p)
    val today = todayWeights(p, signalDate, tradeTime)
    val cvField = ContractValues.referenceField(
      prices.columns, strategy.contractValueReferenceField)
    // Once-a-day intraday (daily weights over intraday prices): the
    // collapsed weights panel has no price column, so the contract-value
    // price is the signal date's LAST bar from the original prices
    // (base.py:1622-1628: ffill().loc[date].iloc[-1] when no signal time).
    val todayWithCv =
      if (today.columns.contains(cvField)) today
      else if (prices.columns.contains("time")) {
        val lastBar = prices
          .where(col(k.dateCol) === lit(signalDate))
          .groupBy(col(k.sid))
          .agg(max_by(col(cvField), col("time")).as(cvField))
        today.join(broadcast(lastBar), Seq(k.sid), "left")
      } else
        throw new ParameterError(
          s"contract-value field '$cvField' is not present in the weights " +
            "panel — keep it through the strategy hooks or set " +
            "contractValueReferenceField")
    val targets = targetQuantities(todayWithCv, master, allocations, balances,
      rates, strategy.accountBalanceFields, cvField)
    // D17 (base.py:1738-1758): constrain target quantities BEFORE the
    // position diff, mirroring the backtest-side D16 clamp.
    val (maxLong, maxShort) = strategy.limitPositionSizes(prices)
    val constrained =
      if (maxLong.isDefined || maxShort.isDefined)
        graft.pipeline.Limits.constrainQuantities(
          targets, maxLong, maxShort, signalDate, tradeTime)
      else targets
    val held = positionsAndOrders(positions, openOrders)
    val net = netQuantities(constrained, held, rebalance)
    val stubs = orderStubs(net, strategy.code)
    strategy.orderStubsToOrders(stubs, prices)
  }
}

/** D20 exchange-calendar status (reference base.py:742-757). The
  * reference queries a live calendar service
  * (`list_calendar_statuses([CALENDAR])`); here statuses are plain data —
  * a tiny (exchange, status, since, timezone) dimension the caller loads
  * from wherever calendars live. `since` is the ISO moment the current
  * status began: for a closed exchange, when it last closed. */
final case class CalendarStatus(
    exchange: String,
    status: String, // "open" | "closed"
    since: String, // "2018-05-01T14:00:00"
    timezone: String)

object Calendars {

  /** Driver-side lookup on the broadcast-sized calendar dimension —
    * one row per exchange, so a filtered head is the whole query. */
  def statusFor(calendars: DataFrame, exchange: String): CalendarStatus = {
    val rows = calendars
      .where(col("exchange") === exchange)
      .select("exchange", "status", "since", "timezone")
      .limit(1).collect()
    require(rows.nonEmpty, s"no calendar status found for exchange $exchange")
    val r = rows.head
    CalendarStatus(r.getString(0), r.getString(1), r.getString(2), r.getString(3))
  }

  /** Resolve a strategy's signal date/time: reviewDate > CALENDAR >
    * strategy-timezone-now (base.py:738-757). */
  def resolveForStrategy(
      strategy: Strategy,
      timezone: String,
      calendars: Option[DataFrame] = None,
      reviewDate: Option[String] = None,
      now: () => java.time.Instant = () => java.time.Instant.now()): (String, String) = {
    val status = strategy.calendar.map { exch =>
      val cals = calendars.getOrElse(throw new ParameterError(
        s"strategy sets calendar=$exch but no calendar statuses were provided"))
      statusFor(cals, exch)
    }
    Trade.resolveSignalDateTime(timezone, reviewDate, now, status)
  }
}

/** J6: as-of (most-recent-value-at-or-before) join — the reference's
  * borrow-fee alignment (slippage/borrowfee.py:44) and the general
  * time-series enrichment primitive.
  *
  * Implementation: union the left (probe) and right (value) rows tagged
  * by provenance, sort within sid by (date, tag), forward-fill the value
  * over the combined sequence, keep probe rows. One shuffle on sid —
  * no range-join explosion, no per-row subqueries; scales as a plain
  * window over the combined relation.
  */
object AsOf {
  def join(
      left: DataFrame,
      right: DataFrame,
      sidCol: String,
      dateCol: String,
      valueCols: Seq[String]): DataFrame = {
    val leftTagged = left.withColumn("__src", lit(1))
    val rightTagged = right
      .select((sidCol +: dateCol +: valueCols).map(col): _*)
      .withColumn("__src", lit(0))
    val combined = leftTagged.unionByName(rightTagged, allowMissingColumns = true)
    // value rows (__src=0) sort before probe rows on the same date, so a
    // probe sees same-date values — "at or before" semantics.
    val w = Window.partitionBy(sidCol).orderBy(col(dateCol), col("__src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(combined) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.where(col("__src") === 1).drop("__src")
  }
}
