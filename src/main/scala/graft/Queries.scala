package graft

import graft.Checkpoint._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.alloc.Weights
import graft.costs.{CommissionModel, FixedSlippage, FuturesCommission, PercentageCommission, PerShareCommission}
import graft.panel.Panel
import graft.panel.Panel.Keys
import graft.pipeline.{Backtest, Strategy}
import graft.trade.{AsOf, Trade}

/** The operator catalog: one driver-checkable query per implemented
  * operator from SURVEY §2 (+ the LLM-pipeline extensions). Each entry has
  * a DuckDB oracle in [[Oracles]] unless the op is not SQL-expressible.
  *
  * Cross-engine determinism rules used throughout (so result hashes match
  * the oracle bit-for-bit):
  *  - unordered SUM/AVG over doubles is order-dependent in the last ulp →
  *    sum integer cents (`sum(cast(round(x*100) as bigint))`) instead;
  *  - panel "close" uses max() (order-free), never avg();
  *  - per-row IEEE arithmetic (ratios, lags, window means over ordered
  *    frames) is bit-deterministic and needs no rounding;
  *  - every window order key is made total with a unique tiebreaker
  *    (event_id / (orderkey, linenumber)).
  */
object Queries {

  /** The one catalog table reader: table `name` of the tier in `dir`. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scratch parquet dir for queries that exercise the scan planner over
    * a written panel — removed recursively at JVM exit (a fresh dir per
    * invocation avoids cross-run collisions; the shutdown hook keeps
    * repeated invocations from leaking them). */
  private[graft] def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del))
        f.delete(): Unit
      }
      del(p.toFile)
    }))
    p.toString
  }

  /** The scan-planner queries (s1_universes, s1_benchmark_append, w7)
    * each need the supplier panel AS STORED PARQUET — a real user's
    * panel already sits on disk, so the write is harness setup, not
    * operator cost. Memoize one write per (source dir, sid dtype) per
    * JVM; the queries stay independently runnable and re-entrant. */
  private val panelDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def writtenPanel(s: SparkSession, dir: String, stringSid: Boolean): String =
    panelDirs.computeIfAbsent(s"$dir|$stringSid", { _ =>
      val tmp = tempDir("graft_panel")
      val p =
        if (stringSid)
          supplierPanel(s, dir)
            .select(col("sid").cast("string").as("sid"), col("date"), col("close"))
        else supplierPanel(s, dir)
      p.write.mode("overwrite").parquet(tmp)
      tmp
    })

  /** events as a panel: sid=user_id, ordered by (ts, event_id). */
  private val evKeys = Keys(sid = "user_id", order = Seq("ts", "event_id"),
    dateCol = "day", slot = Seq("day"))
  /** lineitem daily panel: sid=l_suppkey, one row per (sid, date). */
  private val liKeys = Keys(sid = "sid", order = Seq("date"), dateCol = "date")

  /** events.parquet stores ts as TIMESTAMP(NANOS); Spark reads it as a
    * nanos long (spark.sql.legacy.parquet.nanosAsLong) — convert to a
    * proper UTC timestamp at micros precision (what DuckDB also does). */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val withTs =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
      else raw
    withTs.withColumn("day", to_date(col("ts")))
  }

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** Supplier × ship-day price panel (close = max extendedprice: order-free). */
  private def supplierPanel(s: SparkSession, dir: String): DataFrame = {
    // HashPartitioning(sid) satisfies the groupBy(sid, date) clustering,
    // so a spread moves the shuffle instead of adding one
    val li = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_shipdate"), col("l_extendedprice"))
    Parallelism.spread(li, col("l_suppkey"))
      .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
      .agg(max(col("l_extendedprice")).as("close"))
  }

  /** §3.2 trade lifecycle body shared by `trade_full` (signal date = last
    * panel date) and `trade_cal` (signal date from a closed exchange
    * calendar): weights slice → FX/NLV targets → net vs held → stubs. */
  private def tradeFullPipeline(
      s: SparkSession, dir: String, panel: DataFrame, signalDate: String): DataFrame = {
    implicit val k: Keys = liKeys
    val master = t(s, dir, "supplier").select(
      col("s_suppkey").as("sid"),
      when(col("s_suppkey") % 4 === 0, "JPY").otherwise("USD").as("currency"),
      lit("STK").as("secType"),
      lit(1.0).as("priceMagnifier"),
      lit(1.0).as("multiplier"))
    val allocations = s.createDataFrame(Seq(
      ("U1", 0.6), ("U2", 0.4))).toDF("account", "allocation")
    val balances = s.createDataFrame(Seq(
      ("U1", "USD", 1000000.0), ("U2", "EUR", 500000.0)))
      .toDF("account", "currency", "netLiquidation")
    val rates = s.createDataFrame(Seq(
      ("USD", "JPY", 110.0), ("EUR", "USD", 1.1), ("EUR", "JPY", 121.0)))
      .toDF("baseCurrency", "quoteCurrency", "rate")
    val positions = t(s, dir, "supplier")
      .where(col("s_suppkey") % 5 === 0)
      .select(col("s_suppkey").as("sid"), lit("U1").as("account"),
        round(col("s_acctbal") / 100).as("quantity"))
    val openOrders = t(s, dir, "supplier")
      .where(col("s_suppkey") % 7 === 0)
      .select(col("s_suppkey").as("sid"), lit("U2").as("account"),
        lit("demo").as("orderRef"), round(col("s_acctbal") / 200).as("remaining"),
        when(col("s_suppkey") % 2 === 0, "BUY").otherwise("SELL").as("action"))
    val today = Trade.todayWeights(panel, signalDate)
    val targets = Trade.targetQuantities(today, master, allocations, balances, rates)
    val held = Trade.positionsAndOrders(positions, openOrders)
    val net = Trade.netQuantities(targets, held, Trade.RebalanceThreshold(0.25))
    Trade.orderStubs(net, "demo")
  }

  /** Demo results melt with return-like magnitudes for the perf_*
    * queries: the raw supplier-panel series compounds out of double
    * range (see the catalog comment). */
  private def dampedMelt(s: SparkSession, dir: String): DataFrame =
    Backtest.run(DemoStrategy, supplierPanel(s, dir))
      .withColumn("value",
        when(col("field") === "Return", col("value") * 0.001).otherwise(col("value")))

  /** The scored panel behind ml4/ml5/ml6: quantized score in [0, 1]
    * (round-1 of close/60000 — ties exercise the AUC half-credit) with
    * label close >= 22000; ONE recipe so the three queries and their
    * oracles can't drift apart. */
  private def scoredPanel(s: SparkSession, dir: String): DataFrame =
    supplierPanel(s, dir).select(
      least(lit(1.0), round(col("close") / 60000.0, 1)).as("prediction"),
      (col("close") >= 22000).cast("long").as("label"))

  /** [[dampedMelt]] with a BENCHMARK (sid 1) — the joint-series input of
    * perf_benchmark and perf_rollbeta. */
  private def benchmarkedMelt(s: SparkSession, dir: String): DataFrame = {
    object BenchmarkedDemo extends Strategy {
      val code = "perf-bench"
      override def keys: Keys = liKeys
      override def benchmarkSid: Option[String] = Some("1")
      def pricesToSignals(prices: DataFrame): DataFrame =
        prices.withColumn("signal", (col("close") < 30000).cast("int"))
    }
    // r13: the benchmark path consumes `prices` THREE times (panel
    // chain + benchmarkReturns' grid + closes) and column pruning
    // breaks exchange reuse across the instances — lazy checkpoint so
    // the scan→parse→aggregate chain runs once (plan-verified: three
    // hashpartitioning(l_suppkey) exchanges → one)
    Backtest.run(BenchmarkedDemo,
      supplierPanel(s, dir).withColumn("sid", col("sid").cast("string"))
        .checkpointed(eager = false))
      .withColumn("value",
        when(col("field") === "Return", col("value") * 0.001)
          .otherwise(col("value")))
  }

  /** The flagship demo strategy: long suppliers whose close < 30000
    * (the BuyBelow10 golden-test shape, _tests/test_backtest.py:108). */
  object DemoStrategy extends Strategy {
    val code = "demo"
    override def keys: Keys = liKeys
    def pricesToSignals(prices: DataFrame): DataFrame =
      prices.withColumn("signal", (col("close") < 30000).cast("int"))
  }

  // ------------------------------------------------------------------
  // the catalog
  // ------------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- S1/P8: predicate + column pushdown scan ----
    "s1_scan_pushdown" -> ((s, dir) => {
      graft.sources.Sources.prices(s, s"$dir/lineitem.parquet")
        .where(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1995-03-01" &&
          col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          to_date(col("l_shipdate")).as("ship_date"))
    }),

    // ---- S1 universes pushdown: universe names resolved to sids via a
    // (universe, sid) membership table (the data service's universe
    // registry; base.py:1240-1245), then pushed to the scan as an isin.
    // N1 ∪ N2 minus N2 → nation-1 suppliers only ----
    "s1_universes" -> ((s, dir) => {
      import graft.sources.Sources
      val tmp = writtenPanel(s, dir, stringSid = true)
      val membership = t(s, dir, "supplier").select(
        concat(lit("N"), col("s_nationkey")).as("universe"),
        col("s_suppkey").cast("string").as("sid"))
      Sources.prices(s, tmp,
        Sources.PriceQuery(
          startDate = Some("1995-01-01"), endDate = Some("1995-06-30"),
          universes = Seq("N1", "N2"), excludeUniverses = Seq("N2")),
        universeMembership = Some(membership))
    }),

    // ---- S1 benchmark auto-append (base.py:1227-1234): a SIDS-restricted
    // scan for a strategy with a BENCHMARK and no BENCHMARK_DB appends the
    // benchmark sid to the scan predicate — without it the panel would
    // miss the benchmark's rows and D19 would raise benchmark-missing ----
    "s1_benchmark_append" -> ((s, dir) => {
      import graft.sources.Sources
      object RestrictedBench extends Strategy {
        val code = "s1-bench"
        override def keys: Keys = liKeys
        override def benchmarkSid: Option[String] = Some("1")
        def pricesToSignals(prices: DataFrame): DataFrame =
          prices.withColumn("signal", (col("close") < 30000).cast("int"))
      }
      val tmp = writtenPanel(s, dir, stringSid = true)
      val q = Sources.forStrategy(
        Sources.PriceQuery(startDate = Some("1995-01-01"),
          endDate = Some("1995-06-30"), sids = Seq("3", "7")),
        RestrictedBench)
      Sources.prices(s, tmp, q)
    }),

    // ---- W7: lookback widening + P8 truncation, end to end. The scan
    // start is widened so the FIRST requested date already has a full
    // 20-bar rolling window; the oracle replicates the widening heuristic
    // as a literal date (1996-01-01 minus ceil(20·365/235)+10 = 42 days =
    // 1995-11-20), so a drift in widenedStart's constants hash-fails ----
    "w7_lookback_widen" -> ((s, dir) => {
      import graft.sources.Sources
      implicit val k: Keys = liKeys
      val tmp = writtenPanel(s, dir, stringSid = false)
      Sources.prices(s, tmp,
        Sources.PriceQuery(startDate = Some("1996-01-01"), lookbackBars = 20))
        .withColumn("roll20_cents", Panel.rollingSum(cents(col("close")), 20))
        .where(col("date") >= "1996-01-01") // truncate back to the requested start
        .select(col("sid"), col("date"), col("roll20_cents"))
    }),

    // ---- A5/P4: hash aggregate (TPC-H Q1 shape) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("rev_cents"),
          count(lit(1)).as("count_order"))
    }),

    // ---- P5/P6: conditional select + null handling ----
    "p5_conditional" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 200000, "big")
          .when(col("o_totalprice") > 50000, "mid")
          .otherwise("small").as("size_class"),
        coalesce(
          when(col("o_orderstatus") =!= "O", col("o_totalprice")), lit(0.0))
          .as("closed_price"))
    }),

    // ---- R1: wide→long melt ----
    "r1_unpivot" -> ((s, dir) => {
      Panel.meltFields(
        t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_discount"))
    }),

    // ---- R2: long→wide pivot (bounded column set) ----
    "r2_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(cents(col("l_quantity"))))
    }),

    // ---- R3: keyed concat (field-tagged union) ----
    "r3_keyed_concat" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val qty = li.groupBy(col("l_suppkey").as("sid"))
        .agg(sum(cents(col("l_quantity"))).as("value"))
      val rev = li.groupBy(col("l_suppkey").as("sid"))
        .agg(sum(cents(col("l_extendedprice"))).as("value"))
      Panel.concatFields(Seq("qty_cents" -> qty, "rev_cents" -> rev))
    }),

    // ---- J1/J5: broadcast dimension join ----
    "j1_broadcast_join" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("rev_cents"),
          count(lit(1)).as("n"))
    }),

    // ---- shuffle join path: customer ⋈ orders ⋈ lineitem, top-N ----
    "q3_top_revenue" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("rev_cents"))
        .orderBy(col("rev_cents").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ---- Q4: order-priority check — the LEFT SEMI plan shape (EXISTS
    // against returned lineitems; the synthetic lineitem has no
    // commit/receipt dates, so returnflag='R' is the "problem line"
    // predicate), pruned to a one-quarter date slice ----
    "q4_order_priority" -> ((s, dir) => {
      val late = t(s, dir, "lineitem")
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-07-01") &&
          col("o_orderdate") < lit("1996-10-01"))
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // ---- Q18: large-volume orders — the HAVING-subquery shape (an
    // aggregate feeding a semi-join back onto its own fact table) ----
    "q18_large_orders" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_quantity"))).as("qty_cents"))
        .where(col("qty_cents") > 250 * 100)
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"),
          cents(col("o_totalprice")).as("total_cents"), col("qty_cents"))
    }),

    // ---- Q2: correlated scalar subquery — min-per-group re-joined
    // (TPC-H q2's minimum-cost-supplier shape; no partsupp table here,
    // so unit cost is each (part, supplier)'s cheapest lineitem). Pins
    // Catalyst's scalar-subquery DECORRELATION: the correlated
    // `= (SELECT MIN ... WHERE inner.partkey = outer.partkey)` must
    // plan as an aggregate re-joined on the correlation key, never a
    // per-row re-execution ----
    "q2_min_cost_supplier" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part_q2")
      t(s, dir, "supplier").createOrReplaceTempView("supplier_q2")
      t(s, dir, "nation").createOrReplaceTempView("nation_q2")
      t(s, dir, "region").createOrReplaceTempView("region_q2")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q2")
      s.sql("""
        WITH ps AS (
          SELECT l_partkey, l_suppkey,
                 MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cost_cents
          FROM lineitem_q2 GROUP BY 1, 2)
        SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name, ps.cost_cents
        FROM part_q2 p
        JOIN ps ON ps.l_partkey = p.p_partkey
        JOIN supplier_q2 s ON s.s_suppkey = ps.l_suppkey
        JOIN nation_q2 n ON n.n_nationkey = s.s_nationkey
        JOIN region_q2 r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE' AND p.p_size <= 15
          AND ps.cost_cents = (SELECT MIN(ps2.cost_cents) FROM ps ps2
                               WHERE ps2.l_partkey = p.p_partkey)""")
    }),

    // ---- Q21: multi-semi + anti SELF-join (TPC-H q21's
    // only-supplier-who-failed shape; returnflag='R' is the "late"
    // predicate, the q4 stance). Pins EXISTS → LeftSemi and
    // NOT EXISTS → LeftAnti planning with a non-equi conjunct
    // (l2.suppkey <> l1.suppkey) riding the orderkey equi-join ----
    "q21_waiting_supplier" -> ((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("supplier_q21")
      t(s, dir, "orders").createOrReplaceTempView("orders_q21")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q21")
      s.sql("""
        SELECT s.s_name, COUNT(*) AS numwait
        FROM supplier_q21 s
        JOIN lineitem_q21 l1
          ON l1.l_suppkey = s.s_suppkey AND l1.l_returnflag = 'R'
        JOIN orders_q21 o
          ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        WHERE EXISTS (
            SELECT 1 FROM lineitem_q21 l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem_q21 l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s.s_name""")
    }),

    // ---- Q22: anti-join + scalar-average filter (TPC-H q22's
    // global-sales-opportunity shape): per-nation count/balance of
    // rich customers (balance above the positive-balance average —
    // a scalar subquery) with no order since 2001 (NOT EXISTS → LeftAnti over a pushed-down date slice).
    // Balance compared in exact cents ----
    "q22_sales_opportunity" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_q22")
      t(s, dir, "orders").createOrReplaceTempView("orders_q22")
      s.sql("""
        SELECT c_nationkey,
               COUNT(*) AS numcust,
               SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS totacctbal_cents
        FROM customer_q22 c
        WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) > (
            SELECT AVG(CAST(ROUND(c_acctbal * 100) AS BIGINT))
            FROM customer_q22 WHERE c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM orders_q22 o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2001-01-01')
        GROUP BY c_nationkey""")
    }),

    // ---- Q11: group-HAVING against a GLOBAL scalar (TPC-H q11's
    // important-stock shape): per-part value filtered by a fraction of
    // the all-parts total — the threshold is a scalar subquery over the
    // same aggregate. Integer-exact: value·1000 > total (no division) ----
    "q11_important_parts" -> ((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("supplier_q11")
      t(s, dir, "nation").createOrReplaceTempView("nation_q11")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q11")
      s.sql("""
        WITH v AS (
          SELECT l_partkey,
                 SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * CAST(l_quantity AS BIGINT)) AS value_cents
          FROM lineitem_q11
          JOIN supplier_q11 ON s_suppkey = l_suppkey
          JOIN nation_q11 ON n_nationkey = s_nationkey
          WHERE n_name = 'NATION_7'
          GROUP BY 1)
        SELECT l_partkey, value_cents
        FROM v
        WHERE value_cents * 1000 > (SELECT SUM(value_cents) FROM v)""")
    }),

    // ---- J3: full-outer combine (positions ⋈ open orders shape) ----
    "j3_full_outer" -> ((s, dir) => {
      val ev = events(s, dir)
      val positions = ev.where(col("event_type") === "purchase" && col("user_id") < 100)
        .groupBy("user_id").agg(sum(cents(col("value"))).as("pos_cents"))
      // SELL-negation analog: errors count negative (base.py:1845)
      val orders = ev.where(col("event_type").isin("signup", "error") && col("user_id") >= 50)
        .withColumn("signed",
          when(col("event_type") === "error", -cents(col("value"))).otherwise(cents(col("value"))))
        .groupBy("user_id").agg(sum(col("signed")).as("ord_cents"))
      positions.join(orders, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("pos_cents"), lit(0L)) + coalesce(col("ord_cents"), lit(0L)))
            .as("net_cents"))
    }),

    // ---- J15: salted skew join — lineitem joins per-returnflag stats
    // on a THREE-VALUE key (the textbook hot-key shape: unsalted SMJ
    // puts the whole fact in 3 tasks). Salting spreads each flag over
    // 32 sub-keys; the oracle is the PLAIN join, proving the salt
    // changed the plan, not the answer ----
    "j15_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val flagStats = li.groupBy(col("l_returnflag"))
        .agg(sum(cents(col("l_extendedprice"))).as("flag_cents"),
          count(lit(1)).as("flag_n"))
      graft.panel.Skew.saltedJoin(
        li.select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          cents(col("l_extendedprice")).as("price_cents")),
        flagStats, key = "l_returnflag", salts = 32)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("price_cents") * col("flag_n") - col("flag_cents"))
            .as("dev_weighted_cents"))
    }),

    // ---- J6: as-of (ffill) join ----
    "j6_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val probes = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("day"), cents(col("value")).as("purchase_cents"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "day")
        .agg(max_by(cents(col("value")), col("event_id")).as("last_click_cents"))
      AsOf.join(probes, clicks, "user_id", "day", Seq("last_click_cents"))
        .select("event_id", "user_id", "day", "purchase_cents", "last_click_cents")
    }),

    // ---- W1: lag ----
    "w1_lag" -> ((s, dir) => {
      implicit val k: Keys = evKeys
      events(s, dir).select(
        col("event_id"), col("user_id"), cents(col("value")).as("value_cents"),
        Panel.lagBySid(cents(col("value"))).as("prev_cents"))
    }),

    // ---- W3: pct_change ----
    "w3_pct_change" -> ((s, dir) => {
      implicit val k: Keys = evKeys
      events(s, dir).select(
        col("event_id"), col("user_id"),
        Panel.pctChange(col("value")).as("pct_change"))
    }),

    // ---- W4: diff ----
    "w4_diff" -> ((s, dir) => {
      implicit val k: Keys = evKeys
      events(s, dir).select(
        col("event_id"), col("user_id"),
        Panel.diffBySid(cents(col("value"))).as("diff_cents"))
    }),

    // ---- W5: forward fill ----
    "w5_ffill" -> ((s, dir) => {
      implicit val k: Keys = evKeys
      val ev = events(s, dir)
        .withColumn("click_cents", when(col("event_type") === "click", cents(col("value"))))
      ev.select(col("event_id"), col("user_id"),
        Panel.ffill(col("click_cents")).as("last_click_cents"))
    }),

    // ---- W6: rolling mean (min_periods = n) ----
    "w6_rolling_mean" -> ((s, dir) => {
      implicit val k: Keys = evKeys
      events(s, dir).select(
        col("event_id"), col("user_id"),
        Panel.rollingMean(col("value"), 3).as("rolling_mean_3"))
    }),

    // ---- W28: truncated-horizon EWMA with exact binary weights
    // (pandas ewm(halflife=1), adjust=True) — micro-quantized terms so
    // the oracle's rn-offset self-join sums the same integers the
    // engine's in-frame fold does ----
    "w28_ewma" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      Panel.ewmaBySid(supplierPanel(s, dir), "close", "ewma", horizon = 50)
        .select(col("sid"), col("date"), col("close"), col("ewma"))
    }),

    // ---- the rest of the W6 rolling family (min/max/sum-cents/std) ----
    "w6b_rolling_family" -> ((s, dir) => {
      implicit val k: Keys = evKeys
      events(s, dir).select(
        col("event_id"), col("user_id"),
        Panel.rollingMin(col("value"), 4).as("rolling_min_4"),
        Panel.rollingMax(col("value"), 4).as("rolling_max_4"),
        Panel.rollingSum(cents(col("value")), 4).as("rolling_sum_cents_4"),
        round(Panel.rollingStd(col("value"), 4), 6).as("rolling_std_4"))
    }),

    // ---- cumulative sum (running total) ----
    "w2_cumsum" -> ((s, dir) => {
      implicit val k: Keys = evKeys
      events(s, dir).select(
        col("event_id"), col("user_id"),
        Panel.cumSum(cents(col("value"))).as("cum_cents"))
    }),

    // ---- W9: calendar-day gap since previous bar ----
    "w9_day_gap" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      supplierPanel(s, dir).select(
        col("sid"), col("date"),
        coalesce(datediff(col("date"), Panel.lagBySid(col("date"))), lit(1))
          .as("days_held"))
    }),

    // ---- A1: per-date cross-sectional aggregate at row grain ----
    "a1_per_date_sum" -> ((s, dir) => {
      implicit val k: Keys = evKeys
      events(s, dir).select(
        col("event_id"), col("day"),
        Panel.perDateSum(cents(col("value"))).as("day_total_cents"))
    }),

    // ---- PX: cross-sectional (per-date) panel transforms — the pandas
    // axis=1 idioms (rank / zscore / demean / quantile-bin / winsorize)
    // user strategies compose inside pricesToSignals; each is ONE window
    // over the date slot, no joins ----
    "px1_rank_avg" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      supplierPanel(s, dir).select(
        col("sid"), col("date"),
        Panel.perDateRankAvg(col("close")).as("rank_avg"))
    }),
    "px2_zscore" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      supplierPanel(s, dir).select(
        col("sid"), col("date"),
        round(Panel.zscore(col("close")), 6).as("zscore"))
    }),
    // demean over exact integer cents: every partial sum is an integer-
    // valued double < 2^53, so the cross-engine mean is EXACT and the
    // output hashes with no rounding (a rounded dollar variant sat on a
    // half-ulp boundary and flipped at the 6th decimal between engines)
    "px3_demean" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      supplierPanel(s, dir).select(
        col("sid"), col("date"),
        Panel.demean(cents(col("close"))).as("demeaned_cents"))
    }),
    "px4_quantile_bin" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      supplierPanel(s, dir).select(
        col("sid"), col("date"),
        Panel.quantileBin(col("close"), 5, col("sid")).cast("long").as("quintile"))
    }),
    "px5_winsorize" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      supplierPanel(s, dir).select(
        col("sid"), col("date"),
        round(Panel.winsorize(col("close"), 0.05, 0.95), 6).as("wclose"))
    }),

    // ---- PX8: robust (median/MAD) cross-sectional z-score — the
    // outlier-immune zscore
    "px8_robust_z" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      Panel.withRobustZscore(supplierPanel(s, dir), col("close"))
        .select("sid", "date", "robust_z")
    }),

    // ---- SW1: parameter sweep — N strategy variants in ONE plan over
    // ONE panel scan. The tiny variant dimension broadcast-crosses into
    // the panel and Keys.group partitions every window/slot by variant,
    // so the full backtest pipeline (signals → weights → positions →
    // gross → melt) runs per variant with no per-variant rescan; shuffle
    // volume is the honest ×V cost, scan volume is ×1 ----
    "sw1_param_sweep" -> ((s, dir) => {
      implicit val k: Keys = liKeys.copy(group = Seq("variant"))
      object SweepStrategy extends Strategy {
        val code = "sweep"
        override def keys: Keys = k
        def pricesToSignals(prices: DataFrame): DataFrame =
          prices.withColumn("signal", (col("close") < col("threshold")).cast("int"))
      }
      val variants = s.createDataFrame(Seq(
        ("t20k", 20000.0), ("t30k", 30000.0), ("t40k", 40000.0)))
        .toDF("variant", "threshold")
      val panel = supplierPanel(s, dir).crossJoin(broadcast(variants))
      Backtest.run(SweepStrategy, panel)
        .where(col("field") === "Return")
        .groupBy("variant")
        .agg(
          count(lit(1)).as("n_rows"),
          (sum(round(col("value") * 1e12).cast("long")
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / 1e12).as("sum_return"))
    }),

    // ---- ES1: event study — align returns around crash events by
    // trading-day offset and aggregate the curve. Offsets explode on the
    // small event side and equi-join back on (sid, row#): one panel
    // scan, no range join. Pico-exact return sums (decimal accumulator —
    // a long would overflow at |ret|≈100 × 1e12 × 50k rows) ----
    "es1_event_study" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      // r13: the ret panel feeds THREE consumers (event filter + both
      // align join sides) — checkpoint it so the scan→agg→window chain
      // runs once, not once per consumer (the dd4 aliased-recompute
      // policy; profiled as two duplicate ~300 ms/task stages)
      val panel = supplierPanel(s, dir)
        .withColumn("ret", Panel.pctChange(col("close")))
        .checkpointed(eager = false)
      val events = panel.where(col("ret") < -0.5).select(col("sid"), col("date"))
      graft.panel.EventStudy.align(panel, events, 3, 3, Seq("ret"))
        .groupBy(col("offset").cast("long").as("offset"))
        .agg(
          count(lit(1)).as("n_obs"),
          (sum(round(col("ret") * 1e12).cast("long")
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / 1e12).as("sum_return"))
    }),

    // ---- A3: first-per-group (ordered) ----
    "a3_first_per_group" -> ((s, dir) => {
      events(s, dir)
        .groupBy("user_id", "day")
        .agg(min_by(cents(col("value")), col("event_id")).as("first_cents"))
    }),

    // ---- A4: last-per-group (ordered) ----
    "a4_last_per_group" -> ((s, dir) => {
      events(s, dir)
        .groupBy("user_id", "day")
        .agg(max_by(cents(col("value")), col("event_id")).as("last_cents"))
    }),

    // ---- A7: distinct dimension values ----
    "a7_distinct" -> ((s, dir) =>
      events(s, dir).select("event_type").distinct()),

    // ---- distinct aggregation (expand + two-phase agg path) ----
    "a5_count_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))),

    // ---- tumbling-window time aggregation (streaming-equivalent batch) ----
    "ev_hourly_agg" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_cents"))
    }),

    // ---- event analytics: sessions / funnel / retention / paths ----
    "ev2_sessions" -> ((s, dir) =>
      graft.events.Events.sessionStats(events(s, dir), gapSeconds = 1800)),

    // ---- EV23: gap sessions via the NATIVE session_window aggregate —
    // the streamable built-in form (boundary: new session at gap ≥ 30 m,
    // vs sessionize's >; both contracts oracle-pinned)
    "ev23_session_window" -> ((s, dir) =>
      graft.events.Events.sessionWindows(events(s, dir), gapSeconds = 1800)),

    // ---- EV24: exact rolling 7-day distinct users for every calendar
    // day, via the interval-union sweep (one user-key exchange + a
    // day-dimension running sum). The oracle brute-forces each window
    // with count(DISTINCT) over a day-spine range join — a DIFFERENT
    // algorithm, so the sweep's interval-merge algebra is what the
    // hash pins.
    "ev24_rolling_active" -> ((s, dir) =>
      graft.events.Events.rollingActiveUsers(events(s, dir), windowDays = 7)),

    // ---- J13: temporal ANTI-join — purchases with NO view in the
    // trailing hour (the complement of attribution: organic
    // conversions). One as-of pass gets the latest view at-or-before
    // each purchase; "none in window" is then a row predicate — no
    // NOT-EXISTS subquery, no interval explode.
    "j13_temporal_anti" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("us"), col("us").as("view_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), col("event_id"))
      AsOf.join(purchases, views, "user_id", "us", Seq("view_us"))
        .where(col("view_us").isNull ||
          col("us") - col("view_us") > 3600000000L)
        .select(col("event_id"), col("user_id"))
    }),

    // ---- EV28: CEP-lite — user journeys as one character-per-event
    // string, behavioral patterns as regexes, ALL patterns in one
    // aggregate pass (the expect/stack discipline)
    "ev28_cep_patterns" -> ((s, dir) =>
      graft.events.Events.cepPatterns(events(s, dir), Seq(
        "funnel_vcp" -> "v.*c.*p",
        "signup_to_purchase" -> "s.*p",
        "double_error" -> "ee",
        "purchase_then_error" -> "p.*e"))),

    // ---- EV27: second-order Markov transitions — trigram context
    // counts + conditional next-step probabilities (the path-analysis
    // upgrade of ev5's first-order chain); output bounded by |types|³
    "ev27_trigram_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tri = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("p1", lag(col("event_type"), 1).over(w))
        .withColumn("p2", lag(col("event_type"), 2).over(w))
        .where(col("p2").isNotNull)
      val counts = tri
        .groupBy(col("p2"), col("p1"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      counts.withColumn("p",
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("p2", "p1")), 6))
    }),

    // ---- CS1: two-sided CUSUM changepoint screen per user — the
    // sequential Page recurrence rewritten as cumsum − running-min
    // window algebra (one group exchange, no recursion); exact
    // integer cents scaled by n to keep the group mean rational
    "cs1_cusum" -> ((s, dir) =>
      graft.sources.Quality.cusum(
        events(s, dir), groupCol = "user_id", valueCol = "value",
        orderCols = Seq("ts"), idCol = "event_id",
        kCents = 2500L, hCents = 20000L)),

    // ---- EV25: Nelson–Aalen cumulative hazard + Fleming–Harrington
    // survival over the ev11 lifetime model (shared risk sets; the
    // hash pins the micro-nat increment quantization)
    "ev25_nelson_aalen" -> ((s, dir) =>
      graft.events.Events.nelsonAalen(events(s, dir), censorDays = 1)),

    // ---- EV31: restricted mean survival time at τ=30 days — the
    // area under the published 6dp ev11 curve (step terms + tail,
    // each micro-quantized) ----
    "ev31_rmst" -> ((s, dir) =>
      graft.events.Events.rmst(events(s, dir), tauDays = 30L,
        censorDays = 1)),

    // ---- A16: Pareto 80/20 contribution by part brand — exact cents,
    // integer cumulative-share comparison for the top-80 flag, all
    // windows on the bounded brand frame ----
    "a16_pareto" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val rev = li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("revenue_cents"))
      val wCum = Window.orderBy(col("revenue_cents").desc, col("brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev
        .withColumn("__tot", sum(col("revenue_cents")).over(Window.partitionBy()))
        .withColumn("__cum", sum(col("revenue_cents")).over(wCum))
        .select(
          col("brand"), col("revenue_cents"),
          round(col("revenue_cents").cast("double")
            / col("__tot").cast("double"), 6).as("share"),
          round(col("__cum").cast("double")
            / col("__tot").cast("double"), 6).as("cum_share"),
          when((col("__cum") - col("revenue_cents")) * 10 < col("__tot") * 8,
            1).otherwise(0).as("is_top80"))
    }),

    // ---- EV29: log-rank test between the md5 arms over the ev11
    // lifetime model — micro-quantized hypergeometric E/V increments,
    // exact O₁·10¹²−ΣE₁q difference, one χ²(1) row
    "ev29_logrank" -> ((s, dir) =>
      graft.events.Events.logRank(events(s, dir), censorDays = 1)),

    // ---- AB2: Mann–Whitney rank-sum on purchase values between the
    // md5 arms — doubled integer ranks off the distinct-cents
    // histogram, tie-corrected z with one sqrt
    "ab2_mann_whitney" -> ((s, dir) =>
      graft.events.Events.mannWhitney(events(s, dir))),

    "ev3_funnel" -> ((s, dir) =>
      graft.events.Events.funnel(
        events(s, dir), Seq("view", "click", "purchase"))),

    // ---- EV33: time-window funnel (ClickHouse windowFunnel) — the
    // deepest strictly-ordered view<click<purchase chain completing
    // within 12 HOURS of ITS OWN first event, via cascaded anchor-max
    // window carries (one shuffle, zero pair joins). Oracle: EXISTS
    // chains — a different algorithm checking the greedy's optimality ----
    "ev33_window_funnel" -> ((s, dir) =>
      graft.events.Events.windowFunnel(
        events(s, dir), Seq("view", "click", "purchase"),
        windowMicros = 12L * 3600L * 1000000L)),

    // ---- EV30: skip-gram sequential patterns — (from, to, gap ≤ 5)
    // counts from maxGap lead columns in one window pass (bounded ×5
    // explode, never a pair join) ----
    "ev30_skipgrams" -> ((s, dir) =>
      graft.events.Events.skipGrams(events(s, dir), maxGap = 5)),

    // ---- EV26: Qini uplift curve — deterministic hash arms, rank-
    // proportional score deciles via the two-level descending bucket
    // rank, cumulative incremental conversions control-scaled
    "ev26_qini" -> ((s, dir) =>
      graft.events.Events.qiniCurve(events(s, dir), "purchase")),

    "ev4_retention" -> ((s, dir) =>
      graft.events.Events.retentionCohorts(events(s, dir))),

    "ev5_transitions" -> ((s, dir) =>
      graft.events.Events.transitions(events(s, dir), topK = 25)),

    // trailing-7-day z-score anomalies on daily per-type counts
    "ev6_anomaly" -> ((s, dir) =>
      graft.events.Events.countAnomalies(events(s, dir), window = 7)),

    // first-/last-touch attribution of purchases to view/click events
    "ev7_attribution" -> ((s, dir) =>
      graft.events.Events.attribution(
        events(s, dir), Seq("view", "click"), "purchase")),

    // ---- EV32: U-shaped 40/20/40 attribution — exact integer micro
    // credits (interior remainder handed out one micro at a time) ----
    "ev32_position_attribution" -> ((s, dir) =>
      graft.events.Events.positionAttribution(
        events(s, dir), Seq("view", "click"), "purchase")),

    // ---- PX7: pairwise return-correlation matrix for a named book
    "px7_corr_matrix" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = supplierPanel(s, dir)
        .withColumn("ret", col("close") / lag(col("close"), 1).over(k.bySid) - 1)
      Panel.correlationMatrix(p, col("ret"), Seq("1", "2", "3", "4"))
    }),

    // ---- W22: Hurst exponent — aggregated-variance log-log slope
    // across block scales (persistence/mean-reversion regime)
    "w22_hurst" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      Panel.hurstExponent(supplierPanel(s, dir))
    }),

    // ---- COINT1: Engle-Granger pairs screen — log-price OLS hedge
    // ratio + CRDW residual stationarity statistic per pair
    "coint1_pairs" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      Panel.cointegrationScreen(
        supplierPanel(s, dir), col("close"), Seq("1", "2", "3", "4"))
    }),

    // ---- COINT2: the trading leg — best (lowest adf_t) pair from the
    // screen, rolling z-scored spread with ±2 entry bands; the pair
    // pick is a bounded driver action (≤ 6 rows, requireFresh class)
    "coint2_spread_signal" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = supplierPanel(s, dir)
      val best = Panel.cointegrationScreen(p, col("close"),
        Seq("1", "2", "3", "4"))
        .where(col("adf_t").isNotNull)
        .collect() // bounded pair frame
        .minBy(r => (r.getAs[Double]("adf_t"), r.getAs[String]("sid_a"),
          r.getAs[String]("sid_b")))
      Panel.spreadZSignal(p, col("close"),
        best.getAs[String]("sid_a"), best.getAs[String]("sid_b"),
        best.getAs[Double]("beta"), best.getAs[Double]("alpha"),
        window = 20)
    }),

    // ---- portfolio combination: 0.6/0.4 blend of the close<30000 and
    // close<15000 demo books' daily returns
    "port1_combined" -> ((s, dir) => {
      object Demo15 extends Strategy {
        val code = "demo15"
        override def keys: Keys = liKeys
        def pricesToSignals(prices: DataFrame): DataFrame =
          prices.withColumn("signal", (col("close") < 15000).cast("int"))
      }
      val meltB = Backtest.run(Demo15, supplierPanel(s, dir))
        .withColumn("value",
          when(col("field") === "Return", col("value") * 0.001)
            .otherwise(col("value")))
      graft.perf.Performance.combineReturns(
        Seq((dampedMelt(s, dir), 0.6), (meltB, 0.4)))
    }),

    // ---- risk-parity blend of the same two books: weights derived
    // ∝ 1/σ (exact micro-int normalizer, bounded driver vol probe)
    "port2_riskparity" -> ((s, dir) => graft.Checkpoint.scoped(s) {
      object Demo15b extends Strategy {
        val code = "demo15b"
        override def keys: Keys = liKeys
        def pricesToSignals(prices: DataFrame): DataFrame =
          prices.withColumn("signal", (col("close") < 15000).cast("int"))
      }
      val meltB = Backtest.run(Demo15b, supplierPanel(s, dir))
        .withColumn("value",
          when(col("field") === "Return", col("value") * 0.001)
            .otherwise(col("value")))
      graft.perf.Performance.riskParityCombine(
        Seq(dampedMelt(s, dir), meltB))
    }),

    // ---- PX6: market-residualized returns (r − β·m over the panel's
    // own cross-sectional mean factor)
    "px6_residual" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = supplierPanel(s, dir)
        .withColumn("ret", col("close") / lag(col("close"), 1).over(k.bySid) - 1)
      Panel.residualReturns(p, col("ret"), window = 21)
        .select("sid", "date", "mkt_ret", "beta_21", "resid")
    }),

    // ---- D1: equal-weight allocation ----
    "d1_equal_weights" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val sig = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
      sig.select(col("sid"), col("date"), col("signal"),
        Weights.equalWeights(col("signal")).as("weight"))
    }),

    // ---- D5: neutralize long/short ----
    "d5_neutralize" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val sig = supplierPanel(s, dir)
        .withColumn("signal",
          when(col("close") < 30000, 1.0).otherwise(-1.0))
      sig.select(col("sid"), col("date"),
        Weights.neutralizeWeights(col("signal")).as("weight"))
    }),

    // ---- D33: short-sale locate constraint — shorts clamped at the
    // borrow table's per-sid cap; sids without a locate are unshortable
    "d33_borrow_constraint" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val w = supplierPanel(s, dir)
        .withColumn("signal",
          when(col("close") < 30000, 1.0).otherwise(-1.0))
        .select(col("sid"), col("date"),
          Weights.neutralizeWeights(col("signal")).as("weight"))
      val borrow = t(s, dir, "supplier")
        .where(col("s_suppkey") % 2 === 1)
        .select(col("s_suppkey").as("sid"), lit(0.02).as("max_short_weight"))
      Weights.constrainShortsByBorrow(w, borrow)
    }),

    // ---- D6: turnover ----
    "d6_turnover" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val sig = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
        .withColumn("position", Panel.lagBySid(col("weight")))
      sig.select(col("sid"), col("date"),
        abs(Panel.diffBySid(Panel.zeroFill(col("position")))).as("turnover"))
    }),

    // ---- D16: position-size limiter (weights↔quantities clamp) ----
    "d16_limit" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val nlv = 1000000.0
      val p = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
        .withColumn("qty", coalesce(round(col("weight") * nlv / col("close")), lit(0.0)))
        .withColumn("clamped", Panel.clamp(col("qty"), lit(-10.0), lit(10.0)))
      p.select(col("sid"), col("date"), col("qty"), col("clamped"),
        (col("clamped") * col("close") / nlv).as("constrained_weight"))
    }),

    // ---- D8: percentage commission with min floor ----
    "d8_commission" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val model = PercentageCommission(
        brokerCommissionRate = 0.001, exchangeFeeRate = 0.0002, minCommission = 2.5)
      val nlv = 1000000.0
      val p = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
        .withColumn("position", Panel.lagBySid(col("weight")))
        .withColumn("turnover", abs(Panel.diffBySid(Panel.zeroFill(col("position")))))
      p.select(col("sid"), col("date"),
        model.commissions(col("close"), col("turnover"), Some(lit(nlv))).as("commission"))
    }),

    // ---- D10: futures per-contract commission (fut.py:62-80) ----
    "d10_futures_commission" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val model = FuturesCommission(
        brokerCommissionPerContract = 0.85, exchangeFeePerContract = 1.18,
        carryingFeePerContract = 0.01)
      val p = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
        .withColumn("position", Panel.lagBySid(col("weight")))
        .withColumn("turnover", abs(Panel.diffBySid(Panel.zeroFill(col("position")))))
      p.select(col("sid"), col("date"),
        model.commissions(col("close"), col("turnover"), None).as("commission"))
    }),

    // ---- D11: spot FX commission (fx.py:17-52; 0.2 bps, no min) ----
    "d11_spotfx" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
        .withColumn("position", Panel.lagBySid(col("weight")))
        .withColumn("turnover", abs(Panel.diffBySid(Panel.zeroFill(col("position")))))
      // CASH contract value ≡ 1 (base.py:1906-1908); NLV present but
      // SpotFXCommission has no min floor, so enforceMin is a no-op.
      p.select(col("sid"), col("date"),
        CommissionModel.spotFX
          .commissions(lit(1.0), col("turnover"), Some(lit(1000000.0)))
          .as("commission"))
    }),

    // ---- D13: fixed slippage ----
    "d13_slippage" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
        .withColumn("position", Panel.lagBySid(col("weight")))
        .withColumn("turnover", abs(Panel.diffBySid(Panel.zeroFill(col("position")))))
      p.select(col("sid"), col("date"),
        FixedSlippage(0.0005).slippage(col("turnover"), col("position")).as("slippage"))
    }),

    // ---- D21/D22: target→net quantities → order stubs ----
    "d21_order_stubs" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val nlv = 1000000.0
      val panel = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
      val lastDay = panel.agg(max(col("date"))).head.getDate(0).toString
      val today = panel.where(col("date") === lit(lastDay))
        .withColumn("target_quantity",
          coalesce(round(col("weight") * nlv / col("close")), lit(0.0)))
        .withColumn("account", lit("U1"))
        .select("sid", "account", "target_quantity")
      val held = t(s, dir, "supplier")
        .select(col("s_suppkey").as("sid"), lit("U1").as("account"),
          round(col("s_acctbal") / 1000).as("quantity"))
      val net = Trade.netQuantities(today, held)
      Trade.orderStubs(net, "demo")
    }),

    // ---- D23: child/bracket orders ----
    "d23_child_orders" -> ((s, dir) => {
      val stubs = t(s, dir, "supplier")
        .where(col("s_acctbal") > 0)
        .select(col("s_suppkey").cast("string").as("sid"), lit("U1").as("account"),
          when(col("s_suppkey") % 2 === 0, "BUY").otherwise("SELL").as("action"),
          lit("demo").as("orderRef"),
          round(col("s_acctbal")).cast("long").as("totalQuantity"))
      // fixed id suffix so the positional "row.suffix" ids (base.py:650)
      // are deterministic for the oracle
      val parents = Trade.withOrderIds(stubs, suffix = "0")
      val children = Trade.childOrders(parents)
      parents.withColumn("parentId", lit(null).cast("string"))
        .unionByName(children.withColumn("orderId", lit(null).cast("string")))
    }),

    // ---- D2/D3: fixed and fixed-capped weight allocation ----
    "d3_fixed_capped" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val sig = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
      // 0.25 is exactly representable: per-date sums are order-independent
      sig.select(col("sid"), col("date"),
        Weights.fixedWeights(col("signal"), 0.25).as("fixed_weight"),
        Weights.fixedWeightsCapped(col("signal"), 0.25, cap = 1.0).as("capped_weight"))
    }),

    // ---- D4: market-neutral fixed weights, capped per side ----
    "d4_market_neutral" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val sig = supplierPanel(s, dir)
        .withColumn("signal",
          when(col("close") < 30000, 1.0).otherwise(-1.0))
      sig.select(col("sid"), col("date"),
        Weights.marketNeutralFixedWeightsCapped(col("signal"), 0.25, cap = 1.0)
          .as("weight"))
    }),

    // ---- S1 storage contract: publish date-partitioned + sid-bucketed,
    // read back through the same PriceQuery pushdown (partition pruning;
    // the layout's zero-exchange joins are proven in BucketingSpec —
    // here the ORACLE proves the roundtrip loses nothing) ----
    "s10_bucketed_scan" -> ((s, dir) => {
      // Publish a bounded half-year slice, bucket-only: daily
      // partitioning here would write one directory per date each run —
      // at cluster scale that cost amortizes over every later pruned
      // read, but a demo query that republishes per run would measure
      // file creation, not the contract. Partition pruning on the
      // partitioned layout is proven in BucketingSpec; this oracle
      // proves the bucketed write-read roundtrip and filter pushdown.
      val panel = supplierPanel(s, dir)
        .where(col("date") >= "1995-01-01" && col("date") <= "1995-06-30")
      graft.sources.Sources.writePrices(panel, "graft_s10_panel", buckets = 8,
        partitionCol = None)
      graft.sources.Sources.pricesTable(s, "graft_s10_panel",
        graft.sources.Sources.PriceQuery(
          startDate = Some("1995-01-01"), endDate = Some("1995-03-31")))
    }),

    // ---- §3.2 full trade lifecycle: weights → FX/NLV → net qty → orders ----
    "trade_full" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val panel = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
      val lastDay = panel.agg(max(col("date"))).head.getDate(0).toString
      tradeFullPipeline(s, dir, panel, lastDay)
    }),

    // ---- D20 CALENDAR variant: a closed exchange dates the signals to
    // when it last closed (base.py:745-750) — here the second-to-last
    // panel date, so the result provably differs from trade_full ----
    "trade_cal" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val panel = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
      val prevDay = panel.where(
        col("date") < panel.agg(max(col("date"))).head.getDate(0))
        .agg(max(col("date"))).head.getDate(0).toString
      // tiny calendar dimension: XNYS closed since prevDay's close
      val calendars = s.createDataFrame(Seq(
        ("XNYS", "closed", s"${prevDay}T16:00:00", "America/New_York")))
        .toDF("exchange", "status", "since", "timezone")
      val status = graft.trade.Calendars.statusFor(calendars, "XNYS")
      val (signalDate, _) = Trade.resolveSignalDateTime(
        "America/New_York", reviewDate = None, calendar = Some(status))
      tradeFullPipeline(s, dir, panel, signalDate)
    }),

    // ---- D19: benchmark return series (ffill + pct_change) ----
    "d19_benchmark" -> ((s, dir) => {
      object BenchmarkedStrategy extends Strategy {
        val code = "demo-bench"
        override def keys: Keys = liKeys
        override def benchmarkSid: Option[String] = Some("1")
        def pricesToSignals(prices: DataFrame): DataFrame =
          prices.withColumn("signal", (col("close") < 30000).cast("int"))
      }
      val panel = supplierPanel(s, dir).withColumn("sid", col("sid").cast("string"))
      Backtest.run(BenchmarkedStrategy, panel)
        .where(col("field") === "Benchmark")
    }),

    // ---- D14: borrow fees via as-of join + weekend multiplier ----
    "d14_borrow_fees" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val panel = supplierPanel(s, dir)
        .withColumn("position", when(col("close") < 30000, 1.0).otherwise(-1.0))
      // synthetic monthly borrow-fee table: annual % = sid mod 5 + 1
      val fees = supplierPanel(s, dir)
        .select(col("sid"), to_date(date_trunc("month", col("date"))).as("date"))
        .distinct()
        .withColumn("borrow_fee", (col("sid") % 5 + 1).cast("double"))
      val joined = AsOf.join(panel, fees, "sid", "date", Seq("borrow_fee"))
      joined.select(col("sid"), col("date"),
        graft.costs.BorrowFees().slippage(lit(0.0), col("position")).as("borrow_cost"))
    }),

    // ---- D7: contract values (magnifier/multiplier/CASH rules) ----
    "d7_contract_values" -> ((s, dir) => {
      val panel = supplierPanel(s, dir)
        .withColumn("secType",
          when(col("sid") % 3 === 0, "CASH")
            .when(col("sid") % 3 === 1, "STK").otherwise("FUT"))
        .withColumn("priceMagnifier", when(col("sid") % 3 === 2, 100.0).otherwise(1.0))
        .withColumn("multiplier", when(col("sid") % 3 === 2, 50.0).otherwise(1.0))
      panel.select(col("sid"), col("date"),
        graft.costs.ContractValues.contractValue(
          col("close"), col("secType"), col("priceMagnifier"), col("multiplier"))
          .as("contract_value"))
    }),

    // ---- D12: per-(secType,exchange,currency) commission dispatch ----
    "d12_commission_dispatch" -> ((s, dir) => {
      object DispatchStrategy extends Strategy {
        val code = "demo-dispatch"
        override def keys: Keys = liKeys
        override def commissionBySecGroup =
          Map[(String, String, String), graft.costs.CommissionModel](
            ("STK", "X", "USD") -> PercentageCommission(brokerCommissionRate = 0.001),
            ("FUT", "X", "USD") -> graft.costs.FuturesCommission(
              brokerCommissionPerContract = 2.03),
            ("CASH", "X", "USD") -> graft.costs.CommissionModel.spotFX)
        def pricesToSignals(prices: DataFrame): DataFrame =
          prices.withColumn("signal", (col("close") < 30000).cast("int"))
      }
      val master = t(s, dir, "supplier").select(
        col("s_suppkey").as("sid"),
        when(col("s_suppkey") % 3 === 0, "CASH")
          .when(col("s_suppkey") % 3 === 1, "STK").otherwise("FUT").as("secType"),
        lit("X").as("exchange"),
        lit("USD").as("currency"),
        when(col("s_suppkey") % 3 === 2, 100.0).otherwise(1.0).as("priceMagnifier"),
        when(col("s_suppkey") % 3 === 2, 50.0).otherwise(1.0).as("multiplier"))
      Backtest.run(DispatchStrategy, supplierPanel(s, dir), Some(master))
        .where(col("field") === "Commission")
    }),

    // ---- W8: resample to monthly bars ----
    "w8_resample" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sid"),
          to_date(date_trunc("month", col("l_shipdate"))).as("month"))
        .agg(sum(cents(col("l_extendedprice"))).as("price_cents"),
          count(lit(1)).as("n_bars"))
    }),

    // ---- D20/W10: latest bar strictly before the trade time ----
    "d20_latest_before" -> ((s, dir) => {
      events(s, dir)
        .where(date_format(col("ts"), "HH:mm:ss") < "12:00:00")
        .groupBy("user_id", "day")
        .agg(max_by(col("event_id"), col("ts")).as("last_event_id"),
          max_by(cents(col("value")), col("ts")).as("last_cents"))
    }),

    // ---- densify + ffill: complete the sid×date grid ----
    "r7_densify" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val panel = supplierPanel(s, dir).where(col("sid") <= 5)
      Panel.densifyFfill(panel, "close")
        .select("sid", "date", "close")
    }),

    // ---- A2: per-date long/short cross-sectional totals ----
    "a2_long_short_sums" -> ((s, dir) => {
      val sig = supplierPanel(s, dir)
        .withColumn("w", when(col("close") < 30000, 1.0).otherwise(-1.0))
      sig.groupBy("date").agg(
        sum(when(col("w") > 0, col("w")).otherwise(0.0)).cast("long").as("long_total"),
        sum(when(col("w") < 0, -col("w")).otherwise(0.0)).cast("long").as("short_total"))
    }),

    // ---- M1/M2: feature assembly + linear model prediction ----
    "ml1_linear_model" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val withF = graft.ml.Features.laggedReturns(supplierPanel(s, dir), Seq(1, 2))
      val assembled = graft.ml.Features.assemble(withF, Seq("return_1d", "return_2d"))
      graft.ml.LinearPredictor(Seq(0.4, -0.2), intercept = 0.01)
        .predict(assembled)
        .select(col("sid"), col("date"), col("prediction"),
          (col("prediction") > 0).cast("int").as("signal"))
    }),

    // ---- D19: BENCHMARK_DB — benchmark from a separate EOD frame ----
    // (25-supplier slice: the full-pipeline cost is already measured by
    // backtest_pipeline; this query checks the benchmark-source path)
    "d19b_benchmark_db" -> ((s, dir) => {
      val benchFrame = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("date"))
        .agg(max(col("o_totalprice")).as("close"))
        .withColumn("sid", lit("BM"))
      object DbBench extends Strategy {
        val code = "demo-bench-db"
        override def keys: Keys = liKeys
        override def benchmarkSid: Option[String] = Some("BM")
        override def benchmarkPrices: Option[DataFrame] = Some(benchFrame)
        def pricesToSignals(prices: DataFrame): DataFrame =
          prices.withColumn("signal", (col("close") < 30000).cast("int"))
      }
      val panel = supplierPanel(s, dir)
        .where(col("sid") <= 25)
        .withColumn("sid", col("sid").cast("string"))
      Backtest.run(DbBench, panel).where(col("field") === "Benchmark")
    }),

    // ---- D19: once-a-day intraday benchmark at BENCHMARK_TIME ----
    "d19i_benchmark_time" -> ((s, dir) => {
      object IntradayBench extends Strategy {
        val code = "ev-bench"
        override def keys: Keys = liKeys // daily results over intraday prices
        override def benchmarkSid: Option[String] = Some("3")
        // hour 11 exists for sid 3 at every test scale factor — a time
        // with no bars now RAISES (the D19 loud-failure contract) rather
        // than producing a flat series, so the demo must pick a live one
        override def benchmarkTime: Option[String] = Some("11")
        def pricesToSignals(prices: DataFrame): DataFrame =
          prices.groupBy("sid", "date")
            .agg(max(col("close")).as("close"))
            .withColumn("signal", (col("close") < 5000).cast("int"))
      }
      val panel = events(s, dir)
        .groupBy(col("user_id").cast("string").as("sid"),
          col("day").as("date"), date_format(col("ts"), "HH").as("time"))
        .agg(max(cents(col("value"))).cast("double").as("close"))
      Backtest.run(IntradayBench, panel).where(col("field") === "Benchmark")
    }),

    // ---- M2: serialized tree model via mapPartitions, predict_proba ----
    "ml2_tree_proba" -> ((s, dir) => {
      // exercise the full load path: spec file → ModelPredictor.load →
      // OpaquePredictor (typed mapPartitions) → P(class=1) selection
      val json =
        """{"modelType":"tree","classes":[0,1],"nodes":[
          |{"feature":0,"threshold":0.5,"left":1,"right":2},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[0.1,0.9]},
          |{"feature":1,"threshold":0.5,"left":3,"right":4},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[0.7,0.3]},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[0.9,0.1]}]}"""
          .stripMargin.replace("\n", "")
      val tmp = java.nio.file.Files.createTempFile("graft_model", ".json")
      java.nio.file.Files.writeString(tmp, json)
      val predictor = graft.ml.ModelPredictor.load(s, tmp.toString)
      val withF = supplierPanel(s, dir)
        .withColumn("f1", (col("close") < 30000).cast("double"))
        .withColumn("f2", (col("close") < 15000).cast("double"))
      val assembled = graft.ml.Features.assemble(withF, Seq("f1", "f2"))
      predictor.predict(assembled)
        .select(col("sid"), col("date"), col("prediction"),
          (col("prediction") < 0.5).cast("int").as("signal"))
    }),

    // ---- M2: forest ensemble via ModelPredictor.load("forest") —
    // per-tree leaf-count normalization + cross-tree averaging
    // (sklearn RandomForest predict_proba; test_ml.py:844 pattern).
    // Leaf counts are dyadic (sums 8 and 4) so the probabilities are
    // exact binary fractions — the oracle's decimal arithmetic and the
    // JVM's double arithmetic agree bit-for-bit ----
    "ml3_forest_proba" -> ((s, dir) => {
      val json =
        """{"modelType":"forest","classes":[0,1],"trees":[[
          |{"feature":0,"threshold":0.5,"left":1,"right":2},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[6,2]},
          |{"feature":1,"threshold":0.5,"left":3,"right":4},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[2,6]},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[1,7]}],[
          |{"feature":1,"threshold":0.5,"left":1,"right":2},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[2,2]},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[1,3]}]]}"""
          .stripMargin.replace("\n", "")
      val tmp = java.nio.file.Files.createTempFile("graft_forest", ".json")
      java.nio.file.Files.writeString(tmp, json)
      val predictor = graft.ml.ModelPredictor.load(s, tmp.toString)
      val withF = supplierPanel(s, dir)
        .withColumn("f1", (col("close") < 30000).cast("double"))
        .withColumn("f2", (col("close") < 15000).cast("double"))
      val assembled = graft.ml.Features.assemble(withF, Seq("f1", "f2"))
      predictor.predict(assembled)
        .select(col("sid"), col("date"), col("prediction"),
          (col("prediction") < 0.5).cast("int").as("signal"))
    }),

    // ---- M-eval: binary-classification metrics over a scored panel —
    // quantized sigmoid-ish score (ties exercise the AUC half-credit),
    // label = close >= 22000 ----
    "ml4_metrics" -> ((s, dir) =>
      graft.ml.Evaluation.classificationMetrics(scoredPanel(s, dir))),

    // ---- calibration bins + average precision over the same scored
    // panel as ml4 ----
    "ml5_calibration" -> ((s, dir) =>
      graft.ml.Evaluation.calibrationBins(scoredPanel(s, dir))),

    "ml6_avg_precision" -> ((s, dir) =>
      graft.ml.Evaluation.averagePrecision(scoredPanel(s, dir))),

    // precision-recall operating points per distinct score threshold
    "ml11_pr_curve" -> ((s, dir) =>
      graft.ml.Evaluation.prCurve(scoredPanel(s, dir))),

    // ---- ML13: KS drift between the early and late halves of the
    // score distribution (exact integer cumulative CDFs)
    "ml13_ks_drift" -> ((s, dir) => {
      val p = supplierPanel(s, dir).select(
        least(lit(1.0), round(col("close") / 60000.0, 1)).as("prediction"),
        col("date"))
      graft.ml.Evaluation.ksDrift(
        p.where(col("date") < "1995-01-01"),
        p.where(col("date") >= "1995-01-01"))
    }),

    // ---- ML17: the F1-optimal operating point on the ml11 curve
    "ml17_best_threshold" -> ((s, dir) =>
      graft.ml.Evaluation.bestThreshold(scoredPanel(s, dir))),

    // ---- ML19: lift in the top decile of scores (integer-exact k,
    // whole-tie cut convention)
    "ml19_lift" -> ((s, dir) =>
      graft.ml.Evaluation.liftAtPercent(scoredPanel(s, dir))),

    // ---- ML20: confusion at 0.5 + balanced accuracy + Matthews corr
    "ml20_confusion" -> ((s, dir) =>
      graft.ml.Evaluation.confusionAt(scoredPanel(s, dir))),

    // ---- ML21: class-separation KS — the score distributions of the
    // two label classes through the ml13 drift machinery (KS here is
    // the separability twin of AUC)
    "ml21_separation" -> ((s, dir) => {
      val p = scoredPanel(s, dir)
      graft.ml.Evaluation.ksDrift(
        p.where(col("label") === 1), p.where(col("label") === 0))
    }),

    // ---- EV13: cohort LTV — cumulative purchase cents per user by
    // signup-week cohort age
    "ev13_cohort_ltv" -> ((s, dir) =>
      graft.events.Events.cohortLtv(events(s, dir))),

    // ---- EV14: Markov removal-effect attribution — 6-step chain over
    // view/click/signup journeys converting at purchase
    "ev14_markov_attribution" -> ((s, dir) =>
      graft.events.Events.markovAttribution(
        events(s, dir), Seq("view", "click", "signup"), "purchase")),

    // ---- EV12: stickiness — DAU over trailing-28-day actives
    "ev12_stickiness" -> ((s, dir) =>
      graft.events.Events.activeUsers(events(s, dir), window = 28)
        .withColumn("stickiness",
          round(col("dau").cast("double") * 1e6 / col("active_28")) / 1e6)),

    // ---- ML14: PSI drift between the same early/late score halves as
    // ml13 — 10 equal-width bins, exact counts, micro-nat-exact total
    "ml14_psi" -> ((s, dir) => {
      val p = supplierPanel(s, dir).select(
        least(lit(1.0), round(col("close") / 60000.0, 1)).as("prediction"),
        col("date"))
      graft.ml.Evaluation.psiDrift(
        p.where(col("date") < "1995-01-01"),
        p.where(col("date") >= "1995-01-01"))
    }),

    // ---- D28: TWAP slicing — each stub split into 3 timed child
    // slices, earlier slices absorb the integer remainder
    "d28_twap_slices" -> ((s, dir) => {
      val stubs = t(s, dir, "supplier")
        .where(col("s_acctbal") > 0)
        .select(col("s_suppkey").cast("string").as("sid"), lit("U1").as("account"),
          when(col("s_suppkey") % 2 === 0, "BUY").otherwise("SELL").as("action"),
          lit("demo").as("orderRef"),
          round(col("s_acctbal")).cast("long").as("totalQuantity"))
      Trade.twapSlices(stubs,
        times = Seq("09:30:00", "12:00:00", "15:30:00"), suffix = "0")
    }),

    // ---- D40: position reconciliation — expected book vs a broker
    // report with planted breaks (drops, qty drifts, strays)
    "d40_reconcile" -> ((s, dir) => {
      val expected = t(s, dir, "supplier")
        .where(col("s_suppkey") % 2 === 0 && col("s_acctbal") > 0)
        .select(col("s_suppkey").cast("string").as("sid"),
          lit("U1").as("account"),
          round(col("s_acctbal")).cast("long").as("quantity"))
      val reported = t(s, dir, "supplier")
        .where(col("s_acctbal") > 0)
        .where(col("s_suppkey") % 2 === 1 || col("s_suppkey") % 7 =!= 0)
        .select(col("s_suppkey").cast("string").as("sid"),
          lit("U1").as("account"),
          (round(col("s_acctbal")).cast("long") +
            when(col("s_suppkey") % 5 === 0, 10L).otherwise(0L))
            .as("quantity"))
        .where(col("sid").cast("long") % 2 === 0 ||
          col("sid").cast("long") % 3 === 0) // odd strays only when %3
      Trade.reconcilePositions(expected, reported)
    }),

    // ---- D35: internal crossing — per-sid BUY/SELL netting across
    // accounts, running-sum allocation in (account, orderRef) order
    "d35_cross_orders" -> ((s, dir) => {
      val stubs = t(s, dir, "supplier")
        .where(col("s_acctbal") > 0)
        .select(col("s_suppkey").cast("string").as("sid"),
          when(col("s_suppkey") % 3 === 0, "U2").otherwise("U1").as("account"),
          when(col("s_suppkey") % 2 === 0, "BUY").otherwise("SELL").as("action"),
          lit("demo").as("orderRef"),
          round(col("s_acctbal")).cast("long").as("totalQuantity"))
      // plant an opposing order per sid so crossing mass exists: U3
      // sells 100 of every even sid (the BUY side)
      val opposing = stubs.where(col("action") === "BUY")
        .select(col("sid"), lit("U3").as("account"), lit("SELL").as("action"),
          lit("demo").as("orderRef"), lit(100L).as("totalQuantity"))
      Trade.crossOrders(stubs.unionByName(opposing))
    }),

    // ---- D32: Almgren-Chriss risk-averse execution schedule — sinh
    // trajectory front-loads vs d28's uniform TWAP on the same stubs
    "d32_almgren" -> ((s, dir) => {
      val stubs = t(s, dir, "supplier")
        .where(col("s_acctbal") > 0)
        .select(col("s_suppkey").cast("string").as("sid"), lit("U1").as("account"),
          when(col("s_suppkey") % 2 === 0, "BUY").otherwise("SELL").as("action"),
          lit("demo").as("orderRef"),
          round(col("s_acctbal")).cast("long").as("totalQuantity"))
      Trade.almgrenSlices(stubs,
        times = Seq("09:30:00", "12:00:00", "15:30:00"), kappaT = 2.0,
        suffix = "0")
    }),

    // regression metrics in a normalized label space (micro-quantized
    // residuals stay integer-exact in a BIGINT oracle)
    "ml7_regression" -> ((s, dir) => {
      val preds = supplierPanel(s, dir).select(
        (col("close") / 60000.0 * 0.9 + 0.05).as("prediction"),
        (col("close") / 60000.0).as("label"))
      graft.ml.Evaluation.regressionMetrics(preds)
    }),

    // ---- the flagship: full backtest pipeline, melted results panel ----
    "backtest_pipeline" -> ((s, dir) => {
      Backtest.run(DemoStrategy, supplierPanel(s, dir))
    }),

    // ---- P8: start-date truncation — windows see full history, the
    // results are cut at the requested start (base.py:1395-1398) ----
    "p8_truncation" -> ((s, dir) =>
      Backtest.run(DemoStrategy, supplierPanel(s, dir),
        cfg = Backtest.Config(startDate = Some("1996-01-01")))),

    // ---- D24: label sids as Symbol(Sid) via the master's symbol ----
    "d24_label_sids" -> ((s, dir) => {
      val master = t(s, dir, "supplier").select(
        col("s_suppkey").as("sid"), col("s_name").as("symbol"))
      Backtest.run(DemoStrategy, supplierPanel(s, dir), master = Some(master),
        cfg = Backtest.Config(labelSids = true))
        .where(col("field") === "Weight") // compact one-field slice
    }),

    // ---- D9: per-share commission (broker + exchange per-share fees ÷
    // price, plus a value-based fee) ----
    "d9_pershare" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val model = PerShareCommission(
        brokerCommissionPerShare = 0.005,
        exchangeFeePerShare = 0.003,
        percentageFeeRate = 0.0001)
      val p = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
        .withColumn("position", Panel.lagBySid(col("weight")))
        .withColumn("turnover", abs(Panel.diffBySid(Panel.zeroFill(col("position")))))
      p.select(col("sid"), col("date"),
        model.commissions(col("close"), col("turnover"), None).as("commission"))
    }),

    // ---- performance measures over the results melt (moonchart-style:
    // the first thing a migrating user computes after backtest()).
    // TPC-H "prices" swing 20× bar-to-bar, so the raw demo series
    // compounds past double range (exp(1282)); damping the Return field
    // ×0.001 keeps the demo magnitudes return-like without touching the
    // measure implementations ----
    "perf_daily" -> ((s, dir) =>
      graft.perf.Performance.dailySeries(dampedMelt(s, dir))),

    "perf_summary" -> ((s, dir) =>
      graft.perf.Performance.summary(dampedMelt(s, dir))),

    // Sharpe with Lo (2002) standard error and 95% CI
    "perf_sharpe_ci" -> ((s, dir) =>
      graft.perf.Performance.sharpeConfidence(dampedMelt(s, dir))),

    // Kelly / half-Kelly growth-optimal fraction
    "perf_kelly" -> ((s, dir) =>
      graft.perf.Performance.kellyFraction(dampedMelt(s, dir))),

    // ---- ML27: cumulative-gains decile table
    "ml27_gains" -> ((s, dir) =>
      graft.ml.Evaluation.gainsTable(scoredPanel(s, dir))),

    // ---- EV20: pooled retention-decay fit with right-censoring
    // correction — exponential λ and half-life
    "ev20_retention_fit" -> ((s, dir) =>
      graft.events.Events.retentionDecay(events(s, dir))),

    // ---- ML26: cost-sensitive threshold — FN costs 10× an FP
    "ml26_cost_threshold" -> ((s, dir) =>
      graft.ml.Evaluation.costThreshold(scoredPanel(s, dir),
        uTp = 1.0, uFp = -1.0, uFn = -10.0, uTn = 0.0)),

    // rolling 21-day annualized Sharpe over the damped demo returns
    "perf_rolling" -> ((s, dir) =>
      graft.perf.Performance.rollingSharpe(dampedMelt(s, dir), window = 21)),

    // risk ratios: annualized vol, Sortino, Calmar, hit rate — one
    // bounded hash agg over the same per-date pico-sum series
    "perf_ratios" -> ((s, dir) =>
      graft.perf.Performance.ratios(dampedMelt(s, dir))),

    // benchmark-relative: beta/alpha/correlation of the damped demo
    // returns vs the D19 benchmark-return rows (sid 1's ffilled closes)
    "perf_benchmark" -> ((s, dir) =>
      graft.perf.Performance.vsBenchmark(benchmarkedMelt(s, dir))),

    // trailing 21-day beta series over the same joint per-date pass
    "perf_rollbeta" -> ((s, dir) =>
      graft.perf.Performance.rollingBeta(benchmarkedMelt(s, dir), window = 21)),

    // calendar-month compounded returns (micro-nat-exact log-space sum)
    "perf_monthly" -> ((s, dir) =>
      graft.perf.Performance.monthlyReturns(dampedMelt(s, dir))),

    // per-sid additive return attribution + share of the total
    "perf_attrib" -> ((s, dir) =>
      graft.perf.Performance.attribution(dampedMelt(s, dir))),

    // round-trip trades: same-sign nonzero NetExposure runs per sid,
    // trip return = exact pico sum of each run's lead(Return) rows
    "perf_trips" -> ((s, dir) =>
      graft.perf.Performance.roundTrips(dampedMelt(s, dir))),

    // historical 95% VaR/CVaR over the per-date pico-sum return series
    "perf_var" -> ((s, dir) =>
      graft.perf.Performance.valueAtRisk(dampedMelt(s, dir))),

    // drawdown-episode table: underwater runs of the compounded curve
    "perf_drawdowns" -> ((s, dir) =>
      graft.perf.Performance.drawdowns(dampedMelt(s, dir))),

    // vol targeting: trailing 21-day realized vol and the lagged
    // tradeable exposure scale toward 10% annualized
    "perf_voltarget" -> ((s, dir) =>
      graft.perf.Performance.volTargetScale(
        dampedMelt(s, dir), targetVol = 0.10, window = 21)),

    // purged k-fold CV assignment table over the panel's trading dates
    // (López de Prado embargo: 3 trading days each side of the block)
    "ml8_purged_cv" -> ((s, dir) =>
      graft.ml.Validation.purgedFolds(
        supplierPanel(s, dir), nFolds = 5, embargoDays = 3)
        .select(col("fold").cast("long").as("fold"), col("date"), col("role"))),

    // expanding walk-forward splits with a pre-test embargo strip
    "ml9_walk_forward" -> ((s, dir) =>
      graft.ml.Validation.walkForward(
        supplierPanel(s, dir), nSplits = 4, embargoDays = 3)
        .select(col("split").cast("long").as("split"), col("date"), col("role"))),

    // ---- D17: trade-side position limits clamp target quantities ----
    "d17_trade_limits" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val panel = supplierPanel(s, dir)
        .withColumn("signal", when(col("close") < 30000, 1).otherwise(-1))
        .withColumn("weight", Weights.equalWeights(col("signal")))
      val master = t(s, dir, "supplier").select(
        col("s_suppkey").as("sid"), lit("USD").as("currency"),
        lit("STK").as("secType"),
        lit(1.0).as("priceMagnifier"), lit(1.0).as("multiplier"))
      val allocations = s.createDataFrame(Seq(("U1", 1.0)))
        .toDF("account", "allocation")
      val balances = s.createDataFrame(Seq(("U1", "USD", 1000000.0)))
        .toDF("account", "currency", "netLiquidation")
      val rates = s.createDataFrame(Seq(("USD", "USD", 1.0)))
        .toDF("baseCurrency", "quoteCurrency", "rate")
      val lastDay = panel.agg(max(col("date"))).head.getDate(0).toString
      val today = Trade.todayWeights(panel, lastDay)
      val targets = Trade.targetQuantities(today, master, allocations, balances, rates)
      // per-sid limit panel, constant over dates, applied long AND short
      val limits = panel.select(col("sid"), col("date"),
        (lit(100) + (col("sid") % 7) * 50).cast("double").as("max_quantity"))
      val constrained = graft.pipeline.Limits.constrainQuantities(
        targets, Some(limits), Some(limits), lastDay)
      Trade.orderStubs(
        constrained.withColumnRenamed("target_quantity", "net_quantity"), "d17")
    }),

    // ---- S8: save_to_results custom fields in the results melt ----
    "s8_custom_fields" -> ((s, dir) => {
      object CustomFieldsStrategy extends Strategy {
        val code = "custom-fields"
        override def keys: Keys = liKeys
        def pricesToSignals(prices: DataFrame): DataFrame =
          prices.withColumn("signal", (col("close") < 30000).cast("int"))
        override def customFields: Seq[(String, org.apache.spark.sql.Column)] = Seq(
          "DollarVolume" -> (col("close") * col("n_trades")),
          "PrevClose" -> Panel.lagBySid(col("close"))(liKeys))
      }
      // 25-supplier slice — checks the custom-fields melt, not pipeline
      // throughput (that's backtest_pipeline's job)
      val panel = t(s, dir, "lineitem")
        .where(col("l_suppkey") <= 25)
        .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
        .agg(max(col("l_extendedprice")).as("close"),
          count(lit(1)).as("n_trades"))
      Backtest.run(CustomFieldsStrategy, panel)
    }),

    // ---- continuous-intraday pipeline at (day, hour) grain ----
    "intraday_pipeline" -> ((s, dir) => {
      object EventIntraday extends Strategy {
        val code = "ev-intraday"
        override def keys: Keys =
          Keys(sid = "sid", order = Seq("date", "time"), dateCol = "date")
        def pricesToSignals(prices: DataFrame): DataFrame =
          prices.withColumn("signal",
            when(col("close") <= 5000, 1).otherwise(-1))
      }
      // hourly "bars" per user: close = max value-cents in the hour
      val panel = events(s, dir)
        .groupBy(col("user_id").as("sid"), col("day").as("date"),
          date_format(col("ts"), "HH").as("time"))
        .agg(max(cents(col("value"))).cast("double").as("close"))
      Backtest.run(EventIntraday, panel)
    }),

    // ---- signal eval: per-date Spearman IC of price level vs 1-day
    // forward return (exact decimal rank sums; one double division/date)
    "ic1_spearman" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val withFwd = graft.perf.Signals.withForwardReturn(
        supplierPanel(s, dir), horizon = 1)
      graft.perf.Signals.infoCoefficient(
        withFwd, col("close"), col("fwd_return"))
    }),

    // ---- signal eval: quintile-portfolio mean forward returns per date
    // (ntile with sid tiebreak; exact pico mean per bucket)
    "ic2_quantile_returns" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val withFwd = graft.perf.Signals.withForwardReturn(
        supplierPanel(s, dir), horizon = 1)
      graft.perf.Signals.quantileReturns(
        withFwd, col("close"), col("fwd_return"), q = 5, tiebreak = col("sid"))
    }),

    // ---- M2: gradient-boosted trees via ModelPredictor.load("gbt") —
    // additive raw scores (base + lr·Σ leaves); all constants dyadic so
    // the JVM sums and the oracle's literal CASE agree bit-for-bit ----
    "ml10_gbt" -> ((s, dir) => {
      val json =
        """{"modelType":"gbt","learningRate":0.5,"baseScore":0.25,"trees":[[
          |{"feature":0,"threshold":0.5,"left":1,"right":2},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[0.5]},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[-0.75]}],[
          |{"feature":1,"threshold":0.5,"left":1,"right":2},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[0.25]},
          |{"feature":-1,"threshold":0.0,"left":-1,"right":-1,"value":[0.875]}]]}"""
          .stripMargin.replace("\n", "")
      val tmp = java.nio.file.Files.createTempFile("graft_model", ".json")
      java.nio.file.Files.writeString(tmp, json)
      val predictor = graft.ml.ModelPredictor.load(s, tmp.toString)
      val withF = supplierPanel(s, dir)
        .withColumn("f1", (col("close") < 30000).cast("double"))
        .withColumn("f2", (col("close") < 15000).cast("double"))
      val assembled = graft.ml.Features.assemble(withF, Seq("f1", "f2"))
      predictor.predict(assembled)
        .select(col("sid"), col("date"), col("prediction"),
          (col("prediction") < 0.5).cast("int").as("signal"))
    }),

    // ---- active-return summary vs the benchmark: annualized active
    // return, tracking error, information ratio (one joint per-date pass)
    "perf_active" -> ((s, dir) =>
      graft.perf.Performance.activeStats(benchmarkedMelt(s, dir))),

    // ---- up/down capture vs the benchmark: ratios of exact pico sums
    "perf_capture" -> ((s, dir) =>
      graft.perf.Performance.captureRatios(benchmarkedMelt(s, dir))),

    // ---- Omega ratio at τ=0: gain/loss mass as exact pico sums,
    // one final division
    "perf_omega" -> ((s, dir) =>
      graft.perf.Performance.omegaRatio(dampedMelt(s, dir))),

    // ---- Ulcer index + Martin ratio: RMS of the 6dp-rounded drawdown
    // series (micro-quantized exact mean of squares)
    "perf_ulcer" -> ((s, dir) =>
      graft.perf.Performance.ulcerIndex(dampedMelt(s, dir))),

    // ---- longest win/loss streaks: island detection on the return
    // sign — all-integer output, no float path
    "perf_streaks" -> ((s, dir) =>
      graft.perf.Performance.streaks(dampedMelt(s, dir))),

    // ---- skewness / excess kurtosis via the explicit raw-moment
    // algebra (the only formulation both engines mirror exactly)
    "perf_moments" -> ((s, dir) =>
      graft.perf.Performance.momentStats(dampedMelt(s, dir))),

    // ---- D29: participation-rate cap — stubs clamped at 5% of the
    // sid's average daily volume (missing ADV → untradeable)
    "d29_adv_cap" -> ((s, dir) => {
      val stubs = t(s, dir, "supplier")
        .where(col("s_acctbal") > 0)
        .select(col("s_suppkey").cast("string").as("sid"), lit("U1").as("account"),
          when(col("s_suppkey") % 2 === 0, "BUY").otherwise("SELL").as("action"),
          lit("demo").as("orderRef"),
          round(col("s_acctbal")).cast("long").as("totalQuantity"))
      val adv = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").cast("string").as("sid"))
        .agg((sum(col("l_quantity").cast("long")).cast("double") /
          count(lit(1))).as("adv"))
      Trade.capByParticipation(stubs, adv, rate = 0.05)
    }),

    // ---- EV8: view→purchase conversion-lag percentiles
    "ev8_conversion_lag" -> ((s, dir) =>
      graft.events.Events.conversionLag(events(s, dir), "view", "purchase")),

    // ---- DAU + trailing-28-day active users via the interval sweep
    // (no count-distinct windows — each user emits ≤ 1 row per day)
    "ev9_active_users" -> ((s, dir) =>
      graft.events.Events.activeUsers(events(s, dir), window = 28)),

    // ---- A/B conversion test: deterministic md5 arm assignment,
    // exact counts, pooled two-proportion z
    "ev10_ab_test" -> ((s, dir) =>
      graft.events.Events.abTest(events(s, dir), "purchase")),

    // ---- Kaplan-Meier user-lifetime survival with right censoring
    "ev11_kaplan_meier" -> ((s, dir) =>
      graft.events.Events.kaplanMeier(events(s, dir), censorDays = 1)),

    // ---- EV15: inter-event burstiness (periodic −1 … Poisson 0 …
    // bursty +1) — bot/organic discrimination
    "ev15_burstiness" -> ((s, dir) =>
      graft.events.Events.burstiness(events(s, dir))),

    // ---- EV21: within-session event-type co-occurrence lift
    "ev21_cooccurrence" -> ((s, dir) =>
      graft.events.Events.sessionCooccurrence(events(s, dir))),

    // ---- EV22: SLA-bounded funnel — purchase within 1h of first view
    "ev22_windowed_conversion" -> ((s, dir) =>
      graft.events.Events.windowedConversion(events(s, dir),
        "view", "purchase", windowSeconds = 3600)),

    // ---- W26: per-sid skew/kurtosis crash-risk screen
    "w26_sid_moments" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      Panel.sidMoments(supplierPanel(s, dir))
    }),

    // ---- EV19: weekday × hour activity heatmap (ISO dow)
    "ev19_hourly_profile" -> ((s, dir) =>
      graft.events.Events.hourlyProfile(events(s, dir))),

    // ---- EV18: new-vs-returning DAU decomposition
    "ev18_new_returning" -> ((s, dir) =>
      graft.events.Events.newVsReturning(events(s, dir))),

    // ---- W25: per-sid rolling beta vs the sid-1 benchmark series
    // (broadcast date join + pure windows; feeds d30 betaHedge)
    "w25_rolling_beta" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = supplierPanel(s, dir)
        .withColumn("ret", col("close") / lag(col("close"), 1).over(k.bySid) - 1)
      val bench = p.where(col("sid") === 1)
        .select(col("date"), col("ret").as("bret"))
      Panel.withRollingBeta(
        p.join(broadcast(bench), Seq("date"), "left"),
        col("ret"), col("bret"), window = 20)
        .select(col("sid"), col("date"), col("beta_20"))
    }),

    // ---- W24: longest underwater spell per sid (duration complement
    // of w21's drawdown magnitude)
    "w24_underwater" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      Panel.sidUnderwaterDuration(supplierPanel(s, dir))
    }),

    // ---- EV16: activity-concentration Gini per event type — Lorenz
    // mass telescoped over the count histogram, no per-user ranking
    "ev16_gini" -> ((s, dir) =>
      graft.events.Events.activityGini(events(s, dir))),

    // ---- EV17: RFM quintile segmentation with exact value-tied bins
    // from integer histograms (no unpartitioned ntile over users)
    "ev17_rfm" -> ((s, dir) =>
      graft.events.Events.rfmSegments(events(s, dir))),

    // ---- EV38: the autoCoarsen POLICY oracle-pinned — maxBins forced
    // below the paying-user cardinality so the powers-of-10 probe must
    // fire; the oracle replicates the candidate scan (min q in
    // {1,10,…,10⁸} whose quantized distinct count fits — distinct
    // counts are monotone nonincreasing in q, so min-fitting = the
    // engine's finest-fitting) including Spark's pmod semantics for
    // negative sums ----
    "ev38_rfm_autocoarsen" -> ((s, dir) =>
      graft.events.Events.rfmSegments(events(s, dir), maxBins = 100L,
        autoCoarsen = true)),

    // ---- J14: nearest-direction as-of — each view takes the CLOSEST
    // purchase in time within 1 hour, both directions, backward on
    // ties; one window pass, no range join ----
    "j14_asof_nearest" -> ((s, dir) => {
      val ev = events(s, dir)
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.panel.Intervals.asofJoinNearest(
        views, purchases, Seq("user_id"),
        toleranceMicros = 3600L * 1000000L)
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("value"), col("asof_age_us"),
          col("asof_dir"))
    }),

    // ---- J10: generic as-of join with staleness tolerance — each view
    // picks up the user's latest purchase value within 1 hour
    "j10_asof_tolerance" -> ((s, dir) => {
      val ev = events(s, dir)
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.panel.Intervals.asofJoin(
        views, purchases, Seq("user_id"),
        toleranceMicros = 3600L * 1000000L)
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("value"), col("asof_age_us"))
    }),

    // ---- Poisson-bootstrap CI for the mean IC: 200 deterministic
    // hash-weighted resamples of the ic1 series
    "ic5_bootstrap" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val ics = graft.perf.Signals.infoCoefficient(
        graft.perf.Signals.withForwardReturn(supplierPanel(s, dir), 1),
        col("close"), col("fwd_return"))
      graft.perf.Signals.icBootstrap(ics)
    }),

    // ---- IC decay curve: mean Spearman IC at 1/5/21-day horizons —
    // how fast the close-level signal's information dies
    // ---- IC7: factor rank autocorrelation — per-date Spearman of the
    // signal vs its own previous value per sid (rank stability =
    // 1 − turnover: a factor that reshuffles daily is untradeable
    // after costs however strong its IC); same exact-decimal rank
    // machinery as ic1, the lag is the only extra window ----
    "ic7_rank_autocorr" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = supplierPanel(s, dir)
        .withColumn("prev_close", lag(col("close"), 1).over(k.bySid))
      graft.perf.Signals.infoCoefficient(p, col("close"), col("prev_close"))
        .withColumnRenamed("ic", "rank_autocorr")
    }),

    "ic4_decay" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      graft.perf.Signals.icDecay(
        supplierPanel(s, dir), col("close"), horizons = Seq(1, 5, 21))
    }),

    // ---- day-of-week seasonality of the portfolio return series
    // (ISO weekday numbering; integer-quotient rounding)
    "perf_seasonality" -> ((s, dir) =>
      graft.perf.Performance.seasonality(dampedMelt(s, dir))),

    // ---- per-sid variance attribution: covariance share of portfolio
    // risk + correlation to the book (raw-moment algebra)
    "perf_riskcontrib" -> ((s, dir) =>
      graft.perf.Performance.riskContributions(dampedMelt(s, dir))),

    // ---- lead-lag cross-correlation vs the benchmark at ±3 lags
    "perf_ccf" -> ((s, dir) =>
      graft.perf.Performance.crossCorrelation(benchmarkedMelt(s, dir))),

    // ---- financing costs: margin interest on gross leverage above 1
    // (micro-exact per-date gross, calendar-gap day weighting)
    "perf_financing" -> ((s, dir) =>
      graft.perf.Performance.financingCosts(dampedMelt(s, dir), rate = 0.06)),

    // ---- W20: Lo-MacKinlay variance ratio at q=5 per sid
    // (momentum > 1, mean reversion < 1)
    "w20_variance_ratio" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      Panel.varianceRatio(supplierPanel(s, dir), q = 5)
    }),

    // ---- W21: per-sid max drawdown (universe screen)
    "w21_sid_drawdown" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      Panel.sidMaxDrawdown(supplierPanel(s, dir))
    }),

    // ---- D30: benchmark-hedge overlay — per-date −Σ w·β on a hedge
    // sid, betas = the 6dp risk-contribution shares (beta-to-portfolio)
    "d30_beta_hedge" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val weights = supplierPanel(s, dir)
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
      val betas = graft.perf.Performance.riskContributions(dampedMelt(s, dir))
        .select(col("sid"), col("risk_share").as("beta"))
      Weights.betaHedge(weights, betas, hedgeSid = "BENCH")
    }),

    // ---- IC time-series summary: mean IC, ICIR, t-stat, hit rate over
    // the ic1 per-date Spearman series (exact micro re-quantization)
    // ---- IC6: Newey-West robust t for the IC mean (overlapping
    // forward returns serially correlate the series)
    "ic6_newey_west" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val withFwd = graft.perf.Signals.withForwardReturn(
        supplierPanel(s, dir), horizon = 1)
      graft.perf.Signals.icNeweyWest(
        graft.perf.Signals.infoCoefficient(
          withFwd, col("close"), col("fwd_return")))
    }),

    "ic3_ic_summary" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val withFwd = graft.perf.Signals.withForwardReturn(
        supplierPanel(s, dir), horizon = 1)
      graft.perf.Signals.icSummary(
        graft.perf.Signals.infoCoefficient(
          withFwd, col("close"), col("fwd_return")))
    }),

    // ---- Fama-MacBeth pass 1: per-date cross-sectional OLS of the
    // 1-day forward return on (1-day momentum, scaled price level) —
    // exact micro moment sums + a Cramer solve on the bounded frame
    "fm1_fama_macbeth" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val panel = supplierPanel(s, dir)
        .withColumn("mom", col("close") / lag(col("close"), 1).over(k.bySid) - 1)
        .withColumn("lvl", col("close") / 10000.0)
      val withFwd = graft.perf.Signals.withForwardReturn(panel, horizon = 1)
      graft.perf.FactorModel.crossSectionalRegression(
        withFwd, col("fwd_return"), col("mom"), col("lvl"))
    }),

    // ---- PX9: two-factor cross-sectional residualization — each row's
    // forward return neutralized against its date's (mom, lvl) fit
    "px9_residual2" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val panel = supplierPanel(s, dir)
        .withColumn("mom", col("close") / lag(col("close"), 1).over(k.bySid) - 1)
        .withColumn("lvl", col("close") / 10000.0)
      val withFwd = graft.perf.Signals.withForwardReturn(panel, horizon = 1)
      graft.perf.FactorModel.withCrossSectionalResiduals(
        withFwd, col("fwd_return"), col("mom"), col("lvl"))
        .select(col("sid"), col("date"), col("resid2"))
    }),

    // ---- W11: per-sid lag-1 autocorrelation of daily returns (exact
    // micro moment sums; the mean-reversion diagnostic)
    "w11_autocorr" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val rets = supplierPanel(s, dir)
        .withColumn("ret", col("close") / lag(col("close"), 1).over(k.bySid) - 1)
      Panel.autocorrelation(rets, col("ret"), lagK = 1)
    }),

    // ---- J8: point-in-interval range join via bin bucketization (the
    // equi-join rewrite of a BETWEEN theta-join) — events within the
    // first hour of each (user, day)
    "j8_interval_join" -> ((s, dir) => {
      val e = events(s, dir)
      val iv = e.groupBy(col("user_id"), col("day"))
        .agg(min(col("ts")).as("start_ts"))
        .withColumn("end_ts", col("start_ts") + expr("INTERVAL 1 HOUR"))
      graft.panel.Intervals.pointInInterval(e, iv, Seq("user_id", "day"))
        .select(col("user_id"), col("day"), col("event_id"))
    }),

    // ---- D27: inverse-volatility allocation over the rounded trailing
    // 21-bar vol (exact micro-quantized per-date normalizer)
    "d27_inverse_vol" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = supplierPanel(s, dir)
        .withColumn("ret", col("close") / lag(col("close"), 1).over(k.bySid) - 1)
        .withColumn("vol",
          when(count(col("ret")).over(k.rollingFrame(21)) === 21,
            round(stddev_samp(col("ret")).over(k.rollingFrame(21)), 6)))
        .withColumn("signal", when(col("close") < 30000, 1.0).otherwise(-1.0))
      p.select(col("sid"), col("date"),
        Weights.inverseVolWeights(col("signal"), col("vol")).as("weight"))
    }),

    // ---- W12: OHLCV interval resampling — monthly bars via order-free
    // min_by/max_by partial aggs (no window, no sort)
    "w12_ohlcv" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
        .agg(max(col("l_extendedprice")).as("close"),
          sum(col("l_quantity").cast("long")).cast("double").as("volume"))
      Panel.resampleOhlcv(p,
        to_date(date_trunc("month", col("date"))), col("close"), col("volume"))
    }),

    // ---- W14: Average True Range over daily high/low/close bars
    "w14_atr" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val bars = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
        .agg(max(col("l_extendedprice")).as("high"),
          min(col("l_extendedprice")).as("low"),
          max(col("l_extendedprice")).as("close"))
      graft.panel.Indicators.atr(bars, window = 14)
        .select("sid", "date", "tr", "atr_14")
    }),

    // ---- W15: RSI (Cutler's SMA form) — exact integer gain/loss sums
    "w15_rsi" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      graft.panel.Indicators.rsi(supplierPanel(s, dir), window = 14)
        .select("sid", "date", "rsi_14")
    }),

    // ---- W23: Kaufman Efficiency Ratio — signal/noise trendiness over
    // a 10-bar window (exact micro path/net sums)
    "w23_efficiency" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      graft.panel.Indicators.efficiencyRatio(supplierPanel(s, dir), window = 10)
        .select("sid", "date", "ker_10")
    }),

    // ---- W16: stochastic %K over daily bars (order-free rolling
    // extremes, one division per row)
    "w16_stochastic" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val bars = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
        .agg(max(col("l_extendedprice")).as("high"),
          min(col("l_extendedprice")).as("low"),
          max(col("l_extendedprice")).as("close"))
      graft.panel.Indicators.stochasticK(bars, window = 14)
        .select("sid", "date", "stoch_k_14")
    }),

    // ---- W17: on-balance volume — exact signed long cumsum
    "w17_obv" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val bars = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
        .agg(max(col("l_extendedprice")).as("close"),
          sum(col("l_quantity").cast("long")).as("volume"))
      graft.panel.Indicators.obv(bars)
        .select("sid", "date", "obv")
    }),

    // ---- W18: Bollinger bands — exact-micro SMA mid, bands from the
    // 6dp-rounded rolling stddev
    "w18_bollinger" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      graft.panel.Indicators.bollinger(supplierPanel(s, dir), window = 20)
        .select("sid", "date", "bb_mid_20", "bb_up_20", "bb_dn_20")
    }),

    // ---- W19: rolling VWAP — micro-exact notional over exact long
    // volume, one division per bar
    "w19_vwap" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val bars = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
        .agg(max(col("l_extendedprice")).as("close"),
          sum(col("l_quantity").cast("long")).as("volume"))
      graft.panel.Indicators.vwap(bars, window = 10)
        .select("sid", "date", "vwap_10")
    }),

    // ---- portfolio concentration: per-date HHI + effective position
    // count over the melt's AbsWeight rows
    "perf_hhi" -> ((s, dir) =>
      graft.perf.Performance.concentration(dampedMelt(s, dir))),

    // ---- ML15: expected calibration error over the ml5 bins
    "ml15_ece" -> ((s, dir) =>
      graft.ml.Evaluation.expectedCalibrationError(scoredPanel(s, dir))),

    // ---- ML22: Murphy decomposition of the Brier score — calibration
    // (reliability), skill (resolution), and the base-rate floor
    "ml22_brier" -> ((s, dir) =>
      graft.ml.Evaluation.brierDecomposition(scoredPanel(s, dir))),

    // ---- ML23: AUC ± DeLong 95% CI — exact half-count placement
    // algebra over the score histogram
    "ml23_auc_delong" -> ((s, dir) =>
      graft.ml.Evaluation.aucDelong(scoredPanel(s, dir))),

    // ---- ML28: per-segment AUC — the fairness/robustness slice
    "ml28_auc_segments" -> ((s, dir) => {
      val seg = supplierPanel(s, dir).select(
        pmod(col("sid"), lit(3)).cast("long").as("segment"),
        least(lit(1.0), round(col("close") / 60000.0, 1)).as("prediction"),
        (col("close") >= 22000).cast("long").as("label"))
      graft.ml.Evaluation.aucBySegment(seg, "segment")
    }),

    // ---- ML16: Cohen's kappa — the 0.5-thresholded score as a second
    // rater against the label (chance-corrected agreement, exact ints)
    "ml16_kappa" -> ((s, dir) =>
      graft.ml.Evaluation.cohenKappa(
        scoredPanel(s, dir)
          .withColumn("label2", (col("prediction") >= 0.5).cast("long")))),

    // ---- W13: range-based volatility (Parkinson / Garman-Klass) over
    // the monthly OHLC bars
    "w13_range_vol" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
        .agg(max(col("l_extendedprice")).as("close"),
          sum(col("l_quantity").cast("long")).cast("double").as("volume"))
      val bars = Panel.resampleOhlcv(p,
        to_date(date_trunc("month", col("date"))), col("close"), col("volume"))
      Panel.rangeVolatility(bars)
        .select("sid", "bucket", "parkinson", "garman_klass")
    }),

    // ---- corporate-action back-adjustment: split/dividend factors
    // applied to all EARLIER bars via one reverse-scan window (no joins)
    "adj1_back_adjust" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val sup = t(s, dir, "supplier")
      val actions = sup.where(col("s_suppkey") % 7 === 0)
        .select(col("s_suppkey").as("sid"),
          to_date(lit("1995-06-15")).as("date"), lit(0.5).as("factor"))
        .unionByName(sup.where(col("s_suppkey") % 3 === 0)
          .select(col("s_suppkey").as("sid"),
            to_date(lit("1997-01-10")).as("date"), lit(2.0).as("factor")))
      graft.panel.Adjustments.backAdjust(supplierPanel(s, dir), actions)
    }),

    // ---- J9: interval-overlap join via the anchor-bin trick — first
    // click within 2h of the day's first event (3h click window)
    "j9_overlap_join" -> ((s, dir) => {
      val e = events(s, dir)
      val a = e.groupBy(col("user_id"), col("day"))
        .agg(min(col("ts")).as("start_ts"))
        .withColumn("end_ts", col("start_ts") + expr("INTERVAL 2 HOURS"))
      val b = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("day"))
        .agg(min(col("ts")).as("r_start_ts"))
        .withColumn("r_end_ts", col("r_start_ts") + expr("INTERVAL 3 HOURS"))
      graft.panel.Intervals.intervalOverlap(a, b, Seq("user_id", "day"))
        .select("user_id", "day", "start_ts", "r_start_ts")
    }),

    // ---- ML12: standard scaler fit + transform (exact micro moments,
    // broadcast stats row)
    "ml12_scaler" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = supplierPanel(s, dir)
        .withColumn("ret", col("close") / lag(col("close"), 1).over(k.bySid) - 1)
      val stats = graft.ml.Features.scalerFit(p, Seq("close", "ret"))
      graft.ml.Features.scalerTransform(p, stats, Seq("close", "ret"))
        .select("sid", "date", "close_z", "ret_z")
    }),

    // ---- D26: volume-share (price-impact) slippage — the published
    // Zipline model over a volume-bearing panel
    "d26_volume_slippage" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val p = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
        .agg(max(col("l_extendedprice")).as("close"),
          sum(col("l_quantity").cast("long")).cast("double").as("volume"))
        .withColumn("signal", (col("close") < 30000).cast("int"))
        .withColumn("weight", Weights.equalWeights(col("signal")))
        .withColumn("position", Panel.lagBySid(col("weight")))
        .withColumn("turnover", abs(Panel.diffBySid(Panel.zeroFill(col("position")))))
      p.select(col("sid"), col("date"),
        graft.costs.VolumeShareSlippage(nlv = 1000000.0)
          .slippage(col("turnover"), col("position")).as("slippage"))
    }),

    // ---- ML18: quantile (pinball) loss at τ = 10/50/90 for the
    // quantized score as a forecast of the continuous ratio
    "ml18_pinball" -> ((s, dir) =>
      graft.ml.Evaluation.quantileLoss(supplierPanel(s, dir).select(
        least(lit(1.0), round(col("close") / 60000.0, 1)).as("prediction"),
        (col("close") / 60000.0).as("label")))),

    // ---- D31: square-root market-impact estimate per stub —
    // coef·σ·√(Q/ADV) in bps, null when ADV or σ is unknown
    "d31_sqrt_impact" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val stubs = t(s, dir, "supplier").where(col("s_acctbal") > 0)
        .select(col("s_suppkey").cast("string").as("sid"),
          round(col("s_acctbal")).cast("long").as("totalQuantity"))
      val adv = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").cast("string").as("sid"))
        .agg((sum(col("l_quantity").cast("long")).cast("double") /
          count(lit(1))).as("adv"))
      val sig = supplierPanel(s, dir)
        .withColumn("r",
          col("close") / lag(col("close"), 1).over(k.bySid) - 1)
        .groupBy(col("sid").cast("string").as("sid"))
        .agg(round(stddev_samp(col("r")), 6).as("sigma"))
      stubs
        .join(adv, Seq("sid"), "left")
        .join(sig, Seq("sid"), "left")
        .select(col("sid"), col("totalQuantity"),
          round(col("adv"), 6).as("adv"), col("sigma"),
          graft.costs.SqrtImpact.impactBps(
            col("totalQuantity"), col("adv"), col("sigma"))
            .as("impact_bps"))
    }),

    // ---- Fama-MacBeth pass 2: mean risk premia + t-stats over the
    // per-date coefficient series
    "fm2_risk_premia" -> ((s, dir) => {
      implicit val k: Keys = liKeys
      val panel = supplierPanel(s, dir)
        .withColumn("mom", col("close") / lag(col("close"), 1).over(k.bySid) - 1)
        .withColumn("lvl", col("close") / 10000.0)
      val withFwd = graft.perf.Signals.withForwardReturn(panel, horizon = 1)
      graft.perf.FactorModel.riskPremia(
        graft.perf.FactorModel.crossSectionalRegression(
          withFwd, col("fwd_return"), col("mom"), col("lvl")))
    }),

    // ---- salted skew join: same rows as the plain equi-join, hot keys
    // spread over 8 reducers (panel.Skew — previously spec-only)
    "j11_salted_join" -> ((s, dir) => {
      val fact = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"),
          cents(col("l_extendedprice")).as("price_cents"))
      val dim = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      graft.panel.Skew.saltedJoin(fact, dim, "s_suppkey", salts = 8)
        .groupBy("s_nationkey")
        .agg(sum(col("price_cents")).as("rev_cents"), count(lit(1)).as("n"))
    }),

    // ---- CDC latest-wins compaction: upsert/delete log → snapshot ----
    // ---- W31: event-time RANGE frame — 1-hour rolling sum/count per
    // user over the actual timestamps (not row counts): range frames
    // include ALL order-value peers, so ties need no tiebreaker and
    // the result is deterministic by construction
    "w31_time_range_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L) // [ts − 1h, ts] inclusive, micros
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          cents(col("value")).as("v"))
        .select(col("event_id"), col("user_id"),
          sum(col("v")).over(w).as("hour_sum_cents"),
          count(lit(1)).over(w).as("hour_n"))
    }),

    // ---- Q5: the classic local-supplier-volume join chain (TPC-H Q5
    // shape): lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈
    // region, revenue only where customer and supplier share a nation.
    // Dimensions broadcast; the fact table shuffles once per big join
    // key — the canonical star-join plan Catalyst should produce.
    "q5_nation_revenue" -> ((s, dir) => {
      val rev = round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 100).cast("long")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(rev).as("revenue_cents"), count(lit(1)).as("n_items"))
    }),

    // ---- FZ1: blocked fuzzy match over the NAME DICTIONARY (distinct
    // strings, not rows — the linkage-economics shape): first-token
    // blocking, native codegen Jaro–Winkler, dd6-style block guard.
    // The dirty side deterministically drops the last character of
    // odd-length names; the oracle scores the same blocked pairs with
    // DuckDB's own jaro_winkler_similarity — a cross-IMPLEMENTATION
    // check of the scorer, not a replicated formula.
    "fz1_fuzzy_match" -> ((s, dir) => {
      val names = t(s, dir, "part").select(col("p_name")).distinct()
      val dirty = names.select(
        when(length(col("p_name")) % 2 === 1,
          col("p_name").substr(lit(1), length(col("p_name")) - 1))
          .otherwise(col("p_name")).as("dirty_name")).distinct()
      graft.text.Fuzzy.fuzzyJoin(
        names, dirty, leftId = "p_name", rightId = "dirty_name",
        leftName = "p_name", rightName = "dirty_name",
        blockKey = n => split(n, " ").getItem(0),
        minSim = 0.85, maxBlock = 1000)
        .select(col("l_id").as("clean_name"), col("r_id").as("dirty_name"),
          col("jw"))
    }),

    // ---- ER2: reciprocal best match over the fz1 candidate scores —
    // mutual-nearest-neighbor linkage (the high-precision ER decision
    // rule), deterministic (sim DESC, id ASC) tie-break ----
    "er2_reciprocal_best" -> ((s, dir) => {
      val names = t(s, dir, "part").select(col("p_name")).distinct()
      val dirty = names.select(
        when(length(col("p_name")) % 2 === 1,
          col("p_name").substr(lit(1), length(col("p_name")) - 1))
          .otherwise(col("p_name")).as("dirty_name")).distinct()
      val scores = graft.text.Fuzzy.fuzzyJoin(
        names, dirty, leftId = "p_name", rightId = "dirty_name",
        leftName = "p_name", rightName = "dirty_name",
        blockKey = n => split(n, " ").getItem(0),
        minSim = 0.85, maxBlock = 1000)
      graft.text.Fuzzy.reciprocalBestMatch(scores)
        .select(col("l_id").as("clean_name"), col("r_id").as("dirty_name"),
          col("jw"))
    }),

    // ---- A15: exact weighted median (lower) per group — first value
    // where twice the cumulative weight reaches the total; all-integer
    // rank arithmetic on one group exchange
    "a15_weighted_median" -> ((s, dir) => {
      val wOrd = Window.partitionBy("flag")
        .orderBy(col("v"), col("ok"), col("ln"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("flag")
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          cents(col("l_extendedprice")).as("v"),
          round(col("l_quantity")).cast("long").as("wt"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        .withColumn("cumw", sum(col("wt")).over(wOrd))
        .withColumn("totw", sum(col("wt")).over(wAll))
        .where(col("cumw") * 2 >= col("totw"))
        .groupBy(col("flag"))
        .agg(min(col("v")).as("wmedian_cents"),
          max(col("totw")).as("total_weight"))
    }),

    // ---- DQ2: keyed snapshot diff — full-outer key join + null-safe
    // column equality; per-status counts and a key checksum. The "new"
    // snapshot simulates deletes (÷29), updates (÷13, +$1), and
    // inserts (÷31, shifted keys) deterministically.
    "dq2_snapshot_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"),
          col("o_orderstatus"))
      val newSnap = orders
        .where(col("o_orderkey") % 29 =!= 0)
        .withColumn("price_cents",
          when(col("o_orderkey") % 13 === 0, col("price_cents") + 100L)
            .otherwise(col("price_cents")))
        .unionByName(orders.where(col("o_orderkey") % 31 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("price_cents"), col("o_orderstatus")))
      graft.sources.Quality
        .snapshotDiff(orders, newSnap, Seq("o_orderkey"),
          Seq("price_cents", "o_orderstatus"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("o_orderkey")).as("key_checksum"))
    }),

    // ---- ML29: multi-feature OLS by normal equations — ONE aggregate
    // pass builds every moment, the 3×3 Cramer solve + R² is scalar
    // algebra on the single result row (no driver solve, no second
    // scan). Integer units chosen so y² sums stay exact in BIGINT and
    // under 2^53 for the double cast.
    "ml29_ols_normal" -> ((s, dir) =>
      graft.ml.Ols.ols2(
        t(s, dir, "lineitem").select(
          round(col("l_extendedprice")).cast("long").as("y_dollars"),
          round(col("l_quantity")).cast("long").as("x_qty"),
          round(col("l_discount") * 100).cast("long").as("x_disc_pct")),
        yCol = "y_dollars", x1Col = "x_qty", x2Col = "x_disc_pct")),

    // ---- ML30: WOE / information-value scorecard screen — rank-
    // proportional deciles of extendedprice vs the return flag, via
    // the bounded distinct-cents histogram (no global ntile window)
    "ml30_woe_iv" -> ((s, dir) =>
      graft.ml.Woe.woeIv(
        t(s, dir, "lineitem").withColumn("is_return",
          col("l_returnflag") === "R"),
        badCol = "is_return", valueCol = "l_extendedprice",
        tieCols = Seq("l_orderkey", "l_linenumber"), bins = 10)),

    // ---- ML31: ridge on the same one-pass moments — λ is two integer
    // adds on the slope diagonal before the solve; r2 reports the
    // UNPENALIZED residual of the shrunk coefficients
    "ml31_ridge" -> ((s, dir) =>
      graft.ml.Ols.ridge2(
        t(s, dir, "lineitem").select(
          round(col("l_extendedprice")).cast("long").as("y_dollars"),
          round(col("l_quantity")).cast("long").as("x_qty"),
          round(col("l_discount") * 100).cast("long").as("x_disc_pct")),
        yCol = "y_dollars", x1Col = "x_qty", x2Col = "x_disc_pct",
        lambda = 10000000L)),

    // ---- ML42: permutation feature importance on the ml29 fit —
    // deterministic within-hash-bucket rotation breaks each feature's
    // pairing with y; ΔMSE per feature, refit-free, one window pass
    "ml42_perm_importance" -> ((s, dir) =>
      graft.ml.Ols.permutationImportance2(
        t(s, dir, "lineitem").select(
          round(col("l_extendedprice")).cast("long").as("y_dollars"),
          round(col("l_quantity")).cast("long").as("x_qty"),
          round(col("l_discount") * 100).cast("long").as("x_disc_pct"),
          col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        yCol = "y_dollars", x1Col = "x_qty", x2Col = "x_disc_pct",
        // the synthetic lineitem does NOT keep TPC-H's (orderkey,
        // linenumber) primary key — all four id columns are needed for
        // uniqueness (the in-operator tie tripwire raises otherwise)
        idCols = Seq("l_orderkey", "l_linenumber",
          "l_partkey", "l_suppkey"))),

    // ---- ML43: exact linear-SHAP global importance — φⱼ = bⱼ(xⱼ−x̄ⱼ)
    // is closed form for the ml29 fit, so mean|φⱼ| needs one moments
    // pass + one absolute-deviation pass, no sampling or coalitions
    "ml43_linear_shap" -> ((s, dir) =>
      graft.ml.Ols.linearShap2(
        t(s, dir, "lineitem").select(
          round(col("l_extendedprice")).cast("long").as("y_dollars"),
          round(col("l_quantity")).cast("long").as("x_qty"),
          round(col("l_discount") * 100).cast("long").as("x_disc_pct")),
        yCol = "y_dollars", x1Col = "x_qty", x2Col = "x_disc_pct")),

    // ---- ML32: the ridge regularization path in ONE data pass —
    // moments once, λ grid as a bounded literal explode on the single
    // moment row (grid search without rescanning the facts; λ=0 is
    // the embedded OLS anchor)
    "ml32_ridge_path" -> ((s, dir) =>
      graft.ml.Ols.ridgePath(
        t(s, dir, "lineitem").select(
          round(col("l_extendedprice")).cast("long").as("y_dollars"),
          round(col("l_quantity")).cast("long").as("x_qty"),
          round(col("l_discount") * 100).cast("long").as("x_disc_pct")),
        yCol = "y_dollars", x1Col = "x_qty", x2Col = "x_disc_pct",
        lambdas = Seq(0L, 10000000L, 100000000L))),

    // ---- SKY1: Pareto skyline over the supplier entity frame —
    // maximize revenue, minimize shipped units. Engine = level
    // prefix-min window algebra with lossless bucket pre-pruning
    // (identical output at any bucket count — SkylineSpec proves it);
    // oracle = independent NOT-EXISTS dominance anti-join.
    "sky1_pareto" -> ((s, dir) => {
      val pts = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sid"))
        .agg(sum(cents(col("l_extendedprice"))).as("revenue_cents"),
          sum(round(col("l_quantity")).cast("long")).as("qty_units"))
      graft.panel.Skyline.skyline2d(
        pts, idCol = "sid", maxCol = "revenue_cents", minCol = "qty_units",
        prePruneBuckets = 16)
    }),

    // ---- SK5: audience overlap by HLL inclusion-exclusion —
    // est(A∩B) = est(A) + est(B) − est(A∪B) from per-segment sketches
    // (the mergeable-sketch answer to "how much do these segments
    // share" WITHOUT re-scanning users), contract-checked against the
    // exact overlap with an absolute 5%-of-(|A|+|B|) bound (the
    // inclusion-exclusion error compounds three estimates)
    "sk5_hll_overlap" -> ((s, dir) => {
      val ev = events(s, dir)
      val sk = ev.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count_distinct(col("user_id")).as("n"))
        .checkpointed(eager = false) // both sides of the pair join
      val ut = ev.select(col("user_id").as("u"), col("event_type").as("t"))
        .distinct()
      val exact = ut.as("x")
        .join(ut.as("y"),
          col("x.u") === col("y.u") && col("x.t") < col("y.t"))
        .groupBy(col("x.t").as("type_a"), col("y.t").as("type_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      val est = hll_sketch_estimate(col("a.sk")) +
        hll_sketch_estimate(col("b.sk")) -
        hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk")))
      sk.as("a")
        .join(sk.as("b"), col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"),
          est.as("__est"), (col("a.n") + col("b.n")).as("__scale"))
        .join(exact, Seq("type_a", "type_b"), "left")
        .na.fill(0L, Seq("exact_overlap"))
        .select(col("type_a"), col("type_b"), col("exact_overlap"),
          (abs(col("__est") - col("exact_overlap")) <=
            col("__scale").cast("double") * 0.05).as("approx_ok"))
    }),

    // ---- SK7: KMV (k-minimum-values) distinct sketch — bottom-256
    // md5 hashes of the distinct orderkeys per return flag; the
    // estimate (k−1)/θ is DETERMINISTIC (the oracle replays the exact
    // bottom-k and the same division), so this sketch is hash-pinned,
    // not just bound-checked; the exact distinct count and 6dp
    // relative error ride along for the audit trail ----
    "sk7_kmv" -> ((s, dir) => {
      val k = 256
      val li = t(s, dir, "lineitem")
      val sk = graft.sketch.Kmv.sketch(
        li, "l_orderkey", Seq("l_returnflag"), k)
      val exact = li.groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_orderkey")).as("exact_orders"))
      graft.sketch.Kmv.estimate(sk, Seq("l_returnflag"), k)
        .join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_kept"), col("estimate"),
          col("exact_orders"),
          round(abs(col("estimate") - col("exact_orders"))
            / col("exact_orders"), 6).as("rel_err"))
    }),

    // ---- SK8: KMV pairwise overlap — est(A∩B) = ρ/k · est(A∪B) from
    // the two sketches alone, hash-pinned end to end (HLL can only
    // inclusion-exclude with compounding error; sk5 bound-checks that,
    // this replays exactly); exact overlap rides along for the audit ----
    "sk8_kmv_overlap" -> ((s, dir) => {
      val k = 256
      val li = t(s, dir, "lineitem")
      val sk = graft.sketch.Kmv.sketch(li, "l_orderkey", Seq("l_returnflag"), k)
      val ut = li.select(col("l_returnflag").as("f"), col("l_orderkey").as("o"))
        .distinct()
        .checkpointed(eager = false) // both sides of the pair join
      val exact = ut.as("x")
        .join(ut.as("y"), col("x.o") === col("y.o") && col("x.f") < col("y.f"))
        .groupBy(col("x.f").as("group_a"), col("y.f").as("group_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      graft.sketch.Kmv.overlapEstimates(sk, "l_returnflag", k)
        .join(exact, Seq("group_a", "group_b"), "left")
        .na.fill(0L, Seq("exact_overlap"))
    }),

    // ---- DQ12: l-diversity — the attribute-disclosure audit on the
    // dq6 quasi-identifier classes: sensitive value = account-balance
    // thousand-bucket; distinct-l and entropy-l per class ----
    "dq12_ldiversity" -> ((s, dir) =>
      graft.sources.Quality.lDiversity(
        t(s, dir, "customer")
          .withColumn("balance_band",
            floor(cents(col("c_acctbal")) / lit(100000L))),
        Seq("c_nationkey", "c_mktsegment"), "balance_band", l = 3L)),

    // ---- SK4: Count-Min sketch error contract — build the d×w grid
    // (per-key reduce → depth fan-out → one groupBy), estimate every
    // key back out of it, and report the one-sided-error contract in
    // ALL-INTEGER form ((est−exact)·width vs 2N — no ε division)
    // ---- SK6: Bloom filter membership — build on the order-placing
    // custkeys, probe EVERY customer. No false negatives by
    // construction (the oracle replays the exact md5 bit positions, so
    // even the false positives hash-match) ----
    "sk6_bloom" -> ((s, dir) => {
      val (k, m) = (4, 4096)
      val inserted = t(s, dir, "orders").select(col("o_custkey").as("custkey"))
      val bloom = graft.sketch.Bloom.build(inserted, "custkey", k, m)
      val probes = t(s, dir, "customer").select(col("c_custkey").as("custkey"))
      graft.sketch.Bloom.probe(probes, bloom, "custkey", k, m)
    }),

    // ---- AB4: Wald SPRT on the daily conversion stream — integer
    // LLR cumsum with driver-quantized log-ratio constants shared
    // verbatim with the oracle (no cross-engine transcendental) ----
    "ab4_sprt" -> ((s, dir) =>
      graft.events.Events.sprt(events(s, dir), p0 = 0.38, p1 = 0.46)),

    // ---- AB3: CUPED variance reduction — pre-period purchase cents
    // adjust the post-period metric; θ/ρ² from exact integer moments ----
    "ab3_cuped" -> ((s, dir) =>
      graft.events.Events.cuped(events(s, dir), splitDate = "2024-01-15")),

    "sk4_cms_contract" -> ((s, dir) => {
      val ev = events(s, dir)
      val (depth, width) = (4, 256)
      val sketch = graft.sketch.Cms.build(ev, "user_id", depth, width)
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
      val est = graft.sketch.Cms.estimate(exact, sketch, "user_id", depth, width)
      val n = ev.agg(count(lit(1)).as("__N"))
      exact.join(est, Seq("user_id"))
        .crossJoin(broadcast(n)) // one scalar row — bounded by design
        .agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("est") < col("exact"), 1L).otherwise(0L))
            .as("n_underestimates"),
          sum(when((col("est") - col("exact")) * width > lit(2L) * col("__N"),
            1L).otherwise(0L)).as("n_outside_bound"),
          max(col("est") - col("exact")).as("max_overestimate"))
    }),

    // ---- MV1: incremental view maintenance — base partials ⊕ signed
    // CDC partials, NEVER re-reading the base facts. The oracle
    // recomputes the view from scratch over the logically-equivalent
    // fact set, so the hash proves the retraction algebra itself.
    "mv1_incremental_view" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val split = lit("1998-01-01").cast("timestamp")
      val basePeriod = orders.where(col("o_orderdate") < split)
      val base = basePeriod
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("o_totalprice"))).as("sum_cents"))
      val inserts = orders.where(col("o_orderdate") >= split)
        .select(col("o_custkey"), lit(1L).as("n_rows"),
          cents(col("o_totalprice")).as("sum_cents"))
      val retractions = basePeriod.where(col("o_orderkey") % 17 === 0)
        .select(col("o_custkey"), lit(-1L).as("n_rows"),
          (-cents(col("o_totalprice"))).as("sum_cents"))
      graft.panel.Changelog.mergeAggView(
        base, inserts.unionByName(retractions), keys = Seq("o_custkey"))
        .select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_cents").as("revenue_cents"))
    }),

    // ---- CDC2: time travel — the warehouse "AS OF" read is just the
    // latest-wins compaction over the log RESTRICTED to ts ≤ T: no
    // snapshot storage, no extra operator, one filter pushed to the
    // scan. Same tombstone semantics as cdc1 at the cutoff.
    "cdc2_time_travel" -> ((s, dir) => {
      val ev = events(s, dir)
        .where(col("ts") <= lit("2024-01-15 00:00:00").cast("timestamp"))
      val log = ev.select(col("user_id"), col("ts"), col("event_id"),
        (col("event_type") === "error").as("is_delete"),
        cents(col("value")).as("val_cents"))
      graft.panel.Changelog
        .latestSnapshot(log, col("user_id"), Seq(col("ts"), col("event_id")),
          col("is_delete"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("val_cents").as("last_val_cents"))
    }),

    // ---- DQ3: freshness/completeness monitor — daily row counts vs
    // the TRAILING week, 2σ outlier flag computed ENTIRELY in integer
    // arithmetic ((n·x − S)² vs z²·(n·Q − S²): no sqrt, no floats, no
    // cross-engine drift); days with under 3 trailing observations
    // abstain (null flag) instead of guessing
    "dq3_freshness" -> ((s, dir) =>
      graft.sources.Quality.freshnessAnomalies(
        events(s, dir).groupBy(col("day"))
          .agg(count(lit(1)).as("n_rows")), // bounded: one row per day
        dayCol = "day", nCol = "n_rows")),

    "cdc1_snapshot" -> ((s, dir) => {
      val ev = events(s, dir)
      val log = ev.select(col("user_id"), col("ts"), col("event_id"),
        (col("event_type") === "error").as("is_delete"),
        cents(col("value")).as("val_cents"))
      graft.panel.Changelog
        .latestSnapshot(log, col("user_id"), Seq(col("ts"), col("event_id")),
          col("is_delete"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("val_cents").as("last_val_cents"))
    }),

    // ---- SCD Type-2 intervals from the event-type changelog ----
    "scd1_type2" -> ((s, dir) => {
      graft.panel.Changelog.scd2(
        events(s, dir).select("user_id", "ts", "event_id", "event_type"),
        entity = "user_id", ts = "ts", tie = "event_id", state = "event_type")
    }),

    // ---- J12: fact→SCD2 enrichment — each purchase joined to the
    // user's state version valid AT the purchase instant ([from, to)
    // semantics; dim = scd2 over the non-purchase changelog). The
    // interval join is the bucketized equi-join (1-day bins), never a
    // theta join; open intervals are capped at the analysis horizon so
    // the bin explosion stays bounded ----
    "j12_scd_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val dim = graft.panel.Changelog.scd2(
        ev.where(col("event_type") =!= "purchase")
          .select("user_id", "ts", "event_id", "event_type"),
        entity = "user_id", ts = "ts", tie = "event_id", state = "event_type")
        .withColumn("__end",
          coalesce(col("valid_to"), to_timestamp(lit("2024-12-31"))))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          cents(col("value")).as("purchase_cents"))
      graft.panel.Intervals.pointInInterval(
        facts, dim, keyCols = Seq("user_id"), tsCol = "ts",
        startCol = "valid_from", endCol = "__end", bucket = 86400000000L)
        .where(col("valid_to").isNull || col("ts") < col("valid_to"))
        .select(col("event_id"), col("user_id"), col("purchase_cents"),
          col("state"), col("version").cast("long").as("version"))
    }),

    // ---- SK3: the 100 TB path for ev24 — per-day HLL sketch partials,
    // rolling union via explode-to-served-days equi-join (a sketch
    // merge per window, never a per-window recount; no theta join).
    // The exact sweep rides along and the 5% error contract is the
    // hashed bool ----
    "sk3_hll_rolling" -> ((s, dir) => {
      val ev = events(s, dir)
      val exact = graft.events.Events.rollingActiveUsers(ev, windowDays = 7)
      val perDay = ev.select(to_date(col("ts")).as("d"), col("user_id"))
        .groupBy("d").agg(hll_sketch_agg(col("user_id")).as("sk"))
      val rolled = perDay
        .select(explode(sequence(col("d"), date_add(col("d"), 6))).as("day"),
          col("sk"))
        .groupBy("day")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      exact.join(rolled, Seq("day"), "left")
        .select(col("day"), col("active_users"),
          when(col("active_users") === 0, coalesce(col("est"), lit(0L)) === 0)
            .otherwise(abs(col("est") - col("active_users")).cast("double")
              / col("active_users") <= 0.05).as("approx_ok"))
    }),

    // ---- QN1: quantile normalization — each event type's value
    // distribution mapped onto the corpus-wide reference by exact
    // order-statistic ranks (bounded cents-histogram lookup, no global
    // row sort) ----
    "qn1_quantile_norm" -> ((s, dir) =>
      graft.sources.Quality.quantileNormalize(
        events(s, dir), groupCol = "event_type", valueCol = "value",
        idCol = "event_id")),

    // ---- CP1: small-file compaction plan — size-desc cumulative
    // packing into 400 KB bins over a simulated file listing ----
    "cp1_compaction_plan" -> ((s, dir) => {
      val files = t(s, dir, "lineitem")
        .groupBy((col("l_orderkey") % 500).as("file_id"))
        .agg((count(lit(1)) * 100).as("bytes"))
      graft.sources.Layout.compactionPlan(files, "file_id", "bytes",
        targetBytes = 400000L)
    }),

    // ---- TS1: Theil–Sen robust slope per sid (8-sid slice — the
    // O(n²)-per-group pair expansion is explicit, guarded, and both
    // engines replay the exact middle-order-statistic pick) ----
    "ts1_theilsen" -> ((s, dir) =>
      graft.sources.Quality.theilSen(
        supplierPanel(s, dir).where(col("sid") <= 8),
        groupCol = "sid",
        xCol = datediff(col("date"), lit("1992-01-01")),
        valueCol = "close")),

    // ---- TS2/TS3: classical seasonal decomposition (weekday period,
    // integer detrending, exact quantized re-centering) + naive-
    // forecast MAE/MASE/sMAPE baselines per sid ----
    "ts2_decompose" -> ((s, dir) =>
      graft.panel.Seasonal.decompose(supplierPanel(s, dir))),

    "ts3_forecast_eval" -> ((s, dir) =>
      graft.panel.Seasonal.forecastEval(supplierPanel(s, dir), lag = 7)),

    // ---- W32: AR(1) mean-reversion half-life per sid — decimal
    // moments, Cramer ρ, −ln2/lnρ as a final per-row transcendental ----
    "w32_mean_reversion" -> ((s, dir) =>
      graft.panel.Seasonal.meanReversionHalfLife(supplierPanel(s, dir))),

    // ---- TS5: Holt double-exponential smoothing over the daily event
    // counts — micro-quantized integer recursion (truncating ÷10), the
    // pca2 bounded-collect class; oracle replays it as a recursive CTE ----
    "ts5_holt" -> ((s, dir) =>
      graft.panel.Seasonal.holt(events(s, dir))),

    // ---- TS4: trend/seasonal strength over the ts2 components —
    // decimal(38,0) micro moments (the w26 discipline), null on
    // constant series ----
    "ts4_strength" -> ((s, dir) =>
      graft.panel.Seasonal.strength(supplierPanel(s, dir))),

    // ---- ML36: split-conformal interval for the seasonal-naive
    // forecaster — exact-integer order statistic off the error-cents
    // histogram, md5 calibration split, test-set coverage check ----
    "ml36_conformal" -> ((s, dir) =>
      graft.panel.Seasonal.conformalInterval(supplierPanel(s, dir))),

    // ---- ML35: off-policy evaluation — IPS/SNIPS of the uniform
    // hash policy against logged first-actions with empirical
    // propensities; all sums on the bounded action dimension ----
    "ml35_offpolicy" -> ((s, dir) =>
      graft.ml.OffPolicy.ipsSnips(events(s, dir))),

    // ---- CL6: K-fold smoothed target encoding of event_type against
    // value cents — out-of-fold sums only (leakage-safe), md5 folds,
    // dimension-bounded marginal joins ----
    "cl6_target_encoding" -> ((s, dir) =>
      graft.ml.Encoding.targetEncode(
        events(s, dir), "event_type", "value", "event_id")),

    // ---- A14: explicit GROUPING SETS (the lattice a9/a10 don't
    // cover: hand-picked subtotal combinations) ----
    "a14_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(grouping_id() AS BIGINT) AS gid,
          sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents,
          count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))""")
    }),

    // ---- ROLLUP with grouping_id (hierarchical subtotal lattice) ----
    "a9_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          sum(cents(col("l_extendedprice"))).as("rev_cents"),
          count(lit(1)).as("n"))
        .select("l_returnflag", "l_linestatus", "gid", "rev_cents", "n")
    }),

    // ---- CUBE over two order dimensions ----
    "a10_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(grouping_id().cast("long").as("gid"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          count(lit(1)).as("n"))
        .select("o_orderstatus", "o_orderpriority", "gid", "total_cents", "n")
    }),

    // ---- mergeable partial aggregates: per-(sid, month) partials merged
    // into per-sid stats WITHOUT rescanning rows — the incremental-rollup
    // algebra (count/sum/min/max/sumsq all merge exactly in integers; the
    // variance is derived only at the end, per-row IEEE so deterministic)
    "a11_merge_partials" -> ((s, dir) => {
      val price = cents(col("l_extendedprice"))
      val partials = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sid"),
          date_trunc("month", col("l_shipdate")).as("month"))
        .agg(count(lit(1)).as("n"), sum(price).as("sum_c"),
          min(price).as("min_c"), max(price).as("max_c"),
          sum(price * price).as("sumsq_c"))
      partials.groupBy("sid")
        .agg(sum(col("n")).as("n"), sum(col("sum_c")).as("sum_c"),
          min(col("min_c")).as("min_c"), max(col("max_c")).as("max_c"),
          sum(col("sumsq_c")).as("sumsq_c"))
        .select(col("sid"), col("n"), col("sum_c"), col("min_c"), col("max_c"),
          col("sumsq_c"),
          ((col("sumsq_c").cast("double")
            - col("sum_c").cast("double") * col("sum_c").cast("double") / col("n"))
            / (col("n") - 1)).as("var_c2"))
    }),

    // ---- linear interpolation of gaps in a per-sid series (prev/next
    // non-null carried by IGNORE NULLS running windows; weight = calendar
    // day distance). The null mask is engine-independent arithmetic so the
    // oracle reproduces it exactly.
    // ---- PORT3: per-sid Kelly fraction f* = μ/σ² from micro-quantized
    // daily returns — integer moments (n, Σr, Σr²) so the unordered
    // sums are exact; the ratio is one fixed IEEE expression; zero
    // variance → null (the house degenerate rule) ----
    "port3_kelly" -> ((s, dir) => {
      val w = Window.partitionBy("sid").orderBy("date")
      val prev = lag(cents(col("close")), 1).over(w)
      val retMicro = round((cents(col("close")).cast("double")
        / prev.cast("double") - 1.0) * 1e6).cast("long")
      supplierPanel(s, dir)
        .withColumn("__r", when(prev.isNotNull && prev =!= 0L, retMicro))
        .where(col("__r").isNotNull)
        .groupBy(col("sid"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("__r")).as("__s"),
          sum(col("__r") * col("__r")).as("__s2"))
        .withColumn("mean_ret",
          round(col("__s").cast("double") / col("n_days").cast("double")
            / 1e6, 6))
        .withColumn("__varq",
          col("n_days").cast("double") * col("__s2").cast("double")
            - col("__s").cast("double") * col("__s").cast("double"))
        .select(col("sid"), col("n_days"), col("mean_ret"),
          round(when(col("__varq") =!= 0.0,
            col("__s").cast("double") * col("n_days").cast("double")
              / col("__varq") * 1e6), 6).as("kelly"))
    }),

    // ---- W33: Hampel despike filter — centered rolling-median ±
    // 3·MAD outlier flag over a 5-bar frame, ALL inside one per-row
    // array chain (sort of a bounded 5-array, no percentile UDF);
    // integer cents end to end, edges (partial frames) stay null ----
    "w33_hampel" -> ((s, dir) => {
      val w = Window.partitionBy("sid").orderBy("date").rowsBetween(-2, 2)
      val arr = collect_list(cents(col("close"))).over(w)
      supplierPanel(s, dir)
        .withColumn("__a", arr)
        .withColumn("med_cents",
          when(size(col("__a")) === 5, element_at(array_sort(col("__a")), 3)))
        .withColumn("mad_cents",
          when(size(col("__a")) === 5, element_at(array_sort(
            transform(col("__a"), v => abs(v - col("med_cents")))), 3)))
        .select(col("sid"), col("date"), cents(col("close")).as("close_cents"),
          col("med_cents"), col("mad_cents"),
          when(col("med_cents").isNotNull,
            abs(cents(col("close")) - col("med_cents")) > col("mad_cents") * 3)
            .as("is_spike"))
    }),

    "w27_interpolate" -> ((s, dir) => {
      val gapped = supplierPanel(s, dir).withColumn("close_g",
        when((col("sid") + dayofmonth(col("date"))) % 4 === 0, lit(null))
          .otherwise(col("close")))
      val wPrev = Window.partitionBy("sid").orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // suffix carries as reversed-sort prefixes (O(n)-incremental;
      // Spark recomputes suffix frames per row — the bot-shape lesson)
      val wNext = Window.partitionBy("sid").orderBy(col("date").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      gapped
        .withColumn("pv", last(col("close_g"), ignoreNulls = true).over(wPrev))
        .withColumn("pd", max(when(col("close_g").isNotNull, col("date"))).over(wPrev))
        .withColumn("nv", last(col("close_g"), ignoreNulls = true).over(wNext))
        .withColumn("nd", min(when(col("close_g").isNotNull, col("date"))).over(wNext))
        .select(col("sid"), col("date"),
          when(col("close_g").isNotNull, col("close_g"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv"))
              * (datediff(col("date"), col("pd")).cast("double")
                / datediff(col("nd"), col("pd"))))
            .as("filled"))
    }),

    // ---- single-pass column profiler over documents ----
    "prof1_columns" -> ((s, dir) =>
      graft.sources.Profiler.profile(t(s, dir, "documents"))),

    // ---- sketch error contract: HLL distinct within 5% of exact (the
    // oracle pins the exact counts AND that the bound held — the boolean
    // hashes, so a drifting sketch fails the gate)
    "sk1_hll_contract" -> ((s, dir) => {
      events(s, dir).groupBy("event_type").agg(
        count_distinct(col("user_id")).as("exact_users"),
        (abs(approx_count_distinct(col("user_id"), 0.02)
            - count_distinct(col("user_id"))).cast("double")
          / count_distinct(col("user_id")) <= 0.05).as("approx_ok"))
    }),

    // ---- sketch error contract: approx median within 1% of the exact
    // interpolated median, relative to the group's value range
    "sk2_quantile_contract" -> ((s, dir) => {
      events(s, dir).groupBy("event_type").agg(
        count(col("value")).as("n_vals"),
        ((abs(percentile_approx(col("value"), lit(0.5), lit(10000))
            - expr("percentile(value, 0.5)"))
          / (max(col("value")) - min(col("value")))) <= 0.01).as("approx_ok"))
    }),

    // ---- exact integer median: sum of the two middle order statistics
    // in cents (×2 for odd n) — cross-engine exact, no interpolation
    "a12_median_cents" -> ((s, dir) => {
      val wOrd = Window.partitionBy("event_type").orderBy(col("v"), col("event_id"))
      val wAll = Window.partitionBy("event_type")
      events(s, dir)
        .select(col("event_type"), cents(col("value")).as("v"), col("event_id"))
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("m",
          (col("rn") === expr("(n + 1) div 2")).cast("long")
            + (col("rn") === expr("(n + 2) div 2")).cast("long"))
        .groupBy("event_type")
        .agg(max(col("n")).as("n"), sum(col("v") * col("m")).as("med2_cents"))
    }),

    // ---- A18: exact per-group quantiles (p50/p90/p99 in cents) — the
    // order statistic recovered from the grouped PrefixSum scan; the
    // exact counterpart sk2's approx contract is audited against ----
    "a18_quantiles_exact" -> ((s, dir) =>
      graft.panel.Quantiles.exactQuantiles(
        events(s, dir), Seq("event_type"), cents(col("value")),
        qs = Seq(0.5, 0.9, 0.99))),

    // ---- ZO1: Z-order zone map — Morton-interleave (suppkey, ship-day)
    // and report per-quadtree-cell bounding boxes: the audit a layout
    // optimizer reads to see that z-clustering gives every file a
    // narrow range in BOTH dimensions. Pure per-row bit arithmetic +
    // one bounded-key aggregate ----
    "zo1_zonemap" -> ((s, dir) =>
      graft.sources.Layout.zoneMap(
        t(s, dir, "lineitem"),
        col("l_suppkey"),
        datediff(to_date(col("l_shipdate")), lit("1992-01-01")).cast("long"),
        prefixBits = 4)),

    // ---- AD1: robust outlier screen — |x − med| > k·MAD per event
    // type, entirely in doubled/quadrupled integer cents (see
    // Quality.madOutliers): the Hampel identifier a 100 TB ingest runs
    // where mean/stddev rules self-mask ----
    "ad1_mad_outliers" -> ((s, dir) =>
      graft.sources.Quality.madOutliers(
        events(s, dir), groupCol = "event_type", valueCol = "value",
        idCol = "event_id", k = 5)),

    // ---- W30: per-group winsorization at exact [p5, p95] order-stat
    // bounds (clamp, don't drop — madOutliers' feature-prep companion)
    "w30_winsorize" -> ((s, dir) =>
      graft.sources.Quality.winsorize(
        events(s, dir), groupCol = "event_type", valueCol = "value",
        idCol = "event_id")),

    // ---- CT1: event_type × ISO-weekday contingency + χ² independence
    // terms (micro-quantized so the total is an exact integer sum) ----
    "ct1_chisq" -> ((s, dir) =>
      graft.events.Events.chiSquare(events(s, dir),
        col("event_type"),
        ((dayofweek(col("ts")) + 5) % 7 + 1).cast("long"))),

    // ---- AB1: two-proportion conversion z-test between the user-id
    // parity variants; one sqrt (IEEE-exact), no libm ----
    "ab1_ztest" -> ((s, dir) =>
      graft.events.Events.abConversionZ(events(s, dir),
        variant = col("user_id") % 2, convType = "purchase")),

    // ---- A17: exact per-group MODE — most frequent o_orderpriority
    // per order status, ties to the smallest value; two hash aggs,
    // no window over the fact ----
    "a17_group_mode" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("o_orderstatus"))
        .agg(
          min_by(col("o_orderpriority"),
            struct((-col("__c")).as("nc"), col("o_orderpriority").as("v")))
            .as("mode_priority"),
          max(col("__c")).as("mode_n"))),

    // ---- DQ8: one-pass table profile — per-column row/non-null/exact-
    // distinct census over lineitem, one aggregate + melt ----
    "dq8_profile" -> ((s, dir) =>
      graft.sources.Quality.profile(t(s, dir, "lineitem"))),

    // ---- DQ9: two-sample Kolmogorov-Smirnov drift test — the training-
    // data drift check (returned vs delivered lineitem price
    // distributions). Exact integer CDF cross-multiplication over the
    // BOUNDED distinct-cents histogram (the qn1/Woe discipline: the only
    // unpartitioned window runs on the value domain, not the fact
    // table); D and the α=0.05 critical value are single IEEE
    // expressions over integers (sqrt is correctly rounded
    // cross-engine). ----
    "dq9_ks_drift" -> ((s, dir) => {
      val v = t(s, dir, "lineitem")
        .where(col("l_returnflag").isin("R", "N"))
        .select(col("l_returnflag").as("f"), cents(col("l_extendedprice")).as("v"))
      val hist = v.groupBy("v").agg(
        sum(when(col("f") === "R", 1L).otherwise(0L)).as("c1"),
        sum(when(col("f") === "N", 1L).otherwise(0L)).as("c2"))
      // distributed two-level prefix scan (extendedprice cents are
      // near-continuous — 583k distinct in 600k sf0.1 rows)
      val cum = graft.panel.PrefixSum.inclusive(
        hist, "v", Seq("cf1" -> "c1", "cf2" -> "c2"))
      val totals = v.agg(
        sum(when(col("f") === "R", 1L).otherwise(0L)).as("n1"),
        sum(when(col("f") === "N", 1L).otherwise(0L)).as("n2"))
      cum.crossJoin(broadcast(totals)) // one scalar row — bounded
        .select(abs(col("cf1") * col("n2") - col("cf2") * col("n1")).as("__dn"),
          col("n1"), col("n2"))
        .groupBy("n1", "n2")
        .agg(max(col("__dn")).as("__dmax"))
        .select(col("n1"), col("n2"),
          round(col("__dmax").cast("double") /
            (col("n1") * col("n2")).cast("double"), 6).as("d_stat"),
          round(lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") /
            (col("n1") * col("n2")).cast("double")), 6).as("d_crit"),
          (col("__dmax").cast("double") /
            (col("n1") * col("n2")).cast("double") >
            lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") /
              (col("n1") * col("n2")).cast("double"))).as("drift"))
    }),

    // ---- DQ10: population-stability index — the scorecard-monitoring
    // drift metric next to DQ9's KS: $1000 price buckets (integer
    // division of cents), pre-1995 vs 1995+ shipment populations, one
    // ln per BIN row (final per-row transcendental, 6dp — never summed,
    // never compared; a zero cell nulls the term, the Woe stance). ----
    "dq10_psi" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        call_function("div", cents(col("l_extendedprice")), lit(100000L))
          .as("bin"),
        (year(col("l_shipdate")) < 1995).as("old"))
      val byBin = li.groupBy("bin").agg(
        sum(when(col("old"), 1L).otherwise(0L)).as("c_old"),
        sum(when(!col("old"), 1L).otherwise(0L)).as("c_new"))
      val totals = byBin.agg(
        sum(col("c_old")).as("n_old"), sum(col("c_new")).as("n_new"))
      val p = col("c_old").cast("double") / col("n_old").cast("double")
      val q = col("c_new").cast("double") / col("n_new").cast("double")
      byBin.crossJoin(broadcast(totals)) // one scalar row — bounded
        .select(col("bin"), col("c_old"), col("c_new"),
          round(p, 6).as("frac_old"), round(q, 6).as("frac_new"),
          when(col("c_old") > 0 && col("c_new") > 0,
            round((q - p) * log(q / p), 6)).as("psi_term"))
    }),

    // ---- DQ11: Benford first-digit audit — the forensic data-quality
    // screen for fabricated numeric columns. Digit from the cents
    // STRING (no float log in the digit path); expected shares are
    // log10(1+1/d) DRIVER-INLINED as full-precision literals in both
    // engines (the ab4 zero-cross-engine-transcendental trick). ----
    "dq11_benford" -> ((s, dir) => {
      val expected = Map(
        1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514)
      val expCol = expected.foldLeft(lit(0.0)) { case (acc, (d, e)) =>
        when(col("digit") === d.toLong, lit(e)).otherwise(acc)
      }
      val digits = t(s, dir, "lineitem")
        .select(substring(cents(col("l_extendedprice")).cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val total = digits.agg(sum(col("n")).as("__N"))
      digits.crossJoin(broadcast(total)) // one scalar row — bounded
        .withColumn("expected_frac", expCol)
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("__N").cast("double"), 6)
            .as("frac"),
          round(col("expected_frac"), 6).as("benford_frac"),
          round(col("n").cast("double") / col("__N").cast("double")
            - col("expected_frac"), 6).as("deviation"))
    }),

    // ---- EV35: first-order Markov transition matrix over per-user
    // event streams — consecutive event types by (µs, event_id) order
    // (the epoch_us tiebreak contract shared with the session oracles),
    // exact integer counts, one division per transition row. The
    // probability window is partitioned by from_type and the post-agg
    // frame is ≤|types|² rows — bounded by the event-type dimension. ----
    "ev35_markov" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val tr = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      tr.withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("from_type")).cast("double"), 6))
    }),

    // ---- EV37: Gini concentration of per-user event activity — the
    // power-user skew audit. Computed EXACTLY from the events-per-user
    // count histogram (the rank sum over a tie group is closed-form, so
    // no per-user global rank); the cumulative rides the two-level
    // bucket scan — distinct activity counts are heavy-tailed DATA
    // cardinality (a bot/power user stretches the domain), not a fixed
    // range (r9; see graft.panel.PrefixSum). Integer sums until one
    // final division. ----
    "ev37_gini" -> ((s, dir) => {
      val hist = events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1)).as("m"))
      val cum = graft.panel.PrefixSum.inclusiveAuto(
        hist, "c", Seq("__ci" -> "m"))
        .withColumn("cb", col("__ci") - col("m"))
      cum.agg(
        sum(col("c") * (col("cb") * col("m") +
          call_function("div", col("m") * (col("m") + 1L), lit(2L)))).as("S"),
        sum(col("c") * col("m")).as("T"),
        sum(col("m")).as("n_users"))
        .select(col("n_users"), col("T").as("n_events"),
          round((lit(2.0) * col("S").cast("double") -
            (col("n_users") + 1L).cast("double") * col("T").cast("double")) /
            (col("n_users").cast("double") * col("T").cast("double")), 6)
            .as("gini"))
    }),

    // ---- ML41: calibration / reliability report for a closed-form
    // logistic score — z = (25 − quantity)/4 (binary-exact: quantity is
    // integral, /4 is a power of two), p = σ(z) micro-quantized at 1e6
    // (≤50 distinct z values; the transcendental never feeds a
    // comparison). Per quantity-quintile bin: mean predicted vs
    // empirical return rate + the Brier contribution, all integer sums
    // until the final divisions. ----
    "ml41_calibration" -> ((s, dir) => {
      val rows = t(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("q"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .withColumn("z", (lit(25L) - col("q")).cast("double") / 4.0)
        .withColumn("p6",
          round(lit(1e6) / (lit(1.0) + exp(-col("z")))).cast("long"))
      rows.withColumn("bin",
        call_function("div", col("q") - 1L, lit(5L))) // integer division
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("p6")).as("__sp"),
          sum((col("p6") - col("y") * 1000000L) *
            (col("p6") - col("y") * 1000000L)).as("__sq"))
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("__sp").cast("double") / col("n").cast("double") / 1e6, 6)
            .as("mean_pred"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 6)
            .as("emp_rate"),
          round(col("__sq").cast("double") / col("n").cast("double") / 1e12, 6)
            .as("brier"))
    }),

    // ---- declarative data-quality expectations: all predicate rules per
    // table in ONE aggregate pass + left-anti referential checks ----
    "dq1_expectations" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val liReport = graft.sources.Quality.expect(li, Seq(
        "quantity_in_range" -> (col("l_quantity") >= 1 && col("l_quantity") <= 50),
        "quantity_le_25" -> (col("l_quantity") <= 25),
        "discount_in_range" -> (col("l_discount") >= 0 && col("l_discount") <= 0.1),
        "price_positive" -> (col("l_extendedprice") > 0),
        "shipdate_not_null" -> col("l_shipdate").isNotNull))
      val ordReport = graft.sources.Quality.expect(ord, Seq(
        "totalprice_positive" -> (col("o_totalprice") > 0),
        "status_known" -> col("o_orderstatus").isin("O", "F", "P")))
      liReport
        .unionByName(ordReport)
        .unionByName(graft.sources.Quality.orphans(
          "lineitem_order_fk", li, "l_orderkey", ord, "o_orderkey"))
        .unionByName(graft.sources.Quality.orphans(
          "orders_customer_fk", ord, "o_custkey", t(s, dir, "customer"), "c_custkey"))
    }),

    // ---- MB1/MB2: market-basket mining on order line items — one-pass
    // per-basket pair generation (maxBasket guard + observe), exact
    // co-occurrence counts, broadcast item-count joins for the rules
    "mb1_frequent_pairs" -> ((s, dir) =>
      graft.events.Basket.frequentPairs(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", minCount = 2L)),

    "mb2_assoc_rules" -> ((s, dir) =>
      graft.events.Basket.associationRules(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", minCount = 3L)),

    // ---- DQ6: k-anonymity audit on customer quasi-identifiers
    // (nation × market segment) — class-size histogram + risk flag ----
    "dq6_kanonymity" -> ((s, dir) =>
      graft.sources.Quality.kAnonymity(
        t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"))),

    // ---- DQ7: functional-dependency discovery over part attributes —
    // one aggregation per lhs covers every rhs; violation counts, not
    // bare booleans ----
    "dq7_fd_discovery" -> ((s, dir) =>
      graft.sources.Quality.functionalDependencies(
        t(s, dir, "part"), Seq("p_name", "p_brand", "p_type", "p_size"))),

    // ---- ML37: PSI drift trend — per-day PSI vs the first-week
    // baseline (fixed bins, eps floors, 1e12-quantized terms) ----
    "ml37_psi_trend" -> ((s, dir) =>
      graft.ml.Evaluation.psiTrend(events(s, dir))),

    // ---- DQ4: Benford first-digit screen on order totals — exact
    // cents leading digit (no float log10), 1e12-quantized expected
    // probabilities, per-digit χ² terms
    "dq4_benford" -> ((s, dir) =>
      graft.sources.Quality.benford(t(s, dir, "orders"), "o_totalprice")),

    // ---- rank-family windows: rank/dense_rank/percent_rank/cume_dist
    // depend only on the VALUE (peers share a rank), so ordering by close
    // alone stays deterministic; ntile depends on row position, so its
    // window carries the (close, date) total order ----
    "px10_rank_family" -> ((s, dir) => {
      val byVal = Window.partitionBy("sid").orderBy(col("close"))
      val total = Window.partitionBy("sid").orderBy(col("close"), col("date"))
      supplierPanel(s, dir).select(
        col("sid"), col("date"), col("close"),
        rank().over(byVal).cast("long").as("rnk"),
        dense_rank().over(byVal).cast("long").as("drnk"),
        percent_rank().over(byVal).as("prnk"),
        cume_dist().over(byVal).as("cdist"),
        ntile(4).over(total).cast("long").as("quartile"))
    }),

    // ---- deterministic mode: most frequent quantity per return flag,
    // ties broken to the smallest value (DuckDB's mode() leaves ties
    // unspecified, so BOTH engines spell the argmax out) ----
    "a13_mode" -> ((s, dir) => {
      val cnt = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("n_mode"))
      val w = Window.partitionBy("l_returnflag").orderBy(col("n_mode").desc, col("q"))
      cnt.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("l_returnflag"), col("q").as("mode_qty"), col("n_mode"))
    })
  )
}
