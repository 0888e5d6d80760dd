package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.perf.Performance

/** Performance measures over the results melt: hand-computed golden
  * values for a three-day, two-sid series.
  */
class PerfSpec extends SparkSpec {
  import spark.implicits._

  // per-date portfolio returns after cross-sid summing:
  // d1: 0.06 + 0.04 = 0.10 ; d2: -0.03 - 0.02 = -0.05 ; d3: 0.01 + 0.01 = 0.02
  private lazy val melt = Seq(
    ("A", "2024-01-01", "Return", 0.06), ("B", "2024-01-01", "Return", 0.04),
    ("A", "2024-01-02", "Return", -0.03), ("B", "2024-01-02", "Return", -0.02),
    ("A", "2024-01-03", "Return", 0.01), ("B", "2024-01-03", "Return", 0.01),
    // non-Return fields must be ignored
    ("A", "2024-01-01", "Turnover", 9.99))
    .toDF("sid", "date", "field", "value")
    .withColumn("date", to_date($"date"))

  test("dailySeries: compounding and drawdown from the running peak") {
    val rows = Performance.dailySeries(melt).orderBy("date").collect()
    assert(rows.map(_.getAs[Double]("return")).toSeq == Seq(0.10, -0.05, 0.02))
    // cum: 1.1 ; 1.1×0.95 = 1.045 ; ×1.02 = 1.0659
    assert(rows.map(_.getAs[Double]("cum_return")).toSeq ==
      Seq(0.1, 0.045, 0.0659))
    // drawdown from peak 1.1: 0 ; 1.045/1.1−1 ; recovered to 1.0659/1.1−1
    assert(rows(0).getAs[Double]("drawdown") == 0.0)
    assert(rows(1).getAs[Double]("drawdown") == math.rint((1.045 / 1.1 - 1) * 1e6) / 1e6)
    assert(rows(2).getAs[Double]("drawdown") == math.rint((1.0659 / 1.1 - 1) * 1e6) / 1e6)
  }

  test("sharpeConfidence: Lo (2002) SE golden on a mean-zero series; " +
    "flat series → null (perf_sharpe_ci)") {
    // alternating ±1% over 4 days: SR = 0, SE_daily = √(1/4) = 0.5
    val alt = (1 to 4).map(t =>
      ("A", f"2024-01-0$t", "Return", if (t % 2 == 1) 0.01 else -0.01))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val s = Performance.sharpeConfidence(alt).head
    val ann = math.sqrt(252.0)
    assert(s.getAs[Long]("n_days") == 4L)
    assert(s.getAs[Double]("sharpe") == 0.0)
    assert(s.getAs[Double]("se") ==
      math.rint(math.sqrt((1.0 + 0.0) / 4) * ann * 1e6) / 1e6)
    assert(s.getAs[Double]("ci_lo") ==
      math.rint(-1.959964 * 0.5 * ann * 1e6) / 1e6)
    assert(s.getAs[Double]("ci_hi") == -s.getAs[Double]("ci_lo"))
    // zero variance → everything null but the count
    val flat = (1 to 4).map(t => ("A", f"2024-01-0$t", "Return", 0.01))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val f = Performance.sharpeConfidence(flat).head
    assert(f.isNullAt(f.fieldIndex("sharpe")) && f.isNullAt(f.fieldIndex("se")))
  }

  test("kellyFraction: f* = mu/var golden; flat series → null " +
    "(perf_kelly)") {
    // returns [0.02, 0.02, -0.01]: mu = 0.01, var = 3e-4 → f* = 33.33…
    val m = Seq(
      ("A", "2024-01-01", "Return", 0.02),
      ("A", "2024-01-02", "Return", 0.02),
      ("A", "2024-01-03", "Return", -0.01))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val s = Performance.kellyFraction(m).head
    assert(s.getAs[Long]("n_days") == 3L)
    assert(s.getAs[Double]("kelly") == 33.333333)
    assert(s.getAs[Double]("half_kelly") == 16.666667)
    val flat = Seq(("A", "2024-01-01", "Return", 0.01),
      ("A", "2024-01-02", "Return", 0.01))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    assert(Performance.kellyFraction(flat).head
      .isNullAt(1)) // zero variance → null kelly
  }

  test("summary: total, CAGR, Sharpe, max drawdown") {
    val s = Performance.summary(melt).head
    assert(s.getAs[Long]("n_days") == 3L)
    assert(s.getAs[Double]("total_return") == 0.0659)
    val expectedCagr = math.pow(1.0659, 252.0 / 3) - 1
    assert(math.abs(s.getAs[Double]("cagr") - expectedCagr) < 1e-6)
    val r = Seq(0.10, -0.05, 0.02)
    val mu = r.sum / 3
    val sigma = math.sqrt(r.map(x => (x - mu) * (x - mu)).sum / 2)
    val expectedSharpe = mu / sigma * math.sqrt(252.0)
    assert(math.abs(s.getAs[Double]("sharpe") - expectedSharpe) < 1e-6)
    assert(s.getAs[Double]("max_drawdown") ==
      math.rint((1.045 / 1.1 - 1) * 1e6) / 1e6)
  }

  test("ratios: annualized vol, Sortino, Calmar, hit rate goldens; " +
    "Sortino null with no downside") {
    val s = Performance.ratios(melt).head
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(s.getAs[Long]("n_days") == 3L)
    val rs = Seq(0.10, -0.05, 0.02)
    val mu = rs.sum / 3
    val sigma = math.sqrt(rs.map(r => (r - mu) * (r - mu)).sum / 2)
    assert(s.getAs[Double]("ann_volatility") == q6(sigma * math.sqrt(252.0)))
    val ddev = math.sqrt(rs.map(r => math.min(r, 0.0)).map(r => r * r).sum / 3)
    assert(s.getAs[Double]("sortino") == q6(mu / ddev * math.sqrt(252.0)))
    val cagr = math.pow(1.0659, 252.0 / 3) - 1
    assert(s.getAs[Double]("calmar") == q6(cagr / 0.05))
    assert(s.getAs[Double]("hit_rate") == q6(2.0 / 3))
    // all-positive series: no downside, no drawdown → nulls
    val up = Seq(("A", "2024-01-01", "Return", 0.01),
      ("A", "2024-01-02", "Return", 0.02))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val u = Performance.ratios(up).head
    assert(u.isNullAt(u.fieldIndex("sortino")))
    assert(u.isNullAt(u.fieldIndex("calmar")))
    assert(u.getAs[Double]("hit_rate") == 1.0)
  }

  test("compounding survives a >100% daily loss: sign-aware cumprod, " +
    "CAGR null once the compounded value goes non-positive") {
    val leveraged = Seq(
      ("A", "2024-01-01", "Return", 0.5),
      ("A", "2024-01-02", "Return", -1.5), // 1+r = −0.5: cum 1.5 → −0.75
      ("A", "2024-01-03", "Return", 0.2)) // cum −0.75 × 1.2 = −0.9
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val rows = Performance.dailySeries(leveraged).orderBy("date").collect()
    assert(rows.map(_.getAs[Double]("cum_return")).toSeq ==
      Seq(0.5, -1.75, -1.9))
    // running peak stays 1.5; drawdowns below −100% are real here
    assert(rows.map(_.getAs[Double]("drawdown")).toSeq ==
      Seq(0.0, -1.5, -1.6))
    val s = Performance.summary(leveraged).head
    assert(s.getAs[Double]("total_return") == -1.9)
    assert(s.isNullAt(s.fieldIndex("cagr"))) // not NaN
    assert(s.getAs[Double]("max_drawdown") == -1.6)
  }

  test("a −100% day pins the compounded curve at zero thereafter") {
    val wiped = Seq(
      ("A", "2024-01-01", "Return", 0.5),
      ("A", "2024-01-02", "Return", -1.0),
      ("A", "2024-01-03", "Return", 0.3))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val rows = Performance.dailySeries(wiped).orderBy("date").collect()
    assert(rows.map(_.getAs[Double]("cum_return")).toSeq ==
      Seq(0.5, -1.0, -1.0))
  }

  test("a return beyond the exact pico-summation bound fails loudly " +
    "instead of wrapping the long") {
    val corrupted = Seq(
      ("A", "2024-01-01", "Return", 0.06),
      ("B", "2024-01-02", "Return", 1.0e7)) // > MaxAbsReturn: corrupted melt
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val e = intercept[Exception] {
      Performance.dailyReturns(corrupted).collect()
    }
    // Spark wraps the raise_error in a SparkRuntimeException chain
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(_ != null) &&
      messages(e).filter(_ != null).mkString.contains("pico-summation bound"))
    // a value AT the bound still sums exactly
    val ok = Seq(("A", "2024-01-01", "Return", Performance.MaxAbsReturn))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    assert(Performance.dailyReturns(ok).head.getAs[Double]("return") ==
      Performance.MaxAbsReturn)
  }

  test("rollingSharpe: trailing window, null until full (min_periods)") {
    val m = Seq(
      ("A", "2024-01-01", "Return", 0.10), ("A", "2024-01-02", "Return", -0.05),
      ("A", "2024-01-03", "Return", 0.02), ("A", "2024-01-04", "Return", 0.04))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val rows = Performance.rollingSharpe(m, window = 3).orderBy("date").collect()
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2)) // window not full
    def sharpe(r: Seq[Double]): Double = {
      val mu = r.sum / r.length
      val sd = math.sqrt(r.map(x => (x - mu) * (x - mu)).sum / (r.length - 1))
      math.rint(mu / sd * math.sqrt(252.0) * 1e6) / 1e6
    }
    assert(rows(2).getDouble(2) == sharpe(Seq(0.10, -0.05, 0.02)))
    assert(rows(3).getDouble(2) == sharpe(Seq(-0.05, 0.02, 0.04))) // trailing
  }

  test("vsBenchmark: beta/alpha/correlation golden (perfect correlation " +
    "at 2x leverage has beta 2, corr 1)") {
    // portfolio return is exactly 2× the benchmark return every day
    val melt = Seq(
      ("A", "2024-01-01", "Return", 0.02), ("1", "2024-01-01", "Benchmark", 0.01),
      ("A", "2024-01-02", "Return", -0.04), ("1", "2024-01-02", "Benchmark", -0.02),
      ("A", "2024-01-03", "Return", 0.06), ("1", "2024-01-03", "Benchmark", 0.03))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val s = Performance.vsBenchmark(melt).head
    assert(s.getAs[Long]("n_days") == 3L)
    assert(s.getAs[Double]("beta") == 2.0)
    assert(s.getAs[Double]("alpha") == 0.0) // r = 2b exactly → no intercept
    assert(s.getAs[Double]("correlation") == 1.0)
  }

  test("activeStats: annualized active return, tracking error, info ratio; " +
    "null TE/IR on one day, null IR on flat excess") {
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // excess = r − b: 0.5 then 1.0 (both exactly representable)
    val melt = Seq(
      ("A", "2024-01-01", "Return", 0.75), ("1", "2024-01-01", "Benchmark", 0.25),
      ("A", "2024-01-02", "Return", 1.25), ("1", "2024-01-02", "Benchmark", 0.25))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val s = Performance.activeStats(melt).head
    val mu = 0.75 // mean(0.5, 1.0)
    val sd = math.sqrt(0.125) // stddev_samp
    assert(s.getAs[Long]("n_days") == 2L)
    assert(s.getAs[Double]("active_return_ann") == r6(mu * 252))
    assert(s.getAs[Double]("tracking_error") == r6(sd * math.sqrt(252.0)))
    assert(s.getAs[Double]("info_ratio") == r6(mu / sd * math.sqrt(252.0)))
    // single day: stddev_samp undefined → null TE and IR
    val one = Performance.activeStats(melt.where($"date" === "2024-01-01")).head
    assert(one.getAs[Long]("n_days") == 1L)
    assert(one.isNullAt(2) && one.isNullAt(3))
    // constant excess → TE 0, IR null (not ±Infinity)
    val flat = Seq(
      ("A", "2024-01-01", "Return", 0.75), ("1", "2024-01-01", "Benchmark", 0.25),
      ("A", "2024-01-02", "Return", 0.75), ("1", "2024-01-02", "Benchmark", 0.25))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val f = Performance.activeStats(flat).head
    assert(f.getAs[Double]("tracking_error") == 0.0)
    assert(f.isNullAt(3))
    // one-pass lineage: no self-join of the melt
    val plan = Performance.activeStats(melt).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("vsBenchmark derives the melt lineage once: one-pass conditional " +
    "aggregation, no self-join (the perf_benchmark 3.7x regression fix)") {
    val melt = Seq(
      ("A", "2024-01-01", "Return", 0.02), ("1", "2024-01-01", "Benchmark", 0.01),
      ("A", "2024-01-02", "Return", -0.04), ("1", "2024-01-02", "Benchmark", -0.02))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val plan = Performance.vsBenchmark(melt).queryExecution.executedPlan.toString
    // the old shape joined dailyReturns against a Benchmark filter of the
    // SAME melt — two differently-aliased copies of the whole upstream
    // lineage; the one-pass form has no join at all
    assert(!plan.contains("Join"), plan)
  }

  test("rollingBeta: trailing-window cov/var, null until full and on a " +
    "flat-benchmark window; one-pass lineage (no join)") {
    // r = 2b: every full window has beta exactly 2
    val melt = Seq(
      ("A", "2024-01-01", "Return", 0.02), ("1", "2024-01-01", "Benchmark", 0.01),
      ("A", "2024-01-02", "Return", -0.04), ("1", "2024-01-02", "Benchmark", -0.02),
      ("A", "2024-01-03", "Return", 0.06), ("1", "2024-01-03", "Benchmark", 0.03))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val out = Performance.rollingBeta(melt, window = 2).orderBy("date").collect()
    assert(out(0).isNullAt(3)) // min_periods
    assert(out(1).getAs[Double]("rolling_beta_2") == 2.0)
    assert(out(2).getAs[Double]("rolling_beta_2") == 2.0)
    // flat benchmark → var 0 → null, not ±Infinity
    val flat = Seq(
      ("A", "2024-01-01", "Return", 0.02), ("1", "2024-01-01", "Benchmark", 0.01),
      ("A", "2024-01-02", "Return", -0.04), ("1", "2024-01-02", "Benchmark", 0.01))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    assert(Performance.rollingBeta(flat, window = 2)
      .orderBy("date").collect()(1).isNullAt(3))
    val plan = Performance.rollingBeta(melt, window = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("monthlyReturns: per-month compounding with the sign and zero " +
    "rules; the log-space sum is integer-exact") {
    val m = Seq(
      // Jan: 1.1 × 0.95 − 1
      ("A", "2024-01-05", "Return", 0.10), ("A", "2024-01-06", "Return", -0.05),
      // Feb: a −250% day then −20%: (−1.5)×0.8 → −1.2 → month −2.2
      ("A", "2024-02-01", "Return", -2.50), ("A", "2024-02-02", "Return", -0.20),
      // Mar: a −100% day pins the month at exactly −1
      ("A", "2024-03-01", "Return", 0.50), ("A", "2024-03-02", "Return", -1.00))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val rows = Performance.monthlyReturns(m).orderBy("month").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2)))
    assert(rows(0) == (("2024-01-01", 2L, math.rint((1.1 * 0.95 - 1) * 1e6) / 1e6)))
    assert(rows(1) == (("2024-02-01", 2L, -2.2)))
    assert(rows(2) == (("2024-03-01", 2L, -1.0)))
  }

  test("vsBenchmark: dates missing either series drop (inner-join " +
    "semantics); several Benchmark rows per date raise") {
    val partial = Seq(
      ("A", "2024-01-01", "Return", 0.02), ("1", "2024-01-01", "Benchmark", 0.01),
      ("A", "2024-01-02", "Return", -0.04), // no Benchmark row this date
      ("1", "2024-01-03", "Benchmark", 0.03)) // no Return row this date
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    assert(Performance.vsBenchmark(partial).head.getAs[Long]("n_days") == 1L)

    val intradayish = Seq(
      ("A", "2024-01-01", "Return", 0.02),
      ("1", "2024-01-01", "Benchmark", 0.01),
      ("1", "2024-01-01", "Benchmark", 0.02)) // two slots on one date
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val e = intercept[Exception] {
      Performance.vsBenchmark(intradayish).head
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).filter(_ != null).mkString.contains("needs daily"))
  }

  test("dailyReturns' raise_error guard + decimal accumulator compile " +
    "under whole-stage codegen (no silent interpreted fallback)") {
    val m = Seq(
      ("A", "2024-01-01", "Return", 0.06), ("B", "2024-01-01", "Return", 0.04),
      ("A", "2024-01-02", "Return", -0.05))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // the guard and accumulator run in the shared per-date aggregation
      // (dailyReturns itself plans over its local rows) — check THAT query
      val daily = Performance.perDateQuery(m, "date").orderBy("date")
      val rows = daily.collect()
      assert(rows.map(_.getAs[Double]("return")).toSeq == Seq(0.1, -0.05))
      assert(Performance.dailyReturns(m).orderBy("date").collect()
        .map(_.getAs[Double]("return")).toSeq == Seq(0.1, -0.05))
      // the aggregates carrying the decimal(38,0) accumulator must sit
      // inside a codegen span (starred operators), not fall back to
      // interpreted row processing — read the plan AFTER executing this
      // exact query so AQE's final plan (with codegen ids) is what prints
      // AQE appends the pre-execution "== Initial Plan ==" section, which
      // never carries codegen ids — inspect only the final plan above it
      // codegen'd operators print with a "*(n)" codegen-id star in the
      // final AQE plan; an interpreted fallback would drop the star
      val plan = daily.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val aggLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
      assert(aggLines.nonEmpty && aggLines.forall(_.contains("*(")), plan)
    } finally {
      prevFactory match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
    }
  }

  test("summary composes with the real backtest melt (non-degenerate)") {
    val panel = Seq(
      ("A", "2024-01-01", 10.0), ("A", "2024-01-02", 11.0),
      ("A", "2024-01-03", 9.0), ("A", "2024-01-04", 10.0),
      ("B", "2024-01-01", 20.0), ("B", "2024-01-02", 19.0),
      ("B", "2024-01-03", 21.0), ("B", "2024-01-04", 20.0))
      .toDF("sid", "date", "close").withColumn("date", to_date($"date"))
    object S extends graft.pipeline.Strategy {
      val code = "perf-demo"
      def pricesToSignals(p: org.apache.spark.sql.DataFrame) =
        p.withColumn("signal", (col("close") < 20).cast("int"))
    }
    val s = Performance.summary(graft.pipeline.Backtest.run(S, panel)).head
    assert(s.getAs[Long]("n_days") == 4L)
    assert(s.getAs[Double]("max_drawdown") <= 0.0)
  }

  // melt with NetExposure runs for attribution/round-trip goldens:
  // sid A long Jan1-2 (earns Jan2-3 returns), flat Jan3;
  // sid B short Jan2-3 (earns Jan3 + nothing after series end)
  private lazy val posMelt = Seq(
    ("A", "2024-01-01", "NetExposure", 0.5),
    ("A", "2024-01-02", "NetExposure", 0.5),
    ("A", "2024-01-03", "NetExposure", 0.0),
    ("B", "2024-01-01", "NetExposure", 0.0),
    ("B", "2024-01-02", "NetExposure", -0.5),
    ("B", "2024-01-03", "NetExposure", -0.5),
    ("A", "2024-01-01", "Return", 0.0), ("B", "2024-01-01", "Return", 0.0),
    ("A", "2024-01-02", "Return", 0.02), ("B", "2024-01-02", "Return", 0.0),
    ("A", "2024-01-03", "Return", 0.01), ("B", "2024-01-03", "Return", -0.005))
    .toDF("sid", "date", "field", "value")
    .withColumn("date", to_date($"date"))

  test("attribution: additive per-sid contributions, shares sum to 1") {
    val rows = Performance.attribution(posMelt).orderBy("sid").collect()
    val a = rows(0); val b = rows(1)
    assert(a.getAs[Double]("contribution") == 0.03) // 0.02 + 0.01
    assert(b.getAs[Double]("contribution") == -0.005)
    assert(a.getAs[Long]("days_held") == 2L)
    assert(b.getAs[Long]("days_held") == 2L)
    // shares: 0.03/0.025 = 1.2, -0.005/0.025 = -0.2
    assert(a.getAs[Double]("share") == 1.2)
    assert(b.getAs[Double]("share") == -0.2)
  }

  test("roundTrips: same-sign runs with lead-aligned returns") {
    val rows = Performance.roundTrips(posMelt).orderBy("sid").collect()
    assert(rows.length == 2)
    val a = rows(0)
    assert(a.getAs[String]("side") == "long")
    assert(a.getDate(2).toString == "2024-01-01") // entry
    assert(a.getDate(3).toString == "2024-01-02") // exit (flat on Jan 3)
    assert(a.getAs[Long]("n_days") == 2L)
    // lead(Return): Jan1 row → Jan2's 0.02, Jan2 row → Jan3's 0.01
    assert(a.getAs[Double]("trip_return") == 0.03)
    val b = rows(1)
    assert(b.getAs[String]("side") == "short")
    assert(b.getDate(2).toString == "2024-01-02")
    assert(b.getDate(3).toString == "2024-01-03")
    // lead: Jan2 row → Jan3's −0.005; Jan3 row → null (series end)
    assert(b.getAs[Double]("trip_return") == -0.005)
  }

  test("roundTrips: a sign flip closes one trip and opens another") {
    val flip = Seq(
      ("C", "2024-01-01", "NetExposure", 1.0),
      ("C", "2024-01-02", "NetExposure", -1.0),
      ("C", "2024-01-03", "NetExposure", -1.0),
      ("C", "2024-01-01", "Return", 0.0),
      ("C", "2024-01-02", "Return", 0.04),
      ("C", "2024-01-03", "Return", -0.01))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val rows = Performance.roundTrips(flip).orderBy("trip").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("side") == "long")
    assert(rows(0).getAs[Long]("n_days") == 1L)
    assert(rows(0).getAs[Double]("trip_return") == 0.04)
    assert(rows(1).getAs[String]("side") == "short")
    assert(rows(1).getAs[Long]("n_days") == 2L)
    assert(rows(1).getAs[Double]("trip_return") == -0.01)
  }

  test("volTargetScale: lagged tradeable scale, clamp, and zero-vol cap") {
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val rows = Performance.volTargetScale(melt, targetVol = 0.10, window = 2)
      .orderBy("date").collect()
    // d1: no full window → null vol, scale 1.0
    assert(rows(0).isNullAt(rows(0).fieldIndex("realized_vol")))
    assert(rows(0).getAs[Double]("scale") == 1.0)
    // d2: rv = stddev([.10,−.05])·√252 but the SCALE still lags → 1.0
    val rv2 = q6(0.15 / math.sqrt(2.0) * math.sqrt(252.0))
    assert(rows(1).getAs[Double]("realized_vol") == rv2)
    assert(rows(1).getAs[Double]("scale") == 1.0)
    // d3: scale from d2's ROUNDED vol, clamped at maxLeverage 3.0
    assert(rows(2).getAs[Double]("scale") == q6(0.10 / rv2))
    // flat series: zero realized vol → next day scales at the clamp
    val flat = Seq(
      ("A", "2024-01-01", "Return", 0.01),
      ("A", "2024-01-02", "Return", 0.01),
      ("A", "2024-01-03", "Return", 0.01))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val f = Performance.volTargetScale(flat, targetVol = 0.10, window = 2)
      .orderBy("date").collect()
    assert(f(1).getAs[Double]("realized_vol") == 0.0)
    assert(f(2).getAs[Double]("scale") == 3.0)
    intercept[IllegalArgumentException] {
      Performance.volTargetScale(melt, targetVol = 0.0, window = 2)
    }
    intercept[IllegalArgumentException] {
      Performance.volTargetScale(melt, targetVol = 0.1, window = 1)
    }
  }

  test("valueAtRisk: interpolated quantile and tail mean goldens") {
    // sorted returns [−0.05, 0.02, 0.10]; p=0.05 ⇒ idx 0.05×2 = 0.1 ⇒
    // −0.05 + 0.1×(0.02 − (−0.05)) = −0.043; tail (r ≤ −0.043) = {−0.05}
    val s = Performance.valueAtRisk(melt).head
    assert(s.getAs[Long]("n_days") == 3L)
    assert(s.getAs[Double]("var_95") == -0.043)
    assert(s.getAs[Double]("cvar_95") == -0.05)
    // degenerate confidence rejected loudly
    intercept[IllegalArgumentException] {
      Performance.valueAtRisk(melt, confidence = 1.0)
    }
  }

  test("drawdowns: single underwater episode with trough argmin") {
    // cum 1.1, 1.045, 1.0659; peak 1.1 — one episode spanning d2-d3,
    // depths −0.05 then −0.031 ⇒ trough = d2, depth −0.05
    val rows = Performance.drawdowns(melt).collect()
    assert(rows.length == 1)
    val ep = rows(0)
    assert(ep.getAs[Long]("episode") == 1L)
    assert(ep.getDate(1).toString == "2024-01-02") // start
    assert(ep.getDate(2).toString == "2024-01-02") // trough
    assert(ep.getDate(3).toString == "2024-01-03") // end
    assert(ep.getAs[Long]("n_days") == 2L)
    assert(ep.getAs[Double]("depth") == -0.05)
  }

  test("drawdowns: recovery splits episodes; depth ties pick the " +
    "earliest trough date") {
    // cum 1.1 (peak), 1.045 (under), 1.254 (new peak), 1.1286 (under)
    val two = Seq(
      ("A", "2024-01-01", "Return", 0.1),
      ("A", "2024-01-02", "Return", -0.05),
      ("A", "2024-01-03", "Return", 0.2),
      ("A", "2024-01-04", "Return", -0.1))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val rows = Performance.drawdowns(two).orderBy("episode").collect()
    assert(rows.length == 2)
    assert(rows(0).getDate(1).toString == "2024-01-02")
    assert(rows(0).getAs[Long]("n_days") == 1L)
    assert(rows(0).getAs[Double]("depth") == -0.05)
    assert(rows(1).getDate(1).toString == "2024-01-04")
    assert(rows(1).getAs[Double]("depth") == -0.1)
    // tie: dd −0.05 on both underwater dates → earliest is the trough
    val tie = Seq(
      ("A", "2024-01-01", "Return", 0.1),
      ("A", "2024-01-02", "Return", -0.05),
      ("A", "2024-01-03", "Return", 0.0))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val t = Performance.drawdowns(tie).collect()
    assert(t.length == 1)
    assert(t(0).getDate(2).toString == "2024-01-02")
    assert(t(0).getAs[Long]("n_days") == 2L)
  }

  test("combineReturns: per-date weighted blend, absent strategy-dates " +
    "contribute zero (port1)") {
    def melt(rows: Seq[(String, Double)]) = rows
      .map { case (d, v) => ("X", d, "Return", v) }
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val a = melt(Seq(("2024-01-01", 0.01), ("2024-01-02", 0.02)))
    val b = melt(Seq(("2024-01-02", 0.1)))
    val out = Performance.combineReturns(Seq((a, 0.5), (b, 2.0)))
      .orderBy("date").collect()
    assert(out(0).getAs[Double]("ret_0") == 0.01)
    assert(out(0).isNullAt(2)) // strategy b not trading on day 1
    assert(out(0).getAs[Double]("combined_return") == 0.005)
    assert(out(1).getAs[Double]("combined_return") == 0.21) // 0.01 + 0.2
    intercept[IllegalArgumentException](Performance.combineReturns(Nil))
  }

  test("captureRatios: ratio of pico sums per side, flat days excluded, " +
    "one-sided series → null (perf_capture)") {
    val melt = Seq(
      ("A", "2024-01-01", "Return", 0.02), ("1", "2024-01-01", "Benchmark", 0.01),
      ("A", "2024-01-02", "Return", 0.02), ("1", "2024-01-02", "Benchmark", 0.01),
      ("A", "2024-01-03", "Return", -0.01), ("1", "2024-01-03", "Benchmark", -0.02),
      ("A", "2024-01-04", "Return", 9.9), ("1", "2024-01-04", "Benchmark", 0.0))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val s = Performance.captureRatios(melt).head
    assert(s.getAs[Long]("n_up") == 2L && s.getAs[Long]("n_down") == 1L)
    assert(s.getAs[Double]("up_capture") == 2.0)  // 0.04/0.02
    assert(s.getAs[Double]("down_capture") == 0.5) // −0.01/−0.02
    val allUp = Performance.captureRatios(
      melt.where($"date" <= "2024-01-02")).head
    assert(allUp.getAs[Long]("n_down") == 0L)
    assert(allUp.isNullAt(allUp.fieldIndex("down_capture")))
  }

  test("omegaRatio: gain/loss mass as exact pico sums; no-loss series " +
    "→ null (perf_omega)") {
    // gains 0.10 + 0.02 = 0.12 ; losses 0.05 → omega 2.4 exactly
    val s = Performance.omegaRatio(melt).head
    assert(s.getAs[Long]("n_days") == 3L)
    assert(s.getAs[Long]("n_above") == 2L && s.getAs[Long]("n_below") == 1L)
    assert(s.getAs[Double]("omega") == 2.4)
    val up = Seq(("A", "2024-01-01", "Return", 0.01),
      ("A", "2024-01-02", "Return", 0.02))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val u = Performance.omegaRatio(up).head
    assert(u.isNullAt(u.fieldIndex("omega")))
    // threshold shifts both sides: τ=0.05 → gains 0.05, losses 0.10+0.03
    val t = Performance.omegaRatio(melt, threshold = 0.05).head
    assert(t.getAs[Long]("n_above") == 1L && t.getAs[Long]("n_below") == 2L)
    assert(t.getAs[Double]("omega") == math.rint(0.05 / 0.13 * 1e6) / 1e6)
  }

  test("ulcerIndex: RMS of the 6dp-rounded drawdowns; Martin = CAGR/ulcer; " +
    "never-underwater curve → null Martin (perf_ulcer)") {
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    // dd series (6dp): 0, −0.05, 1.0659/1.1−1 = −0.031 → micro 0, −50000, −31000
    val sq = 50000.0 * 50000 + 31000.0 * 31000
    val ulcerRaw = math.sqrt(sq / 3) / 1e6
    val s = Performance.ulcerIndex(melt).head
    assert(s.getAs[Long]("n_days") == 3L)
    assert(s.getAs[Double]("ulcer_index") == q6(ulcerRaw))
    val cagr = math.pow(1.0659, 252.0 / 3) - 1
    assert(math.abs(s.getAs[Double]("martin_ratio") - cagr / ulcerRaw) < 1e-5)
    // monotone-up curve: every dd is 0 → ulcer 0, Martin null
    val up = Seq(("A", "2024-01-01", "Return", 0.01),
      ("A", "2024-01-02", "Return", 0.02))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val u = Performance.ulcerIndex(up).head
    assert(u.getAs[Double]("ulcer_index") == 0.0)
    assert(u.isNullAt(u.fieldIndex("martin_ratio")))
  }

  test("streaks: maximal win/loss runs, flat days break both " +
    "(perf_streaks)") {
    val series = Seq(
      ("2024-01-01", 0.01), ("2024-01-02", 0.02), ("2024-01-03", 0.01),
      ("2024-01-04", -0.01), ("2024-01-05", -0.02),
      ("2024-01-06", 0.0), // flat: breaks the next win run
      ("2024-01-07", 0.01))
      .map { case (d, r) => ("A", d, "Return", r) }
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val s = Performance.streaks(series).head
    assert(s.getAs[Long]("n_days") == 7L)
    assert(s.getAs[Long]("max_win_streak") == 3L)
    assert(s.getAs[Long]("max_loss_streak") == 2L)
    // all-flat series: both streaks 0
    val flat = Seq(("A", "2024-01-01", "Return", 0.0))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val f = Performance.streaks(flat).head
    assert(f.getAs[Long]("max_win_streak") == 0L)
    assert(f.getAs[Long]("max_loss_streak") == 0L)
  }

  test("riskParityCombine: weights ∝ 1/σ normalized; flat book raises " +
    "(port2)") {
    // book A: ±0.02 alternating (σ small); book B: ±0.06 (3× the vol)
    def mk(scale: Double) = (1 to 8).map(i =>
      ("A", f"2024-01-0$i", "Return", if (i % 2 == 0) scale else -scale))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val a = mk(0.02); val b = mk(0.06)
    val out = Performance.riskParityCombine(Seq(a, b))
      .orderBy("date").collect()
    val wa = out.head.getAs[Double]("weight_0")
    val wb = out.head.getAs[Double]("weight_1")
    // 3× vol → 1/3 the weight: wa = 0.75, wb = 0.25
    assert(math.abs(wa - 0.75) < 1e-6 && math.abs(wb - 0.25) < 1e-6)
    // combined day 2: 0.75·0.02 + 0.25·0.06 = 0.03
    assert(out(1).getAs[Double]("combined_return") == 0.03)
    val flat = Seq(("A", "2024-01-01", "Return", 0.01),
      ("A", "2024-01-02", "Return", 0.01))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    intercept[graft.ParameterError](
      Performance.riskParityCombine(Seq(a, flat)))
    intercept[IllegalArgumentException](
      Performance.riskParityCombine(Seq(a)))
  }

  test("financingCosts: carry on the borrowed fraction only, weekend " +
    "gap charges 3 days (perf_financing)") {
    val m = Seq(
      // Friday: 2× gross → borrowed 1×
      ("A", "2024-01-05", "AbsExposure", 1.2),
      ("B", "2024-01-05", "AbsExposure", 0.8),
      // Monday (3-day gap): 0.9 gross → nothing borrowed
      ("A", "2024-01-08", "AbsExposure", 0.9),
      ("A", "2024-01-08", "Return", 9.9)) // other fields ignored
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val out = Performance.financingCosts(m, rate = 0.06)
      .collect().map(r => r.getAs[java.sql.Date]("date").toString -> r).toMap
    val fri = out("2024-01-05")
    assert(fri.getAs[Double]("gross_leverage") == 2.0)
    assert(fri.getAs[Long]("days") == 1L)
    assert(fri.getAs[Double]("financing") ==
      math.rint(1.0 * 0.06 / 360.0 * 1e6) / 1e6)
    val mon = out("2024-01-08")
    assert(mon.getAs[Long]("days") == 3L)
    assert(mon.getAs[Double]("financing") == 0.0) // under the threshold
    intercept[IllegalArgumentException](
      Performance.financingCosts(m, rate = -0.01))
  }

  test("crossCorrelation: a one-day-lagged book peaks at lag +1 " +
    "(perf_ccf)") {
    val b = Seq(0.01, 0.02, -0.01, 0.03)
    // r_t = b_{t-1}: the portfolio replays yesterday's benchmark move
    val r = 0.05 +: b.dropRight(1)
    val m = (1 to 4).flatMap { t =>
      Seq(("A", f"2024-01-0$t", "Return", r(t - 1)),
        ("1", f"2024-01-0$t", "Benchmark", b(t - 1)))
    }.toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val out = Performance.crossCorrelation(m, maxLag = 1)
      .collect().map(row => row.getAs[Long]("lag") ->
        (row.getAs[Long]("n"), row.getAs[Double]("ccf"))).toMap
    assert(out.keySet == Set(-1L, 0L, 1L))
    assert(out(1L) == ((3L, 1.0))) // perfect correlation one day back
    assert(out(0L)._1 == 4L && out(0L)._2 < 1.0)
    intercept[IllegalArgumentException](
      Performance.crossCorrelation(m, maxLag = 0))
  }

  test("riskContributions: covariance shares telescope to 1; corr to " +
    "portfolio golden (perf_riskcontrib)") {
    val ra = Seq(0.06, -0.03, 0.01); val rb = Seq(0.04, -0.02, 0.01)
    val p = ra.zip(rb).map { case (x, y) => x + y }
    def mean(xs: Seq[Double]) = xs.sum / xs.length
    def cov(xs: Seq[Double], ys: Seq[Double]) =
      mean(xs.zip(ys).map { case (x, y) => x * y }) - mean(xs) * mean(ys)
    val out = Performance.riskContributions(melt)
      .collect().map(r => r.getString(0) -> r).toMap
    val shareA = cov(ra, p) / cov(p, p)
    assert(math.abs(out("A").getAs[Double]("risk_share") - shareA) < 1e-6)
    assert(math.abs(out("A").getAs[Double]("risk_share") +
      out("B").getAs[Double]("risk_share") - 1.0) < 2e-6)
    val corrA = cov(ra, p) / math.sqrt(cov(ra, ra) * cov(p, p))
    assert(math.abs(out("A").getAs[Double]("corr_port") - corrA) < 1e-6)
    assert(out("A").getAs[Long]("n_days") == 3L)
  }

  test("seasonality: ISO-weekday grouping, exact means and hit rates " +
    "(perf_seasonality)") {
    // 2024-01-01 and 2024-01-08 are Mondays; 2024-01-02 a Tuesday
    val m = Seq(
      ("A", "2024-01-01", "Return", 0.1),
      ("A", "2024-01-08", "Return", 0.2),
      ("A", "2024-01-02", "Return", -0.05))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val out = Performance.seasonality(m)
      .collect().map(r => r.getAs[Long]("day_of_week") ->
        (r.getAs[Long]("n_days"), r.getAs[Double]("mean_return"),
          r.getAs[Double]("hit_rate"))).toMap
    assert(out(1L) == ((2L, 0.15, 1.0)))
    assert(out(2L) == ((1L, -0.05, 0.0)))
    assert(out.size == 2)
  }

  test("concentration: per-date HHI and effective position count from " +
    "AbsWeight rows (perf_hhi)") {
    val m = Seq(
      // d1: weights 0.5/0.5 → HHI 0.5, effective 2
      ("A", "2024-01-01", "AbsWeight", 0.5),
      ("B", "2024-01-01", "AbsWeight", 0.5),
      // d2: concentrated 1.0 → HHI 1, effective 1 (zero weight ignored)
      ("A", "2024-01-02", "AbsWeight", 1.0),
      ("B", "2024-01-02", "AbsWeight", 0.0),
      // other fields must be ignored
      ("A", "2024-01-01", "Return", 9.9))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val out = Performance.concentration(m)
      .collect().map(r => r.getAs[java.sql.Date]("date").toString -> r).toMap
    assert(out("2024-01-01").getAs[Long]("n_positions") == 2L)
    assert(out("2024-01-01").getAs[Double]("hhi") == 0.5)
    assert(out("2024-01-01").getAs[Double]("effective_n") == 2.0)
    assert(out("2024-01-02").getAs[Long]("n_positions") == 1L)
    assert(out("2024-01-02").getAs[Double]("hhi") == 1.0)
    assert(out("2024-01-02").getAs[Double]("effective_n") == 1.0)
  }

  test("momentStats: raw-moment algebra goldens; flat series → null " +
    "skew/kurt (perf_moments)") {
    val r = Seq(0.10, -0.05, 0.02)
    val mu = (r.map(x => math.rint(x * 1e12)).sum / 1e12) / 3
    val a2 = r.map(x => x * x).sum / 3
    val a3 = r.map(x => x * x * x).sum / 3
    val a4 = r.map(x => x * x * x * x).sum / 3
    val m2 = a2 - mu * mu
    val m3 = a3 - 3 * mu * a2 + 2 * mu * mu * mu
    val m4 = a4 - 4 * mu * a3 + 6 * mu * mu * a2 - 3 * math.pow(mu, 4)
    val s = Performance.momentStats(melt).head
    assert(s.getAs[Long]("n_days") == 3L)
    assert(math.abs(s.getAs[Double]("mean") - mu) < 1e-6)
    assert(math.abs(s.getAs[Double]("skewness") - m3 / math.pow(m2, 1.5)) < 1e-5)
    assert(math.abs(s.getAs[Double]("excess_kurtosis") - (m4 / (m2 * m2) - 3)) < 1e-5)
    val flat = Seq(("A", "2024-01-01", "Return", 0.01),
      ("A", "2024-01-02", "Return", 0.01))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    val f = Performance.momentStats(flat).head
    assert(f.getAs[Double]("mean") == 0.01)
    assert(f.isNullAt(f.fieldIndex("skewness")))
    assert(f.isNullAt(f.fieldIndex("excess_kurtosis")))
  }

  // ---- the shared per-date series: one materialization per results
  // frame, read by every measure

  /** A 40-date melt: two sids' Return rows plus one Benchmark row per
    * date. Every call builds a NEW results frame. */
  private def tearSheetMelt(): DataFrame =
    (0 until 40).flatMap { d =>
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString
      val b = math.rint(math.sin(d * 0.7) * 1e6) / 1e8
      Seq(("A", date, "Return", b * 1.5 + 0.001 * (d % 3)),
        ("B", date, "Return", 0.003 - 0.002 * (d % 5)),
        ("1", date, "Benchmark", b))
    }.toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))

  private val tearSheet: Seq[(String, DataFrame => DataFrame)] = Seq(
    "summary" -> (Performance.summary(_)),
    "dailySeries" -> (Performance.dailySeries(_)),
    "drawdowns" -> (Performance.drawdowns(_)),
    "vsBenchmark" -> (Performance.vsBenchmark(_)),
    "rollingBeta" -> (Performance.rollingBeta(_, 5)),
    "activeStats" -> (Performance.activeStats(_)))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("shared series: every measure returns the same rows whether the " +
    "calls share one results frame or each gets a fresh one") {
    val shared = tearSheetMelt()
    for ((name, measure) <- tearSheet) {
      val viaShared = rowsOf(measure(shared))
      assert(viaShared.nonEmpty, name)
      assert(viaShared == rowsOf(measure(tearSheetMelt())), name)
    }
  }

  test("shared series: after the first measure, further measures on the " +
    "same results frame start no job that scans the price panel") {
    val dir = java.nio.file.Files.createTempDirectory("perf_shared").toString
    Seq(("A", "2024-01-01", 10.0), ("A", "2024-01-02", 11.0),
      ("A", "2024-01-03", 9.0), ("A", "2024-01-04", 10.0),
      ("B", "2024-01-01", 20.0), ("B", "2024-01-02", 19.0),
      ("B", "2024-01-03", 21.0), ("B", "2024-01-04", 20.0))
      .toDF("sid", "date", "close").withColumn("date", to_date($"date"))
      .write.mode("overwrite").parquet(s"$dir/panel")
    object S extends graft.pipeline.Strategy {
      val code = "perf-shared"
      def pricesToSignals(p: DataFrame) =
        p.withColumn("signal", (col("close") < 20).cast("int"))
    }
    val results = graft.pipeline.Backtest.run(S,
      spark.read.parquet(s"$dir/panel"))
    val sc = spark.sparkContext
    val recordsRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          recordsRead.addAndGet(m.inputMetrics.recordsRead))
    }
    sc.addSparkListener(listener)
    try {
      Performance.summary(results).collect()
      org.apache.spark.TestBus.drain(sc)
      assert(recordsRead.get > 0, "the first measure should scan the panel")
      recordsRead.set(0)
      Performance.dailySeries(results).collect()
      Performance.drawdowns(results).collect()
      Performance.ratios(results).collect()
      org.apache.spark.TestBus.drain(sc)
      assert(recordsRead.get == 0,
        s"later measures re-read ${recordsRead.get} panel records")
    } finally sc.removeSparkListener(listener)
  }

  test("shared series: an unpersist-everything + clearCache sweep between " +
    "two measures on one frame changes no rows") {
    val frame = tearSheetMelt()
    val before = rowsOf(Performance.summary(frame))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
    assert(rowsOf(Performance.vsBenchmark(frame)) ==
      rowsOf(Performance.vsBenchmark(tearSheetMelt())))
    assert(rowsOf(Performance.summary(frame)) == before)
  }

  test("shared series: the MaxAbsReturn guard fires when the measure is " +
    "BUILT; several Benchmark rows per date raise in vsBenchmark, not in " +
    "summary") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    val corrupted = Seq(
      ("A", "2024-01-01", "Return", 0.06),
      ("B", "2024-01-02", "Return", 1.0e7))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    // no action: building the measure materializes the series
    val e = intercept[Exception](Performance.summary(corrupted))
    assert(messages(e).filter(_ != null).mkString
      .contains("pico-summation bound"))
    // a failed materialization caches nothing — it raises again
    intercept[Exception](Performance.dailySeries(corrupted))

    val intradayish = Seq(
      ("A", "2024-01-01", "Return", 0.02),
      ("1", "2024-01-01", "Benchmark", 0.01),
      ("1", "2024-01-01", "Benchmark", 0.02))
      .toDF("sid", "date", "field", "value")
      .withColumn("date", to_date($"date"))
    assert(Performance.summary(intradayish).head.getAs[Long]("n_days") == 1L)
    val built = Performance.vsBenchmark(intradayish) // builds fine …
    val e2 = intercept[Exception](built.head) // … and raises when run
    assert(messages(e2).filter(_ != null).mkString.contains("needs daily"))
  }
}
