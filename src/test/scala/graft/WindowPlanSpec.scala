package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExecBase

/** Catalog-wide tripwire for the single-task-window class (the r8/r9
  * lesson): an UNPARTITIONED WindowExec moves its whole input into ONE
  * task — invisible at sf0.01, the slowest stage (or a straight OOM) at
  * 100 TB. The r8 round measured the "bounded distinct-value histogram"
  * assumption FALSE on its own data (583k distinct cents in 600k rows)
  * and rewired five operators onto graft.panel.PrefixSum; this spec
  * keeps the class closed: every catalog query is planned (AQE off) and
  * every unpartitioned window — in the FINAL plan, in any SUBQUERY, or
  * in any CHECKPOINTED SEGMENT (checkpoints truncate published plans to
  * ExistingRDD scans, so segments are observed via
  * [[Checkpoint.planProbe]]) — must be either:
  *
  *  - the PrefixSum bucket-offsets scan itself (ordering on `__psb`:
  *    occupied buckets, ≤ targetBuckets by construction), recognized
  *    structurally; or
  *  - on the per-query allowlist below, each entry carrying its
  *    one-line range-bound justification.
  *
  * Queries whose allowlist entry stops firing fail too (slack — the
  * table must shrink as windows are rewired). */
class WindowPlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries with INTENTIONAL unpartitioned windows, each over a frame
    * bounded by a RANGE or DIMENSION, not by data cardinality. Windows
    * over structurally-provable bounded inputs (a limit, a scalar
    * aggregate — see [[boundedInput]]) are auto-allowed and must NOT be
    * listed here. */
  private val allow: Map[String, String] = Map(
    // calendar frames: one row per trading day / calendar day — grows
    // with TIME (≈250/yr), not with data volume
    "coint1_pairs" -> "per-date pair spread series",
    "d19_benchmark" -> "benchmark daily series",
    "d19i_benchmark_time" -> "benchmark daily series",
    "perf_active" -> "daily return series",
    "perf_attrib" -> "daily return series",
    "perf_benchmark" -> "daily return series",
    "perf_capture" -> "daily return series",
    "perf_ccf" -> "daily return series",
    "perf_rollbeta" -> "daily return series",
    // survival-analysis frames: one row per distinct DURATION IN DAYS
    // ≤ the observation window (datediff output)
    "ev11_kaplan_meier" -> "distinct survival durations (days)",
    "ev25_nelson_aalen" -> "distinct survival durations (days)",
    "ev29_logrank" -> "distinct survival durations (days)",
    "ev31_rmst" -> "distinct durations + distinct event days",
    // dimension / bin / grid frames
    "a16_pareto" -> "part-brand dimension",
    "ct1_chisq" -> "contingency cells (dim1 × dim2)",
    "d23_child_orders" -> "today's order list (≤ universe sids)",
    "d28_twap_slices" -> "today's order list (≤ universe sids)",
    "d32_almgren" -> "today's order list (≤ universe sids)",
    "dd26_lsh_plan" -> "literal (bands × rows-per-band) grid",
    "dq4_benford" -> "nine leading digits",
    "ev26_qini" -> "deciles + two-level bucket-rank frame",
    "ml14_psi" -> "PSI bins",
    "ml27_gains" -> "deciles",
    "ml30_woe_iv" -> "WOE bucket-rank frame (two-level)",
    "ml35_offpolicy" -> "action set",
    "ml37_psi_trend" -> "PSI bins × weeks",
    "pipeline_curate" -> "quality-score bins",
    "sp3_mixture_rates" -> "source dimension",
    "sp5_token_budget" -> "quality-score bins",
    "sp7_temperature" -> "source dimension",
    // documented metadata-scale / pruned frames
    "cp1_compaction_plan" ->
      "file manifest (~800k rows/100TB at 128MB files — Layout.scala)",
    "sky1_pareto" ->
      "union of bucket skylines (lossless pre-prune — Skyline.scala)")

  /** The PrefixSum two-level scan's own offsets window: the only
    * unpartitioned window it plans orders the occupied-bucket frame by
    * the bucket key `__psb` (≤ value-range/width or targetBuckets rows
    * by construction — the helper's documented contract). */
  private def isPrefixSumOffsets(w: WindowExecBase): Boolean =
    w.orderSpec.exists(_.child.references.exists(_.name == "__psb"))

  /** Structural boundedness of a window's INPUT: true when every row
    * of the input provably flows through a global limit/TakeOrdered, a
    * grouping-free (scalar) aggregate, a literal local relation, or a
    * literal Range — recursing through single-child operators, and
    // through multi-child ones only when ALL inputs are bounded
    * (bounded × bounded stays bounded; a join with one unbounded side
    * doesn't). Covers the k-row seed frames (orderBy.limit(k) before a
    * row_number) and topV vocabulary ranks without per-query entries. */
  private def boundedInput(p: SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.isEmpty => true
    // a groupBy whose every key is a DATE produces a calendar-bounded
    // frame (≈250 trading days/yr — grows with TIME, not data volume),
    // so the "daily return series" class is bounded by construction
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.forall(
          _.dataType == org.apache.spark.sql.types.DateType) => true
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case _: org.apache.spark.sql.execution.RangeExec => true
    case l if l.nodeName.contains("Limit") ||
        l.nodeName.contains("TakeOrdered") => true
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      boundedInput(r.child)
    case n if n.children.nonEmpty => n.children.forall(boundedInput)
    case _ => false
  }

  private def unpartitioned(p: SparkPlan): Seq[String] = {
    val here = p.collect {
      case w: WindowExecBase if w.partitionSpec.isEmpty &&
          !isPrefixSumOffsets(w) && !boundedInput(w.child) =>
        val ord = w.orderSpec.map(_.child.references.map(_.name)
          .mkString(",")).mkString(";")
        s"${w.nodeName}[order=$ord]"
    }
    val subs = p.collect { case n if n.subqueries.nonEmpty => n.subqueries }
      .flatten.flatMap(unpartitioned)
    here ++ subs
  }

  test("no catalog query plans an unpartitioned window outside the " +
    "PrefixSum offsets shape or the justified allowlist") {
    val sc = spark.sparkContext
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val segmentHits = scala.collection.mutable.ArrayBuffer.empty[String]
    Checkpoint.planProbe = p => segmentHits ++= unpartitioned(p)
    try {
      val findings = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val dir = if (name == "s1_universes") "/root/testdata/sf0.01" else sfDir
          segmentHits.clear()
          val hits =
            try {
              val plan = fn(spark, dir).queryExecution.executedPlan
              (segmentHits.toList ++ unpartitioned(plan)).distinct
            } catch {
              case e: Throwable => List("failed to plan: " +
                Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
            }
          sc.getPersistentRDDs.values.foreach(_.unpersist(false))
          if (hits.nonEmpty && !allow.contains(name))
            Some(s"$name: ${hits.mkString(" + ")}")
          else if (hits.isEmpty && allow.contains(name))
            Some(s"$name: allowlist slack — no unpartitioned window " +
              "planned; remove the entry")
          else None
      }
      assert(findings.isEmpty, s"\n${findings.mkString("\n")}")
    } finally {
      Checkpoint.planProbe = _ => ()
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("the tripwire actually fires: an unpartitioned running total " +
    "over a catalog table is detected, in the final plan AND below a " +
    "checkpoint") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.Checkpoint._
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val bad = li.withColumn("__cum", sum(col("l_quantity")).over(
        Window.orderBy(col("l_orderkey"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      assert(unpartitioned(bad.queryExecution.executedPlan).nonEmpty)
      // below a checkpoint: the published plan is an ExistingRDD scan,
      // only the segment probe can see the window
      val segmentHits = scala.collection.mutable.ArrayBuffer.empty[String]
      Checkpoint.planProbe = p => segmentHits ++= unpartitioned(p)
      val ck = try bad.checkpointed(eager = false)
      finally Checkpoint.planProbe = _ => ()
      assert(unpartitioned(ck.queryExecution.executedPlan).isEmpty,
        "the checkpoint should have truncated the published plan")
      assert(segmentHits.nonEmpty,
        "the segment probe should have seen the window")
      // and the PrefixSum offsets shape is NOT flagged
      val ps = graft.panel.PrefixSum.inclusive(
        li.groupBy(col("l_quantity").as("__v"))
          .agg(count(lit(1)).as("__c")),
        "__v", Seq("__cum" -> "__c"))
      assert(unpartitioned(ps.queryExecution.executedPlan).isEmpty)
      // the date-keyed-aggregate rule: a daily series (groupBy over a
      // DateType key) is calendar-bounded → auto-allowed …
      val liD = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .withColumn("l_shipdate", to_date(col("l_shipdate")))
      val daily = liD.groupBy(col("l_shipdate"))
        .agg(sum(col("l_quantity")).as("__q"))
        .withColumn("__cum", sum(col("__q")).over(
          Window.orderBy(col("l_shipdate"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      assert(unpartitioned(daily.queryExecution.executedPlan).isEmpty,
        "a window over a date-keyed aggregate should be auto-allowed")
      // … but a NON-date grouping key (data-cardinality id) is NOT
      val perKey = liD.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("__q"))
        .withColumn("__cum", sum(col("__q")).over(
          Window.orderBy(col("l_orderkey"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      assert(unpartitioned(perKey.queryExecution.executedPlan).nonEmpty,
        "a window over an id-keyed aggregate must still be flagged")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }
}
