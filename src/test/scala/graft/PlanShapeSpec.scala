package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.panel.Panel
import graft.sim.Similarity
import graft.text.Packing

/** Physical-plan shape tripwires for the round-4 operator families
  * (PLANS.md is the prose record; these assertions catch drift). Each
  * test pins the property that makes the operator scale — shuffle
  * count, broadcast direction, top-k pushdown — not the full plan
  * text.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  /** Final AQE plan (post-execution), minus the Initial Plan echo. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def count(plan: String, token: String): Int =
    token.r.findAllIn(plan).size

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"),
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "completely different words in this document body here"))
    .toDF("doc_id", "text")

  test("pk1: packing shuffles ONCE (hash exchange on shard) — no global " +
    "sort, no second exchange") {
    val plan = finalPlan(Packing.packSequences(docs, "doc_id", "text",
      budget = 8, shards = 2))
    // the per-shard running sum needs exactly one hash exchange; a
    // global-stream regression would add a single-partition exchange
    assert(count(plan, "Exchange hashpartitioning") == 1, plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("dd14: redaction joins the corpus gram stream against a BROADCAST " +
    "distinct ref-gram set — never a pair join of the two corpora") {
    val ref = Seq((100L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val plan = finalPlan(
      Dedup.redactContaminated(docs, ref, n = 5))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // corpus tokens must reach the collision join directly — any
    // SortMergeJoin here would mean the ref side stopped broadcasting
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("sim7: IVFADC search broadcasts the query side and caps per-query " +
    "rows with the Spark-4 top-k pushdown (WindowGroupLimit)") {
    val vecs = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)), (1L, Seq(0f, 0f, 10f, 10f)),
      (2L, Seq(10f, 10f, 0f, 0f)), (3L, Seq(10f, 10f, 10f, 10f)),
      (4L, Seq(1f, 1f, 1f, 1f)), (5L, Seq(9f, 9f, 9f, 9f)))
      .toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(vecs, k = 2, iters = 2)
    val codebook = Seq(
      (0, 0, Seq(0f, 0f)), (0, 1, Seq(10f, 10f)),
      (1, 0, Seq(0f, 0f)), (1, 1, Seq(10f, 10f)))
      .toDF("subspace", "code", "subcentroid")
    val plan = finalPlan(Similarity.ivfadcTopK(
      vecs.where($"vec_id" < 2), vecs, centroids, codebook, k = 3))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("ic1/fm1: the signal-eval family is agg+window only — no joins " +
    "anywhere in the plan") {
    implicit val k: graft.panel.Panel.Keys = graft.panel.Panel.eod
    val panel = Seq(
      ("A", "2024-01-01", 10.0, 0.01), ("B", "2024-01-01", 20.0, 0.02),
      ("A", "2024-01-02", 11.0, 0.03), ("B", "2024-01-02", 21.0, 0.04))
      .toDF("sid", "date", "close", "fwd")
    val ic = graft.perf.Signals.infoCoefficient(panel, col("close"), col("fwd"))
    assert(!finalPlan(ic).contains("Join"), finalPlan(ic))
    val fm = graft.perf.FactorModel.crossSectionalRegression(
      panel, col("fwd"), col("close"), col("close") * 2 + col("fwd"))
    assert(!finalPlan(fm).contains("Join"), finalPlan(fm))
  }

  test("adj1: back-adjustment is union+window — no joins (the actions " +
    "ride the bar stream)") {
    implicit val k: graft.panel.Panel.Keys = graft.panel.Panel.eod
    val panel = Seq(("A", java.sql.Date.valueOf("2024-01-01"), 10.0))
      .toDF("sid", "date", "close")
    val actions = Seq(("A", java.sql.Date.valueOf("2024-02-01"), 0.5))
      .toDF("sid", "date", "factor")
    val plan = finalPlan(graft.panel.Adjustments.backAdjust(panel, actions))
    assert(!plan.contains("Join"), plan)
  }

  test("gr2: triangle counting is equi-joins only — no broadcast " +
    "nested loop, no cartesian (the theta-join scale killers)") {
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("src", "dst")
    val plan = finalPlan(graft.graph.PageRank.triangles(e))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("j10: tolerance as-of is union+window — ONE hash exchange on " +
    "the key, never a range join") {
    val l = Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L))
      .toDF("user_id", "ts", "event_id")
    val r = Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 5.0))
      .toDF("user_id", "ts", "value")
    val plan = finalPlan(
      graft.panel.Intervals.asofJoin(l, r, Seq("user_id")))
    assert(!plan.contains("Join"), plan) // no join operator AT ALL
    assert(count(plan, "Exchange hashpartitioning") <= 2, plan)
  }

  test("ev9: active users is dedup + window + explode — no data-volume " +
    "join (the only join is the one-row max-date broadcast)") {
    val ev = Seq((1L, 7L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val plan = finalPlan(graft.events.Events.activeUsers(ev, window = 7))
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the scalar max-date crossJoin broadcasts its ONE row; a second
    // BNLJ would mean a real frame stopped broadcasting
    assert(count(plan, "BroadcastNestedLoopJoin") <= 1, plan)
    assert(plan.contains("Generate explode"), plan) // the interval sweep
  }

  test("ic5: the bootstrap cross join broadcasts the B-row replica " +
    "side — the bounded frame never shuffles against it") {
    val ics = Seq(("2024-01-01", 0.1), ("2024-01-02", 0.2))
      .toDF("date", "ic")
    val plan = finalPlan(graft.perf.Signals.icBootstrap(ics, b = 8))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim12: diversity is explode + two aggs — zero joins (the " +
    "closed form replaces the O(n²) pair join)") {
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val plan = finalPlan(Similarity.diversity(vecs))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Generate posexplode"), plan)
  }

  test("ev16: gini never sorts users — the only window partitions by " +
    "event type over the count HISTOGRAM, and no user-keyed exchange " +
    "feeds a window") {
    import java.sql.Timestamp
    val ev = (1L to 40L).map(i => (i, i % 7,
      Timestamp.valueOf("2024-01-01 10:00:00"), "view"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val plan = finalPlan(graft.events.Events.activityGini(ev))
    // two hash aggregations before the window: (type,user) then (type,n)
    assert(count(plan, "HashAggregate") >= 4, plan) // partial+final × 2+
    // the window's partition key is the event type, never the user
    assert(!plan.contains("windowspecdefinition(user_id"), plan)
  }

  test("ev17: rfm joins bins back via BROADCAST — user volume never " +
    "shuffles against the histograms") {
    import java.sql.Timestamp
    val ev = (1L to 40L).map(i => (i, i % 7,
      Timestamp.valueOf("2024-01-01 10:00:00"),
      if (i % 5 == 0) "purchase" else "view", 3.5))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val plan = finalPlan(graft.events.Events.rfmSegments(ev))
    assert(count(plan, "BroadcastHashJoin") >= 3, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("d35: order crossing is windows only — no join operator in the " +
    "plan at all") {
    val stubs = Seq(
      ("S1", "U1", "BUY", "a", 30L), ("S1", "U3", "SELL", "a", 35L))
      .toDF("sid", "account", "action", "orderRef", "totalQuantity")
    val plan = finalPlan(graft.trade.Trade.crossOrders(stubs))
    assert(!plan.contains("Join"), plan)
  }

  test("sp12: weighted sampling selects via TakeOrderedAndProject — " +
    "no global sort survives to the plan") {
    val docs = (1L to 50L).map(i => (i, i.toDouble)).toDF("doc_id", "w")
    val plan = finalPlan(
      graft.text.Sampling.weightedSample(docs, "doc_id", "w", k = 5))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("w25: rolling beta over a broadcast-joined benchmark — the panel " +
    "never sort-merge-joins the date series") {
    implicit val k: Panel.Keys = Panel.eod
    val p = (1 to 25).flatMap(t => Seq(
      ("A", f"d$t%02d", 0.01 * t), ("B", f"d$t%02d", 0.02 * t)))
      .toDF("sid", "date", "ret")
    val bench = p.where(col("sid") === "B")
      .select(col("date"), col("ret").as("bret"))
    val plan = finalPlan(Panel.withRollingBeta(
      p.join(broadcast(bench), Seq("date"), "left"),
      col("ret"), col("bret"), window = 5))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("coint1: the pair screen pivots the grid ONCE — pair moments " +
    "live in one aggregation row, never a panel self-join") {
    implicit val k: Panel.Keys = Panel.eod
    val rows = (1 to 30).flatMap(t => Seq(
      ("A", f"d$t%02d", 100.0 + t), ("B", f"d$t%02d", 50.0 + 2 * t)))
      .toDF("sid", "date", "close")
    val plan = finalPlan(
      Panel.cointegrationScreen(rows, col("close"), Seq("A", "B")))
    // residual pass rides the broadcast stats row; the panel itself is
    // never joined against another alias of itself
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("saltedJoin: result-identical to the plain join on a 2-hot-key " +
    "fact; the join re-keys on (key, salt) so the shuffle spreads") {
    import graft.panel.Skew
    val fact = (1L to 5000L)
      .map(i => (i, if (i % 5 == 0) "A" else "B", i % 97))
      .toDF("rid", "k", "v")
    val dim = Seq(("A", 10L), ("B", 20L)).toDF("k", "mult")
    val salted = Skew.saltedJoin(fact, dim, key = "k", salts = 8)
      .select(col("rid"), col("v") * col("mult"))
    val plain = fact.join(dim, "k").select(col("rid"), col("v") * col("mult"))
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    assert(salted.count() == 5000)
    // the shuffle key includes the salt: hashpartitioning(k, __salt)
    // appears in the static plan (AQE off so the exchange is visible)
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // defeat the broadcast so the salted SMJ/shuffle path is planned
      val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val p = Skew.saltedJoin(fact, dim, "k", salts = 8)
          .queryExecution.executedPlan.toString
        assert(p.contains("__salt"), p.take(2000))
        assert(p.contains("hashpartitioning(k"), p.take(2000))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }
}
