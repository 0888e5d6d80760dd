package graft

import org.apache.spark.sql.functions._

import graft.panel.Skew

/** Salted-join equivalence: spreading a hot key across salt buckets must
  * not change join semantics, and the shuffle must actually partition on
  * (key, salt) so the hot key's rows land on several reducers. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin: identical results to the plain join on skewed data") {
    // 90% of fact rows share one hot key
    val fact = spark.range(20000).select(
      when(col("id") % 10 =!= 0, 7L).otherwise(col("id") % 50).as("sid"),
      col("id").as("row_id"))
    val dim = spark.range(50).select(
      col("id").as("sid"), concat(lit("S"), col("id")).as("symbol"))

    val plain = fact.join(dim, "sid")
    val salted = Skew.saltedJoin(fact, dim, "sid", salts = 8)

    assert(salted.count() == plain.count())
    // row-level equivalence: same (row_id, symbol) pairs
    val diff = salted.select("row_id", "symbol")
      .exceptAll(plain.select("row_id", "symbol")).count()
    assert(diff == 0)

    // the shuffled join keys include the salt
    val planStr = salted.queryExecution.executedPlan.toString
    assert(planStr.contains("__salt"))
  }

  test("saltedJoin: left join keeps unmatched fact rows exactly once") {
    val fact = Seq((1L, "a"), (2L, "b"), (99L, "zz")).toDF("sid", "v")
    val dim = Seq((1L, "S1"), (2L, "S2")).toDF("sid", "symbol")
    val out = Skew.saltedJoin(fact, dim, "sid", salts = 4, joinType = "left")
      .collect().map(r => r.getAs[String]("v") -> Option(r.getAs[String]("symbol"))).toMap
    assert(out == Map("a" -> Some("S1"), "b" -> Some("S2"), "zz" -> None))
  }

  test("saltedJoin: a hot key made of identical fact rows still spreads " +
    "over several reducers") {
    val fact = Seq.fill(400)((7L, 1L)).toDF("sid", "v")
    val dim = Seq((7L, "S7")).toDF("sid", "symbol")
    // AQE off and no broadcast: the join runs on the (sid, __salt) shuffle
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Skew.saltedJoin(fact, dim, "sid", salts = 8)
      assert(joined.count() == 400)
      assert(joined.select(spark_partition_id()).distinct().count() > 1)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }
}
