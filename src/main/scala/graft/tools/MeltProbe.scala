package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.panel.Panel
import graft.panel.Panel.Keys
import graft.pipeline.{Backtest, Strategy}

/** Scratch probe (not part of the library surface): times the backtest
  * melt chain piecewise to attribute the ~10-26 CPU-s stages the r13
  * profiling found in the perf/ic family. Each step is noop-sunk so
  * the sink never confounds (guide 1.4). */
object MeltProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalIo.session("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    implicit val k: Keys = Keys(sid = "sid", order = Seq("date"))

    def supplierPanel: DataFrame =
      spark.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
        .agg(max(col("l_extendedprice")).as("close"))

    object BenchmarkedDemo extends Strategy {
      val code = "perf-bench"
      override def keys: Keys = k
      override def benchmarkSid: Option[String] = Some("1")
      def pricesToSignals(prices: DataFrame): DataFrame =
        prices.withColumn("signal", (col("close") < 30000).cast("int"))
    }
    object Demo extends Strategy {
      val code = "demo"
      override def keys: Keys = k
      def pricesToSignals(prices: DataFrame): DataFrame =
        prices.withColumn("signal", (col("close") < 30000).cast("int"))
    }

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(name: String)(body: => Unit): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        body
        val s = (System.nanoTime() - t0) / 1e9
        if (i == 3) println(f"[meltprobe] $name%-32s $s%6.2f s (rep$i)")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
    }

    time("scan.noop") { noop(spark.read.parquet(s"$dir/lineitem.parquet")) }
    time("scan3cols.noop") {
      noop(spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_suppkey"), col("l_shipdate"), col("l_extendedprice")))
    }
    time("scan3+todate.noop") {
      noop(spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_suppkey"), to_date(col("l_shipdate")).as("d"),
          col("l_extendedprice")))
    }
    time("panel.noop") { noop(supplierPanel) }
    time("panelPrepart.noop") {
      noop(spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_suppkey"), col("l_shipdate"), col("l_extendedprice"))
        .repartition(32, col("l_suppkey"))
        .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
        .agg(max(col("l_extendedprice")).as("close")))
    }
    time("signals.noop") { noop(Demo.signalsWithCache(supplierPanel, false)) }
    time("weights.noop") {
      noop(Demo.signalsToTargetWeights(Demo.signalsWithCache(supplierPanel, false)))
    }
    time("positions+gross.noop") {
      val p0 = Demo.signalsToTargetWeights(Demo.signalsWithCache(supplierPanel, false))
      noop(Demo.positionsToGrossReturns(Demo.targetWeightsToPositions(p0)))
    }
    time("melt(demo).noop") { noop(Backtest.run(Demo, supplierPanel)) }
    time("melt(demo).count") { Backtest.run(Demo, supplierPanel).count(): Unit }
    time("melt(bench).noop") {
      noop(Backtest.run(BenchmarkedDemo,
        supplierPanel.withColumn("sid", col("sid").cast("string"))))
    }
    time("ccf.count") {
      graft.perf.Performance.crossCorrelation(
        Backtest.run(BenchmarkedDemo,
          supplierPanel.withColumn("sid", col("sid").cast("string")))
          .withColumn("value",
            when(col("field") === "Return", col("value") * 0.001)
              .otherwise(col("value")))).count(): Unit
    }
    spark.stop()
  }
}
