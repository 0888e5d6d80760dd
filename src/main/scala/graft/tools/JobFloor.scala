package graft.tools

import org.apache.spark.sql.functions._

/** Scratch probe: the fixed per-JOB and per-STAGE overhead of local
  * mode — the denominator behind the catalog's sub-0.5 s query floor.
  * Times (warm): an empty 1-task job, a 32-task no-shuffle job, a
  * 1-exchange aggregate under AQE, and the same with AQE off. */
object JobFloor {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = LocalIo.session(cpus)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def bench(name: String, n: Int)(body: => Unit): Unit = {
      (1 to 5).foreach(_ => body) // warm
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => body)
      val ms = (System.nanoTime() - t0) / 1e6 / n
      println(f"[jobfloor] $name%-36s $ms%8.2f ms/op")
    }
    bench("range1.count (1 task, no shuffle)", 60) {
      spark.range(1).count(): Unit
    }
    bench("range(1e5,32p).count (32 tasks)", 60) {
      spark.range(0, 100000, 1, 32).count(): Unit
    }
    bench("agg-1-exchange AQE on", 40) {
      spark.range(0, 100000, 1, 32).toDF("id")
        .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)))
        .count(): Unit
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    bench("agg-1-exchange AQE off", 40) {
      spark.range(0, 100000, 1, 32).toDF("id")
        .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)))
        .count(): Unit
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    bench("2-exchange chain AQE on", 40) {
      spark.range(0, 100000, 1, 32).toDF("id")
        .repartition(32, col("id"))
        .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)).as("c"))
        .count(): Unit
    }
    spark.stop()
  }
}
