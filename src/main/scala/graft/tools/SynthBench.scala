package graft.tools

import org.apache.spark.sql.functions._

/** Scratch probe: fixed per-stage overhead of tiny shuffles in local
  * mode, under conf overrides (SPARK_GRAFT_CONF="k=v;k2=v2"). */
object SynthBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = LocalIo.session(cpus)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tp = TaskProfile.install(spark)
    (1 to sys.env.getOrElse("SPARK_GRAFT_SYNTH_REPS", "6").toInt).foreach { i =>
      tp.reset()
      val t0 = System.nanoTime()
      val c = spark.range(100000).toDF("id")
        .repartition(32, col("id"))
        .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)).as("c"))
        .repartition(32, col("k"))
        .groupBy((col("k") % 10).as("k2")).agg(sum(col("c")).as("s"))
        .count()
      val wall = (System.nanoTime() - t0) / 1e6
      Thread.sleep(150)
      println(f"[synth] rep$i $wall%8.1f ms ($c)")
      if (i == 6) tp.topStages(8).foreach { case (nm, mx, cnt, mean) =>
        println(f"[synthstage] $nm%-55s max ${mx}%5d ms n=$cnt%3d mean ${mean}%5d ms")
      }
    }
    spark.stop()
  }
}
