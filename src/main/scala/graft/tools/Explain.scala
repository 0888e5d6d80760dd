package graft.tools

import org.apache.spark.sql.execution.ExplainUtils

/** Plan-inspection main: prints formatted physical plans for the
  * headline queries so shuffle/pushdown regressions are visible. A
  * checkpoint truncates the final plan to a scan of its blocks, so each
  * checkpointed segment the query builds is printed first, in build
  * order, through `graft.Checkpoint.planProbe`.
  *
  * Usage: runMain graft.tools.Explain [--no-broadcast] [query ...]
  * against the tables in SPARK_GRAFT_SF_DIR (default: the sf0.01 tier). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = LocalIo.session("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // --no-broadcast simulates the at-scale plan where no side fits in a
    // broadcast (shuffled joins, exchange reuse) — plans differ at sf0.01.
    if (args.contains("--no-broadcast"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.filterNot(_.startsWith("--")).nonEmpty)
      args.filterNot(_.startsWith("--")).toSeq
      else Seq("s1_scan_pushdown", "backtest_pipeline", "j1_broadcast_join", "d1_equal_weights")
    var segments = 0
    graft.Checkpoint.planProbe = plan => {
      segments += 1
      println(s"\n---------- checkpointed segment $segments ----------")
      ExplainUtils.processPlan(plan, (s: String) => print(s))
    }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      segments = 0
      val df = graft.SparkEntry.queries(n)(spark, dir)
      if (segments > 0) println("\n---------- final plan ----------")
      df.explain("formatted")
    }
    spark.stop()
  }
}
