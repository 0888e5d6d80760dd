package graft.tools

import graft.Checkpoint._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.Evaluation

/** ML-eval scale bench: 10M rows of CONTINUOUS scores through the
  * classification-eval family — the adversarial input for the
  * single-task histogram-window class the r8/r9 PrefixSum sweep
  * closed (a continuous scorer makes "distinct scores" ≈ rows, so any
  * unpartitioned cumulative window over the score histogram is a
  * table-sized one-task sort). The EventsBench-bot discipline applied
  * to the eval family: each op reports wall seconds AND the longest
  * single task — a flat task profile (max task ≪ wall) is the
  * regression evidence; one dominant task is exactly the bug.
  *
  * Scores are deterministic pseudo-uniform doubles with ~n distinct
  * values (knuth-hash of the row id over a 2³¹ space); labels are
  * score-correlated via a second hash so AUC/AP are non-trivial.
  *
  * Usage: runMain graft.tools.ScoreBench [nRows ...] (default 10M)
  */
object ScoreBench {

  def scored(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val h = pmod(id * 2654435761L, lit(2147483647L))
    val h2 = pmod(id * 40503L + 7919L, lit(1000L))
    spark.range(n).select(
      (h.cast("double") / 2147483647.0).as("prediction"),
      // P(label=1 | score s) ≈ 0.1 + 0.8·s — informative, not separable
      when(h2 < pmod(id * 2654435761L, lit(2147483647L)) * 800L /
        2147483647L + 100L, 1L).otherwise(0L).as("label"))
  }

  def main(args: Array[String]): Unit = {
    val sizes = if (args.isEmpty) Seq(10000000L) else args.toSeq.map(_.toLong)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // longest single task per measured op — the flatness evidence —
    // plus its stage name for attribution
    val probe = TaskProfile.install(spark)

    def run(name: String, df: => DataFrame)(implicit keep: Set[Int]): Unit = {
      // min of 2: the first pass pays codegen + input page-in
      val (wall, task, stage) = (1 to 2).map { _ =>
        probe.reset()
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t0) / 1e9
        // sweep op-created checkpoint state but SPARE the shared input
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => keep(id) }
          .values.foreach(_.unpersist(false))
        val (t, s) = probe.snapshot
        (w, t, s)
      }.minBy(_._1)
      println(f"[scorebench] $name%-22s ${wall}%7.2f s   max-task " +
        f"${task / 1000.0}%6.2f s  (${stage.trim})")
    }

    sizes.foreach { n =>
      val preds = scored(spark, n).checkpointed(eager = true, keepAqe = true) // input off the clock
      implicit val keep: Set[Int] =
        spark.sparkContext.getPersistentRDDs.keySet.toSet
      println(s"[scorebench] n=$n distinct-scores≈" +
        preds.agg(approx_count_distinct(col("prediction"))).head().getLong(0))
      run("classification", Evaluation.classificationMetrics(preds))
      run("avg_precision", Evaluation.averagePrecision(preds))
      run("pr_curve", Evaluation.prCurve(preds))
      run("auc_delong", Evaluation.aucDelong(preds))
      run("gains_table", Evaluation.gainsTable(preds))
      run("ks_drift", Evaluation.ksDrift(
        preds.where(col("label") === 1), preds.where(col("label") === 0),
        "prediction"))
      preds.unpersist()
    }
    spark.stop()
  }
}
