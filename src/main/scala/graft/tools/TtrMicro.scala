package graft.tools
import graft.Checkpoint._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis
/** Micro-bench for the per-row text-signal COLUMN forms (the native
  * GopherSignals expression covers the catalog hot path; these are the
  * public library API): sum of each signal over [[DedupBench.corpus]]
  * docs. The row that motivated [[TextAnalysis.bindOnce]]: top-2-gram
  * fraction read 420 s / 50k docs when the n-gram lambda rebuilt
  * normWords per element; 4.0 s bound. */
object TtrMicro {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = if (args.nonEmpty) args(0).toLong else 50000L
    val docs = DedupBench.corpus(spark, n).checkpointed(eager = true, keepAqe = true)
    def t(name: String)(c: org.apache.spark.sql.Column): Unit = {
      val t0 = System.nanoTime()
      docs.select(c.as("x")).agg(sum(col("x"))).head()
      println(f"[ttrmicro] $name ${(System.nanoTime()-t0)/1e9}%6.2f s")
    }
    for (_ <- 1 to 2) {
      t("ttr")(TextAnalysis.typeTokenRatio(col("text")))
      t("flesch")(TextAnalysis.fleschReadingEase(col("text")))
      t("top2gram")(TextAnalysis.topNgramFraction(col("text"), 2))
    }
    spark.stop()
  }
}
