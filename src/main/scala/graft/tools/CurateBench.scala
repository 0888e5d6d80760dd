package graft.tools

import graft.Checkpoint._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.{Packing, Sampling, TextAnalysis}

/** End-to-end curation scale bench (BASELINE.md): the pipeline_curate
  * composition — ONE near-dup clustering run → soft weights → exact
  * 5-gram decontamination against an eval slice → quality × weight
  * token budget → 512-token sequence packing — over [[DedupBench]]'s
  * sparse corpus (10% of docs in true 10-doc dup clusters) at growing
  * sizes, all in one `Checkpoint.scoped` body per run.
  *
  * What the rows prove: the composed cost is the SUM of the stage
  * costs (no recompute across stages — each shared frame is
  * checkpointed once), and block-manager state returns to zero after
  * every run (the long-lived-session contract at bench scale). */
object CurateBench {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (n <- Seq(250000L, 1000000L)) {
      val docs = DedupBench.sparseCorpus(spark, n)
      docs.count() // warm generation
      val t0 = System.nanoTime()
      val packed = graft.Checkpoint.scoped(spark) {
        val clusters = Dedup.duplicateClusters(
          Dedup.nearDuplicates(docs, threshold = 0.5))
        val weights = Dedup.softDedupWeights(docs, clusters)
          .select(col("doc_id"), col("weight"))
        val clean = Dedup.decontaminateExact(
          docs.where(col("doc_id") >= 1000),
          docs.where(col("doc_id") < 1000), n = 5)
        val scored = clean.join(weights, Seq("doc_id")).checkpointed(eager = true)
        val kept = Sampling.selectByTokenBudget(scored, "doc_id",
          TextAnalysis.qualityScore(col("text")) * col("weight"),
          TextAnalysis.tokenCount(col("text")), budget = n * 10)
        Packing.packSequences(kept, "doc_id", "text",
          budget = 512, shards = 64)
      }
      val rows = packed.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val leaked = spark.sparkContext.getPersistentRDDs.size
      // release the scope's result (the caller-owned block)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      println(f"curate n=$n%8d  packed_rows=$rows%9d  ${secs}%7.1f s  " +
        f"persistent_after_run=$leaked%d")
    }
    spark.stop()
  }
}
