package graft.tools
import graft.Checkpoint._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** One-off diagnostic: band-bucket occupancy of the banded simhash path
  * on the sparse corpus — how much candidate mass the maxBucket guard
  * drops, and what the blocked 40-bit keys see instead. */
object BucketStats {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fp = DedupBench.sparseCorpus(spark, n)
      .select(col("doc_id"),
        graft.functions.SimHash.simhashNative(col("text"), 64).as("fp"))
      .checkpointed(eager = true, keepAqe = true)
    def stats(name: String, keys: Seq[org.apache.spark.sql.Column]): Unit = {
      val b = fp.select(col("doc_id"), posexplode(array(keys: _*)).as(Seq("band", "key")))
        .groupBy("band", "key").agg(count(lit(1)).as("c"))
      val r = b.agg(
        sum(col("c") * (col("c") - 1) / 2).as("pairs"),
        sum(when(col("c") > 10000, col("c") * (col("c") - 1) / 2)
          .otherwise(0L)).as("pairs_dropped"),
        sum(when(col("c") > 10000, 1L).otherwise(0L)).as("buckets_over"),
        max(col("c")).as("max_bucket"), count(lit(1)).as("n_buckets")).head()
      println(s"[bucketstats] $name pairs=${r.get(0)} dropped=${r.get(1)} over=${r.get(2)} max=${r.get(3)} buckets=${r.get(4)}")
    }
    val mask8 = (1L << 8) - 1
    stats("banded8", (0 until 8).map(b => shiftright(col("fp"), b * 8).bitwiseAND(mask8)))
    val combos = (0 until 8).combinations(5).toSeq
    stats("blocked56", combos.map(c => c.zipWithIndex
      .map { case (b, j) => shiftleft(shiftright(col("fp"), b * 8).bitwiseAND(mask8), j * 8) }
      .reduce(_.bitwiseOR(_))))
    spark.stop()
  }
}
