package graft.tools

import graft.Checkpoint._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Image-codec scale bench (BASELINE.md): real javax.imageio PNG
  * encode→decode throughput through the typed-mapPartitions seam —
  * the per-image cost model for a 100 TB multimodal curation pass.
  *
  * Three rows per size: fixture generation + full decode with channel
  * sums ([[Multimodal.imageContent]]), decode + nearest-neighbor
  * resize ([[Multimodal.resizeImageContent]]), and the CORRUPT
  * adversarial (payloads that fail to decode must cost a rejected
  * header read each, never an exception storm or a task failure). All
  * synthetic frames generate distributed via spark.range — no driver
  * materialization anywhere. */
object MultimodalBench {

  def fixtures(spark: SparkSession, n: Long): DataFrame =
    Multimodal.imageFixture(
      spark.range(n).select(col("id").as("media_id")))

  /** n payloads that sniff as nothing and fail ImageIO decode. */
  def corrupt(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("media_id"),
      sha2(col("id").cast("string"), 256).cast("binary").as("payload"))

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val sizes = if (args.isEmpty) Seq(100000L, 500000L) else args.toSeq.map(_.toLong)
    sizes.foreach { n =>
      val fx = fixtures(spark, n).checkpointed(eager = true) // encode once, time decode alone
      val (rows, tDecode) = time(Multimodal.imageContent(fx)
        .agg(sum(col("sum_r"))).collect()(0).getLong(0))
      val (_, tResize) = time(Multimodal.resizeImageContent(fx, 16, 8)
        .agg(sum(col("sum_r"))).collect()(0).getLong(0))
      val (nullRows, tCorrupt) = time(Multimodal.imageContent(corrupt(spark, n))
        .where(col("width").isNull).count())
      // WAV rows (r7): real javax.sound.sampled encode→decode with
      // exact amplitude sums; the corrupt frame reuses the same junk
      // payloads (the decoder must reject them as nulls, not throw)
      val wav = Multimodal.wavFixture(
        spark.range(n).select(col("id").as("media_id"))).checkpointed(eager = true)
      val (wsum, tWav) = time(Multimodal.wavContent(wav)
        .agg(sum(col("sum_sq"))).collect()(0).getLong(0))
      val (wavNull, tWavCorrupt) = time(
        Multimodal.wavContent(corrupt(spark, n))
          .where(col("sample_rate").isNull).count())
      println(f"n=$n decode=${tDecode}%.2fs (${tDecode * 1e6 / n}%.1f us/img, checksum=$rows) " +
        f"resize=${tResize}%.2fs (${tResize * 1e6 / n}%.1f us/img) " +
        f"corrupt=${tCorrupt}%.2fs (rejected=$nullRows) " +
        f"wav=${tWav}%.2fs (${tWav * 1e6 / n}%.1f us/clip, sumsq=$wsum) " +
        f"wavCorrupt=${tWavCorrupt}%.2fs (rejected=$wavNull)")
      // localCheckpoint blocks register on the context, not the plan cache
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
