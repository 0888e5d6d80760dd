package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Queries run
  * SEQUENTIALLY on purpose: a 4-thread pool variant was measured 5×
  * slower end-to-end (concurrent small-job scheduling + codegen-cache
  * contention in one local session), not faster. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query names (local iteration
    // only — the driver always passes two)
    val (sfDir, outDir, only) = args match {
      case Array(a, b) => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
    }
    // a typo'd subset name would otherwise run nothing and read as a pass
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
    // shuffle-scratch I/O (see graft.tools.LocalIo): same tuning as
    // Bench so the correctness run doesn't pay the mmap/slow-FS tax
    graft.tools.LocalIo.tune(builder)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free localCheckpoint blocks the query registered — otherwise a
      // 289-query run accumulates block-manager state (round-5 verdict)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + Json.escape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
