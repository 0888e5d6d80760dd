package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.dedup.Dedup

/** Pinned Spark job counts for calls whose cost is their job count: an
  * extra job fails the build the way an extra shuffle fails
  * CatalogPlanSpec. */
class JobBudgetSpec extends SparkSpec {

  /** (description, stage name) of every job started while `body` runs. */
  private def jobsWhile(body: => Unit): Seq[(String, String)] = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += ((Option(e.properties).map(_.getProperty("spark.job.description", ""))
          .getOrElse(""), e.stageInfos.map(_.name).headOption.getOrElse("")))
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.drain(sc)
      jobs.synchronized(jobs.toList)
    } finally sc.removeSparkListener(listener)
  }

  test("incrementalSimhashPairs probes a fresh index without file-listing " +
    "or schema-inference jobs, in a pinned job count") {
    // 50 docs; each of the last 10 repeats the text of an indexed one
    val docs = spark.createDataFrame(Seq.tabulate(50) { i =>
      val t = i % 40
      (i.toLong, (0 until 12).map(j => s"w${(t * 7 + j * 3) % 29}").mkString(s"doc $t ", " ", ""))
    }).toDF("doc_id", "text")
    val ix = java.nio.file.Files.createTempDirectory("job_budget_spec").toString
    Dedup.writeSimhashIndex(ix, docs.where(col("doc_id") < 40L))
    var pairs = 0
    val jobs = jobsWhile {
      pairs = Dedup.incrementalSimhashPairs(spark, ix, docs.where(col("doc_id") >= 40L))
        .collect().length
    }
    assert(pairs >= 10)
    val listing = jobs.filter(_._1.startsWith("Listing leaf files"))
    assert(listing.isEmpty, jobs.mkString("\n"))
    // DataFrameReader.parquet starts a job only to list files or to read
    // footers for the schema; with a pinned schema and flat tables it
    // starts none
    val reads = jobs.filter(_._2.startsWith("parquet at "))
    assert(reads.isEmpty, jobs.mkString("\n"))
    assert(jobs.size == 4, jobs.mkString("\n"))
  }
}
