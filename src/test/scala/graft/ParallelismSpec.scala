package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, REPARTITION_BY_NUM, ShuffleExchangeExec, ShuffleOrigin}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** The core-width policy in [[Parallelism]]: static split counts, the
  * no-job guarantee, the gate, and the ban on per-site copies. */
class ParallelismSpec extends SparkSpec {
  import spark.implicits._

  private def scan(files: Int): DataFrame = {
    val dir = Files.createTempDirectory("graft_par").resolve("t").toString
    spark.range(0, 80L * files).repartition(files)
      .select($"id".as("doc_id"), concat(lit("word "), $"id".cast("string")).as("text"))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val one = scan(1)
  private lazy val many = scan(8)

  /** Jobs started while `body` runs, less broadcast-exchange jobs. */
  private def jobsWhile(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!e.properties.getProperty("spark.job.tags", "").contains("broadcast exchange"))
          jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.Bridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def shuffles(df: DataFrame): Seq[ShuffleOrigin] =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case e: ShuffleExchangeExec => e.shuffleOrigin }

  test("static split count equals .rdd.getNumPartitions on scan-shaped frames") {
    val frames = Seq(
      "multi-file scan" -> many,
      "one-file scan" -> one,
      "filter + project" -> many.where($"doc_id" % 3 =!= 0)
        .select($"doc_id", upper($"text").as("t")),
      "union of two scans" -> many.union(one),
      "localCheckpoint" -> many.localCheckpoint(),
      "local relation" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text"),
      "empty local relation" -> Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(Parallelism.splits(many) >= Parallelism.cores(spark))
    assert(Parallelism.splits(one) == 1)
    for ((name, df) <- frames)
      assert(Parallelism.splits(df) == df.rdd.getNumPartitions, name)
  }

  test("building Dedup operators over a frame with an exchange runs no job") {
    val docs = one.groupBy("doc_id").agg(first("text").as("text"))
    assert(jobsWhile(Parallelism.splits(docs)) == 0)
    // the planned exchange width counts, so the gate is off
    assert(Parallelism.splits(docs) == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(jobsWhile(Dedup.shingleRows(docs)) == 0)
    // nearDuplicates' lazy verify-side checkpoint still prepares the
    // candidate-id broadcast when the ids are small enough to broadcast;
    // jobsWhile leaves broadcast-exchange jobs out
    assert(jobsWhile(Dedup.nearDuplicates(docs)) == 0)
  }

  test("at local[4] a one-split scan gets the core-width exchange, a " +
    ">=4-split scan does not") {
    assert(Parallelism.cores(spark) == 4)
    assert(shuffles(Parallelism.spread(one, $"doc_id")) == Seq(REPARTITION_BY_NUM))
    assert(shuffles(Parallelism.spread(many, $"doc_id")).isEmpty)
    // keyed: the above-core-width branch keeps the unpinned repartition
    assert(shuffles(Dedup.shingleRows(one)) == Seq(REPARTITION_BY_NUM))
    assert(shuffles(Dedup.shingleRows(many)) == Seq(REPARTITION_BY_COL))
  }

  test("no src/main graft file outside Parallelism.scala and tools/ reads " +
    "defaultParallelism or .rdd.getNumPartitions") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val banned = """defaultParallelism|\.rdd\.getNumPartitions""".r
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.getFileName.toString == "Parallelism.scala" ||
        root.relativize(p).toString == "tools/LocalIo.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined => s"$p:${i + 1}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
