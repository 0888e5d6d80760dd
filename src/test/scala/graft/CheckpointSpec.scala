package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.Checkpoint._

/** The one checkpoint entry point in [[Checkpoint]]: every form reaches
  * the segment probe, a lost checkpoint block fails loudly, and no
  * other file checkpoints on its own. */
class CheckpointSpec extends SparkSpec {

  /** A segment with a shuffle, so that with AQE on the session plans it
    * as an `AdaptiveSparkPlanExec`. */
  private def segment: DataFrame =
    spark.range(0, 100).groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))

  private def withAqe[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key, "true")
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, was)
  }

  private def release(ids: Iterable[Int]): Unit =
    ids.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
      .foreach(_.unpersist(true)))

  test("each (eager × keepAqe) form hands its segment plan to planProbe " +
    "exactly once") {
    withAqe(on = true) {
      for (eager <- Seq(false, true); keepAqe <- Seq(false, true)) {
        val seg = segment
        val seen = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
        val before = spark.sparkContext.getPersistentRDDs.keySet
        Checkpoint.planProbe = p => seen += p
        val ck = try seg.checkpointed(eager = eager, keepAqe = keepAqe)
        finally Checkpoint.planProbe = _ => ()
        val form = s"eager=$eager keepAqe=$keepAqe"
        assert(seen.size == 1, s"$form: probe saw ${seen.size} plans")
        assert(seen.head eq seg.queryExecution.executedPlan,
          s"$form: the probe must see the segment's own executed plan")
        // AQE stays on only where the call asks for it
        assert(seen.head.isInstanceOf[AdaptiveSparkPlanExec] == keepAqe, form)
        assert(ck.orderBy("k").collect().map(_.getLong(1)).sum == 100L, form)
        release(spark.sparkContext.getPersistentRDDs.keySet -- before)
      }
    }
  }

  test("a lazy checkpoint whose blocks are gone fails its next action " +
    "with a SparkException naming the block, in either AQE mode") {
    for (keepAqe <- Seq(false, true)) withAqe(on = true) {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val ck = segment.checkpointed(eager = false, keepAqe = keepAqe)
      val ids = sc.getPersistentRDDs.keySet -- before
      assert(ids.size == 1, s"keepAqe=$keepAqe: one checkpoint RDD, got $ids")
      assert(ck.collect().length == 7) // the first action materializes it
      release(ids)
      Try(ck.collect()) match {
        case Success(rows) =>
          fail(s"keepAqe=$keepAqe: returned ${rows.length} rows after its " +
            "checkpoint blocks were dropped")
        case Failure(e: SparkException) =>
          val block = s"""Checkpoint block rdd_${ids.head}_\\d+ not found""".r
          assert(block.findFirstIn(e.getMessage).isDefined,
            s"keepAqe=$keepAqe: ${e.getMessage.take(300)}")
        case Failure(e) => fail(s"keepAqe=$keepAqe: not a SparkException: $e")
      }
    }
  }

  test("scoped leaks nothing when the result's own checkpoint throws") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      Checkpoint.scoped(spark) {
        val base = Seq(1, 2, 3).toDF("x").checkpointed(eager = false)
        base.select(when(col("x") > 2, raise_error(lit("boom")))
          .otherwise(col("x")).as("x"))
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("no src/main graft file outside Checkpoint.scala checkpoints on " +
    "its own (.localCheckpoint(, stableCheckpoint, CheckpointScope)") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val banned = """\.localCheckpoint\(|stableCheckpoint|CheckpointScope""".r
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => root.relativize(p).toString == "Checkpoint.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined => s"$p:${i + 1}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
