package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Longest-single-task probe for the profiling mains: at 100 TB the
  * failure mode row-level gates can't see is ONE task holding the whole
  * stage (a single-task window, a hot key, an unsplittable collect) —
  * so a profiled run reports, per stage, the longest task next to the
  * task count and mean. A flat profile (max task ≪ wall) is the scale
  * evidence; one dominant task is exactly the bug (shared here so every
  * tool reports it the same way). */
final class TaskProfile private (spark: SparkSession) {
  private val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  // per-stage (max task ms, task count, total task ms): a dominant task
  // is only actionable once you know WHICH stage, and whether it was
  // SKEW (one long task among short siblings) or a balanced-but-slow
  // stage
  private val stageStats =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
      stageNames.put(ss.stageInfo.stageId, ss.stageInfo.name.takeWhile(_ != '('))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val d = Option(te.taskInfo).map(_.duration).getOrElse(0L)
      stageStats.merge(te.stageId, (d, 1L, d), { case ((m, n, t), _) =>
        (math.max(m, d), n + 1, t + d) })
    }
  })

  def reset(): Unit = stageStats.clear()
  /** The k stages with the longest single task since [[reset]],
    * `(stage name#id, max task ms, task count, mean task ms)`,
    * descending by max task — max ≫ mean with many tasks is skew; max ≈
    * mean is a balanced (if slow) stage. */
  def topStages(k: Int): Seq[(String, Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    stageStats.asScala.toSeq.sortBy(-_._2._1).take(k).map {
      case (id, (mx, n, tot)) =>
        (s"${stageNames.getOrDefault(id, "?").trim}#$id", mx, n, tot / n)
    }
  }
}

object TaskProfile {
  def install(spark: SparkSession): TaskProfile = new TaskProfile(spark)
}
