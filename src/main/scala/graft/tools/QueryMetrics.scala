package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import graft.Json

/** The one query-cost recorder: what a timed query's jobs cost, read
  * from outside the library through one SparkListener (jobs, stages,
  * tasks, RDD block writes) and one QueryExecutionListener (Catalyst
  * phase times and `Dataset.observe` metrics; under AQE a frame's own
  * `observedMetrics` stays empty, so a listener is the only reader).
  *
  * Protocol, one query run at a time: [[begin]] before the timed
  * interval starts, then [[record]] once it has ended. Listener events
  * arrive asynchronously; `record` drains the bus first, so nothing is
  * waited for inside the timed interval. Jobs are split into build and
  * run by their start timestamps (epoch ms, the clock the scheduler
  * stamps events with).
  *
  * `QueryMetricsSpec` fails the build if any other `src/main` file
  * registers a listener. */
final class QueryMetrics private (spark: SparkSession) {
  import QueryMetrics.Record

  // all state is guarded by `this`; the bus thread writes, the caller
  // reads after a drain
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val stageNames = mutable.Map.empty[Int, String]
  private var stages = 0
  private var tasks = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private var longestMs = -1L
  private var longestStage: Option[String] = None
  // latest size per RDD block: a block re-reported (memory → disk)
  // counts once
  private val blockBytes = mutable.Map.empty[String, Long]
  private var planningMs = 0L
  private val observed = mutable.Map.empty[String, Row]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      QueryMetrics.this.synchronized { jobStarts += e.time }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      QueryMetrics.this.synchronized {
        stageNames(e.stageInfo.stageId) = QueryMetrics.stageName(e.stageInfo)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      QueryMetrics.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      QueryMetrics.this.synchronized {
        tasks += 1
        Option(e.taskMetrics).foreach { m =>
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          spill += m.diskBytesSpilled
        }
        val ms = Option(e.taskInfo).map(_.duration).getOrElse(0L)
        if (ms > longestMs) {
          longestMs = ms
          longestStage = stageNames.get(e.stageId)
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case RDDBlockId(_, _) if b.storageLevel.isValid =>
          QueryMetrics.this.synchronized {
            blockBytes(b.blockId.name) = b.memSize + b.diskSize
          }
        case _ =>
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    // A frame read by several queries (a checkpointed one) reports its
    // metric once per query, but only the query that computed it sees
    // its rows; the others report nulls, so a non-null report wins.
    private def seen(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      val metrics = qe.observedMetrics
      QueryMetrics.this.synchronized {
        planningMs += ms
        metrics.foreach { case (k, v) =>
          if (observed.get(k).forall(_.anyNull)) observed(k) = v
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen(qe)
  }

  /** Forgets everything recorded so far; the events of earlier work
    * still on the bus are drained first so they cannot land after. */
  def begin(): Unit = {
    Bridge.drain(spark.sparkContext)
    synchronized {
      jobStarts.clear(); stageNames.clear(); stages = 0; tasks = 0L
      shuffleWrite = 0L; shuffleRead = 0L; spill = 0L
      longestMs = -1L; longestStage = None
      blockBytes.clear(); planningMs = 0L; observed.clear()
    }
  }

  /** The costs since [[begin]] of a query whose build (the query
    * function's call) ran from `startMs` to `builtMs` and its action to
    * `endMs`, with the measured `buildS` and `runS`. Drains the bus. */
  def record(buildS: Double, runS: Double, startMs: Long, builtMs: Long, endMs: Long): Record = {
    Bridge.drain(spark.sparkContext)
    synchronized {
      val inQuery = jobStarts.filter(t => t >= startMs && t <= endMs)
      Record(buildS, runS,
        buildJobs = inQuery.count(_ <= builtMs), runJobs = inQuery.count(_ > builtMs),
        stages, tasks, shuffleWrite, shuffleRead, spill,
        longestMs.max(0L), longestStage, planningMs, blockBytes.values.sum,
        observed.toMap)
    }
  }

  /** Removes both listeners from the session. */
  def detach(): Unit = {
    Bridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }
}

object QueryMetrics {

  /** A stage's name in the record: the operation scope of its last RDD
    * that has one (`Exchange`, `WholeStageCodegen (3)`, `Scan parquet
    * …`), else Spark's stage name. That name is the call site that
    * created the stage's RDD, which for every AQE query stage is the
    * async planner's `CompletableFuture` frame. */
  private[tools] def stageName(info: StageInfo): String =
    info.rddInfos.sortBy(-_.id).iterator.flatMap(Bridge.scopeName)
      .nextOption().getOrElse(info.name)

  /** A recorder listening on `spark` until [[QueryMetrics.detach]]. */
  def attach(spark: SparkSession): QueryMetrics = {
    val m = new QueryMetrics(spark)
    spark.sparkContext.addSparkListener(m.listener)
    spark.listenerManager.register(m.queryListener)
    m
  }

  /** One query run's costs. `checkpointBytes` is the RDD-block bytes
    * written (checkpoints and caches); `planningMs` sums the Catalyst
    * phases of every query execution the run started; `observed` holds
    * each `Dataset.observe` metric by name. */
  final case class Record(
      buildS: Double,
      runS: Double,
      buildJobs: Int,
      runJobs: Int,
      stages: Int,
      tasks: Long,
      shuffleWriteBytes: Long,
      shuffleReadBytes: Long,
      spillBytes: Long,
      longestTaskMs: Long,
      longestTaskStage: Option[String],
      planningMs: Long,
      checkpointBytes: Long,
      observed: Map[String, Row]) {

    def json: String = obj(Seq(
      "build_s" -> buildS, "run_s" -> runS,
      "build_jobs" -> buildJobs, "run_jobs" -> runJobs,
      "stages" -> stages, "tasks" -> tasks,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
      "longest_task_ms" -> longestTaskMs, "longest_task_stage" -> longestTaskStage,
      "planning_ms" -> planningMs, "checkpoint_bytes" -> checkpointBytes,
      "observed" -> observed))
  }

  /** The resolved session settings a run's costs depend on: the
    * scratch dir (null when Spark's default), whether the /dev/shm gate
    * refused the tmpfs default, the AQE coalesce floor and the cores. */
  def sessionJson(spark: SparkSession): String = obj(Seq(
    "local_dir" -> spark.sparkContext.getConf.getOption("spark.local.dir"),
    "shm_gate_fired" -> !LocalIo.shmUsable,
    "coalesce_floor" ->
      spark.conf.getOption("spark.sql.adaptive.coalescePartitions.minPartitionSize"),
    "cores" -> graft.Parallelism.cores(spark)))

  private def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => "\"" + Json.escape(k) + "\":" + value(v) }
      .mkString("{", ",", "}")

  /** JSON for a record field; a null metric field is written as `null`,
    * not dropped. */
  private def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case n: Number => if (n.doubleValue.isNaN || n.doubleValue.isInfinite) "null" else n.toString
    case b: Boolean => b.toString
    case r: Row => obj(r.schema.fieldNames.toSeq.zip(r.toSeq))
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1))
    case x => "\"" + Json.escape(x.toString) + "\""
  }
}
