package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Traced-mode recorder. Everything is observed from outside the library:
  * spans around the public calls the workloads make, one SparkListener
  * (jobs, tasks, RDD block writes) and one QueryExecutionListener
  * (Catalyst phase times). Records stay in memory and are written once,
  * at the end, by [[json]]; the Python side turns them into per-layer
  * metrics. All timestamps are epoch milliseconds, so listener-bus
  * events (delivered asynchronously) attribute to ops by time. */
final class Trace {
  // record layouts, read positionally by run.py
  // (id, parent, op, name, layer, start, end)
  private val spans = new ConcurrentLinkedQueue[Seq[Any]]()
  // (job, start, job group, end)
  private val jobs = new ConcurrentLinkedQueue[Seq[Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Any]]()
  // (stage, attempt, finish, run ms, gc ms, shuffle write, shuffle read,
  //  spill, records read, bytes read, task attempt, failed)
  private val tasks = new ConcurrentLinkedQueue[Seq[Any]]()
  // (first phase start, action, planning ms)
  private val queries = new ConcurrentLinkedQueue[Seq[Any]]()
  // (seen at, rdd, block, bytes)
  private val blocks = new ConcurrentLinkedQueue[Seq[Any]]()
  // (op, live rdd-block bytes, rdds)
  private val live = new ConcurrentLinkedQueue[Seq[Any]]()
  @volatile private var enabled = false
  private var nextSpan = 0
  private var stack: List[Int] = Nil
  private var op = -1

  def beginOp(id: Int): Unit = { op = id; stack = Nil }

  /** Times `body` as a span of `layer` when tracing is on; a plain call
    * otherwise. Spans nest: the parent is the innermost open span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans.add(Seq(id, parent, op, name, layer, t0, System.currentTimeMillis()))
      }
    }

  /** Live RDD-block bytes after an op (checkpoint.live_bytes). */
  def sampleLive(spark: SparkSession, opId: Int): Unit =
    if (enabled) {
      val infos = spark.sparkContext.getRDDStorageInfo
      live.add(Seq(opId, infos.map(i => i.memSize + i.diskSize).sum, infos.length))
    }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts.put(e.jobId, Seq(e.jobId, e.time, group))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { s =>
        jobs.add(s :+ e.time)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null)
        tasks.add(Seq(e.stageId, e.stageAttemptId, i.finishTime,
          m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.diskBytesSpilled, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          i.attemptNumber, if (i.successful) 0 else 1))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case RDDBlockId(rdd, _) if b.storageLevel.isValid =>
          blocks.add(Seq(System.currentTimeMillis(), rdd, b.blockId.name,
            b.memSize + b.diskSize))
        case _ =>
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        queries.add(Seq(phases.map(_.startTimeMs).min, func,
          phases.map(_.durationMs).sum))
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    enabled = true
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    enabled = false
  }

  def json: String = {
    def arr(q: java.util.Collection[Seq[Any]]) =
      q.asScala.map(r => r.map(Json.value).mkString("[", ",", "]")).mkString("[", ",\n", "]")
    Seq("spans" -> spans, "jobs" -> jobs, "tasks" -> tasks, "queries" -> queries,
      "blocks" -> blocks, "live" -> live)
      .map { case (k, q) => Json.str(k) + ":" + arr(q) }
      .mkString("{", ",\n", "}")
  }
}

/** Minimal JSON encoding for the driver's records (no library needed). */
object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => value(x)
    case d: Double if d.isNaN || d.isInfinite => str(d.toString)
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: java.math.BigDecimal => n.toPlainString
    case n: BigDecimal => n.bigDecimal.toPlainString
    case n: Number => n.toString
    case s: String => str(s)
    case d: java.sql.Date => str(d.toString)
    case d: java.time.LocalDate => str(d.toString)
    case t: java.sql.Timestamp => str(t.toString)
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row if r.schema == null => value(r.toSeq)
    case r: org.apache.spark.sql.Row =>
      r.schema.fieldNames.zipWithIndex
        .map { case (n, i) => str(n) + ":" + value(r.get(i)) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
