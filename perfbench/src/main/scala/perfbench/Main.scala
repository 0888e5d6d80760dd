package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --inputs DIR --out DIR --unit-rows R --commit SHA
  * }}}
  *
  * Runs at local[nproc]. Sets up three times (session, inputs, warm-up
  * op) and keeps the last session, then runs whole cycles of ops until S
  * seconds have passed.
  * Writes `ops.jsonl` (one record per op with its collected outputs),
  * `run.json` (set-up times, run header, end state) and, traced,
  * `trace.json` into DIR. Correctness and metrics are computed from
  * these files by `perfbench/run.py`. With tracing on, every other op of
  * each kind is traced, alternating between cycles, so one run also
  * measures the tracing overhead on interleaved ops. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** The session `graft.Bench` builds: LocalIo tuning, AQE on, ansi off,
    * shuffle partitions = cores. */
  def session(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
    graft.tools.LocalIo.tune(b)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def header(spark: SparkSession, cores: Int, commit: String): Map[String, Any] = {
    val shm = new File("/dev/shm")
    val shmRoom = shm.isDirectory && shm.canWrite &&
      shm.getUsableSpace >= 8L * 1024 * 1024 * 1024
    val conf = spark.conf
    Map(
      "spark.local.dir" -> spark.sparkContext.getConf.get("spark.local.dir", ""),
      "shm_gate_fired" -> (shmRoom && !sys.env.contains("SPARK_GRAFT_LOCAL_DIR")),
      "shm_has_room" -> shmRoom,
      "coalesce_floor" ->
        conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize", ""),
      "cores" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "commit" -> commit,
      "spark_version" -> spark.version)
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = a("out")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = new Trace
    new File(out).mkdirs()

    // set-up, repeated: the first sample runs from JVM start, later ones
    // from stopping the previous session
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    for (i <- 0 until Setups) {
      val n0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(cores)
      wl = Workload(name, spark, a("inputs"), s"$out/work", a("unit-rows").toLong, trace)
      wl.setup()
      wl.warmup()
      setupS += (if (i == 0) (System.currentTimeMillis() - jvmStart) / 1000.0
                 else (System.nanoTime() - n0) / 1e9)
    }

    val ops = new PrintWriter(s"$out/ops.jsonl")
    val rng = new java.util.Random(seed * 1000003L + 17)
    val sc = spark.sparkContext
    val start = System.nanoTime()
    var cycle = 0
    var opId = 0
    // whole cycles; a traced run takes two, so that each op position is
    // traced once and untraced once
    val minCycles = if (traced) 2 else 1
    while (cycle < minCycles || (System.nanoTime() - start) / 1e9 < seconds) {
      val nth = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      for (op <- wl.cycle(rng)) {
        val tracedOp = traced && (nth(op.kind) + cycle) % 2 == 0
        nth(op.kind) += 1
        if (tracedOp) trace.attach(spark)
        trace.beginOp(opId)
        sc.setJobGroup(s"perfbench-op-$opId", op.kind)
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val result =
          try Right(op.run())
          catch { case NonFatal(e) => Left(e) }
        val secs = (System.nanoTime() - n0) / 1e9
        val t1 = System.currentTimeMillis()
        sc.clearJobGroup()
        if (tracedOp) {
          trace.sampleLive(spark, opId)
          trace.detach(spark)
        }
        val rec = Map[String, Any](
          "id" -> opId, "kind" -> op.kind, "cycle" -> cycle, "traced" -> tracedOp,
          "t0" -> t0, "t1" -> t1, "secs" -> secs, "rows" -> op.rows,
          "params" -> op.params,
          "error" -> result.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"),
          "outputs" -> result.toOption.getOrElse(Map.empty))
        ops.println(Json.value(rec))
        opId += 1
      }
      cycle += 1
    }
    val measured = (System.nanoTime() - start) / 1e9
    ops.close()

    if (traced) {
      val w = new PrintWriter(s"$out/trace.json")
      try w.print(trace.json) finally w.close()
    }
    val run = Map[String, Any](
      "workload" -> name, "seed" -> seed, "setup_s" -> setupS.toSeq,
      "measured_s" -> measured, "cycles" -> cycle, "peak_rss_mb" -> peakRssMb,
      "header" -> header(spark, cores, a("commit")),
      "stats" -> wl.stats)
    val w = new PrintWriter(s"$out/run.json")
    try w.print(Json.value(run)) finally w.close()
    spark.stop()
    sys.exit(0)
  }
}
