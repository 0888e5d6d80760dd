package graft.tools

import org.apache.spark.sql.SparkSession

/** Session setup shared by the harness mains (Bench / Verify /
  * profiling tools): shuffle-scratch I/O + the AQE coalescing floor.
  * Guide §2.1/§6: shuffle throughput is bounded by the node's LOCAL
  * storage as often as by the network.
  *
  * Two findings on this host (r12, jstack-attributed):
  *  - `spark.file.transferTo`'s NIO path concatenates each map task's
  *    per-partition shuffle files via FileChannel.map/unmap; under
  *    virtualization every unmap0 is a cross-vCPU TLB shootdown, and a
  *    trivial 32-task shuffle stage spent ~250 ms/task there. Plain
  *    streamed copies (`transferTo=false`) cost ~23 ms/task. For LARGE
  *    sequential merges on bare metal, zero-copy transferTo wins — so
  *    the default is only flipped here, not hard-coded in operators,
  *    and `SPARK_GRAFT_TRANSFER_TO=true` restores it.
  *  - `spark.local.dir` defaults to /tmp on the slow root FS; shuffle
  *    and spill scratch belongs on the fastest node-local device. Here
  *    that is the RAM-backed /dev/shm (the bench's whole shuffle
  *    working set is MBs); on a production node point
  *    SPARK_GRAFT_LOCAL_DIR at the NVMe scratch array instead.
  */
object LocalIo {

  /** The per-query state sweep between timed queries: release session
    * state a query accumulated. localCheckpointed RDDs register in
    * getPersistentRDDs and are otherwise freed only when the GC + async
    * ContextCleaner catch up. Without this, block-manager pressure from
    * a 289-query run inflated mid-run queries 4-9× vs their
    * fresh-session cost (round-5 verdict): the bench was measuring
    * leaked state, not plans. */
  def releaseState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }

  /** The harness session builder (Bench, Verify): local[cpus], one
    * shuffle partition per core, UTC, nanosecond parquet timestamps read
    * as longs, no UI, then [[tune]]. ANSI is off as an explicit ÷0
    * policy: expressions guard via Panel.safeDiv (null, matching
    * DuckDB's plain division), so an unguarded site degrades to null
    * instead of aborting a cluster-wide job. Callers set the log level. */
  def session(cpus: String): SparkSession.Builder =
    tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false"))

  def tune(builder: SparkSession.Builder): SparkSession.Builder = {
    builder.config("spark.file.transferTo",
      sys.env.getOrElse("SPARK_GRAFT_TRANSFER_TO", "false"))
    // r13 (ADVICE): the tmpfs default is additionally gated on free
    // space — a spill-heavy run on a tight host would otherwise exhaust
    // /dev/shm (typically 50% of RAM) and die with a "No space left on
    // device" that reads as a disk problem rather than memory pressure.
    // Below 8 GiB free the default falls back to Spark's own /tmp; the
    // explicit env override is always honored.
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      if (shmUsable) "/dev/shm/graft-spark-local" else "")
    if (localDir.nonEmpty) builder.config("spark.local.dir", localDir)
    // AQE partition-coalescing floor. parallelismFirst (default on)
    // coalesces down to totalBytes/defaultParallelism but never below
    // this floor — and the 1 MB default under-parallelizes every stage
    // whose rows are narrow but CPU-dense downstream (window/melt
    // panels, NB scoring, text quality). That case is not local-only:
    // at cluster scale any intermediate frame smaller than cores × 1 MB
    // (post-aggregation panels, scored holdouts) hits the same floor
    // with far more idle cores. 64k keeps such stages core-wide;
    // partitions above the advisory size are untouched at any scale.
    // Measured (sf0.1, after the transferTo fix): backtest_pipeline
    // 1.63 → 1.06 s, d19 1.74 → 1.04 s, cl2 1.88 → 1.14 s.
    builder.config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "64k"))
    builder
  }

  /** The /dev/shm gate of [[tune]]: a writable tmpfs with 8 GiB free. */
  def shmUsable: Boolean = {
    val shm = new java.io.File("/dev/shm")
    shm.isDirectory && shm.canWrite && shm.getUsableSpace >= 8L * 1024 * 1024 * 1024
  }
}
