package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Scratch profiling main (not part of the library surface): times the
  * named catalog queries at sf0.1 in one warm session, N reps each.
  * Also counts Spark jobs / stages / tasks and shuffle bytes per rep —
  * at small SF the bench is dominated by job+stage count, so the
  * counter is the first diagnostic for any slow row. */
object Profile {
  def main(args: Array[String]): Unit = {
    val builder = LocalIo.session("32")
    // A/B conf overrides: SPARK_GRAFT_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach(m =>
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
    })
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val showStages = sys.env.get("SPARK_GRAFT_STAGES").exists(_ == "1")
    val tp = TaskProfile.install(spark)
    val names = if (args.nonEmpty) args.toSeq else Seq("dd3_minhash_lsh")
    names.foreach { n =>
      (1 to reps).foreach { i =>
        jobs.set(0); stages.set(0); tasks.set(0); shufWrite.set(0L); tp.reset()
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, dir)
        df.queryExecution.optimizedPlan // force analysis + optimization
        val tPlan = (System.nanoTime() - t0) / 1e9
        val c = df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events are async; give the bus a moment to drain
        Thread.sleep(200)
        println(f"[profile] $n%-28s rep$i $sec%6.2f s (plan $tPlan%5.2f s, $c rows, ${jobs.get}%3d jobs, ${stages.get}%4d stages, ${tasks.get}%5d tasks, ${shufWrite.get / 1024}%8d KiB shuffle)")
        if (showStages && i == reps)
          tp.topStages(8).foreach { case (nm, mx, cnt, mean) =>
            println(f"[stages]   $nm%-60s max ${mx}%6d ms  n=$cnt%4d  mean ${mean}%5d ms")
          }
        // Bench's per-query state sweep, so timings are comparable
        LocalIo.releaseState(spark)
      }
    }
    spark.stop()
  }
}
