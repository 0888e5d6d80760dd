package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch diagnostic (not part of the library surface): times Catalyst
  * phases for pieces of the hot dedup chain, to attribute driver-side
  * planning cost (the r12 finding: dd-family reps are planning-bound). */
object PlanTime {
  def main(args: Array[String]): Unit = {
    val spark = LocalIo.session("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    def timePlan(name: String, mk: => DataFrame, reps: Int = 3): Unit =
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val df = mk
        val t1 = System.nanoTime()
        df.queryExecution.analyzed
        val t2 = System.nanoTime()
        df.queryExecution.optimizedPlan
        val t3 = System.nanoTime()
        df.queryExecution.executedPlan
        val t4 = System.nanoTime()
        println(f"[plantime] $name%-32s rep$i build ${(t1 - t0) / 1e6}%7.1f analyze ${(t2 - t1) / 1e6}%7.1f optimize ${(t3 - t2) / 1e6}%7.1f physical ${(t4 - t3) / 1e6}%7.1f ms")
      }

    import graft.dedup.Dedup
    import graft.Checkpoint._
    def t(name: String)(body: => Any): Unit = (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      body
      println(f"[step] $name%-40s rep$i ${(System.nanoTime() - t0) / 1e6}%8.1f ms")
    }
    val cgCount = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (1 to sys.env.getOrElse("SPARK_GRAFT_ND_REPS", "6").toInt).foreach { i =>
      LocalIo.releaseState(spark)
      val n0 = cgCount.getCount
      val t0 = System.nanoTime()
      val nd = Dedup.nearDuplicates(docs, threshold = 0.5)
      val t1 = System.nanoTime()
      val c = nd.count()
      val t2 = System.nanoTime()
      println(f"[nd] rep$i construct ${(t1 - t0) / 1e6}%8.1f ms  exec ${(t2 - t1) / 1e6}%8.1f ms  ($c rows, ${cgCount.getCount - n0} codegen compiles)")
    }
    // pure stage-overhead probe: 3 chained 32-partition shuffles over
    // 100k longs, timed warm
    (1 to 4).foreach { i =>
      val t0 = System.nanoTime()
      val c = spark.range(100000).toDF("id")
        .repartition(32, col("id"))
        .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)).as("c"))
        .repartition(32, col("k"))
        .groupBy((col("k") % 10).as("k2")).agg(sum(col("c")).as("s"))
        .count()
      println(f"[synth] rep$i ${(System.nanoTime() - t0) / 1e6}%8.1f ms ($c)")
    }
    t("cands construction") { Dedup.minhashCandidates(docs) }
    t("cands checkpointed(lazy)") {
      Dedup.minhashCandidates(docs).checkpointed(eager = false)
    }
    t("nearDuplicates full construction") {
      Dedup.nearDuplicates(docs, threshold = 0.5)
    }
    // piecewise replication of nearDuplicates internals
    val cands = Dedup.minhashCandidates(docs).checkpointed(eager = false)
    t("candIds+pruned") {
      val candIds = cands.select(col("id_a").as("doc_id"))
        .union(cands.select(col("id_b").as("doc_id"))).distinct()
      docs.join(candIds, Seq("doc_id"), "left_semi")
    }
    val candIds = cands.select(col("id_a").as("doc_id"))
      .union(cands.select(col("id_b").as("doc_id"))).distinct()
    val pruned = docs.join(candIds, Seq("doc_id"), "left_semi")
    val shPre = pruned.select(col("doc_id"),
      graft.functions.MinHashShingles.shingleArrayNative(col("text"), 3).as("__sh"))
      .repartition(col("doc_id"))
    t("sh checkpointed(lazy)") { shPre.checkpointed(eager = false) }
    val sh = shPre.checkpointed(eager = false)
      .observe("neardup_verify_x", count(lit(1)).as("docs_shingled"))
    t("verify joins construction") {
      cands
        .join(sh.select(col("doc_id").as("id_a"), col("__sh").as("__sha")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("__sh").as("__shb")), "id_b")
        .withColumn("jaccard", Dedup.jaccard(col("__sha"), col("__shb")))
        .where(col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    }
    spark.stop()
  }
}
