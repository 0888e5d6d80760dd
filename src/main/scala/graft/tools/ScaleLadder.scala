package graft.tools

import graft.Checkpoint._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.{Packing, Sampling, TextAnalysis}

/** The 100×-class scale ladder (BASELINE.md): the four heaviest catalog
  * compositions — pipeline_curate, pipeline_dedup, er1/ppj1's exact
  * prefix-filter entity resolution, and gr11's LPA+modularity — each
  * run at two synthetic sizes a decade apart, the larger ≥ 100× the
  * sf0.1 mass they're gated on (sf0.1: 5k documents / ~23k caveman
  * edges). Everything is generated by codegen ([[DedupBench]]'s sparse
  * corpus, the catalog's own caveman construction) — no fixture files.
  *
  * Each row reports wall seconds (min of 2 — first pass pays codegen
  * JIT) AND the longest single task with its stage ([[TaskProfile]],
  * the ScoreBench discipline): sub-quadratic wall growth across the
  * decade plus a flat task profile is the 100-TB evidence the sf1 tier
  * (10×) can't give.
  *
  * Usage: runMain graft.tools.ScaleLadder [only=substr]
  */
object ScaleLadder {

  /** The catalog's gr11 caveman graph over n synthetic nodes: 10-node
    * cliques (45 edges each) + one bridge per clique — community
    * structure LPA must find and modularity must score. */
  def cavemanEdges(spark: SparkSession, n: Long): DataFrame = {
    val d = spark.range(n).select(col("id").as("doc_id"))
    val cliques = d.alias("a")
      .join(d.alias("b"),
        floor(col("a.doc_id") / 10) === floor(col("b.doc_id") / 10) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
    // the LAST clique gets no outgoing bridge: node n-1's bridge would
    // point at nonexistent node n, adding a phantom degree-1 node
    val bridges = d.where(pmod(col("doc_id"), lit(10)) === 9 &&
        col("doc_id") < n - 1)
      .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
    cliques.unionByName(bridges)
  }

  def main(args: Array[String]): Unit = {
    val only = args.collectFirst { case a if a.startsWith("only=") => a.drop(5) }
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = TaskProfile.install(spark)

    def run(name: String, n: Long, df: => DataFrame): Unit = {
      if (!only.forall(name.contains)) return
      val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
      // topStages is captured INSIDE each repeat so the printed stage
      // attribution belongs to the min-wall repeat it sits next to —
      // probe state after the loop reflects only the LAST repeat
      val (wall, task, stage, top) = (1 to 2).map { _ =>
        probe.reset()
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => keep(id) }
          .values.foreach(_.unpersist(false))
        val (t, s) = probe.snapshot
        (w, t, s, probe.topStages(5))
      }.minBy(_._1)
      println(f"[ladder] $name%-16s n=$n%8d  ${wall}%7.1f s   max-task " +
        f"${task / 1000.0}%6.2f s  (${stage.trim})")
      top.foreach { case (s, ms, nt, mean) =>
        println(f"[ladder]     stage-max ${ms / 1000.0}%6.2f s  " +
          f"(n=$nt%d mean ${mean / 1000.0}%5.2f s)  $s") }
    }

    def wanted(names: String*): Boolean =
      names.exists(nm => only.forall(nm.contains))
    def sparseDocs(n: Long): DataFrame =
      DedupBench.sparseCorpus(spark, n)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .checkpointed(eager = true, keepAqe = true) // input generation off the clock

    // -- pipeline_curate / pipeline_dedup over the sparse dup corpus --
    for (n <- Seq(100000L, 1000000L)) {
      if (wanted("pipeline_dedup", "pipeline_curate")) {
        val docs = sparseDocs(n)
        run("pipeline_dedup", n, graft.Checkpoint.scoped(spark) {
          val clusters = Dedup.duplicateClusters(
            Dedup.nearDuplicates(docs, threshold = 0.5))
          val label = coalesce(col("cluster"), col("doc_id"))
          docs.select(col("doc_id"))
            .join(clusters.select(col("id").as("doc_id"), col("cluster")),
              Seq("doc_id"), "left")
            .select(col("doc_id"), label.as("cluster"),
              (label === col("doc_id")).as("survivor"))
        })
        run("pipeline_curate", n, graft.Checkpoint.scoped(spark) {
          val clusters = Dedup.duplicateClusters(
            Dedup.nearDuplicates(docs, threshold = 0.5))
          val weights = Dedup.softDedupWeights(docs, clusters)
            .select(col("doc_id"), col("weight"))
          val clean = Dedup.decontaminateExact(
            docs.where(col("doc_id") >= 1000),
            docs.where(col("doc_id") < 1000), n = 5)
          val scored = clean.join(weights, Seq("doc_id")).checkpointed(eager = true)
          val kept = Sampling.selectByTokenBudget(scored, "doc_id",
            TextAnalysis.qualityScore(col("text")) * col("weight"),
            TextAnalysis.tokenCount(col("text")), budget = n * 10)
          Packing.packSequences(kept, "doc_id", "text",
            budget = 512, shards = 64)
        })
        docs.unpersist()
      }
      // er1's composition: exact θ-Jaccard prefix-filter self-join →
      // min-label components → survivorship (the ppj1 join IS stage 1)
      if (wanted("er1_prefix_er")) {
        val half = sparseDocs(n / 2)
        run("er1_prefix_er", n / 2, graft.Checkpoint.scoped(spark) {
          val pairs = graft.dedup.SetJoin
            .prefixFilterJoin(half, theta = 0.5)
            .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
          val labels = Dedup.duplicateClusters(pairs)
            .select(col("id").as("doc_id"), col("cluster"))
          half.select(col("doc_id"), col("n_chars"))
            .join(labels, Seq("doc_id"), "left")
            .withColumn("entity", coalesce(col("cluster"), col("doc_id")))
            .groupBy("entity")
            .agg(count(lit(1)).as("n_members"),
              max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
                .as("canonical_doc"))
        })
        half.unpersist()
      }
    }

    // -- gr11: LPA(3) + modularity over the caveman graph --
    if (wanted("gr11_modularity")) {
      for (nodes <- Seq(50000L, 500000L)) {
        val edges = cavemanEdges(spark, nodes).checkpointed(eager = true, keepAqe = true)
        run("gr11_modularity", nodes,
          graft.graph.PageRank.modularity(
            edges, graft.graph.PageRank.labelPropagation(edges, iterations = 3)))
        edges.unpersist()
      }
    }
    spark.stop()
  }
}
