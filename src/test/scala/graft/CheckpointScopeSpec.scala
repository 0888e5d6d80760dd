package graft

import org.apache.spark.sql.functions._

import graft.Checkpoint._

/** Checkpoint.scoped: composed pipelines release their intermediates'
  * block-manager state at scope exit (the round-5 finding: 54
  * localCheckpoint sites and zero unpersists meant long sessions
  * accumulated blocks until GC + ContextCleaner caught up, inflating
  * mid-run queries 4-9×). */
class CheckpointScopeSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("scoped releases scope-tracked AND bare library checkpoints, " +
    "keeps only the self-contained result, which stays readable") {
    val before = persistedIds
    val out = Checkpoint.scoped(spark) {
      val base = Seq(1, 2, 3, 4).toDF("x").withColumn("y", col("x") * 2)
        .checkpointed(eager = false)
      // a bare localCheckpoint, as inside a library call the body composes
      val side = Seq(3, 4, 5).toDF("x").localCheckpoint(false)
      base.join(side, "x").agg(sum(col("y")).as("s"))
    }
    val after = persistedIds -- before
    // every body block released; exactly the eager result block remains
    assert(after.size == 1,
      s"expected only the result's block to survive, got $after")
    // self-contained: collect works AFTER the intermediates are gone
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(14L))
    out.queryExecution.toRdd // no-op touch; result frame is usable
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => after.contains(id) }
      .values.foreach(_.unpersist(true))
    assert(persistedIds == before)
  }

  test("a throwing body leaks nothing") {
    val before = persistedIds
    intercept[RuntimeException] {
      Checkpoint.scoped(spark) {
        Seq(1, 2).toDF("x").checkpointed(eager = false).count()
        throw new RuntimeException("boom")
      }
    }
    assert(persistedIds == before)
  }

  test("adopted compositions leave no intermediate blocks behind " +
    "(duplicateClusters: edge list + per-round labels all released)") {
    val before = persistedIds
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = graft.dedup.Dedup.duplicateClusters(pairs)
    val after = persistedIds -- before
    assert(after.size == 1,
      s"duplicateClusters should leave only its result block, got $after")
    // self-contained after intermediates are gone, labels correct
    assert(labels.orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => after.contains(id) }
      .values.foreach(_.unpersist(true))
  }

  test("scoped catalog compositions (dd7, er1, dd23, pipeline_dedup) " +
    "leave no blocks at all once the caller drops the result") {
    for (name <- Seq("dd7_dup_clusters", "er1_entities",
        "dd23_soft_weights", "pipeline_dedup", "pipeline_curate")) {
      val before = persistedIds
      val out = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      assert(out.count() > 0, s"$name returned no rows")
      val after = persistedIds -- before
      // the scope released every intermediate; only result blocks remain
      // (≤2: the catalog scope's eager result + the inner clustering
      // scope's result are the same frame for dd7 but may differ)
      assert(after.nonEmpty && after.size <= 2,
        s"$name: expected only result blocks, got ${after.size}")
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => after.contains(id) }
        .values.foreach(_.unpersist(true))
      assert(persistedIds == before, s"$name left blocks behind")
    }
  }

  test("adopted compositions leave no intermediate blocks behind " +
    "(pagerank)") {
    val before = persistedIds
    val edges = Seq(("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0))
      .toDF("src", "dst", "weight")
    val ranks = graft.graph.PageRank.pagerank(edges, iterations = 3)
    val after = persistedIds -- before
    assert(after.size == 1,
      s"pagerank should leave only its result block, got $after")
    assert(ranks.count() == 3)
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => after.contains(id) }
      .values.foreach(_.unpersist(true))
  }
}
