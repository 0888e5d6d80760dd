package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.dedup.Dedup
import graft.tools.QueryMetrics

/** The one query-cost recorder, read through `Bench.timeQuery` on the
  * sf0.001 catalog. */
class QueryMetricsSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** The fastest rep's record of each named query, with its timing. */
  private def timed(names: String*): Map[String, Bench.Timed] = {
    val metrics = QueryMetrics.attach(spark)
    try names.map { n =>
      val t = Bench.timeQuery(spark, metrics, SparkEntry.queries(n), sfDir, reps = 1)
      assert(t.err.isEmpty, s"$n: ${t.err}")
      n -> t
    }.toMap
    finally metrics.detach()
  }

  test("a timed query records its build jobs, its build/run split and " +
    "the checkpoint bytes an eager checkpoint writes") {
    val t = timed("q1_agg", "w1_lag", "dd7_dup_clusters")
    t.foreach { case (n, q) =>
      val r = q.record.get
      // every catalog query reads parquet with an inferred schema, one
      // footer-read job while it is built
      assert(r.buildJobs >= 1, n)
      assert(r.runJobs >= 1, n)
      assert(math.abs(r.buildS + r.runS - q.min) < 1e-9, s"$n: $r vs ${q.min}")
      assert(r.tasks >= r.stages && r.stages >= 1, n)
      assert(r.longestTaskStage.nonEmpty, n)
      assert(r.planningMs > 0, n)
    }
    // dd7 runs inside Checkpoint.scoped, whose result is checkpointed eagerly
    assert(t("dd7_dup_clusters").record.get.checkpointBytes > 0)
    assert(t("q1_agg").record.get.checkpointBytes == 0)
    val json = t("q1_agg").record.get.json
    Seq("build_s", "run_s", "build_jobs", "run_jobs", "stages", "tasks",
      "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "longest_task_ms",
      "longest_task_stage", "planning_ms", "checkpoint_bytes", "observed")
      .foreach(k => assert(json.contains("\"" + k + "\":"), s"$k in $json"))
  }

  test("the longest task's stage is named by its operator, not by the " +
    "async planner's call site") {
    timed("q1_agg", "w1_lag", "j1_broadcast_join").foreach { case (n, q) =>
      val stage = q.record.get.longestTaskStage.get
      assert(!stage.contains("CompletableFuture"), s"$n: $stage")
    }
  }

  test("the session record names the scratch dir, the /dev/shm gate, " +
    "the coalesce floor and the cores") {
    val json = QueryMetrics.sessionJson(spark)
    Seq("\"local_dir\":", "\"shm_gate_fired\":", "\"coalesce_floor\":", "\"cores\":4")
      .foreach(k => assert(json.contains(k), json))
  }

  /** Every `Dataset.observe` name in `src/main`, with one catalog query
    * that reaches its site. `fingerprint_buckets`, the default name of
    * `Dedup.fingerprintNearPairs`, is reached by no catalog query (each
    * caller names its own metric), so a direct call stands in. */
  private val observeSites = Seq(
    "minhash_buckets" -> "dd3_minhash_lsh",
    "minhash_est_buckets" -> "dd20_minhash_estimate",
    "incremental_buckets" -> "dd18_incremental",
    "cross_hot_buckets" -> "dd9_decontamination",
    "simhash_buckets" -> "dd5_simhash",
    "phash_buckets" -> "mm5_phash_pairs",
    "fingerprint_buckets" -> "fingerprintNearPairs",
    "incremental_simhash_buckets" -> "dd29_incremental_simhash",
    "embedding_buckets" -> "dd6_embedding_neardup",
    "semdedup_cells" -> "sd1_semdedup",
    "semdecon_cells" -> "sd3_semantic_decontam",
    "winnow_buckets" -> "wn1_winnow_pairs",
    "fuzzy_blocks" -> "fz1_fuzzy_match",
    "fuzzy_blocks_right" -> "fz1_fuzzy_match",
    "basket_sizes" -> "mb1_frequent_pairs",
    "aa_apexes" -> "gr7_adamic_adar",
    "neardup_verify" -> "dd4_near_duplicates",
    "rfm_quantum" -> "ev38_rfm_autocoarsen")

  /** Metrics observed below a lazy checkpoint: they reach a listener
    * with null fields (the FOUND lines on them in CHANGES.md), so only
    * their names are asserted. */
  private val nullBelowCheckpoint =
    Set("winnow_buckets", "basket_sizes", "incremental_simhash_buckets", "incremental_buckets")

  test("every observe metric in src/main reaches the record of a query " +
    "that runs its site") {
    val fingerprints: (SparkSession, String) => DataFrame = (s, dir) =>
      Dedup.fingerprintNearPairs(
        Queries.t(s, dir, "documents").select(col("doc_id"), Dedup.simhash(col("text")).as("fp")),
        "doc_id", "fp", maxHamming = 3)
    val metrics = QueryMetrics.attach(spark)
    val records = try observeSites.map(_._2).distinct.map { q =>
      val fn = if (q == "fingerprintNearPairs") fingerprints else SparkEntry.queries(q)
      val t = Bench.timeQuery(spark, metrics, fn, sfDir, reps = 1)
      assert(t.err.isEmpty, s"$q: ${t.err}")
      q -> t.record.get
    }.toMap
    finally metrics.detach()
    observeSites.foreach { case (name, q) =>
      val observed = records(q).observed
      assert(observed.contains(name), s"$q: ${observed.keySet}")
      if (!nullBelowCheckpoint(name))
        assert(!observed(name).anyNull, s"$q: $name = ${observed(name)}")
    }
  }

  test("no src/main graft file outside tools/QueryMetrics.scala registers " +
    "a listener outside a comment") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => root.relativize(p).toString == "tools/QueryMetrics.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if (line.contains("addSparkListener(") ||
                line.contains("listenerManager.register(")) && {
                val t = line.trim
                !t.startsWith("*") && !t.startsWith("//")
              } => s"$p:${i + 1}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
