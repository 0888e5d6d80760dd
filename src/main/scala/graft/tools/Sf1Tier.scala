package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 sanity tier: a 10× replica of the sf0.1 testdata, synthesized
  * CHARACTER-PRESERVINGLY (each copy is internally identical to the
  * original; copies never collide with each other), plus a timed run
  * of every shuffle-budgeted pipeline at both tiers, through
  * `graft.Bench`'s warm-up and per-query routine (min of
  * SPARK_GRAFT_BENCH_REPEATS, default 3). Superlinear growth
  * between sf0.1 and sf1 is the cheapest tripwire for the next
  * O(n²)-class bug that row-level correctness gates can't see — the
  * ratios land in BASELINE.md and should all stay ≲ 12× (10× data, some
  * log factors and fixed overheads).
  *
  * Replication contracts (why the workload character survives 10×):
  *  - facts/dims with long PKs (lineitem, orders, customer, supplier,
  *    part): every key column shifts by copy·10¹², so each copy is a
  *    disjoint id-universe; per-sid densities, join fan-outs and group
  *    sizes are EXACTLY the original's.
  *  - documents: every WORD is prefixed with the copy tag, so shingle
  *    sets within a copy keep their exact overlap structure while
  *    cross-copy shingle collisions are impossible — dup mass scales
  *    exactly 10×, no artificial near-dup clusters (a naive text copy
  *    would weld each doc to its 9 replicas).
  *  - embeddings: one dimension gets a copy-dependent ±0.001·copy bump
  *    — cosine structure within a copy is preserved to ~1e-3, exact
  *    cross-copy ties are broken.
  *  - events: user/event ids shift; timestamps unchanged (the per-user
  *    event-time profile is the workload).
  *  - nation/region: bounded dims, copied as-is.
  *
  * Usage: runMain graft.tools.Sf1Tier [src] [dst] [only=substr]
  * The driver heap is the forked JVM's -Xmx (SPARK_DRIVER_MEM, read by
  * build.sbt's javaOptions).
  */
object Sf1Tier {

  private val Copies = 10
  private val Shift = 1000000000000L // 10^12 > any sf0.1 key

  /** Must stay in sync with PlanBudgets.shuffleBudgets (test scope);
    * Sf1TierSpec asserts set equality so drift fails the build. */
  val budgetedQueries: Seq[String] = Seq(
    "wn1_winnow_pairs", "ml38_source_ablation", "er1_entities",
    "ppj1_prefix_join", "gr3_components", "dd5_simhash",
    "dd7_dup_clusters", "dd18_incremental", "dd21_best_survivors",
    "dd23_soft_weights", "pipeline_dedup", "pipeline_curate",
    "port2_riskparity", "sim8_index_search", "cl4_logreg_scores",
    "bpe2_encode", "sw1_param_sweep", "ic5_bootstrap",
    "mb1_frequent_pairs", "backtest_pipeline", "perf_ccf",
    "sim15_mmr", "gr9_bfs_layers", "tx30_fertility",
    "sp15_negative_samples", "ev33_window_funnel")

  /** Queries whose plan shape changed in the r8/r9 PrefixSum sweep
    * (single-task histogram windows → two-level bucket scans) — their
    * scale behavior is newly claimed, so they get the 10× growth check
    * alongside the budgeted pipelines. Disjoint from
    * [[budgetedQueries]] (sp15/ml38 are already there). */
  val rewiredQueries: Seq[String] = Seq(
    "ml30_woe_iv", "qn1_quantile_norm", "dq9_ks_drift",
    "ab2_mann_whitney", "ev26_qini", "ml36_conformal", "ml4_metrics",
    "ml6_avg_precision", "ml13_ks_drift", "ml21_separation",
    "ml33_nb_learning_curve", "ev37_gini", "ev17_rfm")

  /** Round-9 catalog additions — new operators whose scale behavior
    * has no prior tier row (iterative LPA + modularity, the KMV
    * bottom-k selection, the l-diversity class scan, permutation
    * importance and linear SHAP on the OLS fit). Disjoint from both
    * lists above (Sf1TierSpec enforces). */
  val roundAdditions: Seq[String] = Seq(
    "gr10_label_prop", "gr11_modularity", "sk7_kmv", "dq12_ldiversity",
    "ml42_perm_importance", "ml43_linear_shap",
    // session-3 wave 2 — dd27 is the headline: the PRODUCTION 64/8
    // simhash config whose ratio answers dd5's documented 11.64×
    "gr12_louvain_round", "sk8_kmv_overlap", "ir5_query_likelihood",
    "sp16_curriculum", "ic7_rank_autocorr", "a18_quantiles_exact",
    "dd27_simhash_prod",
    // round 10 — the Manku block-permutation answer to the measured
    // dd27/dd5 quadratic band-collision mass (honest r10 tier)
    "dd28_simhash_blocked",
    // round 11 — ir1 joins ir5 for the post-tokenize-once-fix tier
    // refresh (the r10 table's 18.45×/13.2 s rows predate the fix);
    // dd29 is the round's new op (build+search both inside the query)
    "ir1_bm25", "dd29_incremental_simhash", "ev38_rfm_autocoarsen")

  private def shifted(df: DataFrame, keys: Seq[String], copy: Int): DataFrame =
    keys.foldLeft(df)((d, k) =>
      d.withColumn(k, col(k) + lit(copy.toLong * Shift)))

  private def replicate(df: DataFrame, copy: Int => DataFrame): DataFrame =
    (0 until Copies).map(copy).reduce(_.unionByName(_))

  def synthesize(spark: SparkSession, src: String, dst: String): Unit = {
    val done = Paths.get(dst, "_DONE")
    if (Files.exists(done)) return
    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def w(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[sf1tier] wrote $name")
    }
    w("lineitem", replicate(t("lineitem"),
      c => shifted(t("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"), c)))
    w("orders", replicate(t("orders"),
      c => shifted(t("orders"), Seq("o_orderkey", "o_custkey"), c)))
    w("customer", replicate(t("customer"),
      c => shifted(t("customer"), Seq("c_custkey"), c)))
    w("supplier", replicate(t("supplier"),
      c => shifted(t("supplier"), Seq("s_suppkey"), c)))
    w("part", replicate(t("part"),
      c => shifted(t("part"), Seq("p_partkey"), c)))
    w("events", replicate(t("events"),
      c => shifted(t("events"), Seq("event_id", "user_id"), c)))
    w("documents", replicate(t("documents"), c =>
      shifted(t("documents"), Seq("doc_id"), c)
        .withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            word => concat(lit(s"c$c"), word))))
        .withColumn("n_chars", length(col("text")).cast("long"))))
    w("embeddings", replicate(t("embeddings"), c =>
      shifted(t("embeddings"), Seq("vec_id"), c)
        .withColumn("embedding",
          transform(col("embedding"),
            (x, i) => when(i === lit(c % 64), x + lit(0.001f * c))
              .otherwise(x)))))
    w("nation", t("nation"))
    w("region", t("region"))
    Files.createFile(done)
  }

  def main(args: Array[String]): Unit = {
    val plain = args.filterNot(_.startsWith("only="))
    val only = args.collectFirst { case a if a.startsWith("only=") => a.drop(5) }
    val src = if (plain.length > 0) plain(0) else "/root/testdata/sf0.1"
    val dst = if (plain.length > 1) plain(1) else "/tmp/graft_sf1"
    val spark = LocalIo.session("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    synthesize(spark, src, dst)

    // Min-of-N repeats per (query, tier) after a warm-up of BOTH tiers:
    // one-shot rows read sf0.1 COLD (fresh JVM, first parquet footers)
    // while sf1 ran warm — sub-1× "ratios" that were ordering
    // artifacts, not scale facts (r9 verdict item 1).
    graft.Bench.warmUp(spark, src, dst)
    val metrics = QueryMetrics.attach(spark)
    def runMin(name: String, dir: String): Double = {
      val t = graft.Bench.timeQuery(spark, metrics, graft.SparkEntry.queries(name), dir,
        graft.Bench.repeats)
      t.err.foreach(e => sys.error(s"$name at $dir: $e"))
      t.min
    }
    val rows = (budgetedQueries ++ rewiredQueries ++ roundAdditions)
      .filter(n => only.forall(n.contains))
      .map { name =>
        val a = runMin(name, src)
        val b = runMin(name, dst)
        println(f"[sf1tier] $name%-24s sf0.1 $a%7.2f s   sf1 $b%8.2f s   ratio ${b / a}%5.2f x")
        (name, a, b)
      }
    val json = rows.map { case (n, a, b) =>
      f""""$n":{"sf01":$a%.3f,"sf1":$b%.3f,"ratio":${b / a}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"[sf1tier-json] $json")
    spark.stop()
  }
}
