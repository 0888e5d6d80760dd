package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Catalog-wide physical-plan tripwire: every SparkEntry.queries entry
  * is planned against sf0.001 and must not contain a CartesianProduct,
  * nor a BroadcastNestedLoopJoin whose broadcast side isn't PROVABLY
  * BOUNDED — a grouping-free aggregate (1 row by construction), a
  * literal local relation, or a limit — unless the query is on the
  * explicit allowlist of intentional bounded fan-outs. PLANS.md records
  * why each family is safe; this spec automates the drift guard it
  * previously provided only narratively: a refactor that silently turns
  * an equi-join into a nested loop fails here, not at 100 TB. */
class CatalogPlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Intentional data-dependent-but-dimension-bounded nested-loop
    * fan-outs (each documented at its operator):
    *  - sim* ANN queries: a ≤5-row query set nested-loops the corpus —
    *    brute-force/rerank top-k is definitionally all-pairs vs queries
    *  - trade_full/trade_cal/d17: account fan-out (≤|accounts| dim)
    *  - sw1: 3 strategy variants crossed onto one tagged pipeline
    *  - ml8/ml9: ≤|folds| boundary frames onto the panel
    *  - r7: trading-calendar densify (dates × sids dimension grid)
    *  - coint1: ≤6-row sid-pair frame drives per-pair regressions
    *  - sd2/sd3: ≤k sampled prototype centroids onto the vector stream */
  private val bnljAllow: Set[String] = Set(
    "sim1_bruteforce_topk", "sim3_ivf_topk", "sim4_ivf_nprobe",
    "sim6_pq_topk", "sim7_ivfadc", "sim8_index_search", "sim9_rank_eval",
    "sim10_hard_negatives", "sim13_matryoshka", "sim14_nprobe_recall",
    "sim15_mmr", // ≤5-row query set drives the top-20 relevance scan
    "ir4_rrf", // ≤5-row filtered query set drives the fused rank lists
    "trade_full", "trade_cal", "d17_trade_limits", "sw1_param_sweep",
    "ml8_purged_cv", "ml9_walk_forward", "r7_densify", "coint1_pairs",
    "sd2_prototypes", "sd3_semantic_decontam",
    "ml40_cluster_eval", // ≤k trained centroids + checkpointed 1-row reductions (opaque)
    "sk5_hll_overlap", // |event_type|² sketch pairs — dimension-bounded
    "sk8_kmv_overlap", // |l_returnflag|² sketch pairs — dimension-bounded (the sk5 stance)
    "ev20_retention_fit", // ≤maxOffset per-offset caps behind a filter
    "ct1_chisq", // contingency-grid completion: distinct(d1) × distinct(d2), both dimension-bounded
    "qn1_quantile_norm") ++ // rank lookup vs the PrefixSum bucket-offsets frame (≤ occupied buckets — the r8 two-level-scan rewire)
    nbChain

  /** PATTERN rule, justified once: every consumer of the cl2 naive-Bayes
    * classify chain broadcasts CHECKPOINTED model statistics — bounded by
    * construction at ≤|labels| (+1 scalar prior) rows, but opaque to the
    * boundedness prover because the checkpoint materializes them as an
    * RDD scan. Any future NB-chain query (learning curves, ablations,
    * paired tests) inherits this justification by joining the set. */
  private def nbChain: Set[String] = Set(
    "cl2_nb_classify", "ml33_nb_learning_curve", "ml38_source_ablation",
    "ml39_mcnemar")

  /** A broadcast side is provably bounded when its subtree ends in a
    * grouping-free aggregate (scalar — exactly one row), a literal
    * local relation, a literal-bounded Range, or a limit. A
    * ReusedExchange holds its original exchange as a FIELD (it is a
    * leaf in the tree), so boundedness recurses into it explicitly.
    * Broadcast subtrees are small; a collectFirst over them can't
    * false-positive on data-scale nodes because anything row-scale
    * under a broadcast would be the very bug this spec exists to
    * catch. */
  private def provablyBounded(p: SparkPlan): Boolean =
    p.collectFirst {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
      case _: LocalTableScanExec => true
      case _: org.apache.spark.sql.execution.RangeExec => true
      case l if l.nodeName.contains("Limit") => true
      // orderBy().limit(n) plans as TakeOrderedAndProject — a global
      // limit in disguise (ab1's two 1-row variant frames)
      case t if t.nodeName.contains("TakeOrdered") => true
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        provablyBounded(r.child)
    }.contains(true)

  test("no catalog query plans CartesianProduct; BroadcastNestedLoopJoin " +
    "only with provably-bounded broadcast sides or on the allowlist") {
    val sc = spark.sparkContext
    // static plans: AQE wraps the tree in AdaptiveSparkPlanExec whose
    // children aren't walkable pre-execution; join strategy decisions
    // under inspection here are made statically anyway
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        // s1_universes needs nation keys 1/2 present among suppliers —
        // a data-scale artifact of the tiny sf, not a plan property
        val dir = if (name == "s1_universes") "/root/testdata/sf0.01" else sfDir
        val finding =
          try {
            val plan = fn(spark, dir).queryExecution.executedPlan
            val carts = plan.collect { case c: CartesianProductExec => c }
            val loops = plan.collect {
              case j: BroadcastNestedLoopJoinExec
                  if !bnljAllow(name) &&
                    !provablyBounded(j.buildSide match {
                      case BuildLeft => j.left
                      case BuildRight => j.right
                    }) => j
            }
            if (carts.nonEmpty || loops.nonEmpty)
              Some(s"$name: cartesian=${carts.size} unbounded-bnlj=${loops.size}")
            else None
          } catch {
            case e: Throwable =>
              Some(s"$name: failed to plan: " +
                s"${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
          }
        // keep the sweep honest: eager queries checkpoint state; drop it
        sc.getPersistentRDDs.values.foreach(_.unpersist(false))
        finding
      }
      assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  private def shuffleBudgets = PlanBudgets.shuffleBudgets

  /** Counts subquery-held plans too (DPP/scalar subqueries hold REAL
    * exchanges inside expressions, invisible to a children-only
    * collect — sim8's query-encoding pipeline hides 3 there; AQE flips
    * the exchange-reuse direction and surfaces them in the main tree,
    * so both audits must count them for the budgets to be comparable). */
  private def countShuffles(p: SparkPlan): Int = {
    val here = p.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }.size
    val subs = p.collect { case n if n.subqueries.nonEmpty => n.subqueries }
      .flatten.map(countShuffles).sum
    here + subs
  }
  test("shuffle-exchange budgets hold for the hottest pipelines " +
    "(static plans, AQE off; an added shuffle fails the budget)") {
    val sc = spark.sparkContext
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val findings = shuffleBudgets.toSeq.sortBy(_._1).flatMap {
        case (name, budget) =>
          val actual =
            countShuffles(SparkEntry.queries(name)(spark, sfDir)
              .queryExecution.executedPlan)
          sc.getPersistentRDDs.values.foreach(_.unpersist(false))
          if (actual > budget) Some(s"$name: $actual shuffles > budget $budget")
          else if (actual < budget) Some(s"$name: budget slack — " +
            s"actual $actual < recorded $budget (tighten the table)")
          else None
      }
      assert(findings.isEmpty, s"\n${findings.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("the budget tripwire actually fires: a gratuitous repartition " +
    "adds a ShuffleExchange the count detects") {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val base = SparkEntry.queries("mb1_frequent_pairs")(spark, sfDir)
      val clean = countShuffles(base.queryExecution.executedPlan)
      // the intentional regression: one pointless re-key before the sink
      val regressed = countShuffles(base.repartition(7,
        org.apache.spark.sql.functions.col(base.columns.head))
        .queryExecution.executedPlan)
      assert(regressed == clean + 1,
        s"expected exactly one added shuffle: clean=$clean regressed=$regressed")
      assert(regressed > shuffleBudgets("mb1_frequent_pairs") ||
        clean == shuffleBudgets("mb1_frequent_pairs"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }
}

/** Shuffle-exchange budgets for the hottest catalog pipelines. An
  * ADDED shuffle is the likeliest silent 100×-scale regression — a
  * refactor that breaks co-partitioning, loses a broadcast to a
  * sort-merge join, or re-keys mid-chain shows up here as one extra
  * ShuffleExchange in the STATIC plan (AQE off; ReusedExchange does
  * not count — reuse is the optimization the budget protects).
  * Budgets are the audited round-7/8 plan shapes: lowering one is an
  * improvement (update the table); exceeding one fails loudly and
  * must be justified the way the BNLJ allowlist entries are.
  *
  * Shared by [[CatalogPlanSpec]] (static plans, AQE off) and
  * [[CatalogPlanAqeSpec]] (adaptive FINAL plans after execution — the
  * decisions AQE actually makes at scale). */
object PlanBudgets {
  val shuffleBudgets: Map[String, Int] = Map(
    // 0-shuffle entries are eager/checkpointed chains: their upstream
    // shuffles ran at checkpoint time and the published plan is a pure
    // ExistingRDD scan — 0 IS the pinned no-recompute property
    "wn1_winnow_pairs" -> 1, // k-gram hash + window-min in one chain; one agg
    "ml38_source_ablation" -> 0, // additive NB counts (r9): ONE tagged
    // count pass + one multi-model scoring pass, all stages behind
    // bounded checkpoints — the published plan is small-frame joins
    "er1_entities" -> 0, // CheckpointScope'd end-to-end (r7); result is an ExistingRDD scan
    "ppj1_prefix_join" -> 1, // prefix fan-out re-key; verify is two joins
    // against the CHECKPOINTED sorted-id-array frame + the native
    // merge intersect (r8) — the (pair × token) verify agg shuffle is gone
    "gr3_components" -> 0, // iterative min-label, checkpointed
    "dd5_simhash" -> 3, // band re-key, pair agg, cluster agg
    "dd7_dup_clusters" -> 0, // cluster fixpoint, checkpointed
    "dd18_incremental" -> 0, // vs persisted index, checkpointed
    "dd21_best_survivors" -> 1, // min_by survivor agg; candidates/verify
    // ride the size-adaptive CC's materializations (r8 — labels arrive
    // as a bounded local frame at gate scale)
    "dd23_soft_weights" -> 0, // soft-weight chain, checkpointed
    "pipeline_dedup" -> 0, // full pipeline, stage checkpoints
    "pipeline_curate" -> 0, // end-to-end curation, CheckpointScope'd (r7)
    "port2_riskparity" -> 0, // CheckpointScope'd iteration
    "sim8_index_search" -> 4, // 1 probe-side top-k re-key + 3 in the
    // BOUNDED query-encoding subtree (≤5 query vectors × codebook): the
    // r8 subquery-aware count surfaces them — they previously hid
    // inside the DPP SubqueryBroadcast expression
    "cl4_logreg_scores" -> 2, // feature agg + score agg
    "bpe2_encode" -> 4, // 10 merge steps fold into 4 re-keys
    "sw1_param_sweep" -> 4, // 3 variants share the tagged pipeline's exchanges
    "ic5_bootstrap" -> 3, // resample re-key + two reduction aggs
    "mb1_frequent_pairs" -> 2, // ONE basket repartition + pair agg (the r6 fix)
    "backtest_pipeline" -> 3, // panel pivot, returns melt, summary agg
    "perf_ccf" -> 0, // per-lag cross-correlations over the shifted
    // panel; 8 → 6 in r13: the benchmarked prices fixture lazily
    // checkpoints, so the three panel instances (chain + grid + closes)
    // no longer each carry their own scan→aggregate exchange; 6 → 0 in
    // r14: the backtest runs into Performance's shared per-date series
    // before planning, and the published plan reads its one-partition
    // local rows — the window and the per-lag aggregation need no
    // exchange
    // r7 additions worth pinning (harvested from the static plans)
    "sim15_mmr" -> 0, // greedy over checkpointed bounded frames
    "gr9_bfs_layers" -> 0, // CheckpointScope'd frontier rounds
    "tx30_fertility" -> 5, // BPE encode word-vocab chain + lang agg
    "sp15_negative_samples" -> 1, // PrefixSum bucket-offsets agg (r9) —
    // the shuffle that replaced the vocab-sized single-task window
    "ev33_window_funnel" -> 2) // one user-key sort + depth histogram agg
}
