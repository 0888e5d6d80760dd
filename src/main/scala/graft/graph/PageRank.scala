package graft.graph

import graft.Checkpoint._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Buckets, ParameterError}

/** Weighted PageRank by power iteration — link analysis for
  * web-corpus curation (domain authority as a quality prior: a
  * RefinedWeb-style pipeline weights documents by where the link graph
  * says they sit, not just what they contain).
  *
  * Scale shape per iteration: ONE equi-join of the node-rank frame
  * onto the edge list keyed by source (both shuffle on the node key —
  * NOT a broadcast: at web scale the rank frame is billions of rows),
  * one sum per destination, one bounded dangling-mass scalar row
  * crossJoined back. Edge transition probabilities w/W_src are
  * precomputed once. Everything else is per-row arithmetic; iteration
  * count is fixed (power iteration, not convergence-polled).
  *
  * Determinism (the logreg-GD stance): ranks live as pico-quantized
  * BIGINTs; each edge contribution rounds r_src·(w/W_src) to picos
  * per-row (identical IEEE inputs in any engine), so the per-dst sums
  * are exact integer additions and a SQL oracle can replay every
  * iteration as unrolled CTEs. */
object PageRank {

  /** `(node, rank)` after `iterations` damped power steps over
    * `edges` (srcCol, dstCol, weightCol; weights must be positive).
    * Ranks sum to ~1 (pico-rounding drift only). Dangling mass is
    * redistributed uniformly. */
  def pagerank(
      edges: DataFrame,
      iterations: Int,
      damping: Double = 0.85,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "weight"): DataFrame = {
    if (iterations <= 0)
      throw new ParameterError(s"iterations must be positive: $iterations")
    if (damping <= 0 || damping >= 1)
      throw new ParameterError(s"damping must be in (0, 1): $damping")
    // per-iteration intermediates are released at scope exit — a long
    // pipeline calling pagerank leaves only the (eager) result blocks
    graft.Checkpoint.scoped(edges.sparkSession) {
    val nodes = edges.select(col(srcCol).as("node"))
      .unionByName(edges.select(col(dstCol).as("node")))
      .distinct().checkpointed(eager = false)
    // transition probability per edge: w / W_src, precomputed once
    val probs = edges
      .join(edges.groupBy(col(srcCol)).agg(sum(col(weightCol)).as("__W")),
        srcCol)
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"),
        (col(weightCol).cast("double") / col("__W")).as("__p"))
      .checkpointed(eager = false)
    val n = nodes.count()
    if (n == 0) throw new ParameterError("pagerank: empty edge list")
    val basePico = math.round((1.0 - damping) / n * 1e12)
    val initPico = math.round(1.0 / n * 1e12)

    // nodes with no out-edges, computed ONCE: the set is
    // iteration-invariant, so the per-round dangling probe is a
    // semi-join against this frame instead of a fresh distinct
    // shuffle of the edge list every round
    val danglingNodes = nodes
      .join(probs.select(col("__s").as("node")).distinct(),
        Seq("node"), "left_anti")
      .checkpointed(eager = false)
    // r12: probe the iteration-invariant dangling set ONCE. When it is
    // empty (most explicit-edge graphs — every node has out-edges) the
    // per-round dangling branch is algebraically zero: __dm = 0 ⇒
    // round(0/n) = 0, so the semi-join + scalar aggregate + crossJoin
    // it costs per round (≈3 stages × iterations) can be skipped with a
    // bit-identical result. One bounded isEmpty probe against the
    // checkpointed frame pays for itself in the first round.
    val hasDangling = !danglingNodes.isEmpty
    var ranks = nodes.withColumn("__r", lit(initPico))
    for (_ <- 1 to iterations) {
      val contribs = probs
        .join(ranks.select(col("node").as("__s"), col("__r")), "__s")
        .groupBy(col("__d").as("node"))
        .agg(sum(round(col("__r").cast("double") * col("__p"), 0).cast("long"))
          .as("__c"))
      val joined = ranks.select(col("node"))
        .join(contribs, Seq("node"), "left")
      val next =
        if (hasDangling) {
          // dangling mass: ranks on nodes with no out-edges, one scalar row
          val dangling = ranks
            .join(danglingNodes, Seq("node"), "left_semi")
            .agg(coalesce(sum(col("__r")), lit(0L)).as("__dm"))
          joined.crossJoin(dangling)
            .select(col("node"),
              (lit(basePico) +
                round(lit(damping) * (coalesce(col("__c"), lit(0L)) +
                  round(col("__dm").cast("double") / n, 0).cast("long"))
                  .cast("double"), 0).cast("long")).as("__r"))
        } else
          joined.select(col("node"),
            (lit(basePico) +
              round(lit(damping) * coalesce(col("__c"), lit(0L))
                .cast("double"), 0).cast("long")).as("__r"))
      ranks = next.checkpointed(eager = false, keepAqe = true) // round state
    }
    ranks.select(col("node"), (col("__r").cast("double") / 1e12).as("rank"))
    }
  }

  /** GR8: personalized PageRank (Page et al. 1999 §6; Haveliwala
    * 2002) — the same damped power iteration as [[pagerank]], but ALL
    * teleport mass (the 1−d base term and the dangling redistribution)
    * lands uniformly on a SEED set instead of the whole graph:
    * authority conditioned on "relevance flows out from these nodes".
    * The topic-conditioned curation prior (rank docs near the trusted
    * seeds), the "related items" primitive, and the seeded-community
    * scorer, in one operator.
    *
    * Same pico-exact determinism contract as [[pagerank]] (per-edge
    * contributions rounded to picos before exact integer sums, so a
    * SQL oracle replays every iteration), same per-iteration scale
    * shape (one node-key join + one dst aggregation + one scalar
    * dangling row), same checkpoint-scope lifecycle. Seeds are
    * restricted to nodes present in the graph; none present → loud
    * error. Nodes unreachable from the seeds legitimately score 0. */
  def personalizedPagerank(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int,
      damping: Double = 0.85,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "weight",
      seedCol: String = "node"): DataFrame = {
    if (iterations <= 0)
      throw new ParameterError(s"iterations must be positive: $iterations")
    if (damping <= 0 || damping >= 1)
      throw new ParameterError(s"damping must be in (0, 1): $damping")
    graft.Checkpoint.scoped(edges.sparkSession) {
    val nodes = edges.select(col(srcCol).as("node"))
      .unionByName(edges.select(col(dstCol).as("node")))
      .distinct().checkpointed(eager = false)
    val probs = edges
      .join(edges.groupBy(col(srcCol)).agg(sum(col(weightCol)).as("__W")),
        srcCol)
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"),
        (col(weightCol).cast("double") / col("__W")).as("__p"))
      .checkpointed(eager = false)
    val seedFlag = seeds
      .select(col(seedCol).as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
      .withColumn("__sd", lit(1L))
      .checkpointed(eager = false)
    val nS = seedFlag.count()
    if (nS == 0)
      throw new ParameterError("personalizedPagerank: no seed is a graph node")
    val basePico = math.round((1.0 - damping) / nS * 1e12)
    val initPico = math.round(1.0 / nS * 1e12)

    // iteration-invariant no-out-edge set, computed once (the
    // [[pagerank]] hoist): per round the dangling probe is a semi-join
    val danglingNodes = nodes
      .join(probs.select(col("__s").as("node")).distinct(),
        Seq("node"), "left_anti")
      .checkpointed(eager = false)
    // r12: one isEmpty probe hoists the per-round dangling branch when
    // the set is empty — __dm = 0 makes it algebraically inert (see
    // [[pagerank]]); bit-identical output, ≈3 fewer stages per round.
    val hasDangling = !danglingNodes.isEmpty
    var ranks = nodes.join(seedFlag, Seq("node"), "left")
      .select(col("node"),
        when(col("__sd") === 1L, initPico).otherwise(0L).as("__r"))
    for (_ <- 1 to iterations) {
      val contribs = probs
        .join(ranks.select(col("node").as("__s"), col("__r")), "__s")
        .groupBy(col("__d").as("node"))
        .agg(sum(round(col("__r").cast("double") * col("__p"), 0).cast("long"))
          .as("__c"))
      val joined = ranks.select(col("node"))
        .join(seedFlag, Seq("node"), "left")
        .join(contribs, Seq("node"), "left")
      val next =
        if (hasDangling) {
          val dangling = ranks
            .join(danglingNodes, Seq("node"), "left_semi")
            .agg(coalesce(sum(col("__r")), lit(0L)).as("__dm"))
          joined.crossJoin(dangling)
            .select(col("node"),
              (when(col("__sd") === 1L, basePico).otherwise(0L) +
                round(lit(damping) * (coalesce(col("__c"), lit(0L)) +
                  when(col("__sd") === 1L,
                    round(col("__dm").cast("double") / nS, 0).cast("long"))
                    .otherwise(0L))
                  .cast("double"), 0).cast("long")).as("__r"))
        } else
          joined.select(col("node"),
            (when(col("__sd") === 1L, basePico).otherwise(0L) +
              round(lit(damping) * coalesce(col("__c"), lit(0L))
                .cast("double"), 0).cast("long")).as("__r"))
      ranks = next.checkpointed(eager = false, keepAqe = true) // round state
    }
    ranks.select(col("node"), (col("__r").cast("double") / 1e12).as("rank"))
    }
  }

  /** Per-node triangle counts and local clustering coefficient over
    * the UNDIRECTED simple graph of `edges` (direction, weights, and
    * duplicate/self edges are dropped first) — community structure for
    * link-graph curation (a crawl source whose neighborhood never
    * closes triangles is a link farm signature; a dense ego-net is a
    * real community).
    *
    * Algorithm: degree-ordered orientation (Cohen 2009 / the standard
    * MapReduce formulation) — each undirected edge points from its
    * lower-(degree, id) endpoint to the higher, which bounds any
    * node's out-degree by O(√m) REGARDLESS of its real degree, so the
    * wedge self-join's cost is O(m^{3/2}) worst case with no hot-key
    * blowup on power-law graphs (the orientation IS the skew guard:
    * a celebrity node has huge in-degree but tiny out-degree). Each
    * triangle is found exactly once, at its lowest-ordered apex, by
    * closing wedges against the oriented edge set; per-node counts
    * explode the three corners. Clustering = 2T/(deg·(deg−1)) with
    * integer-quotient rounding (the VWAP .5-boundary lesson).
    *
    * Plan: dedup shuffle → two degree joins on the node key → one
    * wedge self-join on the apex + one closing equi-join — all
    * equi-joins on node keys, no nested loop, everything exact
    * integers. Output (node, degree, triangles, clustering). */
  def triangles(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b"))
      .where(col("__a") =!= col("__b") &&
        col("__a").isNotNull && col("__b").isNotNull)
      .distinct()
      .checkpointed(eager = false) // feeds degrees + orientation
    val deg = und
      .select(explode(array(col("__a"), col("__b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .checkpointed(eager = false) // feeds orientation + the output join
    val oriented = und
      .join(deg.select(col("node").as("__a"), col("degree").as("__da")), "__a")
      .join(deg.select(col("node").as("__b"), col("degree").as("__db")), "__b")
      // __a < __b already, so the id tie-break keeps __a first
      .select(
        when(col("__da") <= col("__db"), col("__a")).otherwise(col("__b"))
          .as("__u"),
        when(col("__da") <= col("__db"), col("__b")).otherwise(col("__a"))
          .as("__v"),
        when(col("__da") <= col("__db"),
          struct(col("__db").as("d"), col("__b").as("n")))
          .otherwise(struct(col("__da").as("d"), col("__a").as("n")))
          .as("__ov"))
      .checkpointed(eager = false) // wedge + closing joins reuse it
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.__u") === col("e2.__u") &&
          col("e1.__ov") < col("e2.__ov"))
      .select(col("e1.__u").as("__apex"), col("e1.__v").as("__x"),
        col("e2.__v").as("__y"))
    val closed = wedges
      .join(oriented.select(col("__u").as("__x"), col("__v").as("__y")),
        Seq("__x", "__y"))
      .select(col("__apex"), col("__x"), col("__y"))
    val perNode = closed
      .select(explode(array(col("__apex"), col("__x"), col("__y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg
      .join(perNode, Seq("node"), "left")
      .select(
        col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        (round(when(col("degree") >= 2,
          coalesce(col("triangles"), lit(0L)).cast("double") * 2e6 /
            (col("degree") * (col("degree") - 1)))) / 1e6)
          .as("clustering"))
  }

  /** k-core of the undirected graph (Seidman 1983): the maximal
    * subgraph where every node keeps degree ≥ k — the standard
    * "dense backbone" screen (spam rings, collaboration cores) and the
    * precondition many community algorithms assume.
    *
    * Iterative peeling: each round deletes EVERY node whose remaining
    * degree is < k (bulk-synchronous — one degree agg + one semi-join
    * per round, edges re-checkpointed so a round joins materialized
    * state, the duplicateClusters discipline). Rounds needed equal the
    * graph's peeling depth, NOT its size — but adversarial chains
    * (a path peels two ends per round) can be deep, so the loop raises
    * LOUDLY at `maxIters` rather than returning a half-peeled set.
    * Extra rounds after convergence are no-ops (peeling is monotone),
    * which is what lets the oracle unroll a fixed round count safely.
    * Output: surviving (node, core_degree). */
  def kCore(
      edges: DataFrame,
      k: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIters: Int = 30): DataFrame = {
    if (k < 2) throw new ParameterError(s"k must be >= 2: $k")
    val und0 = edges
      .select(least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b"))
      .where(col("__a") =!= col("__b") &&
        col("__a").isNotNull && col("__b").isNotNull)
      .distinct()
    // round state (live edge set, weak frontier) keeps AQE
    // (`keepAqe = true`, the pagerank round-state rationale): every
    // consumer re-keys these frames (groupBy u / anti-joins on u and
    // v), so no declared partitioning is consumed downstream, and each
    // round's job benefits from AQE's runtime coalescing instead
    var live = und0.select(col("__a").as("u"), col("__b").as("v"))
      .union(und0.select(col("__b").as("u"), col("__a").as("v")))
      .checkpointed(eager = true, keepAqe = true)
    var iter = 0
    var weakCount = 1L
    while (weakCount > 0 && iter < maxIters) {
      val deg = live.groupBy(col("u")).agg(count(lit(1)).as("__d"))
      val weak = deg.where(col("__d") < k).select(col("u"))
        .checkpointed(eager = true, keepAqe = true) // joined twice below
      weakCount = weak.count()
      if (weakCount > 0) {
        live = live
          .join(weak, Seq("u"), "left_anti")
          .join(weak.select(col("u").as("v")), Seq("v"), "left_anti")
          .checkpointed(eager = true, keepAqe = true)
      }
      iter += 1
    }
    if (weakCount > 0)
      throw new graft.GraftError(
        s"$k-core peeling did not converge in $maxIters rounds — " +
          "peeling depth exceeds maxIters; raise it")
    live.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("core_degree"))
  }

  /** Degree assortativity coefficient (Newman 2002): the Pearson
    * correlation of endpoint degrees over every directed orientation of
    * the undirected edge set. Positive = hubs link hubs (social),
    * negative = hubs link leaves (technological/web).
    *
    * Everything before the final expression is exact integer moments
    * (Σx, Σxy, Σx², … over 2|E| orientation rows — one aggregate after
    * the two degree joins), and the coefficient is ONE fixed IEEE
    * expression over those integers, so both engines agree at 6dp.
    * Null when variance degenerates (regular graphs: every degree
    * equal). Output one row: (n_nodes, n_edges, assortativity). */
  def assortativity(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b"))
      .where(col("__a") =!= col("__b") &&
        col("__a").isNotNull && col("__b").isNotNull)
      .distinct()
      .checkpointed(eager = false) // feeds degrees + the pair frame
    val deg = und
      .select(explode(array(col("__a"), col("__b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .checkpointed(eager = false) // feeds both endpoint joins
    val pairs = und
      .join(deg.select(col("node").as("__a"), col("degree").as("__da")), "__a")
      .join(deg.select(col("node").as("__b"), col("degree").as("__db")), "__b")
      .select(explode(array(
        struct(col("__da").as("x"), col("__db").as("y")),
        struct(col("__db").as("x"), col("__da").as("y")))).as("__p"))
      .select(col("__p.x").as("__x"), col("__p.y").as("__y"))
    val m = pairs.agg(
      count(lit(1)).as("np"),
      sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
      sum(col("__x") * col("__y")).as("sxy"),
      sum(col("__x") * col("__x")).as("sxx"),
      sum(col("__y") * col("__y")).as("syy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    def d(c: String) = col(c).cast("double")
    val num = d("np") * d("sxy") - d("sx") * d("sy")
    val den = sqrt((d("np") * d("sxx") - d("sx") * d("sx")) *
      (d("np") * d("syy") - d("sy") * d("sy")))
    m.crossJoin(broadcast(nodes)) // two 1-row aggregates — bounded
      .select(
        col("n_nodes"),
        call_function("div", col("np"), lit(2L)).as("n_edges"),
        round(when(den > 0, num / den), 6).as("assortativity"))
  }

  /** GR7: Adamic–Adar link prediction (Adamic & Adar 2003) — score
    * NON-adjacent node pairs by Σ_{z ∈ Γ(x)∩Γ(y)} 1/ln(deg z): common
    * neighbors weighted down when the shared neighbor is promiscuous.
    * The standard "which edges are missing" primitive (entity-graph
    * completion, friend suggestion, citation gap-filling).
    *
    * Scale shape: candidate pairs come from per-APEX wedge generation
    * (collect_list + double explode — the dd6 one-pass pattern), so the
    * pair mass is Σ deg(z)², bounded by the `maxApexDegree` guard; a
    * hub apex is DROPPED before its list materializes (observable via
    * the `aa_apexes` observe metric) — the right semantics for link
    * prediction too, since a hub's 1/ln(deg) carries ~no signal.
    * Already-adjacent pairs leave via one left_anti against the
    * canonical edge set.
    *
    * Determinism: each apex weight 1/ln(deg) is micro-quantized at
    * 1e12 (one rounding per apex), so per-pair sums are exact BIGINT
    * additions in any engine; deg ≥ 2 on every wedge apex keeps ln
    * away from 0. Output (node1 < node2, common_neighbors, aa_score
    * 6dp) for pairs with ≥ `minCommon` shared neighbors. */
  def adamicAdar(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      minCommon: Long = 1L,
      maxApexDegree: Int = 64): DataFrame = {
    if (minCommon < 1)
      throw new ParameterError(s"minCommon must be >= 1: $minCommon")
    if (maxApexDegree < 2)
      throw new ParameterError(s"maxApexDegree must be >= 2: $maxApexDegree")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b"))
      .where(col("__a") =!= col("__b") &&
        col("__a").isNotNull && col("__b").isNotNull)
      .distinct()
      .checkpointed(eager = false) // feeds neighbors AND the anti-join
    val nbrs = und.select(col("__a").as("__apex"), col("__b").as("__n"))
      .unionByName(und.select(col("__b").as("__apex"), col("__a").as("__n")))
    val apexes = Buckets.capped(nbrs, Seq("__apex"), maxApexDegree, Buckets.Drop,
      Some(Buckets.Metric("aa_apexes", maxField = "max_degree")), n = "__deg")
      .where(col("__deg") >= 2)
      .withColumn("__wq",
        round(lit(1.0) / log(col("__deg").cast("double")) * 1e12)
          .cast("long"))
      .groupBy(col("__apex"), col("__wq"))
      .agg(collect_list(col("__n")).as("__m"))
    Buckets.pairs(apexes, "__m", "__x", "__y", carry = Seq("__wq"))(_ < _)
      .groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("__wq")).as("__aaq"))
      .where(col("common_neighbors") >= minCommon)
      .join(und.select(col("__a").as("__x"), col("__b").as("__y")),
        Seq("__x", "__y"), "left_anti")
      .select(col("__x").as("node1"), col("__y").as("node2"),
        col("common_neighbors"),
        round(col("__aaq").cast("double") / 1e12, 6).as("aa_score"))
  }

  /** GR9: multi-source BFS hop layers — `dist` = minimum hops from any
    * seed over the UNDIRECTED graph, frontier-expanded up to `maxHops`
    * rounds. Each round is one equi-join (frontier ⋈ edges) + distinct
    * + anti-join against the settled set: cost ∝ the frontier's edge
    * mass, the textbook Pregel round. Frontiers and the settled set
    * are eagerly checkpointed inside [[graft.Checkpoint.scoped]] (the
    * components/pagerank lifecycle); the early-exit probe is a bounded
    * driver scalar per round. Nodes unreachable within `maxHops` are
    * absent from the output — callers LEFT-join if they need nulls.
    * Output: (node, dist). */
  def bfsLayers(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "node"): DataFrame = {
    if (maxHops < 1)
      throw new ParameterError(s"maxHops must be >= 1: $maxHops")
    graft.Checkpoint.scoped(edges.sparkSession) {
      val und = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
        .union(edges.select(col(dstCol).as("__s"), col(srcCol).as("__d")))
        .distinct().repartition(col("__s"))
        .checkpointed(eager = true) // __s-partitioned: per-hop joins read it exchange-free
      var dist = seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("dist", lit(0L))
        .checkpointed(eager = true, keepAqe = true) // round state
      var frontier = dist.select(col("node"))
      var hop = 1
      var done = false
      // r13 (guide §2 — job latency): fewer jobs per hop. The hop frame
      // checkpoints LAZILY with `keepAqe = true` — the plain AQE-on
      // capture, the round-state choice (see graft.Checkpoint):
      // the frame is small and re-keyed next hop — and the termination
      // probe is a count() on it, so the count doubles as the
      // materialization (was: eager checkpoint job + isEmpty job). Under
      // AQE each exchange of the hop still runs as its own stage-job
      // inside that materialization. The
      // visited set stays a lazy UNION of the already-cached hop frames
      // — correct because every constituent is checkpointed before it
      // joins the union, and K ≤ maxHops keeps the plan bounded — where
      // re-checkpointing the union each hop cost a third job per hop
      // for data already cached.
      while (hop <= maxHops && !done) {
        val next = und.join(frontier.withColumnRenamed("node", "__s"), "__s")
          .select(col("__d").as("node")).distinct()
          .join(dist.select(col("node")), Seq("node"), "left_anti")
          .withColumn("dist", lit(hop.toLong))
          .checkpointed(eager = false, keepAqe = true)
        if (next.count() == 0L) done = true
        else {
          dist = dist.unionByName(next)
          frontier = next.select(col("node"))
          hop += 1
        }
      }
      dist
    }
  }

  /** GR10: synchronous label propagation communities (Raghavan 2007)
    * over the UNDIRECTED simple graph — the near-linear community
    * detector for link-graph curation (a crawl ring or mutual-citation
    * cluster converges onto one label in a few rounds; PageRank ranks
    * nodes, LPA GROUPS them).
    *
    * Determinism contract (the reason the oracle can replay it): the
    * update is SYNCHRONOUS over a FIXED `iterations` count, every node
    * starts labeled with its own id, each round adopts the most
    * frequent NEIGHBOR label with ties broken by the SMALLEST label,
    * and an isolated endpoint keeps its label. Every step is integer
    * counting + a total-order argmax, so K unrolled SQL rounds land on
    * identical labels (asynchronous/randomized LPA variants are not
    * cross-engine reproducible — that's why they're out).
    *
    * Per round: one equi-join (edges ⋈ labels on the neighbor key) +
    * one (node, label) count + one per-node argmax — all node-key
    * shuffles, no pair frames. Checkpoint style is BARE (no
    * `Checkpoint.scoped`, the kCore precedent): the loop has no
    * data-dependent driver probe, so round states checkpoint LAZILY
    * with AQE kept and everything materializes in the consumer's ONE
    * job — a scoped wrapper's exit re-checkpoint would rerun the
    * whole K-round chain under the AQE-off capture (measured: 2× the
    * query at sf0.1). The doubled edge frame alone is checkpointed
    * with AQE off, `v`-partitioned, so each round's label join
    * is exchange-free on the edge side. Output: (node, community). */
  def labelPropagation(
      edges: DataFrame,
      iterations: Int,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    if (iterations <= 0)
      throw new ParameterError(s"iterations must be positive: $iterations")
    val und0 = edges
      .select(least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b"))
      .where(col("__a") =!= col("__b") &&
        col("__a").isNotNull && col("__b").isNotNull)
      .distinct()
    val und = und0.select(col("__a").as("u"), col("__b").as("v"))
      .union(und0.select(col("__b").as("u"), col("__a").as("v")))
      .repartition(col("v"))
      .checkpointed(eager = false) // v-partitioned for the round joins
    var labels = und.select(col("u").as("node")).distinct()
      .withColumn("__l", col("node"))
      .checkpointed(eager = false, keepAqe = true)
    for (_ <- 1 to iterations) {
      val votes = und
        .join(labels.select(col("node").as("v"), col("__l")), "v")
        .groupBy(col("u"), col("__l"))
        .agg(count(lit(1)).as("__c"))
      // mode with smallest-label tiebreak as ONE min_by over the
      // lexicographic (−count, label) struct — no per-node window
      val next = votes
        .groupBy(col("u").as("node"))
        .agg(min_by(col("__l"), struct((-col("__c")).as("nc"),
          col("__l").as("l"))).as("__l"))
      labels = next.checkpointed(eager = false, keepAqe = true)
    }
    labels.select(col("node"), col("__l").as("community"))
  }

  /** One synchronous Louvain round from the singleton partition
    * (Blondel et al. 2008, phase-1 step) — the modularity-greedy local
    * move evaluated for every node simultaneously against the ORIGINAL
    * partition (synchronous, like [[labelPropagation]]'s rounds, so
    * the result is order-free and oracle-replayable; classic Louvain's
    * sequential sweep is engine-order-dependent by construction).
    *
    * From singletons the gain algebra collapses to exact integers:
    * moving i into neighbor j's singleton changes Q by
    * 1/m − k_i·k_j/(2m²) — positive iff k_i·k_j < 2m, maximal at the
    * MINIMUM-degree neighbor. And for a simple graph that test is a
    * THEOREM, not a runtime branch: 2m = Σ_v k_v ≥ k_i + Σ_{j∈N(i)}
    * k_j ≥ k_i + k_i·k_min > k_i·k_min, so the min-degree-neighbor
    * move ALWAYS has strictly positive gain — every non-isolated node
    * moves, and the round is one degree join + one min_by argmin with
    * no floating point and no acceptance predicate at all. Ties break
    * on the smaller neighbor id. Output (node, community) with
    * community = the adopted neighbor id.
    *
    * Shape: degrees from one node-key count over the doubled edge
    * frame; the argmin is an edge⋈degree equi-join + per-node min_by
    * — node-key shuffles only, no pair frames. */
  def louvainRound(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und0 = edges
      .select(least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b"))
      .where(col("__a") =!= col("__b") &&
        col("__a").isNotNull && col("__b").isNotNull)
      .distinct()
      .checkpointed(eager = false) // degrees + argmin share it
    val dbl = und0.select(col("__a").as("u"), col("__b").as("v"))
      .union(und0.select(col("__b").as("u"), col("__a").as("v")))
    val deg = dbl.groupBy(col("u").as("__n"))
      .agg(count(lit(1)).as("__k"))
    dbl
      .join(deg.select(col("__n").as("v"), col("__k").as("__kv")), "v")
      .groupBy(col("u").as("node"))
      // argmin by (neighbor degree, neighbor id) — the max-gain move
      .agg(min_by(col("v"),
        struct(col("__kv").as("k"), col("v").as("id"))).as("community"))
  }

  /** Newman modularity of a node→community assignment over an
    * undirected simple graph: per community c,
    * contribution = e_c/m − (d_c/2m)², where e_c = intra-community
    * edges, d_c = degree sum, m = total edges; Q = Σ_c contribution.
    * The quality score a community detector ([[labelPropagation]],
    * Louvain) is judged by — reported per community so the weak
    * blocks are visible, with the exact integer ingredients (e_c,
    * d_c, m are integers; the two divisions are the only IEEE ops,
    * 6dp — bit-replayable cross-engine).
    *
    * Shape: edges canonicalize + distinct once; degrees are one
    * node-key count over the doubled frame; endpoint labels attach
    * via two node-key equi-joins (never a pair frame); both reports
    * are community-key aggregations. Nodes missing from `labels`
    * raise — a silent drop would deflate d_c while m still counts
    * their edges. */
  def modularity(
      edges: DataFrame,
      labels: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      nodeCol: String = "node",
      communityCol: String = "community"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b"))
      .where(col("__a") =!= col("__b") &&
        col("__a").isNotNull && col("__b").isNotNull)
      .distinct()
      .checkpointed(eager = false) // degrees + labeled edges share it
    val lab = labels.select(col(nodeCol).as("__n"),
      col(communityCol).as("__c"))
    // unlabeled endpoint = contract breach, loudly (the equi-join
    // below would silently drop the edge from e_c but not from m)
    val guard = coalesce(col("__c"), raise_error(concat(
      lit("modularity: node without a community label: "), col("__n"))))
    val degrees = und.select(col("__a").as("__n"))
      .union(und.select(col("__b").as("__n")))
      .groupBy(col("__n")).agg(count(lit(1)).as("__deg"))
      .join(lab, Seq("__n"), "left")
      .select(col("__n"), col("__deg"), guard.as("__c"))
    val m = und.agg(count(lit(1)).as("__m"))
    val intra = und
      .join(lab.select(col("__n").as("__a"), col("__c").as("__ca")), "__a")
      .join(lab.select(col("__n").as("__b"), col("__c").as("__cb")), "__b")
      .where(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("__c"))
      .agg(count(lit(1)).as("intra_edges"))
    degrees
      .groupBy(col("__c").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("__deg")).as("degree_sum"))
      .join(intra.select(col("__c").as("community"), col("intra_edges")),
        Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(m)) // one scalar row — bounded by design
      .select(col("community"), col("n_nodes"), col("intra_edges"),
        col("degree_sum"),
        round(col("intra_edges").cast("double") / col("__m")
          - (col("degree_sum").cast("double") / (lit(2.0) * col("__m")))
          * (col("degree_sum").cast("double") / (lit(2.0) * col("__m"))),
          6).as("q_contrib"))
  }
}
