package graft.sim

import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ParameterError
import graft.Exact.{Dec, Micro, Pico, decSum}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k. The queries side is small
  *    and broadcast; the corpus streams through one pass; top-k is a
  *    per-query window rank. Cost O(|Q|·|corpus|·d) FLOPs fully
  *    distributed — correct baseline at any scale where |Q| is bounded.
  *  - [[signLshTopK]] — sign-pattern (hyperplane-sign) LSH: bucket by the
  *    sign bits of `dims` fixed components, search only the query's
  *    bucket. The bucket join is an equi-join; recall trades off with
  *    bucket count exactly as random-hyperplane LSH (the "hyperplanes"
  *    are the coordinate axes — deterministic, engine-independent).
  *
  * Dot products use `zip_with` + `aggregate` over the array columns —
  * sequential, deterministic summation order (left-to-right), so results
  * are bit-reproducible across engines, unlike a shuffled float sum.
  */
object Similarity {

  /** Codegen'd native dot product ([[graft.functions.DotProduct]]) —
    * bit-identical to the HOF formulation
    * `aggregate(zip_with(a,b,_*_), 0d, _+_)` (same sequential double
    * accumulation; equivalence asserted in DedupSimSpec), ~6× faster
    * because higher-order functions evaluate interpreted. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotNative(a, b)

  /** The pure-builtin formulation, kept as the portability reference. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(0.0)
  }

  /** Codegen'd native squared distance ([[graft.functions.SquaredDistance]])
    * — bit-identical to [[euclideanHof]] (same sequential accumulation),
    * keeps the IVF cell-assignment loop in whole-stage codegen. */
  def euclidean(a: Column, b: Column): Column =
    sqrt(graft.functions.SquaredDistance.squaredDistanceNative(a, b))

  /** The pure-builtin formulation, kept as the portability reference. */
  def euclideanHof(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => {
        val diff = x.cast("double") - y.cast("double")
        diff * diff
      }),
      lit(0.0),
      (acc, v) => acc + v))

  /** cosine from a pairwise dot and per-side norms precomputed once per
    * vector — identical IEEE result to [[cosine]] (same op order), but
    * the norm aggregates run |corpus| times instead of |pairs| times.
    * zip_with/aggregate are interpreted (no codegen), so trimming HOF
    * evaluations per pair is the lever. */
  def cosinePrenormed(a: Column, b: Column, na: Column, nb: Column): Column = {
    val d = na * nb
    when(d > 0, dot(a, b) / d).otherwise(0.0)
  }

  /** Exact cosine top-k of `corpus` for each row of `queries`.
    * Output: (query_id, neighbor_id, cosine, rank). Ties broken by
    * neighbor id for full determinism. */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val scored = c
      .crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(cosinePrenormed(col("__qv"), col("__cv"), col("__qn"), col("__cn")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the `k` most-similar corpus vectors whose LABEL DIFFERS — the
    * negatives a triplet/InfoNCE loss learns most from (maximally
    * confusable by the current embedding). Same shape and determinism
    * contract as [[bruteForceTopK]] (anchors broadcast, corpus streams
    * once, WindowGroupLimit top-k, (cosine DESC, id) tie-break), with
    * the label predicate pushed below the window so skipped pairs cost
    * one codegen'd comparison, not a cosine.
    * Output: (anchor_id, negative_id, cosine, rank). */
  def hardNegatives(
      anchors: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"), col(labelCol).as("__ql"))
    val c = corpus.select(col(idCol).as("negative_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"), col(labelCol).as("__cl"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("cosine").desc, col("negative_id"))
    c.crossJoin(broadcast(a))
      .where(col("__cl") =!= col("__ql"))
      .withColumn("cosine",
        round(cosinePrenormed(col("__qv"), col("__cv"), col("__qn"), col("__cn")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("anchor_id", "negative_id", "cosine", "rank")
  }

  /** Coarse LSH bucket key: sign bits of the first `dims` vector
    * components, e.g. "+-+-". element_at is 1-based (parity with SQL). */
  def signBucket(vec: Column, dims: Int = 4): Column =
    concat_ws("", (1 to dims).map(i =>
      when(element_at(vec, i) >= 0, lit("+")).otherwise(lit("-"))): _*)

  /** LSH-bucketed ANN: search only within the query's sign bucket.
    * Same output shape as bruteForceTopK; recall < 1 by design. */
  def signLshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int = 4): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"),
      signBucket(col(vecCol), dims).as("__bk"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"),
      signBucket(col(vecCol), dims).as("__bk"))
    val scored = c
      .join(broadcast(q), "__bk")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(cosinePrenormed(col("__qv"), col("__cv"), col("__qn"), col("__cn")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** IVF-probe ANN: assign corpus AND queries to their nearest centroid
    * cell ([[assignCells]]), then exact cosine top-k WITHIN the query's
    * cell only. The probe is an equi-join on cell_id with the (small)
    * query side broadcast — the corpus streams once, reading only
    * |corpus|/|cells| candidates per query in expectation. This is the
    * ANN scale path when sign-buckets ([[signLshTopK]]) are too coarse:
    * cell granularity follows the centroid count, not 2^dims. Recall < 1
    * by design; `nprobe` > 1 probes the query's nprobe nearest cells
    * (union) for materially better recall at nprobe× the candidate
    * volume — the corpus keeps its single-cell assignment, so each
    * (query, neighbor) pair still appears at most once and no dedup
    * shuffle is needed. */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame, // (cell_id, centroid array<float>)
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 1): DataFrame = {
    val c = assignCells(corpus, centroids, vecCol, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"), col("cell_id"))
    val qAssigned =
      if (nprobe <= 1) assignCells(queries, centroids, vecCol, idCol)
      else probeCells(queries, centroids, vecCol, idCol, nprobe)
    val q = qAssigned
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"), col("cell_id"))
    val scored = c
      .join(broadcast(q), "cell_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(cosinePrenormed(col("__qv"), col("__cv"), col("__qn"), col("__cn")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Multi-probe assignment: each vector's `nprobe` nearest cells — one
    * output row per (vector, probed cell). For the QUERY side of
    * [[ivfTopK]], which is small by contract (it gets broadcast), so the
    * row_number window over the ×|centroids| blowup is driver-trivial;
    * the corpus side should keep [[assignCells]]'s sort-free min_by. */
  def probeCells(
      vectors: DataFrame,
      centroids: DataFrame, // (cell_id, centroid array<float>)
      vecCol: String,
      idCol: String = "vec_id",
      nprobe: Int = 2): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__dist"), col("cell_id"))
    vectors
      .crossJoin(broadcast(centroids))
      .withColumn("__dist", euclidean(col(vecCol), col("centroid")))
      .withColumn("__probe", row_number().over(w))
      .where(col("__probe") <= nprobe)
      .drop("__dist", "__probe", "centroid")
  }

  /** IVF-style coarse quantization: assign each vector to its nearest of
    * `centroids` (small, broadcast); ANN then probes only matching cells.
    * Centroids come from any upstream clustering (e.g. sampled k-means).
    *
    * Scale shape: broadcast cross join → `min_by` hash aggregation keyed
    * on the vector id. The partial (map-side) aggregate collapses the
    * ×|centroids| row blowup before the single shuffle on `idCol`, and
    * no sort is needed — strictly better than a row_number window over
    * the blown-up relation. Ties break on the lower cell_id. */
  def assignCells(
      vectors: DataFrame,
      centroids: DataFrame, // (cell_id, centroid array<float>)
      vecCol: String,
      idCol: String = "vec_id"): DataFrame = {
    val others = vectors.columns.filter(_ != idCol)
    val best = vectors
      .crossJoin(broadcast(centroids))
      .withColumn("__dist", euclidean(col(vecCol), col("centroid")))
      .groupBy(col(idCol))
      .agg(min_by(
        struct(others.map(col) :+ col("cell_id"): _*),
        struct(col("__dist"), col("cell_id"))).as("__best"))
    best.select(
      col(idCol) +: others.map(c => col(s"__best.`$c`")) :+ col("__best.cell_id"): _*)
  }

  /** Lloyd's k-means, trained fully relationally — the standard way to
    * fit [[ivfTopK]]'s coarse quantizer on a sample (or all) of the
    * corpus. Deterministic seeding: the k lowest-id vectors become cells
    * 0..k−1 in id order (no RNG — same property as the sampling family:
    * reruns, retries and cluster resizes train the identical model).
    * Returns (cell_id, centroid array<double>).
    *
    * Each iteration is (1) one broadcast nearest-centroid assignment
    * ([[assignCells]]: crossJoin(broadcast) + min_by partial agg, ONE
    * shuffle on the vector id) and (2) one per-(cell, dim) mean —
    * posexplode + hash agg, ONE shuffle on (cell, dim) whose output is
    * at most k·d rows. Component values are quantized to micro integers
    * (`round(x·10⁶)` as BIGINT) before summation, so centroids are exact
    * integer means — bit-reproducible across partitionings and engines
    * (the dedup/LangModel determinism stance). Cells that capture no
    * vectors keep their previous centroid. The tiny centroid frame is
    * `localCheckpoint`ed each round, truncating the growing lineage
    * (duplicateClusters precedent) — k·d doubles per round, driver-safe
    * by construction. */
  def kmeansCentroids(
      vectors: DataFrame,
      k: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    if (k <= 0) throw new ParameterError(s"k must be positive: $k")
    if (iters < 0) throw new ParameterError(s"iters must be >= 0: $iters")
    val v = vectors.select(col(idCol), col(vecCol))
    // bounded k-row frame: the unpartitioned window is not a data sort
    val seedW = Window.orderBy(col(idCol))
    var centroids = v.orderBy(col(idCol)).limit(k)
      .select(
        (row_number().over(seedW).cast("long") - 1).as("cell_id"),
        transform(col(vecCol), x => x.cast("double")).as("centroid"))
      .checkpointed(eager = true)
    var i = 0
    while (i < iters) {
      val means = assignCells(v, centroids, vecCol, idCol)
        .select(col("cell_id"), posexplode(col(vecCol)).as(Seq("__d", "__x")))
        .groupBy(col("cell_id"), col("__d"))
        .agg(
          sum(Micro.long(col("__x").cast("double"))).as("__s"),
          count(lit(1)).as("__n"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("__d"), col("__s"), col("__n"))))
          .as("__a"))
        .select(col("cell_id"),
          transform(col("__a"),
            e => e.getField("__s").cast("double") / e.getField("__n") / Micro.factor)
            .as("centroid"))
      centroids = centroids
        .select(col("cell_id"), col("centroid").as("__prev"))
        .join(means, Seq("cell_id"), "left")
        .select(col("cell_id"),
          coalesce(col("centroid"), col("__prev")).as("centroid"))
        .checkpointed(eager = true)
      i += 1
    }
    centroids
  }

  /** Product-quantization encode (Jégou et al. 2011): split each vector
    * into the codebook's subspaces and store, per subspace, the code of
    * the nearest sub-centroid — compressing a d-dim float vector to m
    * small ints, the memory lever that lets a 100 TB embedding corpus
    * fit an ANN index. `codebooks` = (subspace, code, subcentroid
    * array); codes must be dense 0..k_sub−1 within each subspace (the
    * [[pqTopK]] distance-table lookup indexes by code).
    *
    * Same plan shape as [[assignCells]]: crossJoin(broadcast(codebook))
    * → min_by partial agg keyed on (id, subspace) — the ×(m·k_sub) row
    * blowup collapses map-side — then one array assembly per id.
    * Returns (id, codes array<int>). */
  /** Driver-side codebook contract check — the codebook is
    * dimension-sized by construction (it broadcasts), so this bounded
    * collect follows the same contract as the commission-dispatch
    * coverage validation: subspaces dense 0..m−1, codes dense
    * 0..k_sub−1 within each subspace (the ADC distance table indexes
    * by code), uniform sub-centroid dimension. Returns (m, subDim). */
  private def codebookShape(codebooks: DataFrame): (Int, Int) = {
    val rows = codebooks
      .groupBy(col("subspace").cast("int").as("__s"))
      .agg(
        count(lit(1)).as("__n"), count_distinct(col("code")).as("__nc"),
        min(col("code").cast("int")).as("__lo"), max(col("code").cast("int")).as("__hi"),
        min(size(col("subcentroid"))).as("__dlo"), max(size(col("subcentroid"))).as("__dhi"))
      .collect()
    if (rows.isEmpty) throw new ParameterError("codebooks must be non-empty")
    val subs = rows.map(_.getAs[Int]("__s")).sorted
    if (!subs.sameElements(Array.range(0, subs.length)))
      throw new ParameterError(
        s"codebook subspaces must be dense 0..m-1: ${subs.mkString(", ")}")
    rows.foreach { r =>
      if (r.getAs[Long]("__nc") != r.getAs[Long]("__n") ||
        r.getAs[Int]("__lo") != 0 || r.getAs[Int]("__hi") != r.getAs[Long]("__n") - 1)
        throw new ParameterError(
          s"codebook codes must be dense 0..k_sub-1 within subspace ${r.getAs[Int]("__s")}")
    }
    val dims = rows.flatMap(r => Seq(r.getAs[Int]("__dlo"), r.getAs[Int]("__dhi"))).distinct
    if (dims.length != 1)
      throw new ParameterError(
        s"sub-centroid dimensions must be uniform: ${dims.sorted.mkString(", ")}")
    (subs.length, dims.head)
  }

  /** Per-row tiling guard: [[graft.functions.SquaredDistance]] loops to
    * the SHORTER array, so a vector that doesn't tile the codebook's
    * m×subDim layout would silently encode/score a prefix — raise
    * instead (the Performance.dailyReturns loud-failure stance). */
  private def guardedSubDist(vec: Column, sub: Column, m: Int, subDim: Int): Column =
    when(size(vec) =!= m * subDim,
      raise_error(format_string(
        s"vector length %s does not tile the codebook's $m×$subDim subspaces",
        size(vec).cast("string"))).cast("double"))
      .otherwise(
        graft.functions.SquaredDistance.squaredDistanceNative(
          slice(vec, col("subspace") * subDim + 1, lit(subDim)), sub))

  def pqEncode(
      vectors: DataFrame,
      codebooks: DataFrame, // (subspace, code, subcentroid)
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (m, subDim) = codebookShape(codebooks)
    pqEncodeShaped(vectors, codebooks, m, subDim, idCol, vecCol)
  }

  /** [[pqEncode]] with a pre-validated codebook shape — lets composed
    * searches ([[ivfadcTopK]]) run the driver-side [[codebookShape]]
    * aggregation job once instead of once per use site. */
  private def pqEncodeShaped(
      vectors: DataFrame,
      codebooks: DataFrame,
      m: Int,
      subDim: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    vectors
      .select(col(idCol), col(vecCol))
      .crossJoin(broadcast(codebooks))
      .withColumn("__dist", guardedSubDist(col(vecCol), col("subcentroid"), m, subDim))
      .groupBy(col(idCol), col("subspace"))
      .agg(min_by(col("code"), struct(col("__dist"), col("code"))).as("__code"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("subspace"), col("__code")))).as("__a"))
      .select(col(idCol),
        transform(col("__a"), e => e.getField("__code").cast("int")).as("codes"))
  }

  /** IVFADC (Jégou et al. 2011, the FAISS default): IVF cells prune the
    * candidate set, ADC over PQ codes scores it — neither the pruning
    * nor the scoring ever reads a corpus float vector after indexing.
    * The index is (cell_id, codes) per corpus vector: [[assignCells]]
    * once + [[pqEncode]] once, both linear; search joins the query's
    * `nprobe` nearest cells against the index on cell_id (broadcast
    * query side) and ranks by the same per-query distance table as
    * [[pqTopK]]. Expected scan per query: nprobe/|cells| of the codes —
    * the memory AND compute shape that survives a 100 TB embedding
    * corpus. Output (query_id, neighbor_id, adist, rank). */
  def ivfadcTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame, // (cell_id, centroid)
      codebooks: DataFrame, // (subspace, code, subcentroid)
      k: Int,
      nprobe: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (m, subDim) = codebookShape(codebooks) // once: encode + table share it
    val index = assignCells(corpus, centroids, vecCol, idCol)
      .select(col(idCol), col(vecCol), col("cell_id"))
      .join(pqEncodeShaped(corpus, codebooks, m, subDim, idCol, vecCol), idCol)
      .select(col(idCol).as("neighbor_id"), col("cell_id"), col("codes"))
    adcSearch(index, queries, centroids, codebooks, m, subDim, k, nprobe,
      idCol, vecCol)
  }

  /** The shared IVFADC search tail: probe cells for each query, fold
    * the per-query distance table, broadcast onto the (cell-restricted)
    * codes and rank. Used by [[ivfadcTopK]] (in-memory index) and
    * [[searchIvfadcIndex]] (published index, where the cell_id join
    * additionally drives dynamic partition pruning of the codes scan). */
  private def adcSearch(
      index: DataFrame, // (neighbor_id, cell_id, codes)
      queries: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      m: Int,
      subDim: Int,
      k: Int,
      nprobe: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val qCells =
      if (nprobe <= 1) assignCells(queries, centroids, vecCol, idCol)
      else probeCells(queries, centroids, vecCol, idCol, nprobe)
    val q = withDistanceTable(
      qCells.select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("cell_id")),
      codebooks, m, subDim)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist"), col("neighbor_id"))
    index
      .join(broadcast(q), "cell_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(adcDistance(col("codes"), col("__dt")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "adist", "rank")
  }

  /** Publish a trained IVFADC index as PARTITIONED parquet under `dir`:
    * the PQ codes land in `codes/` partitioned BY CELL — so the IVF
    * probe becomes a STORAGE-layer operation — with the centroid and
    * codebook dimension tables alongside. An index built once serves
    * every subsequent search job (the FAISS build/search split, in
    * parquet). */
  def writeIvfadcIndex(
      dir: String,
      corpus: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val (m, subDim) = codebookShape(codebooks)
    // r13 (guide §2.6): the three writes are independent — submit them
    // from a small thread pool so the two dimension-table writes
    // back-fill executors freed by the codes write's tail instead of
    // serializing three jobs (graft.Concurrent: a failed write rethrows
    // only after the others settled).
    graft.Concurrent.runAll(
      () => {
        // repartition by the write's partition column so each cell dir
        // gets one file per holding task instead of one per upstream
        // partition (r12 dd29 lesson) — the search-side scan then opens
        // |probed cells| files, not |cells|×|tasks| (measured: the codes
        // scan cost 32 × 88 ms of footer/open overhead on the fragmented
        // layout). Unpinned: AQE sizes the task count to the write mass.
        assignCells(corpus, centroids, vecCol, idCol)
          .select(col(idCol), col("cell_id"))
          .join(pqEncodeShaped(corpus, codebooks, m, subDim, idCol, vecCol), idCol)
          .select(col(idCol).as("neighbor_id"), col("cell_id"), col("codes"))
          .repartition(col("cell_id"))
          .write.mode("overwrite").partitionBy("cell_id").parquet(s"$dir/codes")
      },
      () => centroids.write.mode("overwrite").parquet(s"$dir/centroids"),
      () => codebooks.write.mode("overwrite").parquet(s"$dir/codebooks"))
  }

  /** Search a [[writeIvfadcIndex]]-published index. Result-identical to
    * [[ivfadcTopK]] on the same inputs; the difference is WHERE the IVF
    * pruning happens: the broadcast cell_id equi-join against the
    * cell-PARTITIONED codes triggers dynamic partition pruning, so only
    * the probed cells' parquet files are ever READ (spec-asserted via
    * the scan's dynamicpruning filter). Expected I/O per query:
    * nprobe/|cells| of the index — the property that makes a published
    * 100 TB index searchable from a laptop-sized driver plan. */
  def searchIvfadcIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val codebooks = spark.read.parquet(s"$dir/codebooks")
    val index = spark.read.parquet(s"$dir/codes")
      .select(col("neighbor_id"), col("cell_id"), col("codes"))
    val (m, subDim) = codebookShape(codebooks)
    adcSearch(index, queries, centroids, codebooks, m, subDim, k, nprobe,
      idCol, vecCol)
  }

  /** Fold `codebooks` onto each row of `df` as a per-query ADC distance
    * table `__dt` (nested array: __dt[s+1][c+1] = ‖q_s − centroid_{s,c}‖²),
    * computed as column algebra from the one-row nested codebook
    * broadcast. Expects a `__qv` vector column; query vectors that
    * don't tile m×subDim raise (same stance as [[guardedSubDist]]). */
  private def withDistanceTable(
      df: DataFrame, codebooks: DataFrame, m: Int, subDim: Int): DataFrame = {
    val cbRow = codebooks
      .groupBy(col("subspace"))
      .agg(array_sort(collect_list(struct(col("code"), col("subcentroid"))))
        .as("__cs"))
      .agg(array_sort(collect_list(struct(col("subspace"), col("__cs")))).as("__a"))
      .select(transform(col("__a"),
        s => transform(s.getField("__cs"), c => c.getField("subcentroid")))
        .as("__cb"))
    df
      .crossJoin(broadcast(cbRow))
      .withColumn("__dt",
        transform(col("__cb"), (cents, s) =>
          transform(cents, c =>
            when(size(col("__qv")) =!= m * subDim,
              raise_error(format_string(
                s"query vector length %s does not tile the codebook's " +
                  s"$m×$subDim subspaces",
                size(col("__qv")).cast("string"))).cast("double"))
              .otherwise(
                graft.functions.SquaredDistance.squaredDistanceNative(
                  slice(col("__qv"), s * subDim + 1, lit(subDim)), c)))))
      .drop("__cb", "__qv")
  }

  /** ADC distance: m fixed-order lookups of `codes` into the `dt`
    * nested distance table, summed sequentially (deterministic). */
  private def adcDistance(codes: Column, dt: Column): Column =
    aggregate(
      transform(codes, (c, s) => element_at(element_at(dt, s + 1), c + 1)),
      lit(0.0), (acc, d) => acc + d)

  /** PQ asymmetric-distance (ADC) top-k: approximate squared distance
    * of each query to each PQ-encoded corpus vector as the sum of
    * per-subspace exact distances query→sub-centroid, looked up from a
    * per-query distance table. Output (query_id, neighbor_id, adist,
    * rank) — adist ascending, ties by neighbor id, rounded to 6 (last-
    * ulp tolerance stance of the sim family).
    *
    * Scale shape: the codebook folds into ONE nested-array row (≤
    * k_sub·d doubles by construction) broadcast onto the query side,
    * where the m×k_sub distance table is precomputed per query as
    * column algebra; the encoded corpus then streams ONCE through a
    * crossJoin(broadcast(queries)) and each pair costs m array lookups
    * summed in fixed subspace order (deterministic) — no explode, no
    * per-subspace shuffle, no join back to the float vectors.
    * [[ivfadcTopK]] composes this with IVF cell pruning. */
  def pqTopK(
      queries: DataFrame,
      encoded: DataFrame, // (id, codes array<int>) from [[pqEncode]]
      codebooks: DataFrame, // (subspace, code, subcentroid)
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (m, subDim) = codebookShape(codebooks)
    val q = withDistanceTable(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
      codebooks, m, subDim)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist"), col("neighbor_id"))
    encoded
      .select(col(idCol).as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(adcDistance(col("codes"), col("__dt")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "adist", "rank")
  }

  /** SIM12: corpus embedding diversity WITHOUT a pair join — the mean
    * pairwise squared distance via the closed form
    * E‖x−y‖² = 2·(E‖x‖² − ‖Ex‖²) (i.i.d. x, y): a collapsed-mode or
    * over-deduplicated corpus shows up as a diversity cliff, and the
    * naive all-pairs formulation is exactly the O(n²) join this
    * library never ships. One posexplode pass to per-dimension exact
    * sums (components micro-quantized; Σq and Σq² decimal-exact), then
    * a bounded fold over the embedding width. Output one row
    * (n, n_dims, mean_sq_norm, centroid_sq_norm, diversity), 6dp. */
  def diversity(vecs: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val q = Micro.long(col("__x").cast("double"))
    val perDim = vecs
      .select(posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .groupBy(col("__d"))
      .agg(
        count(lit(1)).as("__n"),
        decSum(q).as("__s"),
        sum((q.cast(Dec) * q.cast(Dec))).as("__ss"))
    val meanSq = col("__ss").cast("double") / col("__n") / Pico.factor
    val cSq = (col("__s").cast("double") / col("__n") / Micro.factor) *
      (col("__s").cast("double") / col("__n") / Micro.factor)
    perDim
      .agg(
        max(col("__n")).as("n"),
        count(lit(1)).as("n_dims"),
        sum(meanSq).as("__msn"),
        sum(cSq).as("__csn"))
      .select(
        col("n"), col("n_dims"),
        round(col("__msn"), 6).as("mean_sq_norm"),
        round(col("__csn"), 6).as("centroid_sq_norm"),
        round(lit(2.0) * (col("__msn") - col("__csn")), 6).as("diversity"))
  }

  /** SIM11: embedding-centroid drift between two corpora — cosine and
    * L2 distance of the per-dimension mean vectors, the embedding-space
    * analogue of [[graft.ml.Evaluation.ksDrift]]/psiDrift ("did this
    * month's crawl move in representation space"). Each corpus's
    * centroid derives from EXACT per-dimension micro sums (posexplode →
    * one conditional agg per dimension; component = exact-int sum over
    * exact-int count, one division), and the final cosine/L2 fold runs
    * over the BOUNDED dimension frame (≤ embedding width rows — 6dp
    * absorbs its accumulation ulps). Null cosine when either centroid
    * is the zero vector. Output one row
    * (n_dims, n_a, n_b, cosine, l2). */
  def centroidDrift(
      a: DataFrame,
      b: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val tagged = a.select(col(vecCol).as("__v"), lit(1L).as("__t"))
      .unionByName(b.select(col(vecCol).as("__v"), lit(0L).as("__t")))
    val perDim = tagged
      .select(col("__t"), posexplode(col("__v")).as(Seq("__d", "__x")))
      .groupBy(col("__d"))
      .agg(
        sum(when(col("__t") === 1,
          Micro.long(col("__x").cast("double")))).as("__sa"),
        sum(when(col("__t") === 1, 1L).otherwise(0L)).as("__na"),
        sum(when(col("__t") === 0,
          Micro.long(col("__x").cast("double")))).as("__sb"),
        sum(when(col("__t") === 0, 1L).otherwise(0L)).as("__nb"))
    val ca = col("__sa").cast("double") / col("__na") / Micro.factor
    val cb = col("__sb").cast("double") / col("__nb") / Micro.factor
    perDim
      .agg(
        count(lit(1)).as("n_dims"),
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        sum(ca * cb).as("__dot"),
        sum(ca * ca).as("__qa"),
        sum(cb * cb).as("__qb"),
        sum((ca - cb) * (ca - cb)).as("__l2"))
      .select(
        col("n_dims"), col("n_a"), col("n_b"),
        round(when(col("__qa") > 0 && col("__qb") > 0,
          col("__dot") / sqrt(col("__qa") * col("__qb"))), 6).as("cosine"),
        round(sqrt(col("__l2")), 6).as("l2"))
  }

  /** SIM15: MMR diversified re-ranking (Carbonell & Goldstein 1998) —
    * from each query's top-`k` relevance candidates, greedily pick
    * `select` results maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-picked: the de-duplicated top list every RAG retriever
    * re-ranks into (near-identical chunks stop crowding out coverage).
    *
    * Everything after the [[bruteForceTopK]] scan is DIMENSION-BOUNDED
    * (|queries|·k candidates, ·k² pairwise sims), so the greedy's
    * `select` rounds are joins over bounded checkpointed frames inside
    * one `Checkpoint.scoped` body. Determinism: relevance and pair sims are the
    * 6dp-rounded cosines; the argmax tie-breaks to the smallest id —
    * the oracle unrolls the same greedy step by step. Output:
    * (query_id, cand_id, pick_order 1..select, mmr_score). */
  def mmrRerank(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 20,
      select: Int = 5,
      lambda: Double = 0.5): DataFrame = {
    require(select >= 1 && select <= k, s"need 1 <= select <= k: $select, $k")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1]: $lambda")
    graft.Checkpoint.scoped(queries.sparkSession) {
      val top = bruteForceTopK(queries, corpus, idCol, vecCol, k)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("cosine").as("rel"))
        .checkpointed(eager = true)
      val withVec = top.join(
        corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__v")),
        "cand_id")
      val sims = withVec.alias("a").join(withVec.alias("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.cand_id") =!= col("b.cand_id"))
        .select(col("a.query_id").as("query_id"),
          col("a.cand_id").as("ca"), col("b.cand_id").as("cb"),
          round(cosine(col("a.__v"), col("b.__v")), 6).as("sim"))
        .checkpointed(eager = true)
      var selected: DataFrame = null
      for (step <- 1 to select) {
        val avail =
          if (selected == null) top
          else top.join(selected.select(col("query_id"), col("cand_id")),
            Seq("query_id", "cand_id"), "left_anti")
        val withPenalty =
          if (selected == null) avail.withColumn("__ms", lit(0.0))
          else avail.join(
            sims.join(
              selected.select(col("query_id"), col("cand_id").as("cb")),
              Seq("query_id", "cb"))
              .groupBy(col("query_id"), col("ca").as("cand_id"))
              .agg(max(col("sim")).as("__ms")),
            Seq("query_id", "cand_id"), "left")
            .na.fill(0.0, Seq("__ms"))
        val pick = withPenalty
          .withColumn("__mmr",
            lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__ms"))
          .groupBy(col("query_id"))
          .agg(min_by(struct(col("cand_id"), col("__mmr")),
            struct((-col("__mmr")).as("ns"), col("cand_id").as("id")))
            .as("__p"))
          .select(col("query_id"), col("__p.cand_id").as("cand_id"),
            lit(step.toLong).as("pick_order"),
            round(col("__p.__mmr"), 6).as("mmr_score"))
        selected = (if (selected == null) pick else selected.unionByName(pick))
          .checkpointed(eager = true, keepAqe = true) // round state
      }
      selected
    }
  }
}
