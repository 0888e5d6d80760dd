package graft.text

import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ParameterError
import graft.Exact.Micro

/** Deterministic sampling and splitting for training-data pipelines.
  *
  * Everything keys on a STABLE HASH of an id column rather than an RNG:
  * the same row lands in the same sample/split on every run, every
  * engine, and every cluster size — the property training pipelines need
  * for reproducible corpora and leak-free train/test boundaries (a
  * `rand()`-based sample changes membership under retries/speculative
  * tasks). md5-derived like the dedup family, so the DuckDB oracle
  * reproduces membership bit-for-bit.
  *
  * All operators are codegen'd column predicates on the scan —
  * shuffle-free, volume-linear, trivially pushed past column pruning.
  */
object Sampling {

  /** Uniform hash in [0, 1): first 8 md5 hex chars of (seed|id) as a
    * 32-bit integer scaled by 2⁻³². ~9.3 decimal digits of resolution —
    * plenty for sampling rates; exactly reproducible in any engine with
    * md5 + hex parsing. */
  def hashUnit(id: Column, seed: String = "0"): Column =
    conv(substring(md5(concat_ws("|", lit(seed), id)), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  /** Deterministic Bernoulli sample: keep rows whose id-hash falls below
    * `rate`. Two samples at rates r1 < r2 with the same seed are NESTED
    * (the r1 sample is a subset of the r2 sample) — growing a corpus
    * keeps every previously selected row. */
  def sampleByHash(df: DataFrame, idCol: String, rate: Double, seed: String = "0"): DataFrame = {
    if (rate < 0 || rate > 1)
      throw new ParameterError(s"sample rate must be in [0, 1]: $rate")
    df.where(hashUnit(col(idCol), seed) < rate)
  }

  /** Per-stratum rates (e.g. downsample crawl data, keep all curated
    * data): `rates` maps stratum value → rate; strata absent from the
    * map keep `defaultRate`. The stratum column stays a plain codegen'd
    * when-chain — no join, no shuffle. */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 0.0,
      seed: String = "0"): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach { r =>
      if (r < 0 || r > 1) throw new ParameterError(s"sample rate must be in [0, 1]: $r")
    }
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(stratumCol) === k, r).otherwise(acc)
    }
    df.where(hashUnit(col(idCol), seed) < rate)
  }

  /** Exactly-k-per-stratum deterministic sample — eval/holdout-set
    * construction where each stratum (language, source, quality bucket)
    * must contribute a FIXED count, not a rate: within each stratum the
    * k lowest (md5(seed‖id), id) rows are kept, so membership is a pure
    * function of (id, seed) — stable under retries, resizes, and
    * engine — and a stratum with fewer than k rows keeps them all.
    *
    * Scale shape: ONE rank window partitioned by the stratum — and the
    * `rank <= k` filter directly over row_number is exactly the shape
    * Catalyst rewrites to WindowGroupLimit (asserted in spec): each map
    * task keeps only its local top-k per stratum BEFORE the exchange,
    * so a 10¹¹-row stratum ships ~k×partitions rows, not its whole
    * mass. */
  def sampleKPerStratum(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      k: Int,
      seed: String = "0"): DataFrame = {
    if (k < 1) throw new ParameterError(s"k must be >= 1: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(concat_ws("|", lit(seed), col(idCol))), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis &
    * Spirakis 2006, A-ES): each row's key is ln(u)/w for the id-hash
    * uniform u — a monotone form of u^(1/w) — and the k LARGEST keys
    * win, so selection probability tilts toward heavy rows while
    * staying exactly reproducible (resubmit-proof, engine-independent).
    * Keys are ROUNDED to 9dp before ranking with the id as tiebreak —
    * ranking on the raw ln would let a last-ulp libm difference flip a
    * near-tie between engines (the collocations lesson). Selection is
    * TakeOrderedAndProject (per-partition top-k + a k-row driver
    * merge — no global sort). Non-positive or null weights drop (a
    * zero-weight row can never be sampled; silently keeping it with
    * key −∞ would be the same thing, loudly). Appends `sample_key`. */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      seed: String = "ws"): DataFrame = {
    if (k < 1) throw new ParameterError(s"k must be >= 1: $k")
    val key = round(
      log(hashUnit(col(idCol), seed)) / col(weightCol).cast("double"), 9)
    df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("sample_key", key)
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(k)
  }

  /** Quantile cutoffs of `valueCol` over a deterministic hash sample —
    * the CCNet cutoff computation (Wenzek et al. 2020 compute their
    * head/middle/tail perplexity cutoffs from a sample per language, then
    * apply them as constants): for each fraction f, the ⌈f·n⌉-th
    * smallest sampled value under the total order (value, id).
    *
    * Driver contract: ONE count + one distributed top-k per fraction
    * (TakeOrdered of k ≤ sample-size rows, then a scalar max) — bounded
    * by the SAMPLE, never the corpus; size `rate` so the sample is
    * top-k-safe (CCNet's own cutoffs come from far smaller samples than
    * that). The id tiebreak makes every cutoff reproducible under any
    * partitioning and in the DuckDB oracle. Raises [[ParameterError]] on
    * an empty sample rather than returning silent nulls. */
  def hashSampleQuantiles(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      fractions: Seq[Double],
      rate: Double,
      seed: String = "0"): Seq[Double] = {
    fractions.foreach { f =>
      if (f <= 0 || f > 1) throw new ParameterError(s"fraction must be in (0, 1]: $f")
    }
    val samp = sampleByHash(df.select(col(idCol), col(valueCol)), idCol, rate, seed)
    val n = samp.count()
    if (n == 0)
      throw new ParameterError(
        s"hash sample at rate $rate selected no rows; raise the rate")
    fractions.map { f =>
      val k = math.ceil(f * n).toInt
      samp.orderBy(col(valueCol), col(idCol)).limit(k)
        .agg(max(col(valueCol)).cast("double")).head.getDouble(0)
    }
  }

  /** Deterministic train/val/test (or any weighted) split: each row gets
    * the first split whose cumulative weight exceeds its id-hash.
    * Weights must sum to 1 (tolerance 1e-9). Splits are STABLE under
    * corpus growth and independent of row order/partitioning; use a
    * different `seed` than any sampling pass so membership is
    * uncorrelated with sample selection. */
  def splitByHash(
      df: DataFrame,
      idCol: String,
      splits: Seq[(String, Double)],
      seed: String = "split",
      outCol: String = "split"): DataFrame =
    df.withColumn(outCol, splitExpr(col(idCol), splits, seed))

  /** The split when-chain over an arbitrary key column — shared by
    * [[splitByHash]] (row identity) and [[splitByGroup]] (group key). */
  private def splitExpr(
      key: Column,
      splits: Seq[(String, Double)],
      seed: String): Column = {
    if (splits.isEmpty) throw new ParameterError("splits must be non-empty")
    val total = splits.map(_._2).sum
    if (math.abs(total - 1.0) > 1e-9)
      throw new ParameterError(s"split weights must sum to 1: $total")
    val h = hashUnit(key, seed)
    // decimal accumulation: double 0.8+0.1 is 0.9000000000000001, which
    // would disagree with the 0.9 a user (or the oracle) writes down
    val cum = splits
      .scanLeft(BigDecimal(0))((acc, s) => acc + BigDecimal(s._2.toString)).tail
      .map(_.toDouble)
    // strict left-to-right when-chain on cumulative bounds; the final
    // split is the unconditional tail so hash 0.999999… can't fall out
    splits.init.zip(cum.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), bound), acc) => when(h < bound, name).otherwise(acc)
    }
  }

  /** Leakage-free split: assign by a GROUP key — registered domain,
    * near-dup cluster id, author — so every member of a group lands in
    * the SAME split. Splitting by row id leaks: near-duplicate pages
    * from one site straddle train/test and the eval set stops being
    * held out. Weights then govern the share of GROUPS, not rows (a
    * hot domain drags its whole mass into one split — that asymmetry
    * IS the point). Null group keys fall back to the per-row id (each
    * such row its own singleton group) instead of pooling into one
    * mega-group that would land entirely in one split. */
  def splitByGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      splits: Seq[(String, Double)],
      seed: String = "split",
      outCol: String = "split"): DataFrame = {
    val key = coalesce(
      col(groupCol).cast("string"),
      concat(lit("__row|"), col(idCol).cast("string")))
    df.withColumn(outCol, splitExpr(key, splits, seed))
  }

  /** Domain-mixture reweighting: given target mixture proportions per
    * stratum (data-mixing a la The Pile / Dolma recipes), compute the
    * per-stratum Bernoulli rate that hits the target mixture while
    * keeping as much data as possible — the limiting stratum (smallest
    * tokens/target ratio) keeps rate 1 and everything else downsamples
    * to match. Targets needn't sum to 1 (only ratios matter).
    *
    * Returns one row per stratum: (stratum, tokens, share, rate) —
    * feed `rate` to [[stratifiedSample]] (via the returned map) to
    * materialize the mix. Token counts aggregate as integers (exact
    * unordered combine); the post-aggregation frame is one row per
    * stratum, so the unpartitioned window over it is bounded by
    * construction, not a data-volume sort.
    */
  /** Select the highest-quality documents until a token budget fills —
    * the "take the best N tokens" curation step — WITHOUT a global sort:
    * (1) one linear pass histograms token mass into `buckets` quantized
    * score bins; (2) a cumulative window over the ≤`buckets`-row
    * histogram (bounded by construction, not a data sort) finds the
    * threshold bin and the fractional keep-rate inside it; (3) one
    * linear filter keeps every doc above the threshold bin and
    * hash-samples the boundary bin at that rate. Expected selected
    * token mass = `budget` (exact above the boundary, Bernoulli inside
    * it); membership is deterministic (stable id hash, no RNG).
    *
    * `scoreCol` must be in [0, 1] (e.g. TextAnalysis.qualityScore).
    * Returns the selected rows. A budget ≥ the corpus keeps everything;
    * a budget ≤ 0 keeps nothing. */
  /** NOTE: `df` is deliberately traversed twice (histogram pass +
    * selection pass) — both are volume-linear scans and the histogram
    * output is bounded by `buckets`, so nothing corpus-sized is stored.
    * If `df` carries an expensive derived score, checkpoint it at the
    * call site; the operator won't pin corpus-sized state itself. */
  def selectByTokenBudget(
      df: DataFrame,
      idCol: String,
      scoreCol: Column,
      tokensCol: Column,
      budget: Long,
      buckets: Int = 1000,
      seed: String = "budget"): DataFrame = {
    if (buckets <= 0) throw new ParameterError(s"buckets must be positive: $buckets")
    val bin = least(floor(scoreCol * buckets).cast("int"), lit(buckets - 1))
    val hist = df
      .select(bin.as("__bin"), tokensCol.cast("long").as("__tok"))
      .groupBy("__bin").agg(sum(col("__tok")).as("__mass"))
    // bounded window: ≤ `buckets` rows by construction
    val w = Window.orderBy(col("__bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = hist
      .withColumn("__cum", sum(col("__mass")).over(w))
      .withColumn("__above", col("__cum") - col("__mass"))
    // the boundary bin: first (descending) bin where cum >= budget;
    // everything above it is kept whole, inside it keep rate fills the
    // remainder; bins below contribute nothing
    val thresholds = marked.select(
      col("__bin"),
      when(col("__cum") <= budget, 1.0)
        .when(col("__above") >= budget, 0.0)
        .otherwise((lit(budget) - col("__above")).cast("double") / col("__mass"))
        .as("__rate"))
    df
      .withColumn("__bin", bin)
      .join(broadcast(thresholds), Seq("__bin"), "left")
      .where(hashUnit(col(idCol), seed) < coalesce(col("__rate"), lit(0.0)))
      .drop("__bin", "__rate")
  }

  /** SP13: [[selectByTokenBudget]] PER GROUP — every source/domain
    * fills its own token budget with its own best documents (the
    * per-domain curation step that keeps one giant crawl from eating
    * the whole budget before curated sources are reached). Identical
    * mechanics with the histogram, cumulative window, and threshold
    * table partitioned by `groupCol`: the bounded frames grow to
    * |groups| × `buckets` rows (still dimension-sized), everything
    * else stays two linear scans. */
  def selectByTokenBudgetPerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      scoreCol: Column,
      tokensCol: Column,
      budgetPerGroup: Long,
      buckets: Int = 1000,
      seed: String = "budget"): DataFrame = {
    if (buckets <= 0) throw new ParameterError(s"buckets must be positive: $buckets")
    val bin = least(floor(scoreCol * buckets).cast("int"), lit(buckets - 1))
    val hist = df
      .select(col(groupCol).as("__g"), bin.as("__bin"),
        tokensCol.cast("long").as("__tok"))
      .groupBy("__g", "__bin").agg(sum(col("__tok")).as("__mass"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = hist
      .withColumn("__cum", sum(col("__mass")).over(w))
      .withColumn("__above", col("__cum") - col("__mass"))
    val thresholds = marked.select(
      col("__g"), col("__bin"),
      when(col("__cum") <= budgetPerGroup, 1.0)
        .when(col("__above") >= budgetPerGroup, 0.0)
        .otherwise((lit(budgetPerGroup) - col("__above")).cast("double") /
          col("__mass"))
        .as("__rate"))
    df
      .withColumn("__bin", bin)
      .withColumn("__g", col(groupCol))
      .join(broadcast(thresholds), Seq("__g", "__bin"), "left")
      .where(hashUnit(col(idCol), seed) < coalesce(col("__rate"), lit(0.0)))
      .drop("__bin", "__rate", "__g")
  }

  def mixtureRates(
      df: DataFrame,
      stratumCol: String,
      tokensCol: Column,
      targets: Map[String, Double],
      defaultTarget: Double = 0.0): DataFrame = {
    ((targets.values.toSeq :+ defaultTarget)).foreach { t =>
      if (t < 0) throw new ParameterError(s"target proportions must be >= 0: $t")
    }
    val target = targets.toSeq.sortBy(_._1).foldLeft(lit(defaultTarget)) {
      case (acc, (k, t)) => when(col("stratum") === k, t).otherwise(acc)
    }
    val perStratum = df
      .groupBy(col(stratumCol).as("stratum"))
      .agg(sum(tokensCol.cast("long")).as("tokens"))
      .withColumn("__target", target)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perStratum
      .withColumn("__total", sum(col("tokens")).over(all))
      // a stratum with a positive target but ZERO tokens cannot supply
      // anything: excluding it from the binding-constraint min is the
      // only sane reading — folding its 0/target ratio in would zero
      // λ and silently drop every other stratum
      .withColumn("__lambda",
        min(when(col("__target") > 0 && col("tokens") > 0,
          col("tokens").cast("double") / col("__target")))
          .over(all))
      .select(
        col("stratum"), col("tokens"),
        round(col("tokens").cast("double") / col("__total"), 6).as("share"),
        round(
          when(col("__target") > 0 && col("tokens") > 0,
            least(lit(1.0), col("__lambda") * col("__target") / col("tokens")))
            // targeted but empty: keep the nothing it has (max retention)
            .when(col("__target") > 0, 1.0)
            .otherwise(0.0), 6).as("rate"))
  }

  /** Temperature-scaled mixture rates (the mC4/mT5 α-sampling rule,
    * Raffel 2020 §3.4.3 / UniMax motivation): instead of explicit
    * targets, the target mix is DERIVED from the observed token shares —
    * q_i ∝ p_i^α — which up-weights small strata for α < 1 (α = 1 keeps
    * the natural mix, α = 0 is uniform). Retention rates follow the
    * [[mixtureRates]] max-retention rule: r_i = (q_i/p_i) / max_j
    * (q_j/p_j) = (p_i/p_b)^(α−1) where b is the binding stratum (the
    * smallest share when α < 1, the largest when α > 1), so the binding
    * stratum keeps everything and no rate exceeds 1.
    *
    * Same plan as [[mixtureRates]]: one hash aggregation to per-stratum
    * token mass, then a bounded (≤ |strata| rows) window pass — nothing
    * data-volume is sorted or joined. `share`, `target_share` (the
    * α-scaled mix the rates realize) and `rate` rounded to 6dp: `pow`
    * is the one libm-dependent site, and its cross-engine noise is ulps,
    * not 1e-6s. Empty strata (0 tokens) rate 0 and are excluded from
    * the binding max — pow(0, α−1) would be ∞ for α < 1. */
  def temperatureRates(
      df: DataFrame,
      stratumCol: String,
      tokensCol: Column,
      alpha: Double): DataFrame = {
    if (alpha < 0)
      throw new ParameterError(s"temperature alpha must be >= 0: $alpha")
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df
      .groupBy(col(stratumCol).as("stratum"))
      .agg(sum(tokensCol.cast("long")).as("tokens"))
      .withColumn("__total", sum(col("tokens")).over(all))
      .withColumn("__share", col("tokens").cast("double") / col("__total"))
      .withColumn("__qa", when(col("tokens") > 0, pow(col("__share"), alpha)))
      .withColumn("__w", when(col("tokens") > 0, pow(col("__share"), alpha - 1)))
      .select(
        col("stratum"), col("tokens"),
        round(col("__share"), 6).as("share"),
        round(
          coalesce(col("__qa") / sum(col("__qa")).over(all), lit(0.0)), 6)
          .as("target_share"),
        round(
          coalesce(col("__w") / max(col("__w")).over(all), lit(0.0)), 6)
          .as("rate"))
  }

  /** SP14: iterative proportional fitting (raking; Deming & Stephan
    * 1940) — per-(rowDim, colDim) sampling weights that make BOTH
    * marginals of the weighted corpus uniform simultaneously: the
    * survey-statistics standard for "balance languages AND sources at
    * once", which single-dimension stratified rates (sp1/sp3) cannot
    * do when the dimensions are correlated.
    *
    * IPF alternately scales rows to the row target and columns to the
    * column target, `iterations` full passes (fixed count, the
    * PageRank stance — no convergence polling). Weighted cell masses
    * live as MICRO-quantized BIGINTs: every scaling multiplies a cell
    * by one IEEE factor (target/current-marginal, both exact-integer-
    * derived doubles) and re-rounds to micros, so the marginal sums
    * that feed the NEXT factor are order-free integer additions — the
    * whole fixpoint replays in SQL as unrolled CTEs.
    *
    * Scale shape: cells are the bounded (rowDim × colDim) grid; per
    * iteration two tiny aggregations and two joins. The one data-scale
    * pass is the initial cell count. Output (row_val, col_val, n,
    * weight, fitted_share), 6dp: `weight` multiplies a cell's rows so
    * the reweighted corpus hits both uniform marginals. */
  def rakingWeights(
      df: DataFrame,
      rowDim: String,
      colDim: String,
      iterations: Int = 3): DataFrame = {
    if (iterations < 1)
      throw new ParameterError(s"iterations must be >= 1: $iterations")
    var cells = df
      .groupBy(col(rowDim).as("row_val"), col(colDim).as("col_val"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__m", col("n") * Micro.unit)
      .checkpointed(eager = false) // each pass re-reads the last
    val dims = cells.agg(
      sum(col("n")).as("__N"),
      countDistinct(col("row_val")).as("__R"),
      countDistinct(col("col_val")).as("__C"))
    def scaleTo(frame: org.apache.spark.sql.DataFrame, dim: String,
        targetDiv: String): DataFrame = {
      val sums = frame.groupBy(col(dim)).agg(sum(col("__m")).as("__S"))
      frame
        .join(broadcast(sums), Seq(dim))
        .crossJoin(broadcast(dims)) // 1-row grouping-free agg
        .select(col("row_val"), col("col_val"), col("n"),
          round(col("__m").cast("double") *
            (col("__N").cast("double") * 1000000.0 /
              col(targetDiv).cast("double") / col("__S").cast("double")))
            .cast("long").as("__m"))
    }
    for (_ <- 1 to iterations)
      cells = scaleTo(scaleTo(cells, "row_val", "__R"), "col_val", "__C")
        .checkpointed(eager = false)
    cells
      .crossJoin(broadcast(dims))
      .select(
        col("row_val"), col("col_val"), col("n"),
        round(Micro.back(col("__m"))
          / col("n").cast("double"), 6).as("weight"),
        round(Micro.back(col("__m"))
          / col("__N").cast("double"), 6).as("fitted_share"))
  }

  /** SP15: negative sampling for embedding training (Mikolov 2013) —
    * k negatives per example, drawn from the unigram^0.75 distribution
    * by deterministic hash, so resampling a grown corpus keeps every
    * previously drawn (example, slot) pair whose vocab mass didn't
    * move.
    *
    * Cross-engine exactness: freq^0.75 is spelled
    * `sqrt(freq · sqrt(freq))` — IEEE 754 requires sqrt (unlike pow)
    * to be correctly rounded, so both engines quantize identical
    * weights; draws are md5 unit hashes scaled into the integer
    * cumulative-mass space.
    *
    * Scale shape (the qn1 lesson): the draw→word lookup is NOT an
    * interval-predicate join (that plans as a nested loop: O(draws ×
    * vocab)); the cumulative space is cut into `buckets` equal slots,
    * vocab intervals explode onto the ≤ V + buckets slots they
    * overlap, and each draw equi-joins its slot then checks ≤ per-slot
    * candidates. The slot join carries NO broadcast hint: the fanned
    * table is VOCAB-sized (cardinality-bounded, not range-bounded — a
    * web-scale vocabulary is 10⁸⁺ rows, past any broadcast/driver
    * ceiling), so AQE broadcasts it when it measures small and
    * shuffle-joins on the slot key otherwise (both sides hash by
    * `__slot`; per-slot candidate mass ≈ V/buckets by construction).
    * Output: one row per (idCol, draw_idx 0..k−1) with `neg_word`. */
  def negativeSamples(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      seed: String = "neg",
      buckets: Int = 4096): DataFrame = {
    if (k <= 0) throw new ParameterError(s"k must be positive: $k")
    if (buckets <= 0) throw new ParameterError(s"buckets must be positive: $buckets")
    val vocab = graft.dedup.Dedup.shingleRows(docs, idCol, textCol, n = 1)
      .where(col("__s") =!= "")
      .groupBy(col("__s").as("word"))
      .agg(count(lit(1)).as("__f"))
      .withColumn("__wq",
        Micro.long(sqrt(col("__f").cast("double") * sqrt(col("__f").cast("double")))))
    // two-level prefix scan over the vocabulary (r9): "vocab-bounded"
    // is CARDINALITY-bounded, not range-bounded — a web-scale corpus
    // grows its unigram vocabulary with the data (typos, URLs, code),
    // so the old single unpartitioned cumulative window was a
    // vocab-sized one-task sort. Words bucket by their 2-char prefix,
    // which is MONOTONE under the binary string order both engines
    // sort by — (bucket, word) order IS word order, so the cumulative
    // mass space is bit-identical to the oracle's ORDER BY word.
    val cum = graft.panel.PrefixSum.inclusiveByBucket(
        vocab, substring(col("word"), 1, 2), col("word"),
        Seq("__hi" -> "__wq"))
      .withColumn("__lo", col("__hi") - col("__wq"))
      .checkpointed(eager = false) // feeds the total AND the melt
    val tot = cum.agg(max(col("__hi")).as("__W"))
    val bw = greatest(lit(1L), call_function("div", col("__W"), lit(buckets.toLong)))
    val slotted = cum
      .crossJoin(broadcast(tot)) // one scalar row — bounded by design
      .select(
        explode(sequence(call_function("div", col("__lo"), bw),
          call_function("div", col("__hi") - 1L, bw))).as("__slot"),
        col("word"), col("__lo"), col("__hi"))
    val draws = docs.select(col(idCol))
      .select(col(idCol), explode(sequence(lit(0), lit(k - 1))).as("draw_idx"))
      .crossJoin(broadcast(tot))
      .withColumn("__d",
        floor(hashUnit(concat_ws("#", col(idCol), col("draw_idx")), seed)
          * col("__W").cast("double")).cast("long"))
      .withColumn("__slot", call_function("div", col("__d"), bw))
    draws
      .join(slotted, Seq("__slot")) // vocab-sized: AQE picks the strategy
      .where(col("__lo") <= col("__d") && col("__d") < col("__hi"))
      .select(col(idCol), col("draw_idx"), col("word").as("neg_word"))
  }

  /** SP16: curriculum ordering — the deterministic schedule a
    * curriculum-trained run feeds its data loader: docs band by a
    * bounded difficulty/quality score, and the global order
    * round-robins across bands (round p takes each band's p-th doc,
    * easy→hard within the round), so every training window sees the
    * full difficulty mix while within-band order stays stable.
    *
    * The global position is computed WITHOUT a global window: with
    * per-band sizes s_b (a ≤ `bands`-row broadcast frame),
    * pos(b, p) = Σ_b' min(s_b', p−1) + #{b' < b : s_b' ≥ p} + 1 —
    * exact integer arithmetic, a bands-row crossJoin + one per-doc
    * aggregate instead of the rank-everything sort a naive
    * implementation ships to one task. The only window is the
    * per-band row_number (partitioned, band-key shuffle).
    *
    * `scoreCol` must land in [0, 1] (the [[TextAnalysis.qualityScore]]
    * contract); band = min(⌊score·bands⌋, bands−1), so the band key is
    * range-bounded by construction. Output (idCol, band, pos_in_band,
    * curriculum_pos). */
  def curriculumOrder(
      docs: DataFrame,
      idCol: String,
      scoreCol: Column,
      bands: Int = 10): DataFrame = {
    if (bands < 2 || bands > 1000)
      throw new ParameterError(s"bands must be in [2, 1000]: $bands")
    // out-of-[0,1] score = contract breach, loudly (the modularity
    // stance): a negative score would otherwise yield a negative band
    // key and silently corrupt the curriculum_pos permutation
    val checked = when(scoreCol >= 0 && scoreCol <= 1, scoreCol)
      .otherwise(raise_error(concat(
        lit("curriculumOrder: score outside [0, 1]: "), scoreCol)))
    val banded = docs
      .select(col(idCol),
        least(floor(checked * bands), lit(bands - 1L)).cast("long")
          .as("band"))
      .withColumn("pos_in_band", row_number()
        .over(Window.partitionBy(col("band")).orderBy(col(idCol)))
        .cast("long"))
      .checkpointed(eager = false) // sizes probe + rank join share it
    val sizes = banded.groupBy(col("band").as("__b"))
      .agg(count(lit(1)).as("__s"))
    // per-doc fan-out to every band index, then a band-key EQUI-join
    // with the ≤ bands-row sizes frame (a hash join, not a nested
    // loop); an absent band would contribute min(0, p−1) = 0, which is
    // exactly what the inner join's dropped row sums to
    banded
      .select(col(idCol), col("band"), col("pos_in_band"),
        explode(sequence(lit(0L), lit((bands - 1).toLong))).as("__b"))
      .join(broadcast(sizes), Seq("__b"))
      .groupBy(col(idCol), col("band"), col("pos_in_band"))
      .agg((sum(
        least(col("__s"), col("pos_in_band") - 1) +
          when(col("__b") < col("band") &&
            col("__s") >= col("pos_in_band"), 1L).otherwise(0L))
        + 1L).as("curriculum_pos"))
  }
}
