package graft.text

import graft.Checkpoint._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{ParameterError, Parallelism}

/** Hashed n-gram text classification — the fastText-shaped quality /
  * domain classifier of LLM curation pipelines (Joulin et al. 2016
  * "Bag of Tricks for Efficient Text Classification"; the GPT-3 /
  * CCNet quality-filter stage trains exactly this: a linear model over
  * hashed word + bigram features). Training here is multinomial Naive
  * Bayes rather than SGD: the MLE counts are ONE hash aggregation over
  * the exploded feature stream — embarrassingly parallel, deterministic,
  * and exactly reproducible by the SQL oracle — and at classifier sizes
  * used for corpus filtering (binary/few-class, hashed buckets) NB is
  * the standard strong baseline the fastText paper itself benchmarks.
  *
  * Features: word unigrams + bigrams over [[TextAnalysis]]-normalized
  * words, hashed into `buckets` via [[LangModel.featureBucket]] (first
  * 8 md5 hex chars mod buckets — engine-independent).
  *
  * Scale shape: the model is bounded by labels × buckets rows BY
  * CONSTRUCTION, so every scoring join broadcasts; training is one
  * explode + hash-groupBy (volume-linear, one shuffle on the feature
  * key); scoring is explode → broadcast-join → one integer-sum
  * aggregation on the doc id, then a per-doc argmax window over L rows
  * per doc. No all-pairs joins, no driver-side model state.
  *
  * Cross-engine determinism: the per-feature log-likelihood term
  * ln(c+1) is quantized to micro-nats (×10⁶, BIGINT) before the
  * per-doc sum — unordered integer addition is exact — and the
  * label-constant parts (feature-total penalty, prior) are per-row
  * IEEE scalar arithmetic, identical in any engine (the LangModel /
  * BM25 stance). */
object Classifier {

  /** Hashed feature rows `(keyCol, __b)`: word unigrams UNION ALL
    * bigrams (duplicates kept — multinomial tf), each hashed into
    * [0, buckets). Docs with no normalized words contribute nothing —
    * the 1-shingle stream emits "" for empty/punct-only text (split of
    * the empty string), which is not a word; filtered here. */
  def featureRows(
      docs: DataFrame,
      keyCol: String,
      textCol: String,
      buckets: Int): DataFrame = {
    if (buckets <= 0) throw new ParameterError(s"buckets must be positive: $buckets")
    graft.dedup.Dedup.shingleRows(docs, keyCol, textCol, n = 1)
      .unionAll(graft.dedup.Dedup.shingleRows(docs, keyCol, textCol, n = 2))
      .where(col("__s") =!= "")
      .select(col(keyCol), LangModel.featureBucket(col("__s"), buckets).as("__b"))
  }

  /** The Naive Bayes count model: `(label, bucket, cnt)` — feature
    * occurrence counts per label over the labeled corpus, ≤ labels ×
    * buckets rows. Smoothed log-likelihoods derive from it as
    * ln(cnt+1) − ln(T_label + buckets). */
  def nbModel(
      labeled: DataFrame,
      labelCol: String = "label",
      textCol: String = "text",
      buckets: Int = 4096): DataFrame =
    featureRows(labeled, labelCol, textCol, buckets)
      .groupBy(col(labelCol).as("label"), col("__b").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Classify `docs` with an NB model trained on `labeled` (which
    * carries `labelCol` + `textCol`). Returns one row per SCORED doc:
    * `(id, predicted, score, margin)` — score is the winning label's
    * log-posterior (up to the shared evidence constant), margin the
    * gap to the runner-up (0.0 when there is only one label; a small
    * margin = low-confidence call, the filterable band). Docs with no
    * features are dropped (nothing to condition on — the DSIR stance).
    * Ties break toward the lexically-smallest label.
    *
    * The model, label stats, and prior frames are all bounded (labels ×
    * buckets / labels rows) and eagerly checkpointed — they feed
    * multiple joins and recomputing the labeled-corpus explode per
    * reference would dominate (the dsirLogWeights counts note). */
  def nbClassify(
      docs: DataFrame,
      labeled: DataFrame,
      idCol: String = "doc_id",
      labelCol: String = "label",
      textCol: String = "text",
      buckets: Int = 4096): DataFrame = {
    // bounded: ≤ labels × buckets rows; feeds the score join AND the
    // per-label totals below
    val model = nbModel(labeled, labelCol, textCol, buckets)
      .withColumn("__m", round(log(col("cnt").cast("double") + 1.0) * 1e6, 0)
        .cast("long"))
      .checkpointed(eager = true)
    // per-label constants: feature total T_l (from the model — exact),
    // doc-count prior ln(n_l / N)
    val totals = model.groupBy("label").agg(sum(col("cnt")).as("__T"))
    val priors = labeled.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("__nl"))
    val stats = totals.join(priors, "label")
      .crossJoin(priors.agg(sum(col("__nl")).as("__N")))
      .select(
        col("label"),
        log(col("__nl").cast("double") / col("__N")).as("__prior"),
        log((col("__T") + buckets).cast("double")).as("__lnTB"))
    // bounded (≤ labels rows) and used once — no checkpoint: it rides
    // the statsm broadcast build off the checkpointed model RDD (r9;
    // job-count, not volume, dominates these chains locally)

    // per-doc feature ARRAY (≤ min(tokens, buckets) entries — bounded)
    // + per-label DENSE weight arrays (index = bucket + 1; element_at
    // on a MAP is a linear scan per lookup in Spark, so the map form
    // densifies ONCE here): scoring is then docs × labels rows, each
    // an O(1)-per-feature in-row aggregate — no occurrence × labels
    // fan-out through a shuffle (r9; the fan-out, not the training
    // scans, dominated the NB chains). Exact: Σ x·__m over distinct
    // buckets = Σ __m over occurrences (integer adds, any order), and
    // a missing key ≡ the old left-join null ≡ 0.
    val mm = model.groupBy("label")
      .agg(map_from_entries(collect_list(struct(
        col("bucket").cast("long"), col("__m")))).as("__mp"))
      .select(col("label"), transform(
        sequence(lit(0L), lit(buckets - 1L)),
        i => coalesce(element_at(col("__mp"), i), lit(0L))).as("__ma"))
    val statsm = stats.join(broadcast(mm), "label")
    val perDoc = featureRows(docs, idCol, textCol, buckets)
      .groupBy(col(idCol), col("__b").cast("long").as("__bk"))
      .agg(count(lit(1)).as("__x"))
      .groupBy(col(idCol))
      .agg(
        collect_list(struct(col("__bk").as("b"), col("__x").as("x")))
          .as("__fs"),
        sum(col("__x")).as("__n"))
    // the docs × labels in-row scoring aggregate is the CPU of this chain
    val scored = Parallelism.coreWide(perDoc, col(idCol))
      .crossJoin(broadcast(statsm)) // ≤ labels rows — bounded
      .withColumn("__S", aggregate(col("__fs"), lit(0L), (acc, f) =>
        acc + f.getField("x") *
          element_at(col("__ma"), (f.getField("b") + 1L).cast("int"))))
      .select(
        col(idCol),
        col("label"),
        (col("__S").cast("double") / 1e6 -
          col("__n").cast("double") * col("__lnTB") + col("__prior"))
          .as("__score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("label"))
    scored
      .select(
        col(idCol),
        col("label"),
        col("__score"),
        row_number().over(w).as("__rn"),
        (col("__score") -
          coalesce(lead(col("__score"), 1).over(w), col("__score")))
          .as("__margin"))
      .where(col("__rn") === 1)
      .select(
        col(idCol),
        col("label").as("predicted"),
        round(col("__score"), 6).as("score"),
        round(col("__margin"), 6).as("margin"))
  }

  /** Bias pseudo-bucket: every doc carries one occurrence, so the
    * intercept trains/scores through the SAME join+agg path as real
    * features (no special-case bias plumbing in either engine). */
  val BiasBucket: Long = -1L

  /** Per-doc hashed feature counts `(keyCol, bucket, __x)` with the
    * bias row appended — the design matrix of [[logregTrain]] in sparse
    * COO form. One explode + one hash aggregation. */
  def featureCounts(
      docs: DataFrame,
      keyCol: String,
      textCol: String,
      buckets: Int): DataFrame =
    featureRows(docs, keyCol, textCol, buckets)
      .groupBy(col(keyCol), col("__b").cast("long").as("bucket"))
      .agg(count(lit(1)).as("__x"))
      .unionByName(docs.select(
        col(keyCol), lit(BiasBucket).as("bucket"), lit(1L).as("__x")))

  /** Binary logistic regression over hashed n-gram features, trained by
    * full-batch gradient descent run ENTIRELY as DataFrame ops — the
    * SGD half of the fastText recipe, complementing [[nbModel]] (same
    * feature space, discriminative instead of generative). Returns the
    * weight frame `(bucket, weight)` — ≤ buckets+1 rows by
    * construction, [[BiasBucket]] holding the intercept.
    *
    * Per iteration: logits are one broadcast-join of the sparse design
    * matrix against the bounded weight frame + one sum per doc;
    * gradients one join against the per-doc residuals + one sum per
    * bucket. 2 linear shuffles × `iterations`, model always broadcast,
    * no driver-side vectors — the shape survives a corpus of any size
    * (the gradient accumulator is decimal(38,0): a trillion-doc sum
    * can't wrap).
    *
    * Cross-engine determinism (the micro-nat stance, applied to
    * training): weights and residuals live as micro-quantized BIGINTs —
    * logit = Σ w_micro·x is EXACT integer arithmetic; only the per-row
    * sigmoid and the per-bucket step (lr·(ḡ + l2·w), rounded back to
    * micro) are IEEE, each computed from identical exact inputs in any
    * engine. GD on μ-quantized weights converges the same as float GD
    * until steps approach 1e-6 — far below any useful lr.
    *
    * `labelCol` must be 0/1. The labeled count feeding the gradient
    * mean is a bounded driver scalar (one count job — the requireFresh
    * cost class). */
  def logregTrain(
      labeled: DataFrame,
      idCol: String = "doc_id",
      labelCol: String = "label",
      textCol: String = "text",
      buckets: Int = 4096,
      iterations: Int = 3,
      learningRate: Double = 0.5,
      l2: Double = 0.0): DataFrame = {
    if (iterations <= 0)
      throw new ParameterError(s"iterations must be positive: $iterations")
    if (learningRate <= 0)
      throw new ParameterError(s"learningRate must be positive: $learningRate")
    // corpus-sized, referenced 2× per iteration → non-eager checkpoint
    // (lineage cut without pinning the corpus in executor storage)
    val fx = featureCounts(labeled, idCol, textCol, buckets)
      .checkpointed(eager = false)
    val labels = labeled.select(col(idCol), col(labelCol).cast("long").as("__y"))
      .checkpointed(eager = false)
    val n = labels.count().toDouble
    if (n == 0) throw new ParameterError("logregTrain: empty labeled corpus")

    var w: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      // exact integer logit in micro units; absent w (first pass) ≡ 0
      val z = w match {
        case None => labels.withColumn("__zm", lit(0L))
        case Some(wf) =>
          labels.join(
            fx.join(broadcast(wf), "bucket")
              .groupBy(col(idCol))
              .agg(sum(col("__wm") * col("__x")).as("__zm")),
            Seq(idCol), "left")
            .withColumn("__zm", coalesce(col("__zm"), lit(0L)))
      }
      val resid = z.select(
        col(idCol),
        round((lit(1.0) / (lit(1.0) + exp(-(col("__zm").cast("double") / lit(1e6))))
          - col("__y").cast("double")) * 1e6, 0).cast("long").as("__rm"))
      val grad = fx.join(resid, idCol)
        .groupBy(col("bucket"))
        .agg(sum((col("__rm") * col("__x"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("__g"))
      val next = (w match {
        case None => grad.withColumn("__wm", lit(0L))
        case Some(wf) => wf.join(grad, Seq("bucket"), "full")
          .select(col("bucket"),
            coalesce(col("__wm"), lit(0L)).as("__wm"),
            col("__g"))
      }).select(
        col("bucket"),
        (col("__wm") - round(lit(learningRate) *
          (coalesce(col("__g"), lit(0L)).cast("double") / lit(n) +
            lit(l2) * col("__wm").cast("double") / lit(1e6)), 0)
          .cast("long")).as("__wm"))
      // bounded (≤ buckets+1 rows): eager checkpoint truncates the
      // per-iteration lineage growth and feeds the next broadcast
      w = Some(next.checkpointed(eager = true, keepAqe = true)) // tiny round state
    }
    w.get.select(col("bucket"),
      (col("__wm").cast("double") / 1e6).as("weight"))
  }

  /** Score `docs` with a [[logregTrain]] weight frame: `(id, prob)` —
    * P(label=1), every doc scored (the bias row guarantees a logit even
    * for wordless text). One broadcast join + one per-doc sum. */
  def logregScore(
      docs: DataFrame,
      model: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 4096): DataFrame = {
    val wm = model.select(col("bucket"),
      round(col("weight") * 1e6, 0).cast("long").as("__wm"))
    featureCounts(docs, idCol, textCol, buckets)
      .join(broadcast(wm), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("__wm"), lit(0L)) * col("__x")).as("__zm"))
      .select(col(idCol),
        round(lit(1.0) /
          (lit(1.0) + exp(-(col("__zm").cast("double") / lit(1e6)))), 6)
          .as("prob"))
  }

  /** One-pass multi-model NB scorer shared by [[nbLearningCurve]] and
    * [[nbSourceAblation]] (r9): classify the holdout against MANY
    * bounded NB models at once. `model` = (__tag, label, bucket, cnt)
    * with cnt > 0, `priors` = (__tag, label, __nl) with __nl > 0 —
    * both ≤ tags × labels × buckets rows BY CONSTRUCTION, so every
    * join broadcasts. The holdout is exploded ONCE into per-(doc,
    * bucket) multiplicities; all (tag, label) scores ride one
    * partial-agg-friendly hash aggregation; argmax per (doc, tag).
    *
    * Exactness vs a per-tag [[nbClassify]]: Σ __x·__m over distinct
    * buckets = Σ __m over occurrences (exact longs), and __prior /
    * __lnTB are the same IEEE scalars from the same integers, so each
    * (doc, tag, label) score is the identical IEEE expression over
    * identical operands. Zero-count model rows must be PRE-FILTERED
    * (ln(0+1) = 0 ≡ absent row, so dropping them is exact); labels
    * with no training docs likewise (matching nbClassify's inner
    * stats join, which never scores an unseen label).
    *
    * Returns (idCol, __tag, __pred) — one prediction per (scored doc,
    * tag); a tag whose model or priors are empty yields NO rows. */
  private def taggedNbPredict(
      docs: DataFrame,
      model: DataFrame,
      priors: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int): DataFrame = {
    val m = model
      .withColumn("__m",
        round(log(col("cnt").cast("double") + 1.0) * 1e6, 0).cast("long"))
      .checkpointed(eager = true) // bounded: tags × labels × buckets
    val totals = m.groupBy("__tag", "label").agg(sum(col("cnt")).as("__T"))
    val stats = totals
      .join(priors, Seq("__tag", "label"))
      .join(priors.groupBy("__tag").agg(sum(col("__nl")).as("__nn")),
        Seq("__tag"))
      .select(col("__tag"), col("label"),
        log(col("__nl").cast("double") / col("__nn")).as("__prior"),
        log((col("__T") + buckets).cast("double")).as("__lnTB"))
    // bounded (≤ tags × labels) and used once — no checkpoint: it
    // rides the statsm broadcast build off the checkpointed m RDD
    // ONE explode of the holdout, folded to a per-doc feature ARRAY
    // (≤ min(tokens, buckets) entries — bounded); models fold to
    // per-(tag, label) bucket→__m MAPS. Scoring is then docs × tags ×
    // labels ROWS (not occurrences × tags × labels), each evaluated by
    // an in-row higher-order aggregate — the nbClassify r9 shape.
    val mm = m.groupBy("__tag", "label")
      .agg(map_from_entries(collect_list(struct(
        col("bucket").cast("long"), col("__m")))).as("__mp"))
      // densified ONCE (map element_at is a linear scan — the
      // nbClassify r9 note); scoring then does O(1) ordinal access
      .select(col("__tag"), col("label"), transform(
        sequence(lit(0L), lit(buckets - 1L)),
        i => coalesce(element_at(col("__mp"), i), lit(0L))).as("__ma"))
    val statsm = stats.join(broadcast(mm), Seq("__tag", "label"))
    val perDoc = featureRows(docs, idCol, textCol, buckets)
      .groupBy(col(idCol), col("__b").cast("long").as("__bk"))
      .agg(count(lit(1)).as("__x"))
      .groupBy(col(idCol))
      .agg(
        collect_list(struct(col("__bk").as("b"), col("__x").as("x")))
          .as("__fs"),
        sum(col("__x")).as("__n"))
    // the docs × labels in-row scoring aggregate is the CPU of this chain
    val scored = Parallelism.coreWide(perDoc, col(idCol))
      .crossJoin(broadcast(statsm)) // tags × labels rows — bounded
      .withColumn("__S", aggregate(col("__fs"), lit(0L), (acc, f) =>
        acc + f.getField("x") *
          element_at(col("__ma"), (f.getField("b") + 1L).cast("int"))))
      .select(col(idCol), col("__tag"), col("label"),
        (col("__S").cast("double") / 1e6 -
          col("__n").cast("double") * col("__lnTB") + col("__prior"))
          .as("__score"))
    val w = Window.partitionBy(col(idCol), col("__tag"))
      .orderBy(col("__score").desc, col("label"))
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col("__tag"), col("label").as("__pred"))
  }

  /** [[taggedNbPredict]] reduced to per-tag holdout accuracy counts:
    * (__tag, n_holdout, n_correct); a tag whose model or priors are
    * empty yields NO row — callers left-join from their tag frame. */
  private def taggedNbAccuracy(
      holdout: DataFrame,
      truth: DataFrame,
      model: DataFrame,
      priors: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int): DataFrame =
    taggedNbPredict(holdout, model, priors, idCol, textCol, buckets)
      .join(truth, Seq(idCol))
      .groupBy(col("__tag"))
      .agg(
        count(lit(1)).as("n_holdout"),
        sum(when(col("__pred") === col("__truth"), 1L).otherwise(0L))
          .as("n_correct"))

  /** Learning curve for the NB classifier: hold out a fixed
    * hash-deterministic slice, train on NESTED hash fractions of the
    * remaining pool (the sampleByHash nesting property — each smaller
    * training set is a SUBSET of the larger, so the curve measures data
    * volume, not resample luck), and report holdout accuracy per
    * fraction. The flattening of this curve is the data-scaling answer
    * "would labeling more help?" — a first-class eval for a pipeline
    * that curates training data.
    *
    * One row per fraction: (fraction, n_train, n_holdout, n_correct,
    * accuracy 6dp). Counts exact; accuracy one integer ratio.
    *
    * Cost shape (r9): NB count tables are ADDITIVE over docs, so each
    * doc lands in the band of the SMALLEST fraction admitting it and
    * the model for fraction f is the prefix-sum of band count tables
    * with band ≤ f — bit-identical to retraining on `u < f` (the same
    * rows counted, in an exact integer sum), but the whole curve costs
    * ONE explode of the pool plus one multi-model scoring pass of the
    * holdout ([[taggedNbAccuracy]]) instead of |fractions| full
    * train/classify chains. */
  def nbLearningCurve(
      docs: DataFrame,
      labelCol: String,
      fractions: Seq[Double] = Seq(0.25, 0.5, 1.0),
      holdoutFrac: Double = 0.2,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 256,
      seed: String = "lc"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(f => f > 0 && f <= 1),
      s"fractions in (0,1]: $fractions")
    // a duplicated fraction would double its band's counts through the
    // fraction-dimension fan-out — loud beats silently-wrong accuracy
    require(fractions.distinct == fractions,
      s"fractions has duplicates: $fractions")
    require(holdoutFrac > 0 && holdoutFrac < 1, s"holdoutFrac: $holdoutFrac")
    val u = graft.text.Sampling.hashUnit(col(idCol), seed)
    val holdout = docs.where(u >= 1.0 - holdoutFrac)
      .checkpointed(eager = false) // feeds truth + the scoring pass
    val pool = docs.where(u < 1.0 - holdoutFrac)
    val truth = holdout.select(col(idCol), col(labelCol).as("__truth"))
    val fs = fractions.sorted
    // nested-fraction band: the smallest fraction admitting the doc
    // (docs above max(fractions) train nothing and drop here)
    val u2 = graft.text.Sampling.hashUnit(col(idCol), s"$seed-f")
    val band = fs.reverse.foldLeft(lit(null).cast("double")) {
      (acc, f) => when(u2 < f, lit(f)).otherwise(acc)
    }
    val banded = pool.withColumn("__band", band)
      .where(col("__band").isNotNull)
      .checkpointed(eager = false) // feeds counts + priors
    // the doc id rides in the key struct so featureRows' pre-explode
    // repartition spreads by DOC (uniform), not by the few (band,
    // label) groups; the groupBy's partial aggregation absorbs the
    // wider key before the shuffle
    val byBand = featureRows(
      banded.select(
        struct(col(idCol).as("i"), col("__band").as("b"),
          col(labelCol).as("l")).as("__bl"),
        col(textCol)),
      "__bl", textCol, buckets)
      .groupBy(col("__bl.b").as("__band"), col("__bl.l").as("label"),
        col("__b").as("bucket"))
      .agg(count(lit(1)).as("cnt")) // bounded: bands × labels × buckets;
      // used once — materialized by the model checkpoint downstream
    val priByBand = banded
      .groupBy(col("__band"), col(labelCol).as("label"))
      .agg(count(lit(1)).as("__nl"))
      // EAGER: consumed by concurrent broadcast builds (the
      // nbSourceAblation race note); also warms the banded RDD
      .checkpointed(eager = true) // bounded: bands × labels
    // prefix models over the BOUNDED band tables via ONE literal
    // fraction-dimension fan-out (a per-fraction union would spawn one
    // plan branch + broadcast build per fraction — job-count, not
    // volume, dominates the chain); positive-count prefix sums are
    // always > 0, nothing to filter
    import docs.sparkSession.implicits._
    val tagsDf = fs.map(_.toString).toDF("__tag")
      .withColumn("__f", col("__tag").cast("double"))
    val keep = col("__band") <= col("__f")
    val model = broadcast(tagsDf).crossJoin(byBand).where(keep)
      .groupBy("__tag", "label", "bucket").agg(sum(col("cnt")).as("cnt"))
    val priors = broadcast(tagsDf).crossJoin(priByBand).where(keep)
      .groupBy("__tag", "label").agg(sum(col("__nl")).as("__nl"))
    val nTrain = broadcast(tagsDf).crossJoin(priByBand).where(keep)
      .groupBy("__tag").agg(sum(col("__nl")).as("n_train"))
    val accs = taggedNbAccuracy(holdout, truth, model, priors,
      idCol, textCol, buckets)
    tagsDf
      .join(nTrain, Seq("__tag"), "left")
      .join(accs, Seq("__tag"), "left")
      .select(
        // Double.toString round-trips exactly, so __f is the original
        // lit(f) bit for bit
        col("__f").as("fraction"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_holdout"), lit(0L)).as("n_holdout"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_holdout"), 6))
  }

  /** Leave-one-source-out NB count frames over `pool`, shared by
    * [[nbSourceAblation]] and [[nbMcNemar]]: for each tag in `tagsDf`
    * (the `noneTag` row meaning "remove nothing"), the (model, priors,
    * n_train) a retrain on `pool.where(src =!= tag)` would produce —
    * derived EXACTLY because NB count tables are additive over docs.
    *
    * ONE explode of the pool builds per-(source, label, bucket)
    * counts; ONE literal tag-dimension fan-out then builds every
    * leave-one-out frame in a single aggregation (a per-tag union
    * would spawn one plan branch + broadcast build per tag —
    * job-count, not volume, dominates these chains locally).
    * `pool.where(src =!= s)` keeps only rows where the predicate is
    * TRUE — null-source docs drop too; `keep` mirrors that, so the
    * derived counts equal retrained ones exactly. Kept sums are of
    * positive counts, so no 0-count rows arise, and a label losing
    * every doc simply has no rows — matching nbClassify's inner stats
    * join, which never scores an unseen label. */
  private def sourceTaggedCounts(
      pool: DataFrame,
      tagsDf: DataFrame,
      noneTag: String,
      sourceCol: String,
      labelCol: String,
      idCol: String,
      textCol: String,
      buckets: Int): (DataFrame, DataFrame, DataFrame) = {
    // the doc id rides in the key struct so featureRows' pre-explode
    // repartition spreads by DOC (uniform), not by the few (source,
    // label) groups; the groupBy's partial aggregation absorbs the
    // wider key before the shuffle
    val bySrc = featureRows(
      pool.select(
        struct(col(idCol).as("i"), col(sourceCol).as("s"),
          col(labelCol).as("l")).as("__sl"),
        col(textCol)),
      "__sl", textCol, buckets)
      .groupBy(col("__sl.s").as("__src"), col("__sl.l").as("label"),
        col("__b").as("bucket"))
      .agg(count(lit(1)).as("cnt")) // bounded: sources × labels ×
      // buckets; used once — materialized by the model checkpoint
    val priBySrc = pool
      .groupBy(col(sourceCol).as("__src"), col(labelCol).as("label"))
      .agg(count(lit(1)).as("__n"))
      // EAGER: priors and n_train consume this from CONCURRENT
      // broadcast-build jobs — a non-eager checkpoint has no
      // materialization lock, so both would race and duplicate the
      // pool scan; the eager job also warms the pool RDD for the
      // model explode
      .checkpointed(eager = true) // bounded: sources × labels
    val keep = col("__tag") === noneTag ||
      !(col("__src") === col("__tag") || col("__src").isNull)
    val model = broadcast(tagsDf).crossJoin(bySrc).where(keep)
      .groupBy("__tag", "label", "bucket").agg(sum(col("cnt")).as("cnt"))
    val priors = broadcast(tagsDf).crossJoin(priBySrc).where(keep)
      .groupBy("__tag", "label").agg(sum(col("__n")).as("__nl"))
    val nTrain = broadcast(tagsDf).crossJoin(priBySrc).where(keep)
      .groupBy("__tag").agg(sum(col("__n")).as("n_train"))
    (model, priors, nTrain)
  }

  /** ML38: source-ablation data valuation — retrain the NB label
    * classifier with each of `ablate`'s sources REMOVED from the
    * training pool and report the holdout-accuracy delta vs the full
    * model: the leave-one-source-out answer to "which corpus slice is
    * actually earning its tokens" (the group-level Shapley-0th-order
    * screen curation teams run before paying for more of a source).
    *
    * Shape (r9): NB count tables are ADDITIVE over docs, so each
    * leave-one-out model is the GLOBAL per-(source, label, bucket)
    * count table minus that source's slice — bit-identical to
    * retraining without it (the same rows counted, exact integer
    * subtraction), but the whole ablation costs ONE explode of the
    * pool plus one multi-model scoring pass of the holdout
    * ([[taggedNbAccuracy]]) instead of (|ablate|+1) full train/score
    * chains. Ablations stay an EXPLICIT bounded list; the SQL oracle
    * instantiates per-tag retrain chains and matches because of the
    * additivity. Accuracy/delta are exact-integer ratios, 6dp.
    *
    * Output one row per model: ("(none)" first in no particular row
    * order, then each excluded source) × (excluded_source, n_train,
    * n_holdout, n_correct, accuracy, delta_vs_full). */
  def nbSourceAblation(
      docs: DataFrame,
      labelCol: String,
      ablate: Seq[String],
      sourceCol: String = "source",
      holdoutFrac: Double = 0.2,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 256,
      seed: String = "ab"): DataFrame = {
    require(ablate.nonEmpty && ablate.size <= 20,
      s"ablate must list 1..20 sources: ${ablate.size}")
    // a duplicated tag would double its counts through the
    // tag-dimension fan-out — loud beats silently-wrong accuracy
    require(ablate.distinct == ablate, s"ablate has duplicates: $ablate")
    require(holdoutFrac > 0 && holdoutFrac < 1, s"holdoutFrac: $holdoutFrac")
    val u = graft.text.Sampling.hashUnit(col(idCol), seed)
    val holdout = docs.where(u >= 1.0 - holdoutFrac)
      .checkpointed(eager = false) // feeds truth + the scoring pass
    val pool = docs.where(u < 1.0 - holdoutFrac)
      .checkpointed(eager = false) // feeds counts + priors + n
    val truth = holdout.select(col(idCol), col(labelCol).as("__truth"))
    val NoneTag = "(none)"
    import docs.sparkSession.implicits._
    val tagsDf = (NoneTag +: ablate.toList).toDF("__tag")
    val (model, priors, nTrain) = sourceTaggedCounts(
      pool, tagsDf, NoneTag, sourceCol, labelCol, idCol, textCol, buckets)
    val accs = taggedNbAccuracy(holdout, truth, model, priors,
      idCol, textCol, buckets)
    val out = tagsDf
      .join(nTrain, Seq("__tag"), "left")
      .join(accs, Seq("__tag"), "left")
      .select(
        col("__tag").as("excluded_source"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_holdout"), lit(0L)).as("n_holdout"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_holdout"), 6))
      .checkpointed(eager = true) // bounded: |ablate|+1 rows — the delta baseline
    out
      .crossJoin(broadcast(out.where(col("excluded_source") === NoneTag)
        .select(col("accuracy").as("__fa"))))
      .withColumn("delta_vs_full", round(col("accuracy") - col("__fa"), 6))
      .drop("__fa")
  }

  /** ML39: McNemar's paired test between the full NB model and the
    * model trained without `excludeSource` — the significance gate for
    * [[nbSourceAblation]]'s deltas: a raw accuracy drop on a finite
    * holdout can be noise, but McNemar conditions on the DISAGREEMENT
    * pairs (b = full right/ablated wrong, c = the reverse) where all
    * the information lives: χ²(1) = (b−c)²/(b+c), compare to 3.841.
    *
    * Exactness: b and c are exact integers from one per-doc pivot of
    * the two tagged prediction streams ([[taggedNbPredict]] over the
    * additive [[sourceTaggedCounts]] — bit-identical to two retrained
    * [[nbClassify]] passes); the statistic is ONE IEEE division (no
    * transcendentals — no p-value column, the abConversionZ stance).
    * b + c = 0 (the models never disagree) → null statistic. Output
    * ONE row (n_holdout, b, c, chisq). */
  def nbMcNemar(
      docs: DataFrame,
      labelCol: String,
      excludeSource: String,
      sourceCol: String = "source",
      holdoutFrac: Double = 0.2,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 256,
      seed: String = "ab"): DataFrame = {
    require(holdoutFrac > 0 && holdoutFrac < 1, s"holdoutFrac: $holdoutFrac")
    val u = graft.text.Sampling.hashUnit(col(idCol), seed)
    val holdout = docs.where(u >= 1.0 - holdoutFrac)
      .checkpointed(eager = false) // feeds truth + the scoring pass
    val pool = docs.where(u < 1.0 - holdoutFrac)
      .checkpointed(eager = false)
    val truth = holdout.select(col(idCol), col(labelCol).as("__truth"))
    val NoneTag = "(none)"
    import docs.sparkSession.implicits._
    val tagsDf = Seq(NoneTag, excludeSource).toDF("__tag")
    val (model, priors, _) = sourceTaggedCounts(
      pool, tagsDf, NoneTag, sourceCol, labelCol, idCol, textCol, buckets)
    // pivot the tagged predictions to per-doc (full, ablated) pairs;
    // one row per (doc, tag), so max() just selects the single value.
    // A doc missing either prediction (a degenerate empty model) drops,
    // matching the inner join of two separate prediction frames.
    val piv = taggedNbPredict(holdout, model, priors, idCol, textCol, buckets)
      .groupBy(col(idCol))
      .agg(
        max(when(col("__tag") === NoneTag, col("__pred"))).as("__pf"),
        max(when(col("__tag") === excludeSource, col("__pred"))).as("__pa"))
      .where(col("__pf").isNotNull && col("__pa").isNotNull)
    val b = col("b"); val c = col("c")
    piv.join(truth, Seq(idCol))
      .agg(
        count(lit(1)).as("n_holdout"),
        sum(when(col("__pf") === col("__truth") &&
          col("__pa") =!= col("__truth"), 1L).otherwise(0L)).as("b"),
        sum(when(col("__pf") =!= col("__truth") &&
          col("__pa") === col("__truth"), 1L).otherwise(0L)).as("c"))
      .select(
        col("n_holdout"), b, c,
        round(when(b + c > 0,
          ((b - c) * (b - c)).cast("double") / (b + c).cast("double")), 6)
          .as("chisq"))
  }
}

