package graft.ml

import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.panel.Panel
import graft.panel.Panel.Keys
import graft.pipeline.Strategy
import graft.{GraftError, ParameterError}

/** ML-strategy surface — reference `MoonshotML` (ml.py:354-517, SURVEY
  * §2.9/§3.3).
  *
  * M1 feature assembly: the reference stacks per-feature panels into a
  * sample×feature matrix (ml.py:444-487). Long-format equivalent: each
  * feature is a column on the panel; [[Features.assemble]] packs them into
  * an `array<double>` column (nulls → 0, mirroring ml.py:480 fillna(0)).
  *
  * M2 predict: sklearn/Keras models don't exist on the JVM; the seam is
  * [[PanelPredictor]] — any `DataFrame => DataFrame` adding a `prediction`
  * column. [[LinearPredictor]] is the built-in, fully-distributed baseline
  * (a dot product in codegen'd column algebra — no UDF, no model server).
  * [[ModelPredictor.load]] is the reference's `_load_model` counterpart
  * (ml.py:211-225): a serialized model file → predictor. Linear/logistic
  * specs stay in column algebra; opaque models ([[DecisionTreeModel]])
  * run through [[OpaquePredictor]] — a typed `Dataset.mapPartitions`
  * whose closure ships the model once per executor, the same dataflow an
  * ONNX/PMML runtime would use. Binary-classifier outputs keep
  * P(class=1), mirroring predict_proba handling (ml.py:494-509).
  *
  * M3 predictions → signals: predictions stay on the long panel; the
  * user hook turns them into a `signal` column (ml.py:301-352).
  */
object Features {

  /** M1: pack feature columns into `features: array<double>`, null→0. */
  def assemble(df: DataFrame, featureCols: Seq[String], out: String = "features"): DataFrame =
    df.withColumn(out,
      array(featureCols.map(c => coalesce(col(c).cast("double"), lit(0.0))): _*))

  /** Standard lagged-return features over a close panel (the reference's
    * canonical example, ml.py:190-196). */
  def laggedReturns(df: DataFrame, lags: Seq[Int], closeCol: String = "close")(
      implicit k: Keys): DataFrame =
    lags.foldLeft(df) { (d, n) =>
      d.withColumn(s"return_${n}d",
        Panel.safeDiv(col(closeCol), Panel.lagBySid(col(closeCol), n)) - 1.0)
    }

  /** Fit a standard scaler: ONE row with each feature's mean and sample
    * std (sklearn StandardScaler's fit half). Moments accumulate as
    * exact micro-quantized decimal sums (order-free under any
    * partitioning) and the published stats round to 6dp — the stats ARE
    * the model artifact, so they must reproduce bit-for-bit across
    * refits on reshuffled data. Null feature values are excluded
    * per-column (pairwise-complete). */
  def scalerFit(df: DataFrame, featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature column")
    val dec = "decimal(38,0)"
    val aggs = featureCols.flatMap { c =>
      val m = round(col(c) * 1e6).cast(dec)
      Seq(
        count(col(c)).as(s"__n_$c"),
        sum(m).as(s"__s_$c"),
        sum(m * m).as(s"__ss_$c"))
    }
    val outs = featureCols.flatMap { c =>
      val n = col(s"__n_$c").cast("double")
      val s = col(s"__s_$c").cast("double")
      val ss = col(s"__ss_$c").cast("double")
      Seq(
        col(s"__n_$c").as(s"n_$c"),
        (round(when(col(s"__n_$c") > 0, s / n / 1e6), 6) + 0.0).as(s"mean_$c"),
        round(when(col(s"__n_$c") >= 2,
          sqrt((ss * n - s * s) / (n * (n - 1))) / 1e6), 6).as(s"std_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*).select(outs: _*)
  }

  /** Apply fitted scaler stats: z_c = (x_c − mean_c)/std_c per feature
    * (null where the feature, the stats, or a zero/degenerate std make
    * the z undefined — never ±Infinity). `stats` is [[scalerFit]]'s
    * one-row frame, broadcast onto the data as a scalar-row cross join
    * (the bm25 stats-row pattern). */
  def scalerTransform(
      df: DataFrame,
      stats: DataFrame,
      featureCols: Seq[String],
      suffix: String = "_z"): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature column")
    val scaled = df.crossJoin(broadcast(stats))
    val drop = featureCols.flatMap(c => Seq(s"n_$c", s"mean_$c", s"std_$c"))
    featureCols.foldLeft(scaled) { (d, c) =>
      d.withColumn(s"$c$suffix",
        (round(when(col(s"std_$c") > 0,
          (col(c) - col(s"mean_$c")) / col(s"std_$c")), 6) + 0.0))
    }.drop(drop: _*)
  }
}

/** Binary-classification evaluation over a predictions frame — the
  * metrics a training/curation pipeline computes after every scoring
  * pass (sklearn.metrics semantics re-expressed as exact distributed
  * aggregation).
  */
object Evaluation {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.types.DecimalType

  /** One-row (n, positives, auc, accuracy, logloss, brier) for
    * probability scores against {0,1} labels (anything else raises).
    *
    *  - AUC: P(score⁺ > score⁻) + ½P(=) — the Mann-Whitney form with
    *    tie credit, computed from per-DISTINCT-SCORE counts: pair mass
    *    is counted with integer arithmetic in a decimal(38,0)
    *    accumulator (P×N overflows a long at ~10⁹ rows each side), so
    *    the result is exact, not a float accumulation. Null when only
    *    one class is present (AUC undefined).
    *  - accuracy: exact integer count of (score ≥ 0.5) = label.
    *  - logloss: −mean ln p̂(label), scores clipped to [10⁻¹⁵, 1−10⁻¹⁵]
    *    (the sklearn clip); brier: mean (score − label)². Both are
    *    per-distinct-score values × integer counts, micro-nat/micro
    *    quantized (×10¹², rounded) BEFORE the distributed sum — the
    *    unordered float sum would wobble the last ulp.
    *
    * Scale shape: ONE hash aggregation on the score (map-side combine —
    * the per-score frame is bounded by score cardinality, which is what
    * any AUC computation ranks over), one bounded ordered window over
    * those distinct scores for the cumulative positive mass, one final
    * scalar aggregation. No per-pair work anywhere: a 10¹² × 10¹²
    * pair space costs exactly |distinct scores| window rows. */
  def classificationMetrics(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    val eps = 1e-15
    val lbl = when(col(labelCol).isin(0, 1), col(labelCol).cast("long"))
      .otherwise(raise_error(format_string(
        s"label must be 0 or 1, got %s", col(labelCol).cast("string")))
        .cast("long"))
    val s = col("__s")
    val clip = least(greatest(s, lit(eps)), lit(1 - eps))
    val dec = DecimalType(38, 0)
    val perScore = preds
      .select(col(scoreCol).as("__s"), lbl.as("__y"))
      .groupBy(s)
      .agg(
        sum(col("__y")).as("__p"),
        sum(lit(1L) - col("__y")).as("__n"))
      // per-score metric contributions, micro-quantized to integers
      // BEFORE the final distributed sum (exact; see scaladoc)
      .withColumn("__ll",
        (col("__p") * round(-log(clip) * 1e12).cast(dec) +
          col("__n") * round(-log(lit(1.0) - clip) * 1e12).cast(dec)).cast(dec))
      .withColumn("__br",
        (col("__p") * round(pow(lit(1.0) - s, 2) * 1e12).cast(dec) +
          col("__n") * round(pow(s, 2) * 1e12).cast(dec)).cast(dec))
      .withColumn("__acc",
        when(s >= 0.5, col("__p")).otherwise(col("__n")))
    // cumulative positives at-or-below each score via the two-level
    // bucket scan (r9): "distinct scores" is ROW-cardinality for a
    // continuous scorer, so the old unpartitioned window was a
    // table-sized one-task sort (see graft.panel.PrefixSum). The total
    // P folds into the final aggregation algebraically — Σ n_s·(2·(P −
    // cp_s) + p_s) = 2·P·N − Σ n_s·(2·cp_s − p_s) — so no second pass
    // over the histogram is needed for totals.
    val cum = graft.panel.PrefixSum.inclusiveAuto(
      perScore, "__s", Seq("__cp" -> "__p"))
      // per-score HALF of the pair mass: n_s × (2·cp_s − p_s) — the
      // complement term of the identity above; every factor integer,
      // decimal(38,0) accumulation
      .withColumn("__u2c",
        col("__n").cast(dec) *
          (lit(2) * col("__cp") - col("__p")).cast(dec))
    cum
      .agg(
        sum(col("__p") + col("__n")).as("__rows"),
        sum(col("__p")).as("__P"),
        sum(col("__n")).as("__N"),
        sum(col("__u2c")).as("__u2c"),
        sum(col("__acc")).as("__ok"),
        sum(col("__ll")).as("__lls"),
        sum(col("__br")).as("__brs"))
      .select(
        col("__rows").cast("long").as("n"),
        col("__P").cast("long").as("positives"),
        round(when(col("__P") > 0 && col("__N") > 0,
          (lit(2).cast(dec) * col("__P").cast(dec) * col("__N").cast(dec) -
            col("__u2c")).cast("double") /
            (lit(2.0) * col("__P") * col("__N"))), 6).as("auc"),
        round(col("__ok").cast("double") / col("__rows"), 6).as("accuracy"),
        round(col("__lls").cast("double") / 1e12 / col("__rows"), 6).as("logloss"),
        round(col("__brs").cast("double") / 1e12 / col("__rows"), 6).as("brier"))
  }

  /** Calibration (reliability) bins: scores in [0,1] bucketed into
    * `bins` equal widths (the final edge closed: score 1.0 lands in the
    * last bin); per bin the count, exact observed event rate, and the
    * mean predicted score with the sum micro-quantized (×10¹²) so the
    * distributed accumulation is exact. Empty bins are absent (their
    * calibration is undefined, matching sklearn's
    * calibration_curve). One hash aggregation, no windows. */
  def calibrationBins(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label",
      bins: Int = 10): DataFrame = {
    if (bins < 1) throw new ParameterError(s"bins must be >= 1: $bins")
    val lbl = when(col(labelCol).isin(0, 1), col(labelCol).cast("long"))
      .otherwise(raise_error(format_string(
        s"label must be 0 or 1, got %s", col(labelCol).cast("string")))
        .cast("long"))
    preds
      .select(col(scoreCol).as("__s"), lbl.as("__y"))
      .groupBy(least(floor(col("__s") * bins), lit(bins - 1)).cast("long")
        .as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__y")).as("__p"),
        sum(round(col("__s") * 1e12).cast(
          org.apache.spark.sql.types.DecimalType(38, 0))).as("__ssum"))
      .select(
        col("bin"),
        col("n"),
        round(col("__ssum").cast("double") / 1e12 / col("n"), 6)
          .as("mean_predicted"),
        round(col("__p").cast("double") / col("n"), 6).as("event_rate"))
  }

  /** Regression evaluation: one row (n, rmse, mae, r2) for predicted vs
    * actual doubles. Every per-row residual statistic is micro-quantized
    * (×10¹², rounded to an integer, decimal(38,0) accumulated) BEFORE
    * the distributed sum — RMSE/MAE/R² are then exact and
    * partitioning-invariant instead of float-accumulation noise. R² via
    * the algebraic identity Σ(y−ȳ)² = Σy² − (Σy)²/n (no second pass for
    * ȳ); null when the actuals are constant (undefined). One hash
    * aggregation, no windows, no joins. Outputs rounded to 6. */
  def regressionMetrics(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * 1e12).cast(dec)
    val err = col(scoreCol) - col(labelCol)
    preds
      .select(
        q(err * err).as("__se"),
        q(abs(err)).as("__ae"),
        q(col(labelCol)).as("__y"),
        q(col(labelCol) * col(labelCol)).as("__y2"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("__se")).as("__sse"),
        sum(col("__ae")).as("__sae"),
        sum(col("__y")).as("__sy"),
        sum(col("__y2")).as("__sy2"))
      .select(
        col("__n").cast("long").as("n"),
        round(sqrt(col("__sse").cast("double") / 1e12 / col("__n")), 6).as("rmse"),
        round(col("__sae").cast("double") / 1e12 / col("__n"), 6).as("mae"),
        round({
          val sst = col("__sy2").cast("double") / 1e12 -
            pow(col("__sy").cast("double") / 1e12, 2) / col("__n")
          when(sst > 0,
            lit(1.0) - (col("__sse").cast("double") / 1e12) / sst)
        }, 6).as("r2"))
  }

  /** Average precision (the area under the precision-recall curve as
    * sklearn computes it): AP = Σ_k (R_k − R_{k−1}) · P_k over
    * DESCENDING distinct score thresholds, ties grouped per threshold.
    * Every P_k and ΔR_k is a ratio of integer counts; each term is
    * micro-quantized (×10¹², rounded) before the distributed sum, so
    * the result is deterministic. Same scale shape as
    * [[classificationMetrics]]: one hash agg on the score, one bounded
    * window over distinct scores, one scalar agg. Null when no
    * positives exist. */
  def averagePrecision(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    val lbl = when(col(labelCol).isin(0, 1), col(labelCol).cast("long"))
      .otherwise(raise_error(format_string(
        s"label must be 0 or 1, got %s", col(labelCol).cast("string")))
        .cast("long"))
    val s = col("__s")
    // descending cumulatives via the ASCENDING two-level bucket scan
    // (r9): desc-cum(x) = total − asc-cum(x) + x_at — exact integers.
    // The old unpartitioned desc windows sorted a row-cardinality frame
    // in one task for continuous scores (see graft.panel.PrefixSum);
    // the totals become one scalar agg reusing the histogram's shuffle.
    val perScore = preds
      .select(col(scoreCol).as("__s"), lbl.as("__y"))
      .groupBy(s)
      .agg(sum(col("__y")).as("__p"), count(lit(1)).as("__c"))
      // r13: lazy checkpoint — the totals agg below otherwise re-runs
      // the histogram's ENTIRE upstream (the cohenKappa lesson)
      .checkpointed(eager = false)
    // "__pt", NOT "__P": Spark resolves columns case-insensitively, so
    // "__P" next to "__p" is a silent collision
    val totals = perScore.agg(
      sum(col("__p")).as("__pt"), sum(col("__c")).as("__ct"))
    graft.panel.PrefixSum.inclusiveAuto(
      perScore, "__s", Seq("__cap" -> "__p", "__cac" -> "__c"))
      .crossJoin(broadcast(totals)) // one scalar row — bounded by design
      .withColumn("__tp", // TP at threshold
        col("__pt") - col("__cap") + col("__p"))
      .withColumn("__pp", // predicted positive
        col("__ct") - col("__cac") + col("__c"))
      // ΔR·P per threshold, micro-quantized for the exact final sum
      .withColumn("__term",
        round(col("__p").cast("double") / col("__pt") *
          (col("__tp").cast("double") / col("__pp")) * 1e12).cast("long"))
      .agg(
        sum(col("__c")).cast("long").as("n"),
        max(col("__pt")).cast("long").as("positives"),
        round(when(max(col("__pt")) > 0,
          sum(col("__term").cast(
            org.apache.spark.sql.types.DecimalType(38, 0))).cast("double")
            / 1e12), 6).as("average_precision"))
  }

  /** Two-sample Kolmogorov-Smirnov drift statistic: D = max |F_a − F_b|
    * over the pooled distinct values — the standard monitor for "has
    * the live score/feature distribution drifted from training". Exact
    * arithmetic throughout: with cumulative counts c_a, c_b and totals
    * n_a, n_b, D = max |c_a·n_b − c_b·n_a| / (n_a·n_b) — the max runs
    * over exact integer numerators (decimal: the product reaches
    * n_a·n_b ~ 10²⁴ at corpus scale), and ONE division at the end
    * (6dp). Same scale shape as the AUC machinery: one hash agg to
    * |distinct values| rows + cumulative windows over that frame. Also
    * reports the asymptotic two-sided p-value 2·exp(−2·m·D²) with m =
    * n_a·n_b/(n_a+n_b) (clamped to [0,1]; libm exp noise is under the
    * 6dp). Null D when either sample is empty. */
  def ksDrift(
      a: DataFrame,
      b: DataFrame,
      scoreCol: String = "prediction"): DataFrame = {
    val dec = DecimalType(38, 0)
    val tagged = a.select(col(scoreCol).as("__v"), lit(1L).as("__a"), lit(0L).as("__b"))
      .unionByName(
        b.select(col(scoreCol).as("__v"), lit(0L).as("__a"), lit(1L).as("__b")))
    // distributed two-level prefix scan (r8): score histograms are
    // near-continuous, so the old unpartitioned cumulative window was a
    // one-task pass over the whole distinct-value frame at scale; the
    // totals become one scalar crossJoin instead of a whole-frame window
    val histV = tagged
      .groupBy(col("__v"))
      .agg(sum(col("__a")).as("__ca0"), sum(col("__b")).as("__cb0"))
      // r13: lazy checkpoint — totals then derive from the ≤|distinct|
      // histogram instead of re-running both input scans (cohenKappa
      // lesson); Σ per-value counts ≡ the input row counts exactly
      .checkpointed(eager = false)
    val totals = histV.agg(
      sum(col("__ca0")).as("__na0"), sum(col("__cb0")).as("__nb0"))
    // range-probed bucket width (r9): a hardcoded [0,1]-score width
    // regresses to one-bucket-per-value on wide-domain FEATURE columns
    // (cents), re-creating the single-task scan; the probe adapts to
    // any domain and only shapes the plan, never the values
    val perV = graft.panel.PrefixSum.inclusiveAuto(
      histV, "__v", Seq("__cai" -> "__ca0", "__cbi" -> "__cb0"))
      .crossJoin(broadcast(totals)) // one scalar row — bounded by design
      .withColumn("__ca", col("__cai").cast(dec))
      .withColumn("__cb", col("__cbi").cast(dec))
      .withColumn("__na", coalesce(col("__na0"), lit(0L)).cast(dec))
      .withColumn("__nb", coalesce(col("__nb0"), lit(0L)).cast(dec))
      .withColumn("__num",
        abs(col("__ca") * col("__nb") - col("__cb") * col("__na")))
    perV
      .agg(
        max(col("__na")).as("__fa"),
        max(col("__nb")).as("__fb"),
        max(col("__num")).as("__d"))
      .select(
        col("__fa").cast("long").as("n_a"),
        col("__fb").cast("long").as("n_b"),
        round(when(col("__fa") > 0 && col("__fb") > 0,
          col("__d").cast("double") /
            (col("__fa").cast("double") * col("__fb").cast("double"))), 6)
          .as("ks"), {
          val d = col("__d").cast("double") /
            (col("__fa").cast("double") * col("__fb").cast("double"))
          val m = col("__fa").cast("double") * col("__fb").cast("double") /
            (col("__fa").cast("double") + col("__fb").cast("double"))
          round(when(col("__fa") > 0 && col("__fb") > 0,
            least(lit(1.0), lit(2.0) * exp(lit(-2.0) * m * d * d))), 6)
            .as("p_value")
        })
  }

  /** Expected Calibration Error over [[calibrationBins]]: the
    * bin-count-weighted mean |event_rate − mean_predicted| — the one
    * number answering "when the model says 70%, does it happen 70% of
    * the time". Each bin's gap derives from the bins' 6dp-rounded
    * outputs, so it is an EXACT micro integer; the weighted sum is a
    * decimal product-sum over the ≤ `bins`-row frame and the final
    * division by N is the only IEEE op. Output one row
    * (n, n_bins, ece). */
  def expectedCalibrationError(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label",
      bins: Int = 10): DataFrame = {
    val dec = DecimalType(38, 0)
    val gapMicro = round(
      abs(col("event_rate") - col("mean_predicted")) * 1e6).cast("long")
    calibrationBins(preds, scoreCol, labelCol, bins)
      .agg(
        sum(col("n")).as("n"),
        count(lit(1)).as("n_bins"),
        sum(gapMicro.cast(dec) * col("n").cast(dec)).as("__w"))
      .select(
        col("n"), col("n_bins"),
        round(col("__w").cast("double") / col("n") / 1e6, 6).as("ece"))
  }

  /** Murphy decomposition of the Brier score (Murphy 1973): raw Brier
    * plus its binned reliability / resolution / uncertainty terms —
    * reliability is the calibration gap [[expectedCalibrationError]]
    * squares, resolution is how far the bins' event rates spread from
    * the base rate (the skill), and uncertainty ȳ(1−ȳ) is the
    * irreducible floor. For within-bin-constant forecasts,
    * brier = reliability − resolution + uncertainty exactly; for
    * continuous scores the identity holds up to within-bin variance
    * (documented, matching the standard verification practice).
    *
    * Exactness: per-row (s−y)² and per-bin squared gaps are pico-
    * quantized before the distributed sums (decimal accumulation), so
    * every term is partitioning-invariant; the base rate is a ratio of
    * exact integer counts. Two hash aggregations (rows → bins → one
    * row), no windows, no joins.
    * Output (n, n_bins, brier, reliability, resolution, uncertainty). */
  def brierDecomposition(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label",
      bins: Int = 10): DataFrame = {
    if (bins < 1) throw new ParameterError(s"bins must be >= 1: $bins")
    val dec = DecimalType(38, 0)
    val lbl = when(col(labelCol).isin(0, 1), col(labelCol).cast("long"))
      .otherwise(raise_error(format_string(
        s"label must be 0 or 1, got %s", col(labelCol).cast("string")))
        .cast("long"))
    val perBin = preds
      .select(col(scoreCol).as("__s"), lbl.as("__y"))
      .groupBy(least(floor(col("__s") * bins), lit(bins - 1)).cast("long")
        .as("__bin"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("__y")).as("__p"),
        sum(round(col("__s") * 1e12).cast(dec)).as("__ssum"),
        sum(round((col("__s") - col("__y")) * (col("__s") - col("__y"))
          * 1e12).cast(dec)).as("__sq"))
      .withColumn("__rate", col("__p").cast("double") / col("__n"))
      .withColumn("__mean", col("__ssum").cast("double") / 1e12 / col("__n"))
    perBin
      .agg(
        sum(col("__n")).as("n"),
        count(lit(1)).as("n_bins"),
        sum(col("__sq")).as("__b"),
        sum(col("__p")).as("__ptot"),
        sum(round((col("__mean") - col("__rate")) *
          (col("__mean") - col("__rate")) * 1e12).cast(dec)
          * col("__n").cast(dec)).as("__rel"),
        // resolution needs the global base rate — exact integer ratio,
        // folded in below via Σ n_k·ȳ_k² − N·ȳ² (one-pass identity)
        sum(round(col("__rate") * col("__rate") * 1e12).cast(dec)
          * col("__n").cast(dec)).as("__r2"))
      .withColumn("__base", col("__ptot").cast("double") / col("n"))
      .select(
        col("n"), col("n_bins"),
        round(col("__b").cast("double") / 1e12 / col("n"), 6).as("brier"),
        round(col("__rel").cast("double") / 1e12 / col("n"), 6)
          .as("reliability"),
        round(greatest(
          col("__r2").cast("double") / 1e12 / col("n") -
            col("__base") * col("__base"), lit(0.0)), 6).as("resolution"),
        round(col("__base") * (lit(1.0) - col("__base")), 6)
          .as("uncertainty"))
  }

  /** ML23: AUC with its DeLong (1988) standard error and 95% normal CI
    * — the published nonparametric variance every model-comparison
    * writeup quotes, computed WITHOUT ranking rows: scores collapse to
    * a score→(pos, neg) histogram, each positive block's placement
    * V₁₀ = (#neg below + ½·ties)/N₋ is a ratio of exact integers
    * shared by the whole block, and the DeLong moments fold to
    * half-count units (u = 2·negBelow + ties) so AUC and both
    * S-variances are decimal-exact ratios until the final divisions.
    * Cumulative placements ride the two-level bucket scan over the
    * histogram ([[graft.panel.PrefixSum]] — no unpartitioned window
    * anywhere). Two hash aggs + the bucketed scan. Null se/CI when
    * either class has < 2 members.
    * Output (n_pos, n_neg, auc, se, ci_lo, ci_hi). */
  def aucDelong(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    val dec = DecimalType(38, 0)
    val lbl = when(col(labelCol).isin(0, 1), col(labelCol).cast("long"))
      .otherwise(raise_error(format_string(
        s"label must be 0 or 1, got %s", col(labelCol).cast("string")))
        .cast("long"))
    val hist = preds
      // 6dp score quantization BOUNDS the histogram (≤ ~2M distinct
      // values) — "distinct scores" is unbounded for continuous
      // outputs, and the ordered window below would otherwise sort a
      // row-cardinality frame in one task
      .select(round(col(scoreCol), 6).as("__s"), lbl.as("__y"))
      .groupBy(col("__s"))
      .agg(sum(col("__y")).as("__cp"),
        sum(lit(1L) - col("__y")).as("__cn"))
    // cumulatives via the two-level bucket scan (r9): 6dp quantization
    // bounds the histogram to ≤ ~2M rows, but bounded ≠ free — an
    // unpartitioned window still put the whole frame in ONE task as
    // the slowest stage of an otherwise parallel plan (see
    // graft.panel.PrefixSum). Totals arrive as one scalar agg reusing
    // the histogram's shuffle; exclusive/suffix forms derive from the
    // inclusive prefix by exact integer algebra.
    val hTotals = hist.agg(
      sum(col("__cp")).as("__np"), sum(col("__cn")).as("__nn"))
    val placed = graft.panel.PrefixSum.inclusiveAuto(
      hist, "__s", Seq("__ap" -> "__cp", "__an" -> "__cn"))
      .crossJoin(broadcast(hTotals)) // one scalar row — bounded
      .withColumn("__negBelow", col("__an") - col("__cn"))
      .withColumn("__posAbove", col("__np") - col("__ap"))
      // half-count placements: u10/(2N₋) = V₁₀, u01/(2N₊) = V₀₁
      .withColumn("__u10", (col("__negBelow") * 2 + col("__cn")).cast(dec))
      .withColumn("__u01", (col("__posAbove") * 2 + col("__cp")).cast(dec))
    placed
      .agg(
        max(col("__np")).as("n_pos"), max(col("__nn")).as("n_neg"),
        sum(col("__cp").cast(dec) * col("__u10")).as("__s10"),
        sum(col("__cp").cast(dec) * col("__u10") * col("__u10")).as("__ss10"),
        sum(col("__cn").cast(dec) * col("__u01")).as("__s01"),
        sum(col("__cn").cast(dec) * col("__u01") * col("__u01")).as("__ss01"))
      .select(Seq(col("n_pos"), col("n_neg")) ++ {
        val np = col("n_pos").cast("double"); val nn = col("n_neg").cast("double")
        val auc = col("__s10").cast("double") / (np * nn * 2.0)
        // S₁₀ = (Σc·u² − (Σc·u)²/N₊)/(N₊−1)/(2N₋)², S₀₁ symmetric
        val s10 = (col("__ss10").cast("double") -
          col("__s10").cast("double") * col("__s10").cast("double") / np) /
          (np - 1) / (nn * nn * 4.0)
        val s01 = (col("__ss01").cast("double") -
          col("__s01").cast("double") * col("__s01").cast("double") / nn) /
          (nn - 1) / (np * np * 4.0)
        val se = when(col("n_pos") >= 2 && col("n_neg") >= 2,
          sqrt(greatest(s10 / np + s01 / nn, lit(0.0))))
        Seq(
          round(auc, 6).as("auc"),
          round(se, 6).as("se"),
          (round(greatest(lit(0.0), auc - lit(1.959964) * se), 6) + 0.0)
            .as("ci_lo"),
          round(least(lit(1.0), auc + lit(1.959964) * se), 6).as("ci_hi"))
      }: _*)
  }


  /** ML28: AUC per segment — the fairness/robustness slice table
    * ("does the ranker hold up per region / per source / per device"):
    * [[aucDelong]]'s half-count placement algebra with every window
    * and aggregation partitioned by the segment column, so each
    * segment's AUC is exactly what aucDelong would report on its
    * slice, computed in ONE pass over a (segment, score) histogram.
    * Segments with a missing class yield null AUC (undefined), not a
    * crash. Output (segment, n_pos, n_neg, auc) sorted by the caller.
    */
  def aucBySegment(
      preds: DataFrame,
      segmentCol: String,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    val dec = DecimalType(38, 0)
    val lbl = when(col(labelCol).isin(0, 1), col(labelCol).cast("long"))
      .otherwise(raise_error(format_string(
        s"label must be 0 or 1, got %s", col(labelCol).cast("string")))
        .cast("long"))
    val w = Window.partitionBy(col("segment")).orderBy(col("__s"))
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    preds
      .select(col(segmentCol).as("segment"),
        round(col(scoreCol), 6).as("__s"), // bounded histogram (aucDelong)
        lbl.as("__y"))
      .groupBy(col("segment"), col("__s"))
      .agg(sum(col("__y")).as("__cp"), sum(lit(1L) - col("__y")).as("__cn"))
      .withColumn("__negBelow", coalesce(sum(col("__cn")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__u10", (col("__negBelow") * 2 + col("__cn")).cast(dec))
      .groupBy(col("segment"))
      .agg(
        sum(col("__cp")).as("n_pos"),
        sum(col("__cn")).as("n_neg"),
        sum(col("__cp").cast(dec) * col("__u10")).as("__s10"))
      .select(
        col("segment"), col("n_pos"), col("n_neg"),
        round(when(col("n_pos") > 0 && col("n_neg") > 0,
          col("__s10").cast("double") /
            (col("n_pos").cast("double") * col("n_neg").cast("double")
              * 2.0)), 6).as("auc"))
  }

  /** Cohen's kappa between two label columns — chance-corrected
    * agreement for label-QC (two annotators, or a new classifier vs
    * the incumbent). Because both the observed and the expected
    * agreement are ratios of exact integer counts, kappa reduces to
    * ONE division: (n·agree − Σ_k n₁ₖ·n₂ₖ) / (n² − Σ_k n₁ₖ·n₂ₖ), all
    * decimal-exact. Rows with a null on either side are dropped (no
    * agreement semantics for missing labels). Null when the
    * denominator is 0 (both raters constant — kappa undefined).
    *
    * Scale shape: the paired frame is lazily checkpointed (it feeds
    * the totals agg and both marginal aggs — the crossEntropy lesson);
    * marginals are class-bounded, so their join and the final
    * crossJoin never carry data volume. Output (n, agree, kappa). */
  def cohenKappa(
      df: DataFrame,
      col1: String = "label",
      col2: String = "label2"): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = df
      .where(col(col1).isNotNull && col(col2).isNotNull)
      .select(col(col1).cast("string").as("__a"),
        col(col2).cast("string").as("__b"))
      .checkpointed(eager = false)
    val tot = base.agg(
      count(lit(1)).as("n"),
      sum(when(col("__a") === col("__b"), 1L).otherwise(0L)).as("agree"))
    val pe2 = base.groupBy(col("__a").as("__k"))
      .agg(count(lit(1)).as("__n1"))
      .join(base.groupBy(col("__b").as("__k")).agg(count(lit(1)).as("__n2")),
        Seq("__k"), "inner")
      .agg(coalesce(sum(col("__n1").cast(dec) * col("__n2").cast(dec)),
        lit(0).cast(dec)).as("__pe2"))
    tot.crossJoin(broadcast(pe2))
      .select(
        col("n"), col("agree"),
        round(when(col("n").cast(dec) * col("n").cast(dec) =!= col("__pe2"),
          (col("n").cast(dec) * col("agree").cast(dec) - col("__pe2"))
            .cast("double") /
            (col("n").cast(dec) * col("n").cast(dec) - col("__pe2"))
              .cast("double")), 6).as("kappa"))
  }

  /** Population Stability Index between an expected (baseline) and an
    * actual (live) score distribution over `bins` equal-width buckets
    * on [lo, hi] — the classical model-monitoring drift number
    * (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted), the
    * coarse-binned complement of [[ksDrift]]'s exact sup-distance.
    * Out-of-range scores clamp into the edge bins (they still carry
    * mass); zero-count sides floor at ε = 10⁻⁶ (the standard guard —
    * PSI is undefined at an empty bin otherwise). Per-bin fractions
    * derive from EXACT integer counts, so each bin's contribution is
    * deterministic per-row IEEE; the total re-quantizes contributions
    * to micro-nats before summing over the ≤ `bins`-row frame (the
    * unigram-LM lesson — a plain double Σ differs engine-to-engine).
    * Bins empty on BOTH sides are omitted (their contribution is 0).
    *
    * Scale shape: one union scan → ONE hash aggregation to ≤ `bins`
    * rows; the totals ride a bounded unpartitioned window over that
    * frame. Output one row per occupied bin, each row also carrying
    * the total (bin, n_expected, n_actual, expected_frac, actual_frac,
    * contribution, psi). */
  def psiDrift(
      expected: DataFrame,
      actual: DataFrame,
      scoreCol: String = "prediction",
      bins: Int = 10,
      lo: Double = 0.0,
      hi: Double = 1.0): DataFrame = {
    if (bins < 1) throw new ParameterError(s"bins must be >= 1: $bins")
    if (!(hi > lo)) throw new ParameterError(s"need hi > lo: [$lo, $hi]")
    val width = (hi - lo) / bins
    val eps = 1e-6
    val tagged = expected
      .select(col(scoreCol).as("__v"), lit(1L).as("__e"), lit(0L).as("__a"))
      .unionByName(actual
        .select(col(scoreCol).as("__v"), lit(0L).as("__e"), lit(1L).as("__a")))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val binned = tagged
      .groupBy(least(greatest(
        floor((col("__v") - lo) / width), lit(0)), lit(bins - 1))
        .cast("long").as("bin"))
      .agg(sum(col("__e")).as("n_expected"), sum(col("__a")).as("n_actual"))
      .withColumn("__ne", sum(col("n_expected")).over(wAll))
      .withColumn("__na", sum(col("n_actual")).over(wAll))
    val pe = greatest(col("n_expected").cast("double") / col("__ne"), lit(eps))
    val pa = greatest(col("n_actual").cast("double") / col("__na"), lit(eps))
    binned
      .withColumn("__c", (pa - pe) * log(pa / pe))
      .withColumn("psi",
        round(sum(round(col("__c") * 1e12).cast("long")
          .cast(DecimalType(38, 0))).over(wAll).cast("double") / 1e12, 6))
      .select(
        col("bin"), col("n_expected"), col("n_actual"),
        round(col("n_expected").cast("double") / col("__ne"), 6)
          .as("expected_frac"),
        round(col("n_actual").cast("double") / col("__na"), 6)
          .as("actual_frac"),
        (round(col("__c"), 6) + 0.0).as("contribution"),
        col("psi"))
  }

  /** ML40: external cluster validation — Adjusted Rand Index (Hubert &
    * Arabie 1985) and Normalized Mutual Information between a cluster
    * assignment and ground-truth labels: the two numbers that say
    * whether an unsupervised partition (kmeans cells, LSH buckets,
    * near-dup clusters) recovers real structure, chance-corrected (ARI)
    * and information-theoretic (NMI).
    *
    * Exactness: everything reduces on the bounded (cluster × label)
    * contingency grid. Pair counts n(n−1) accumulate as DECIMAL(38,0)
    * (DuckDB: HUGEINT — n(n−1) alone outgrows BIGINT past ~3e9 rows in
    * one cell); ARI is then ONE fixed IEEE expression of those exact
    * integers. The entropy/MI terms are per-CELL transcendentals,
    * micro-nat-quantized at 1e12 before their order-free BIGINT sums
    * (the ct1/cl5 discipline). Degenerate partitions (one cluster AND
    * one label → zero ARI denominator; zero entropy on either side →
    * undefined NMI) yield nulls.
    *
    * Output ONE row (n, n_clusters, n_labels, ari, nmi), 6dp. */
  def clusterAgreement(
      df: DataFrame,
      clusterCol: String,
      labelCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cont = df
      .groupBy(col(clusterCol).as("__u"), col(labelCol).as("__v"))
      .agg(count(lit(1)).as("__n"))
      .checkpointed(eager = false) // feeds marginals AND the MI pass
    val nf = cont.agg(sum(col("__n")).as("__tot"))
    def pairs2(c: org.apache.spark.sql.Column) =
      sum(c.cast(dec) * (c.cast(dec) - 1))
    def entq(c: org.apache.spark.sql.Column) = {
      val p = c.cast("double") / col("__tot").cast("double")
      sum(round(p * log(p) * 1e12).cast("long"))
    }
    // marginals ride the bounded contingency grid as windows — no
    // self-join of cont with its own aggregates (ambiguous-attribute
    // hazard), no extra shuffle beyond the tiny grid
    val marg = cont
      .withColumn("__a",
        sum(col("__n")).over(Window.partitionBy("__u")))
      .withColumn("__b",
        sum(col("__n")).over(Window.partitionBy("__v")))
      .crossJoin(broadcast(nf))
      .checkpointed(eager = false) // feeds all three reductions
    // each 1-row reduction is checkpointed into a leaf: the three of
    // them crossJoin below, and siblings sharing marg's LogicalRDD
    // attributes would otherwise trip AMBIGUOUS_REFERENCE
    val aAgg = marg.select(col("__u"), col("__a"), col("__tot")).distinct()
      .agg(count(lit(1)).as("n_clusters"), pairs2(col("__a")).as("__sa2"),
        entq(col("__a")).as("__huq"))
      .checkpointed(eager = false)
    val bAgg = marg.select(col("__v"), col("__b"), col("__tot")).distinct()
      .agg(count(lit(1)).as("n_labels"), pairs2(col("__b")).as("__sb2"),
        entq(col("__b")).as("__hvq"))
      .checkpointed(eager = false)
    val nd = col("__tot").cast("double")
    val cells = marg.agg(
      pairs2(col("__n")).as("__sij2"),
      sum(round(col("__n").cast("double") / nd *
        log(col("__n").cast("double") * nd /
          (col("__a").cast("double") * col("__b").cast("double"))) * 1e12)
        .cast("long")).as("__miq"))
      .checkpointed(eager = false)
    def d(c: String) = col(c).cast("double")
    val cn22 = (col("__tot2").cast(dec) * (col("__tot2").cast(dec) - 1))
      .cast("double")
    val e2 = d("__sa2") * d("__sb2") / cn22
    val ariDen = (d("__sa2") + d("__sb2")) / 2.0 - e2
    val hu = -(d("__huq")) / 1e12
    val hv = -(d("__hvq")) / 1e12
    cells
      .crossJoin(broadcast(aAgg)).crossJoin(broadcast(bAgg))
      // a FRESH total frame: re-crossJoining nf would self-join its
      // attribute id into the plan twice (ambiguous-reference error)
      .crossJoin(broadcast(cont.agg(sum(col("__n")).as("__tot2"))))
      .select(
        col("__tot2").as("n"), col("n_clusters"), col("n_labels"),
        round(when(ariDen =!= 0.0, (d("__sij2") - e2) / ariDen), 6)
          .as("ari"),
        round(when(col("__huq") < 0 && col("__hvq") < 0,
          d("__miq") / 1e12 / sqrt(hu * hv)), 6).as("nmi"))
  }

  /** ML37: PSI drift TREND — [[psiDrift]]'s statistic re-evaluated per
    * DAY against a fixed leading-baseline window, the "when did the
    * input distribution move" time series an MLOps monitor alerts on
    * (a single PSI says IF features drifted; the trend says WHEN).
    *
    * Same conventions as psiDrift: fixed [lo, hi) equal-width bins
    * with edge clamping, eps-floored fractions (a bin empty on one
    * side contributes its floored term; empty on both sides
    * contributes 0 — the day×bin grid is completed from the baseline's
    * bin set crossJoined with the day spine, both bounded), per-bin
    * terms micro-quantized at 1e12 so the per-day sum is exact.
    *
    * Output (day, n_rows, psi) for every day AFTER the baseline
    * window, 6dp. */
  def psiTrend(
      events: DataFrame,
      valueCol: String = "value",
      tsCol: String = "ts",
      baselineDays: Int = 7,
      bins: Int = 10,
      lo: Double = 0.0,
      hi: Double = 500.0): DataFrame = {
    if (baselineDays < 1)
      throw new ParameterError(s"baselineDays must be >= 1: $baselineDays")
    if (bins < 1) throw new ParameterError(s"bins must be >= 1: $bins")
    if (!(hi > lo)) throw new ParameterError(s"need hi > lo: [$lo, $hi]")
    val width = (hi - lo) / bins
    val eps = 1e-6
    val day = to_date(col(tsCol).cast("timestamp"))
    val bin = least(greatest(
      floor((col(valueCol) - lo) / width), lit(0)), lit(bins - 1))
      .cast("long")
    val rows = events
      .select(day.as("__d"), bin.as("bin"))
      .crossJoin(broadcast(events.agg(min(day).as("__d0"))))
      .checkpointed(eager = false) // feeds baseline AND the daily grid
    val base = rows
      .where(datediff(col("__d"), col("__d0")) < baselineDays)
      .groupBy(col("bin")).agg(count(lit(1)).as("__nb"))
      .withColumn("__tb", sum(col("__nb")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val daily = rows
      .where(datediff(col("__d"), col("__d0")) >= baselineDays)
      .groupBy(col("__d"), col("bin")).agg(count(lit(1)).as("__na"))
    val binSpine = events.sparkSession.range(bins)
      .select(col("id").cast("long").as("bin"))
    val grid = daily.select(col("__d")).distinct()
      .crossJoin(broadcast(binSpine)) // day spine × the full literal grid
      .join(broadcast(base), Seq("bin"), "left")
      .join(daily, Seq("__d", "bin"), "left")
      .withColumn("__na", coalesce(col("__na"), lit(0L)))
      .withColumn("__nb", coalesce(col("__nb"), lit(0L)))
      .withColumn("__tb", max(col("__tb")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("__ta", sum(col("__na")).over(Window.partitionBy("__d")))
    val pe = greatest(col("__nb").cast("double") / col("__tb"), lit(eps))
    val pa = greatest(col("__na").cast("double") / col("__ta"), lit(eps))
    grid
      .withColumn("__cq",
        round((pa - pe) * log(pa / pe) * 1e12).cast("long"))
      .groupBy(col("__d").as("day"))
      .agg(sum(col("__na")).as("n_rows"),
        round(sum(col("__cq")).cast("double") / 1e12, 6).as("psi"))
  }

  /** Precision-recall curve points: one row per DISTINCT score,
    * treating "score ≥ threshold" as the positive prediction — the
    * operating-point table behind [[averagePrecision]]'s single
    * number (pick a threshold by reading this, not by re-scoring).
    * Same scale shape as the AUC/AP machinery: ONE hash aggregation
    * to |distinct scores| rows, then descending cumulative sums over
    * that bounded frame; tp/fp are exact integers and precision/
    * recall one per-row division each (6dp). Null recall on an
    * all-negative frame (no positives to recall). */
  /** Confusion matrix at a threshold plus the three summary rates a
    * class-imbalanced problem actually needs: accuracy, BALANCED
    * accuracy ((TPR + TNR)/2 — accuracy lies at 99:1 imbalance), and
    * Matthews correlation (the single number that only rewards doing
    * well on BOTH classes). Counts are exact integers from one hash
    * agg; the MCC products run as doubles (their 10⁻¹⁶ relative error
    * sits far below the 6dp rounding — decimal can't hold n⁴ anyway)
    * and MCC/balanced-accuracy are null when a marginal is empty.
    * Output one row (n, tp, fp, tn, fn, accuracy, balanced_accuracy,
    * mcc). */
  def confusionAt(
      preds: DataFrame,
      threshold: Double = 0.5,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    val lbl = when(col(labelCol).isin(0, 1), col(labelCol).cast("long"))
      .otherwise(raise_error(format_string(
        s"label must be 0 or 1, got %s", col(labelCol).cast("string")))
        .cast("long"))
    val hit = col(scoreCol) >= threshold
    def d(c: Column) = c.cast("double")
    preds
      .select(hit.as("__h"), lbl.as("__y"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__h") && col("__y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("__h") && col("__y") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(!col("__h") && col("__y") === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(!col("__h") && col("__y") === 1, 1L).otherwise(0L)).as("fn"))
      .select(
        col("n"), col("tp"), col("fp"), col("tn"), col("fn"),
        round((d(col("tp")) + d(col("tn"))) / d(col("n")), 6).as("accuracy"),
        round(when(col("tp") + col("fn") > 0 && col("tn") + col("fp") > 0,
          (d(col("tp")) / (d(col("tp")) + d(col("fn"))) +
            d(col("tn")) / (d(col("tn")) + d(col("fp")))) / 2), 6)
          .as("balanced_accuracy"),
        (round(when(
          col("tp") + col("fp") > 0 && col("tp") + col("fn") > 0 &&
            col("tn") + col("fp") > 0 && col("tn") + col("fn") > 0,
          (d(col("tp")) * d(col("tn")) - d(col("fp")) * d(col("fn"))) /
            sqrt((d(col("tp")) + d(col("fp"))) * (d(col("tp")) + d(col("fn"))) *
              (d(col("tn")) + d(col("fp"))) * (d(col("tn")) + d(col("fn"))))),
          6) + 0.0).as("mcc"))
  }

  /** Lift at the top `percent`% of scores: precision among the
    * highest-scored ceil(n·percent/100) rows over the base rate — the
    * campaign-targeting number ("scoring finds 3.2× more converters
    * than random mail"). k is EXACT integer arithmetic
    * ((n·percent + 99) / 100 — a double 0.1·n can ceil one too high),
    * and because ties at a score are indivisible, the cut takes every
    * row of the FIRST distinct score whose cumulative count reaches k
    * (documented tie convention; reported as n_taken ≥ k). Same
    * bounded distinct-score machinery as [[prCurve]]; selection is a
    * bounded top-1, never a global row_number. Output one row
    * (n, k, threshold, n_taken, pos_taken, precision_at_k, base_rate,
    * lift). */
  def liftAtPercent(
      preds: DataFrame,
      percent: Int = 10,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    if (percent < 1 || percent > 100)
      throw new ParameterError(s"percent must be in [1, 100]: $percent")
    val lbl = when(col(labelCol).isin(0, 1), col(labelCol).cast("long"))
      .otherwise(raise_error(format_string(
        s"label must be 0 or 1, got %s", col(labelCol).cast("string")))
        .cast("long"))
    val t = col("threshold")
    val perT = preds
      // 6dp threshold quantization: bounded candidate set (aucDelong's
      // rationale); descending cumulatives derive from the ascending
      // two-level bucket scan — no unpartitioned window even on the
      // quantized frame (r9; see graft.panel.PrefixSum)
      .select(round(col(scoreCol), 6).as("threshold"), lbl.as("__y"))
      .groupBy(t)
      .agg(sum(col("__y")).as("__pos"), count(lit(1)).as("__c"))
      // r13: lazy checkpoint — totals otherwise re-run the upstream
      .checkpointed(eager = false)
    val totals = perT.agg(
      sum(col("__pos")).as("__P"), sum(col("__c")).as("__N"))
    graft.panel.PrefixSum.inclusiveAuto(
      perT, "threshold", Seq("__cap" -> "__pos", "__cac" -> "__c"))
      .crossJoin(broadcast(totals)) // one scalar row — bounded
      .withColumn("__tp", col("__P") - col("__cap") + col("__pos"))
      .withColumn("__cnt", col("__N") - col("__cac") + col("__c"))
      // integer k: the double route (0.1·n) can ceil one too high
      .withColumn("__k", floor((col("__N") * percent + 99) / 100).cast("long"))
      .where(col("__cnt") >= col("__k"))
      .orderBy(col("__cnt"))
      .limit(1)
      .select(
        col("__N").as("n"), col("__k").as("k"), t,
        col("__cnt").as("n_taken"), col("__tp").as("pos_taken"),
        round(col("__tp").cast("double") / col("__cnt"), 6)
          .as("precision_at_k"),
        round(col("__P").cast("double") / col("__N"), 6).as("base_rate"),
        round(when(col("__P") > 0,
          (col("__tp").cast("double") / col("__cnt")) /
            (col("__P").cast("double") / col("__N"))), 6).as("lift"))
  }

  /** Quantile (pinball) loss for probabilistic forecasts: for each τ,
    * mean of max(τ·(y−ŷ), (τ−1)·(y−ŷ)) — the scoring rule a quantile
    * forecast is trained and judged by (under-prediction costs τ,
    * over-prediction 1−τ; the τ=0.5 case is half the MAE). ONE pass:
    * per-row losses for every τ quantize to micro ints in the same
    * projection, the aggregation emits one exact decimal sum per τ,
    * and each mean rounds the integer quotient before scaling (the
    * VWAP .5-boundary lesson). Output one row:
    * (n, pinball_<τ·100> per τ). */
  def quantileLoss(
      preds: DataFrame,
      taus: Seq[Double] = Seq(0.1, 0.5, 0.9),
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    if (taus.isEmpty) throw new ParameterError("need at least one tau")
    taus.foreach(t => if (t <= 0 || t >= 1)
      throw new ParameterError(s"tau must be in (0, 1): $t"))
    val dec = DecimalType(38, 0)
    val d = col(labelCol).cast("double") - col(scoreCol).cast("double")
    def lossMicro(t: Double): Column =
      round(greatest(d * t, d * (t - 1)) * 1e6).cast("long").cast(dec)
    val aggs = taus.map(t =>
      sum(lossMicro(t)).as(s"__s${math.round(t * 100)}"))
    val outs = taus.map { t =>
      val tag = math.round(t * 100).toString
      (round(col(s"__s$tag").cast("double") / col("n")) / 1e6)
        .as(s"pinball_$tag")
    }
    preds
      .agg(count(lit(1)).as("n"), aggs: _*)
      .select(col("n") +: outs: _*)
  }

  /** Operating-point selection: the threshold maximizing F1 over the
    * [[prCurve]] operating points, ties to the LOWEST threshold (more
    * recall at equal F1). F1 derives from exact integer tp/fp/fn, so
    * the ordering key is the same IEEE double in any engine and the
    * argmax is deterministic; selection is TakeOrderedAndProject over
    * the bounded distinct-score frame (no global sort). The reported
    * threshold is a 6dp-rounded score ([[prCurve]]'s quantization
    * note). Output one row
    * (threshold, tp, fp, fn, precision, recall, f1). */
  def bestThreshold(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    val t = col("threshold")
    val f1 = when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
      lit(2.0) * col("tp") /
        (lit(2) * col("tp") + col("fp") + col("fn")).cast("double"))
    // fn from the totals column (max(tp) over the whole frame = P) —
    // no whole-frame window over the operating points (r9)
    prCurveFull(preds, scoreCol, labelCol)
      .withColumn("fn", col("__ptot") - col("tp"))
      .withColumn("__f1", f1)
      .orderBy(col("__f1").desc_nulls_last, t)
      .limit(1)
      .select(t, col("tp"), col("fp"), col("fn"),
        col("precision"), col("recall"),
        round(col("__f1"), 6).as("f1"))
  }

  /** ML27: cumulative-gains (decile capture) table — "contact the top
    * k% by score, capture what fraction of the positives": the lift
    * chart's underlying table, one row per score decile. Deciles are
    * VALUE-TIED over the score histogram (ceil(10·cum/N) on the
    * score-descending cumulative count — the ev17 discipline; ntile
    * over rows would split ties nondeterministically), so bucket 1 is
    * the top tenth by score with ties kept together. Counts are exact
    * integers; the one window runs over the histogram and the decile
    * cumulative over ≤ 10 rows. Output (decile, n, n_pos,
    * cum_capture). */
  def gainsTable(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label",
      buckets: Int = 10): DataFrame = {
    if (buckets < 1) throw new ParameterError(s"buckets must be >= 1: $buckets")
    val lbl = when(col(labelCol).isin(0, 1), col(labelCol).cast("long"))
      .otherwise(raise_error(format_string(
        s"label must be 0 or 1, got %s", col(labelCol).cast("string")))
        .cast("long"))
    val hist0 = preds
      // 6dp score quantization bounds the candidate histogram
      // (aucDelong's rationale); the score-descending cumulative rides
      // the ascending two-level bucket scan — no unpartitioned window
      // even on the quantized frame (r9; see graft.panel.PrefixSum)
      .select(round(col(scoreCol), 6).as("__s"), lbl.as("__y"))
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("__c"), sum(col("__y")).as("__p"))
      // r13: lazy checkpoint — totals otherwise re-run the upstream
      .checkpointed(eager = false)
    val totals = hist0.agg(
      sum(col("__c")).as("__tot"), sum(col("__p")).as("__ptot"))
    val hist = graft.panel.PrefixSum.inclusiveAuto(
      hist0, "__s", Seq("__cac" -> "__c"))
      .crossJoin(broadcast(totals)) // one scalar row — bounded
      .withColumn("__cum", col("__tot") - col("__cac") + col("__c"))
      .withColumn("decile",
        (floor((col("__cum") * buckets - 1) / col("__tot")) + 1)
          .cast("long"))
    val wd = Window.orderBy(col("decile"))
    hist
      .groupBy(col("decile"))
      .agg(sum(col("__c")).as("n"), sum(col("__p")).as("n_pos"),
        max(col("__ptot")).as("__pt"))
      .withColumn("cum_capture",
        round(when(col("__pt") > 0,
          sum(col("n_pos")).over(wd.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double") / col("__pt")), 6))
      .drop("__pt")
  }

  /** ML26: cost-sensitive threshold — argmax of expected utility over
    * the [[prCurve]] operating points with a caller-supplied utility
    * per outcome (u·tp + u·fp + u·fn + u·tn; costs are negative
    * utilities): the deployment question ("a false negative costs 50×
    * a false positive") that F1's implicit equal weighting cannot
    * answer. Same machinery and determinism contract as
    * [[bestThreshold]]: exact integer confusion counts per candidate
    * threshold, utility is one double expression, ties take the
    * LOWEST threshold, selection is a bounded top-1. Output one row
    * (threshold, tp, fp, fn, tn, utility). */
  def costThreshold(
      preds: DataFrame,
      uTp: Double, uFp: Double, uFn: Double, uTn: Double,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    val t = col("threshold")
    prCurveFull(preds, scoreCol, labelCol)
      // complements from the totals columns (max(tp) = P, max(fp) =
      // N − P) — no whole-frame window over the operating points (r9)
      .withColumn("fn", col("__ptot") - col("tp"))
      .withColumn("tn", (col("__ntot") - col("__ptot")) - col("fp"))
      .withColumn("__u",
        col("tp") * uTp + col("fp") * uFp + col("fn") * uFn +
          col("tn") * uTn)
      .orderBy(col("__u").desc_nulls_last, t)
      .limit(1)
      .select(t, col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("__u"), 6).as("utility"))
  }

  /** ML15: precision-recall operating points — one row per candidate
    * threshold with exact integer tp/fp and 6dp-rounded precision/
    * recall.
    *
    * NOTE — threshold quantization: candidate thresholds are the
    * DISTINCT SCORES ROUNDED TO 6dp (scores differing by < 1e-6 merge
    * into one operating point, and reported thresholds are 6dp-rounded
    * values, not necessarily exact observed scores). This is the
    * aucDelong histogram discipline: it bounds the ordered windows to
    * a ≤ 2M-row distinct-threshold frame instead of a row-cardinality
    * global sort, at a resolution far below any decision-relevant
    * score difference. Downstream selectors ([[bestThreshold]],
    * [[costThreshold]], [[liftAtPercent]]) inherit it. */
  def prCurve(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame =
    prCurveFull(preds, scoreCol, labelCol).drop("__ptot", "__ntot")

  /** [[prCurve]] plus the scalar totals as columns (`__ptot` = total
    * positives, `__ntot` = total rows) — what [[bestThreshold]] /
    * [[costThreshold]] need to complete the confusion matrix (fn = P −
    * tp, tn = (N − P) − fp) WITHOUT a whole-frame max window over the
    * operating points. Descending cumulatives derive from the
    * ascending two-level bucket scan (r9; see [[graft.panel.PrefixSum]]
    * — desc-cum(x) = total − asc-cum(x) + x_at, exact integers), so no
    * unpartitioned window survives even on the quantized ≤2M-row
    * candidate frame: bounded ≠ free, one task holding 2M rows is the
    * slowest stage of an otherwise parallel plan. */
  private[graft] def prCurveFull(
      preds: DataFrame,
      scoreCol: String = "prediction",
      labelCol: String = "label"): DataFrame = {
    val lbl = when(col(labelCol).isin(0, 1), col(labelCol).cast("long"))
      .otherwise(raise_error(format_string(
        s"label must be 0 or 1, got %s", col(labelCol).cast("string")))
        .cast("long"))
    val t = col("threshold")
    val perT = preds
      // 6dp threshold quantization: bounded candidate set (aucDelong's
      // rationale) — merged operating points at < 1e-6 score gaps
      .select(round(col(scoreCol), 6).as("threshold"), lbl.as("__y"))
      .groupBy(t)
      .agg(sum(col("__y")).as("__pos"), count(lit(1)).as("__c"))
      // r13: lazy checkpoint — totals otherwise re-run the upstream
      .checkpointed(eager = false)
    // "__ptot", NOT "__P" — the averagePrecision case-collision lesson
    val totals = perT.agg(
      sum(col("__pos")).as("__ptot"), sum(col("__c")).as("__ntot"))
    graft.panel.PrefixSum.inclusiveAuto(
      perT, "threshold", Seq("__cap" -> "__pos", "__cac" -> "__c"))
      .crossJoin(broadcast(totals)) // one scalar row — bounded
      .withColumn("tp", col("__ptot") - col("__cap") + col("__pos"))
      .withColumn("fp", (col("__ntot") - col("__ptot")) -
        (col("__cac") - col("__cap")) + (col("__c") - col("__pos")))
      .select(
        t, col("tp"), col("fp"),
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
          .as("precision"),
        round(when(col("__ptot") > 0,
          col("tp").cast("double") / col("__ptot")), 6).as("recall"),
        col("__ptot"), col("__ntot"))
  }
}

/** M2 seam: adds a `prediction` column to a panel with a `features`
  * array column. */
trait PanelPredictor extends Serializable {
  def predict(df: DataFrame, featuresCol: String = "features"): DataFrame
}

/** Linear/logistic baseline predictor: w·x + b, optionally squashed.
  * Pure column algebra → whole-stage codegen, shuffles nothing.
  *
  * `getItem` (GetArrayItem), NOT `element_at`: when the optimizer inlines
  * the upstream `CreateArray` from [[Features.assemble]], `ElementAt`
  * resolves nullable=false (constant index, known bounds, non-null
  * elements) yet its codegen still assigns `ev.isNull` in the
  * bounds-check branch — Janino rejects the undeclared variable and the
  * ENTIRE stage silently falls back to interpreted row processing
  * (Spark 4.1.2; MlSpec pins the compiled path under CODEGEN_ONLY). */
final case class LinearPredictor(
    weights: Seq[Double],
    intercept: Double = 0.0,
    logistic: Boolean = false)
    extends PanelPredictor {
  def predict(df: DataFrame, featuresCol: String = "features"): DataFrame = {
    val dot = weights.zipWithIndex
      .map { case (w, i) => col(featuresCol).getItem(i) * lit(w) }
      .foldLeft(lit(intercept): Column)(_ + _)
    val p = if (logistic) lit(1.0) / (lit(1.0) + exp(-dot)) else dot
    df.withColumn("prediction", p)
  }
}

/** An opaque (non-column-algebra) model: a per-row score-vector function
  * shipped to executors inside the [[OpaquePredictor]] task closure. */
trait OpaqueModel extends Serializable {
  def scores(x: Array[Double]): Array[Double]
  def classes: Seq[Long]
}

/** Array-encoded binary decision tree (the shape sklearn's
  * `tree_.__getstate__()["nodes"]` exports): internal nodes route
  * `x(feature) <= threshold` left, else right; leaves (feature = −1)
  * carry per-class scores. Pure-JVM, Serializable — evaluated inside
  * executor partitions with no driver round-trips. */
final case class DecisionTreeModel(
    features: Array[Int],
    thresholds: Array[Double],
    lefts: Array[Int],
    rights: Array[Int],
    values: Array[Array[Double]],
    classes: Seq[Long])
    extends OpaqueModel {
  def scores(x: Array[Double]): Array[Double] = {
    var i = 0
    while (features(i) >= 0)
      i = if (x(features(i)) <= thresholds(i)) lefts(i) else rights(i)
    values(i)
  }
}

/** Ensemble of trees — sklearn RandomForest/ExtraTrees/bagging semantics
  * (the reference loads such models via joblib, ml.py:211-225, and runs
  * predict_proba on them, _tests/test_ml.py:844).
  *
  * Classifier leaves hold per-class sample counts; sklearn's forest
  * `predict_proba` normalizes each tree's leaf counts to probabilities,
  * then averages across trees — so does [[scores]] (already-normalized
  * leaves are a no-op: the row sum is 1). 1-wide leaves (regression)
  * average raw values. Offline export: for each `estimator_` in the
  * sklearn forest, dump `tree_.__getstate__()["nodes"]` (+ leaf `values`)
  * to one `trees[i]` node array of the JSON spec. */
final case class ForestModel(trees: Array[DecisionTreeModel], classes: Seq[Long])
    extends OpaqueModel {
  require(trees.nonEmpty, "forest model must have at least one tree")
  // every leaf of every tree must emit the same score width: a mixed
  // forest would mis-index the accumulator deep inside an executor —
  // validate once at construction, and size the per-row accumulator
  // from it (the old sizing walked tree 0 an extra time per row)
  private val scoreWidth: Int = {
    val widths = trees.iterator.flatMap { t =>
      // only LEAVES (feature < 0) carry scores; internal nodes may
      // store empty value rows depending on the exporter
      t.features.indices.iterator
        .filter(i => t.features(i) < 0)
        .map(i => t.values(i).length)
    }.toSet
    require(widths.size == 1,
      s"forest trees emit inconsistent score widths: ${widths.toSeq.sorted.mkString(", ")}")
    widths.head
  }
  def scores(x: Array[Double]): Array[Double] = {
    val acc = new Array[Double](scoreWidth)
    var t = 0
    while (t < trees.length) {
      val s = trees(t).scores(x)
      if (s.length == 1) acc(0) += s(0)
      else {
        var sum = 0.0
        var i = 0
        while (i < s.length) { sum += s(i); i += 1 }
        val norm = if (sum == 0.0) 1.0 else sum
        i = 0
        while (i < s.length) { acc(i) += s(i) / norm; i += 1 }
      }
      t += 1
    }
    var i = 0
    while (i < acc.length) { acc(i) /= trees.length; i += 1 }
    acc
  }
}

/** Gradient-boosted tree ensemble — sklearn `GradientBoosting*` /
  * XGBoost-style additive model: raw score = baseScore + learningRate ·
  * Σ per-tree raw leaf values. Boosting trees carry 1-wide REGRESSION
  * leaves (each fits residuals), unlike [[ForestModel]]'s per-class
  * count leaves — mixed widths are a construction error, not a per-row
  * surprise. `logistic=true` squashes the raw score through a sigmoid
  * (binary GradientBoostingClassifier `predict_proba` → P(class=1));
  * either way the output is 1-wide, so [[OpaquePredictor]] squeezes it
  * (ml.py:491-509's 1-column branch). */
final case class GbtModel(
    trees: Array[DecisionTreeModel],
    learningRate: Double = 1.0,
    baseScore: Double = 0.0,
    logistic: Boolean = false)
    extends OpaqueModel {
  require(trees.nonEmpty, "gbt model must have at least one tree")
  require(
    trees.forall(t =>
      t.features.indices.forall(i => t.features(i) >= 0 || t.values(i).length == 1)),
    "gbt trees must carry 1-wide regression leaves (raw additive scores, " +
      "not per-class counts)")
  def classes: Seq[Long] = Nil
  def scores(x: Array[Double]): Array[Double] = {
    var raw = baseScore
    var t = 0
    while (t < trees.length) {
      raw += learningRate * trees(t).scores(x)(0)
      t += 1
    }
    Array(if (logistic) 1.0 / (1.0 + math.exp(-raw)) else raw)
  }
}

/** M2 opaque-model predictor: appends `prediction` via a typed
  * `Dataset.mapPartitions` (stays in the Tungsten pipeline via a Row
  * encoder — no RDD drop-out). Multi-class score vectors collapse per
  * the reference (ml.py:491-509): 1-wide output squeezes; binary
  * classifiers with classes [0, 1] keep the last column (P(class=1),
  * i.e. predict_proba); anything else is an error, matching the
  * reference's NotImplementedError. */
final case class OpaquePredictor(model: OpaqueModel) extends PanelPredictor {
  def predict(df: DataFrame, featuresCol: String = "features"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val outSchema = StructType(df.schema.fields :+
      StructField("prediction", DoubleType, nullable = true))
    val featIdx = df.schema.fieldIndex(featuresCol)
    val m = model // serialized into the task closure once
    df.mapPartitions { rows =>
      rows.map { r =>
        val xs = r.getSeq[Double](featIdx)
        val p: Any =
          if (xs == null) null // null features → null prediction
          else {
            val s = m.scores(xs.toArray)
            if (s.length == 1) s(0)
            else if (s.length == 2 && m.classes == Seq(0L, 1L)) s(1)
            else throw new GraftError(
              s"Don't know what to do with predictions having shape (${s.length},)")
          }
        Row.fromSeq(r.toSeq :+ p)
      }
    }(Encoders.row(outSchema))
  }
}

/** Loads a serialized model file into a [[PanelPredictor]] — the
  * reference's `_load_model` seam (ml.py:211-225), with a JSON model
  * spec instead of pickle/joblib (those formats are Python-runtime
  * object graphs; a declarative spec is the portable equivalent).
  *
  * Spec (one JSON object): `modelType` of `linear` | `logistic` |
  * `tree` | `forest` | `gbt`; linear/logistic carry `weights` +
  * `intercept`; `tree` carries parallel node arrays + `classes`;
  * `forest`/`gbt` carry `trees` (gbt adds `learningRate`, `baseScore`,
  * `logistic`). The file is tiny and read driver-side through
  * `spark.read.json` with an explicit schema. */
object ModelPredictor {
  import org.apache.spark.sql.SparkSession

  def load(spark: SparkSession, path: String): PanelPredictor = {
    import org.apache.spark.sql.types._
    val nodeType = new StructType()
      .add("feature", LongType).add("threshold", DoubleType)
      .add("left", LongType).add("right", LongType)
      .add("value", ArrayType(DoubleType))
    val schema = new StructType()
      .add("modelType", StringType)
      .add("weights", ArrayType(DoubleType))
      .add("intercept", DoubleType)
      .add("classes", ArrayType(LongType))
      .add("nodes", ArrayType(nodeType))
      .add("trees", ArrayType(ArrayType(nodeType)))
      .add("learningRate", DoubleType)
      .add("baseScore", DoubleType)
      .add("logistic", BooleanType)
    val row = spark.read.schema(schema).json(path).head()
    row.getString(0) match {
      case "linear" =>
        LinearPredictor(row.getSeq[Double](1), row.getDouble(2))
      case "logistic" =>
        LinearPredictor(row.getSeq[Double](1), row.getDouble(2), logistic = true)
      case "tree" =>
        OpaquePredictor(treeFromRows(row.getSeq[org.apache.spark.sql.Row](4),
          row.getSeq[Long](3)))
      case "forest" =>
        val classes = row.getSeq[Long](3)
        val trees = row.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](5)
          .map(t => treeFromRows(t.toSeq, classes)).toArray
        OpaquePredictor(ForestModel(trees, classes))
      case "gbt" =>
        val trees = row.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](5)
          .map(t => treeFromRows(t.toSeq, Nil)).toArray
        OpaquePredictor(GbtModel(
          trees,
          learningRate = if (row.isNullAt(6)) 1.0 else row.getDouble(6),
          baseScore = if (row.isNullAt(7)) 0.0 else row.getDouble(7),
          logistic = !row.isNullAt(8) && row.getBoolean(8)))
      case other =>
        throw new ParameterError(s"unknown modelType: $other")
    }
  }

  private def treeFromRows(
      nodes: Seq[org.apache.spark.sql.Row],
      classes: Seq[Long]): DecisionTreeModel =
    DecisionTreeModel(
      features = nodes.map(_.getLong(0).toInt).toArray,
      thresholds = nodes.map(n => if (n.isNullAt(1)) 0.0 else n.getDouble(1)).toArray,
      lefts = nodes.map(_.getLong(2).toInt).toArray,
      rights = nodes.map(_.getLong(3).toInt).toArray,
      values = nodes.map(n =>
        if (n.isNullAt(4)) Array.empty[Double] else n.getSeq[Double](4).toArray).toArray,
      classes = classes)
}

/** Reference `MoonshotML`: `prices_to_signals` is replaced by
  * features → predict → `predictions_to_signals` (ml.py:412-517). */
trait MLStrategy extends Strategy {
  def predictor: PanelPredictor

  /** Hook: add feature columns; return (panel, featureColumnNames)
    * (reference prices_to_features, ml.py:227-298). */
  def pricesToFeatures(prices: DataFrame): (DataFrame, Seq[String])

  /** Hook: `prediction` → `signal` (reference ml.py:301-352). */
  def predictionsToSignals(panel: DataFrame): DataFrame

  /** M4 feature cache (ml.py:426-433): when set, the assembled feature
    * panel is served from cache. The reference keys on (CODE, prices
    * index, prices columns); the Spark-native identity proxy is the
    * price plan's semantic hash + schema — same source, filters, and
    * transformations ⇒ same key. [[featureCacheDependencies]] mirrors
    * `unless_file_modified=self`: list the strategy's source/model
    * files and a newer mtime invalidates the entry. */
  def featureCache: Option[graft.sources.Sources.ResultCache] = None
  def featureCacheDependencies: Seq[String] = Nil

  final def pricesToSignals(prices: DataFrame): DataFrame =
    pricesToSignals(prices, noCache = false)

  override private[graft] def signalsWithCache(
      prices: DataFrame, noCache: Boolean): DataFrame =
    pricesToSignals(prices, noCache)

  private[graft] final def pricesToSignals(
      prices: DataFrame, noCache: Boolean): DataFrame = {
    def assemble: DataFrame = {
      val (withFeatures, featureCols) = pricesToFeatures(prices)
      Features.assemble(withFeatures, featureCols)
    }
    val assembled = featureCache match {
      case Some(c) if !noCache =>
        val key = s"features|$code|${prices.semanticHash()}|${prices.schema.catalogString}"
        c.getOrCompute(key, featureCacheDependencies)(assemble)
      case _ => assemble
    }
    predictionsToSignals(predictor.predict(assembled))
  }
}
