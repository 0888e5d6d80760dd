package graft.ml

import graft.Exact.{Basis, Micro, decSum}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordinary least squares by normal equations in ONE distributed pass —
  * the 100 TB regression path: every moment the solve needs (n, Σxᵢ,
  * Σxᵢxⱼ, Σxᵢy, Σy, Σy²) is a map-side-combinable integer aggregate, so
  * the whole fit is a single `agg` over the fact table and the solve is
  * scalar algebra ON THE ONE RESULT ROW — no driver loop, no second
  * scan, no collect.
  *
  * This closed form covers two features + intercept (3×3 Cramer written
  * out); for wider designs use [[Pca.gram]] for X'X and a driver-side
  * bounded d×d solve (the pca2 pattern) — the data pass is identical,
  * only the solve grows.
  *
  * Cross-engine exactness: inputs are integer units (the caller passes
  * already-integered columns — whole dollars, not cents, for y when y²
  * sums approach 2⁶³), the moment sums are exact BIGINTs, and the Cramer
  * determinants/R² are ONE fixed IEEE expression tree over those exact
  * integers — the oracle spells the identical shape, so 6dp rounding
  * agrees bit-for-bit. Contract: moment sums must stay under 2⁵³ for the
  * double cast to be exact (raise the unit granularity on bigger data).
  */
object Ols {

  /** Fit y ~ 1 + x1 + x2. All three columns must already be integral
    * (LONG). Output: one row (n, beta0, beta1, beta2, r2), 6dp. */
  def ols2(df: DataFrame, yCol: String, x1Col: String, x2Col: String): DataFrame =
    fit2(df, yCol, x1Col, x2Col, lambda = 0L)

  /** Ridge (L2) variant: λ adds to the slope diagonal of X'X — the
    * intercept is NOT penalized (standard practice; shrinking the mean
    * would bias every prediction). λ is an exact integer in the same
    * squared units as the moments, so the only change to the solve is
    * two integer additions before the double cast — the data pass, the
    * Cramer shape, and the cross-engine determinism argument are all
    * unchanged. `r2` reports the UNPENALIZED residual of the shrunk
    * coefficients (what a holdout would see), so λ→∞ drives it toward
    * the intercept-only 0. */
  def ridge2(df: DataFrame, yCol: String, x1Col: String, x2Col: String,
      lambda: Long): DataFrame = {
    require(lambda > 0, s"lambda must be positive: $lambda (use ols2 for 0)")
    fit2(df, yCol, x1Col, x2Col, lambda)
  }

  /** The whole regularization path in ONE data pass: the moments are
    * computed once, then each λ is a ROW (a bounded literal explode on
    * the single moment row) and the solve/R² expressions run per λ —
    * grid search without rescanning the facts. λ = 0 reproduces OLS
    * exactly (same expressions, same IEEE), so the path embeds its own
    * unregularized anchor. Output: one row per λ, ascending. */
  def ridgePath(df: DataFrame, yCol: String, x1Col: String, x2Col: String,
      lambdas: Seq[Long]): DataFrame = {
    require(lambdas.nonEmpty && lambdas.forall(_ >= 0),
      s"lambdas must be non-negative: $lambdas")
    require(lambdas.distinct.size == lambdas.size, s"duplicate lambdas")
    solve(
      momentsOf(df, yCol, x1Col, x2Col)
        .select(col("*"),
          explode(array(lambdas.sorted.map(lit): _*)).as("lambda")),
      col("lambda"), Seq(col("lambda")))
  }

  /** ML42: permutation feature importance for the [[ols2]] fit —
    * refit-free model inspection: how much does MSE rise when feature
    * j's association with y is broken? importance_j = MSE(permuted xⱼ)
    * − MSE(base), the Breiman random-forest measure applied to the
    * linear fit (Fisher et al. 2019 "model reliance" formalizes it
    * model-agnostically).
    *
    * The permutation is DETERMINISTIC and distributed: rows bucket by
    * an md5 unit hash of their id (`buckets` slots), and within each
    * bucket the feature column ROTATES by one position under the id
    * order (`lead` + wrap-around via `first`) — a bona fide permutation
    * that pairs each row with an effectively random other row (the
    * bucket assignment is the randomness), with every window
    * PARTITIONED by bucket (no global sort — the WindowPlanSpec
    * contract; bucket count scales the per-task sort, raise it with
    * data). Both permuted columns ride ONE window sort.
    *
    * Cross-engine exactness: betas are the UNROUNDED Cramer solve —
    * one fixed IEEE tree over exact integer moments, so both engines
    * hold bit-identical doubles; per-row squared residuals quantize at
    * 1e-4 (part of the op's definition — y is whole units, so r² ≤
    * ~1e12 keeps the quantized value exactly representable) and sum as
    * exact DECIMAL(38,0); each MSE and delta is one final division.
    * Singular design → null betas → null MSEs (the house
    * null-on-degenerate convention). `idCols` must be a UNIQUE key —
    * a duplicate key makes the within-bucket order, hence the
    * rotation, nondeterministic — and the contract is ENFORCED loudly
    * (the Woe tie-key discipline): duplicate ids hash to the same
    * bucket and sort adjacently, so a lag check riding the bucket
    * window raises [[graft.ParameterError]]-style at scan time with
    * zero extra shuffles.
    *
    * Scale shape: one moments pass (map-side-combinable integer agg),
    * then one partitioned-window pass + one bounded agg. Output: 3
    * rows (feature ∈ {__base, x1Col, x2Col}; mse; delta_mse), 6dp. */
  def permutationImportance2(
      df: DataFrame,
      yCol: String,
      x1Col: String,
      x2Col: String,
      idCols: Seq[String],
      buckets: Int = 4096,
      seed: String = "perm"): DataFrame = {
    require(idCols.nonEmpty, "permutationImportance2: need id columns")
    require(buckets > 0, s"buckets must be positive: $buckets")
    import org.apache.spark.sql.expressions.Window
    val betas = rawBetas(momentsOf(df, yCol, x1Col, x2Col))
    val idExpr = concat_ws("#", idCols.map(col): _*)
    val unit = conv(substring(md5(concat_ws("|", lit(seed), idExpr)), 1, 8),
      16, 10).cast("double") / 4294967296.0
    val w = Window.partitionBy(col("__pb")).orderBy(idCols.map(col): _*)
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def rot(c: String): Column =
      coalesce(lead(col(c), 1).over(w), first(col(c)).over(wf))
    // duplicate-id tripwire: equal ids share a hash (same bucket) and
    // sort adjacently, so one lag on the bucket window sees every dup.
    // The guard multiplies into the quantized residuals (×1 when clean)
    // so it can't be pruned away and evaluates on the offending row.
    val tieGuard = when(lag(idExpr, 1).over(w) === idExpr,
      raise_error(concat(lit("permutationImportance2: duplicate id key ("),
        idExpr, lit(") — rotation order undefined; pass a unique idCols")))
        .cast("long")).otherwise(lit(1L))
    def ssq(xa: Column, xb: Column): Column = {
      val r = col(yCol).cast("double") -
        (col("__b0") + col("__b1") * xa.cast("double") +
          col("__b2") * xb.cast("double"))
      decSum(Basis(r * r) * col("__tie"))
    }
    val sums = df
      .withColumn("__pb", floor(unit * buckets).cast("long"))
      .withColumn("__tie", tieGuard)
      .withColumn("__x1p", rot(x1Col))
      .withColumn("__x2p", rot(x2Col))
      .crossJoin(broadcast(betas)) // one row — bounded by design
      .agg(
        count(lit(1)).as("__n"),
        ssq(col(x1Col), col(x2Col)).as("__sb"),
        ssq(col("__x1p"), col(x2Col)).as("__s1"),
        ssq(col(x1Col), col("__x2p")).as("__s2"))
    def mse(s: Column): Column =
      round(Basis.back(s) / col("__n"), 6)
    def delta(s: Column): Column =
      round(Basis.back(s - col("__sb")) / col("__n"), 6) + 0.0
    sums
      .select(explode(array(
        struct(lit("__base").as("feature"), mse(col("__sb")).as("mse"),
          (mse(col("__sb")) * 0.0).as("delta_mse")),
        struct(lit(x1Col).as("feature"), mse(col("__s1")).as("mse"),
          delta(col("__s1")).as("delta_mse")),
        struct(lit(x2Col).as("feature"), mse(col("__s2")).as("mse"),
          delta(col("__s2")).as("delta_mse")))).as("__r"))
      .select(col("__r.feature"), col("__r.mse"), col("__r.delta_mse"))
  }

  /** ML43: exact SHAP global importance for the [[ols2]] fit — the
    * companion view to [[permutationImportance2]] (perturbation vs
    * attribution). For a linear model the interventional Shapley value
    * is CLOSED FORM (Lundberg & Lee 2017 §Corollary 1): φⱼ(row) =
    * bⱼ·(xⱼ − x̄ⱼ), so the global measure mean|φⱼ| = |bⱼ|·MAD(xⱼ) needs
    * no sampling, no coalitions, no refits — one moments pass (betas +
    * feature means) and one absolute-deviation pass.
    *
    * Cross-engine exactness: betas and means are fixed IEEE trees over
    * exact integer moments; per-row |xⱼ − x̄ⱼ| quantizes at 1e-6 and
    * sums as exact DECIMAL(38,0); each output is one final expression.
    * Singular design → null betas → null rows. `share` is each
    * feature's fraction of total attribution mass (null when the
    * model attributes nothing — constant features). Output: 2 rows
    * (feature, beta 6dp, mean_abs_shap 6dp, share 6dp). */
  def linearShap2(
      df: DataFrame,
      yCol: String,
      x1Col: String,
      x2Col: String): DataFrame = {
    val betas = rawBetas(momentsOf(df, yCol, x1Col, x2Col))
    def madSum(c: String, s: String): Column = {
      val dev = col(c).cast("double") -
        col(s).cast("double") / col("__n").cast("double")
      sum(Micro.dec(abs(dev)))
    }
    val sums = df
      .crossJoin(broadcast(betas)) // one row — bounded by design
      .agg(
        first(col("__n")).as("__n"),
        first(col("__b1")).as("__b1"), first(col("__b2")).as("__b2"),
        madSum(x1Col, "__s1").as("__m1"),
        madSum(x2Col, "__s2").as("__m2"))
    def mas(b: Column, m: Column): Column =
      abs(b) * (Micro.back(m) / col("__n"))
    val (m1, m2) = (mas(col("__b1"), col("__m1")), mas(col("__b2"), col("__m2")))
    def share(m: Column): Column =
      round(when(m1 + m2 =!= 0.0, m / (m1 + m2)), 6) + 0.0
    sums
      .select(explode(array(
        struct(lit(x1Col).as("feature"), round(col("__b1"), 6).as("beta"),
          round(m1, 6).as("mean_abs_shap"), share(m1).as("share")),
        struct(lit(x2Col).as("feature"), round(col("__b2"), 6).as("beta"),
          round(m2, 6).as("mean_abs_shap"), share(m2).as("share")))).as("__r"))
      .select(col("__r.feature"), col("__r.beta"),
        col("__r.mean_abs_shap"), col("__r.share"))
  }

  /** UNROUNDED Cramer betas over a moments row — shared by the solve
    * (which rounds for output) and consumers that must keep the
    * bit-identical doubles flowing into further arithmetic; carries
    * (n, s1, s2) alongside so attribution consumers can derive the
    * feature means from the same exact integers. */
  private def rawBetas(moments: DataFrame): DataFrame = {
    def d(c: String): Column = col(c).cast("double")
    val (n, s1, s2, sy) = (d("n"), d("s1"), d("s2"), d("sy"))
    val (s11, s12, s22) = (d("s11"), d("s12"), d("s22"))
    val (s1y, s2y) = (d("s1y"), d("s2y"))
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val det0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    def safe(num: Column): Column = when(det =!= 0.0, num / det)
    moments.select(safe(det0).as("__b0"), safe(det1).as("__b1"),
      safe(det2).as("__b2"), col("n").as("__n"),
      col("s1").as("__s1"), col("s2").as("__s2"))
  }

  private def momentsOf(df: DataFrame, yCol: String, x1Col: String,
      x2Col: String): DataFrame = {
    val (y, x1, x2) = (col(yCol), col(x1Col), col(x2Col))
    df.agg(
      count(lit(1)).as("n"),
      sum(x1).as("s1"), sum(x2).as("s2"), sum(y).as("sy"),
      sum(x1 * x1).as("s11"), sum(x1 * x2).as("s12"), sum(x2 * x2).as("s22"),
      sum(x1 * y).as("s1y"), sum(x2 * y).as("s2y"), sum(y * y).as("syy"))
  }

  private def fit2(df: DataFrame, yCol: String, x1Col: String, x2Col: String,
      lambda: Long): DataFrame =
    solve(momentsOf(df, yCol, x1Col, x2Col), lit(lambda), Seq.empty)

  private def solve(moments: DataFrame, lambda: Column,
      keyCols: Seq[Column]): DataFrame = {
    def d(c: String): Column = col(c).cast("double")
    val (n, s1, s2, sy) = (d("n"), d("s1"), d("s2"), d("sy"))
    // ridge: λ on the slope diagonal as an INTEGER add before the cast
    // — penalized moments steer the SOLVE only; the residual below uses
    // the RAW moments (r2 is the unpenalized fit of the shrunk betas)
    val s11 = (col("s11") + lambda).cast("double")
    val s22 = (col("s22") + lambda).cast("double")
    val s12 = d("s12")
    val (r11, r22) = (d("s11"), d("s22"))
    val (s1y, s2y, syy) = (d("s1y"), d("s2y"), d("syy"))
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val det0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    // singular/collinear design (e.g. a constant regressor): det = 0
    // would give NaN betas — emit null instead, the house
    // null-on-degenerate convention (assortativity, mannWhitney)
    def safe(num: Column): Column = when(det =!= 0.0, num / det)
    val b0 = safe(det0)
    val b1 = safe(det1)
    val b2 = safe(det2)
    val sse = syy - lit(2.0) * (b0 * sy + b1 * s1y + b2 * s2y) +
      (b0 * b0 * n + b1 * b1 * r11 + b2 * b2 * r22 +
        lit(2.0) * b0 * b1 * s1 + lit(2.0) * b0 * b2 * s2 +
        lit(2.0) * b1 * b2 * s12)
    val sst = syy - sy * sy / n
    moments.select(
      keyCols :+ col("n") :+
        round(b0, 6).as("beta0") :+
        round(b1, 6).as("beta1") :+
        round(b2, 6).as("beta2") :+
        round(lit(1.0) - sse / sst, 6).as("r2"): _*)
  }
}
