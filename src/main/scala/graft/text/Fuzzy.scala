package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Buckets
import graft.functions.JaroWinklerSimilarity.jaroWinklerNative

/** Blocked fuzzy matching — the record-linkage join: candidate pairs
  * come from an equi-join on a cheap blocking key (first token, phonetic
  * code, prefix — caller's choice), and only blocked pairs pay the
  * Jaro–Winkler scan. All-pairs similarity is never materialized; cost
  * is Σ |block_L|·|block_R|, the standard linkage-economics shape.
  *
  * Guard discipline ([[graft.Buckets]]): a degenerate blocking key
  * ("", a boilerplate token) concentrates the whole join in one task,
  * so a block beyond `maxBlock` rows on EITHER side RAISES by default
  * (the fz1 oracle scores ALL blocked pairs: a silent drop would
  * diverge from it exactly at the tier where it first matters).
  * `dropOversized = true` drops it instead, observable via the
  * `fuzzy_blocks` observe metrics. Null/empty block keys never match
  * anything.
  */
object Fuzzy {

  def fuzzyJoin(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      rightId: String,
      leftName: String,
      rightName: String,
      blockKey: Column => Column,
      minSim: Double,
      maxBlock: Int = 10000,
      dropOversized: Boolean = false): DataFrame = {
    require(minSim > 0 && minSim <= 1, s"minSim in (0,1]: $minSim")
    require(maxBlock >= 1, s"maxBlock >= 1: $maxBlock")
    def side(df: DataFrame, id: String, name: String, tag: String,
        metric: Buckets.Metric): DataFrame = {
      val keyed = df.select(col(id).as(s"${tag}_id"), col(name).as(s"${tag}_name"))
        .withColumn("__bk", blockKey(col(s"${tag}_name")))
        .where(col("__bk").isNotNull && col("__bk") =!= "")
      Buckets.capped(keyed, Seq("__bk"), maxBlock,
        Buckets.Raise("fuzzyJoin", "refine blockKey", group = s"$tag-side block",
          param = "maxBlock", loss = "dropping it would silently lose every match in the block")
          .orDrop(dropOversized),
        Some(metric), n = s"__n_$tag")
    }
    val l = side(left, leftId, leftName, "l", Buckets.Metric("fuzzy_blocks",
      maxField = "max_left_block", overflowPrefix = "left_"))
    val r = side(right, rightId, rightName, "r", Buckets.Metric("fuzzy_blocks_right",
      maxField = "max_right_block", overflowPrefix = "right_"))
    l.join(r, Seq("__bk"))
      .select(col("l_id"), col("r_id"),
        round(jaroWinklerNative(col("l_name"), col("r_name")), 6).as("jw"))
      .where(col("jw") >= minSim)
  }

  /** ER2: reciprocal best match — keep only pairs that are EACH
    * OTHER'S top candidate, the classic high-precision decision rule
    * for entity resolution (mutual nearest neighbor): a left record
    * with several plausible rights links only if its favorite right
    * also favors it back, which kills the hub records that fuzzy
    * scores alone over-link.
    *
    * Determinism: "best" is (similarity DESC, partner id ASC) — ties
    * resolve identically in any engine via one min_by over the
    * (−sim, id) struct per side. Two aggregations on the pair frame
    * (each shuffles on one id key), one join back; no window sorts.
    *
    * Output (left, right, sim) — the mutual pairs only. */
  def reciprocalBestMatch(
      scores: DataFrame,
      leftCol: String = "l_id",
      rightCol: String = "r_id",
      simCol: String = "jw"): DataFrame = {
    val bestForL = scores.groupBy(col(leftCol))
      .agg(min_by(col(rightCol),
        struct((-col(simCol)).as("ns"), col(rightCol).as("id")))
        .as("__bestR"))
    val bestForR = scores.groupBy(col(rightCol))
      .agg(min_by(col(leftCol),
        struct((-col(simCol)).as("ns"), col(leftCol).as("id")))
        .as("__bestL"))
    scores
      .join(bestForL, Seq(leftCol))
      .join(bestForR, Seq(rightCol))
      .where(col("__bestR") === col(rightCol) &&
        col("__bestL") === col(leftCol))
      .select(col(leftCol), col(rightCol), col(simCol))
  }
}
