package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one bucket-cap policy: how the LSH, blocking and basket
  * operators bound a group before expanding it into pairs.
  *
  * A group of m rows expands to O(m²) pairs, so each operator caps its
  * groups ([[capped]]: a window count over the group keys, BEFORE the
  * `collect_list`, so an oversized group never materializes as an
  * in-memory array) and then expands the survivors ([[pairs]]: the
  * group's list exploded twice, `a` before `b` under the site's own
  * predicate — one pass, no self-join re-running the upstream per
  * aliased side).
  *
  * Why a group over the cap RAISES by default: a DROPPED group silently
  * voids the operator's completeness claim. Past a banded collision
  * cliff (8-bit simhash band keys at 10M docs, where EVERY bucket
  * overflows) the drop returned a near-empty, correct-LOOKING pair set.
  * An observe metric is not a loud enough signal: it is invisible
  * unless the caller registers a listener, it is swallowed below a
  * checkpoint, and AQE's empty-relation propagation erases the
  * CollectMetrics node in exactly the all-dropped case it exists to
  * report (caught by the SetJoin hot-gram bench row reading 0). The
  * raise is a `raise_error` filter riding the window count the filter
  * already pays: zero extra jobs, nothing to forget to check — an eager
  * driver-side count instead measured +0.6 s on ppj1 and +3.4 s on er1.
  * Callers that knowingly trade recall for fan-out opt in with
  * `dropOversized = true` ([[Drop]]), still reported by the site's
  * observe metric. Sites whose drop is the right answer by design drop
  * always: semantic dedup (an oversized cell only loses its pruning),
  * winnowing and baskets (boilerplate and placeholder groups), Adamic–
  * Adar (a hub's 1/ln(deg) carries ~no signal). `prefixFilterJoin`
  * always raises: an overflow voids its exact-join guarantee, the
  * operator's reason to exist.
  *
  * | site                              | over the cap                | observe metric (max field)                    |
  * |-----------------------------------|-----------------------------|-----------------------------------------------|
  * | `Dedup.minhashCandidates`         | raise, or drop on opt-in    | `minhash_buckets` (`max_bucket`)              |
  * | `Dedup.minhashJaccardEstimates`   | raise, or drop on opt-in    | `minhash_est_buckets` (`max_bucket`)          |
  * | `Dedup.incrementalCandidates`     | raise, or drop on opt-in    | `incremental_buckets` (`max_bucket`)          |
  * | `Dedup.crossNearDuplicates`       | raise, or prune on opt-in   | `cross_hot_buckets` (`dropped_buckets`)       |
  * | `Dedup` fingerprint near-pairs    | raise, or drop on opt-in    | caller's: `simhash_buckets`, `phash_buckets`, `fingerprint_buckets` (`max_bucket`) |
  * | `Dedup.incrementalSimhashPairs`   | raise, or drop on opt-in    | `incremental_simhash_buckets` (`max_bucket`)  |
  * | `Dedup.embeddingNearDuplicates`   | raise, or drop on opt-in    | `embedding_buckets` (`max_bucket`)            |
  * | `Dedup.semanticDeduplicate`       | drop                        | `semdedup_cells` (`max_cell`)                 |
  * | `Dedup.semanticContamination`     | raise, or drop on opt-in    | `semdecon_cells` (`max_cell`)                 |
  * | `Winnow.fingerprintPairs`         | drop                        | `winnow_buckets` (`max_bucket`)               |
  * | `Fuzzy.fuzzyJoin`, each side      | raise, or drop on opt-in    | `fuzzy_blocks`, `fuzzy_blocks_right` (`max_left_block`, `max_right_block`) |
  * | `Basket` incidence                | drop                        | `basket_sizes` (`max_basket`)                 |
  * | `PageRank.adamicAdar`             | drop                        | `aa_apexes` (`max_degree`)                    |
  * | `SetJoin.prefixFilterJoin`        | raise                       | none                                          |
  *
  * Every metric but `cross_hot_buckets` (pruned hot keys) carries the
  * rows in groups over the cap and the largest group ([[Metric]]).
  * `BucketsSpec` fails the build if any other `src/main` file writes an
  * overflow metric or the cap's error text.
  */
object Buckets {

  /** What a site does with a group over its cap. */
  sealed trait OnOver

  /** Drop the group's rows. */
  case object Drop extends OnOver

  /** Raise on the first group over the cap. The error reads
    * "`site`: a `group` of N rows exceeds `param`=cap — `loss`; `hint`",
    * then suggests raising `param`, and `dropOversized = true` where the
    * site has that option (`droppable`). */
  final case class Raise(
      site: String,
      hint: String,
      group: String = "bucket",
      param: String = "maxBucket",
      loss: String = "dropping it would silently lose candidate pairs",
      droppable: Boolean = true) extends OnOver {
    def orDrop(dropOversized: Boolean): OnOver = if (dropOversized) Drop else this
  }

  /** A site's overflow metric: one `Dataset.observe` named `name` with
    * the rows in groups over the cap (`<overflowPrefix>rows_in_overflow`)
    * and the largest group (`maxField`), in that order. */
  final case class Metric(
      name: String,
      maxField: String = "max_bucket",
      overflowPrefix: String = "")

  /** `df` with each row's group size in column `n` (a window count over
    * `keys`), observed by `metric`, and every group over `cap` handled
    * by `onOver`. */
  def capped(
      df: DataFrame,
      keys: Seq[String],
      cap: Int,
      onOver: OnOver,
      metric: Option[Metric] = None,
      n: String = "__n"): DataFrame = {
    val sized = df.withColumn(n, count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    val seen = metric.fold(sized) { m =>
      sized.observe(m.name,
        sum(when(col(n) > cap, 1L).otherwise(0L)).as(s"${m.overflowPrefix}rows_in_overflow"),
        max(col(n)).as(m.maxField))
    }
    onOver match {
      case Drop => seen.where(col(n) <= cap)
      case r: Raise => raising(seen, n, cap, r)
    }
  }

  /** The `keys` of every group of `df` over `cap` (an aggregate count
    * in column `n`), for a site that prunes them by anti-join; under
    * [[Raise]] the first one raises instead. */
  def oversized(
      df: DataFrame,
      keys: Seq[String],
      cap: Int,
      onOver: OnOver,
      n: String = "__n"): DataFrame = {
    val census = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(n))
      .where(col(n) > cap)
    (onOver match {
      case Drop => census
      case r: Raise => raising(census, n, cap, r)
    }).select(keys.map(col): _*)
  }

  private def raising(sized: DataFrame, n: String, cap: Int, r: Raise): DataFrame = {
    val tail =
      if (r.droppable) s"raise ${r.param}, or pass dropOversized=true to accept the recall loss"
      else s"or raise ${r.param}"
    sized.where(when(col(n) > cap, raise_error(concat(
      lit(s"${r.site}: a ${r.group} of "), col(n),
      lit(s" rows exceeds ${r.param}=$cap — ${r.loss}; ${r.hint}, $tail"))))
      .otherwise(lit(true)))
  }

  /** Every pair within each row's `list`: the list exploded into `a`
    * and again into `b`, carrying `carry`, kept where `keep(a, b)`. */
  def pairs(
      lists: DataFrame,
      list: String,
      a: String,
      b: String,
      carry: Seq[String] = Nil)(keep: (Column, Column) => Column): DataFrame =
    lists
      .select(carry.map(col) :+ explode(col(list)).as(a) :+ col(list): _*)
      .select(carry.map(col) :+ col(a) :+ explode(col(list)).as(b): _*)
      .where(keep(col(a), col(b)))
}
