package graft.ml

import graft.Checkpoint._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Off-policy evaluation of a target policy against logged behavior —
  * the counterfactual "what would the new policy have earned on last
  * month's traffic" estimate (Horvitz–Thompson / Li et al. 2011 replay)
  * that gates bandit and recommender launches without an A/B test.
  *
  * Logged data is derived from the event stream: a user's logged
  * ACTION is their first event type ((ts, eventId)-ordered), the
  * REWARD is 1 if a `convType` event follows strictly after the first
  * event's timestamp. Behavior propensities are the standard empirical
  * estimate p̂(a) = n_a/N; the target policy is the deterministic
  * uniform-random policy π(u) = the ⌊hash(u)·K⌋-th distinct action
  * ([[graft.text.Sampling.hashUnit]] — reproducible in any engine).
  *
  * Estimators: IPS = (1/N)·Σ r·1[π=a]/p̂(a) = Σ_a mr_a/n_a and the
  * self-normalized SNIPS = Σ w·r / Σ w = Σ_a (mr_a/n_a) / Σ_a (m_a/n_a)
  * — the per-ACTION grouping makes both sums run over the bounded
  * action dimension with exact integer numerators; each term is one
  * IEEE division micro-quantized at 1e12, so the reduction is
  * order-free BIGINT addition.
  *
  * Scale shape: one shuffle on the user key (first-event + reward
  * agg), then everything lives on the action dimension (broadcast
  * joins); no row explosion anywhere. */
object OffPolicy {

  /** ML35: IPS and SNIPS value estimates of the uniform target policy.
    * Output ONE row (n_users, n_matched, ips, snips); null estimates
    * when no user matched (SNIPS) — IPS is 0 then. */
  def ipsSnips(
      events: DataFrame,
      convType: String = "purchase",
      seed: String = "pi",
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      eventIdCol: String = "event_id"): DataFrame = {
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val wu = Window.partitionBy(col(userCol))
    val perUser = events
      .withColumn("__fm", min(m).over(wu))
      .withColumn("__fs", min(struct(m.as("m"), col(eventIdCol).as("id"),
        col(typeCol).as("t"))).over(wu))
      .groupBy(col(userCol))
      .agg(
        first(col("__fs.t")).as("__a"),
        max(when(col(typeCol) === convType && m > col("__fm"), 1L)
          .otherwise(0L)).as("__r"))
      .checkpointed(eager = false) // feeds counts, K, and the match
    val actions = perUser
      .groupBy(col("__a")).agg(count(lit(1)).as("__na"))
      .withColumn("__idx",
        row_number().over(Window.orderBy(col("__a"))).cast("long"))
    val kf = actions.agg(count(lit(1)).as("__Kk"),
      sum(col("__na")).as("__Nu"))
    val matched = perUser
      .crossJoin(broadcast(kf)) // 1-row grouping-free agg
      .withColumn("__pidx",
        floor(graft.text.Sampling.hashUnit(col(userCol), seed)
          * col("__Kk")).cast("long") + 1)
      .join(broadcast(actions.select(col("__idx").as("__pidx"),
        col("__a").as("__pa"))), Seq("__pidx"))
      .where(col("__a") === col("__pa"))
    matched
      .groupBy(col("__a"))
      .agg(count(lit(1)).as("__ma"), sum(col("__r")).as("__mra"))
      .join(broadcast(actions.select(col("__a"), col("__na"))), Seq("__a"))
      .agg(
        sum(col("__ma")).as("__nm"),
        sum(round(col("__mra").cast("double") / col("__na").cast("double")
          * 1e12).cast("long")).as("__ipsq"),
        sum(round(col("__ma").cast("double") / col("__na").cast("double")
          * 1e12).cast("long")).as("__wq"))
      .crossJoin(broadcast(kf.select(col("__Nu").as("n_users"))))
      .select(
        col("n_users"),
        coalesce(col("__nm"), lit(0L)).as("n_matched"),
        round(coalesce(col("__ipsq"), lit(0L)).cast("double") / 1e12, 6)
          .as("ips"),
        round(when(col("__wq") > 0,
          col("__ipsq").cast("double") / col("__wq").cast("double")), 6)
          .as("snips"))
  }
}
