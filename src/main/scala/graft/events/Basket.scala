package graft.events

import graft.Buckets
import graft.Checkpoint._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ParameterError

/** Market-basket analysis: frequent co-occurring item pairs and the
  * association rules (confidence / lift) mined from them — the Apriori
  * pair stage (Agrawal & Srikant 1994) every retail/recommendation
  * pipeline starts from, and at LLM scale the same shape that surfaces
  * co-occurring tags, tools, or document labels.
  *
  * Scale shape: pair generation is per-basket (collect_list + double
  * explode — ONE scan, no self-equi-join re-running the upstream
  * pipeline per aliased side), so pair mass is Σ sz(b)² — bounded by
  * the `maxBasket` guard, never corpus². A degenerate "basket" (a
  * default/placeholder basket id absorbing millions of items) is
  * DROPPED before its list materializes and is observable via the
  * `basket_sizes` observe metric (the dd6 discipline). Everything
  * downstream lives on the pair/item frames: one shuffle to count
  * pairs, item counts broadcast (bounded by the item catalog).
  */
object Basket {

  /** Distinct (basket, item) incidence with the maxBasket guard
    * applied, plus the guarded basket count as a 1-row frame.
    *
    * Plan shape: ONE up-front repartition on the basket key feeds the
    * whole derivation — HashPartitioning(basket) satisfies the
    * clustered distribution of the (basket, item) distinct AND of the
    * per-basket size window, so both run exchange-free on top of it
    * (measured: 1M-basket pairs 12.5 → 9.1 s, 5M 29 → 18 s). The
    * checkpoint that shares the guarded incidence across consumers
    * erases partitioning info (ExistingRDD), so each consumer pays its
    * own aggregation exchange after it — the price of not recomputing
    * the distinct+guard per consumer. */
  private def incidence(
      items: DataFrame,
      basketCol: String,
      itemCol: String,
      maxBasket: Int): (DataFrame, DataFrame) = {
    if (maxBasket < 2)
      throw new ParameterError(s"maxBasket must be >= 2: $maxBasket")
    val incid = items
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .where(col("__b").isNotNull && col("__i").isNotNull)
      .repartition(col("__b"))
      .distinct()
    val bi = Buckets.capped(incid, Seq("__b"), maxBasket, Buckets.Drop,
      Some(Buckets.Metric("basket_sizes", maxField = "max_basket")))
      .checkpointed(eager = false) // feeds N, item counts, and pairs
    val n = bi.select(col("__b")).distinct()
      .agg(count(lit(1)).as("__N"))
    (bi, n)
  }

  /** Item-pair co-occurrence counts within the guarded baskets. */
  private def pairCounts(bi: DataFrame, minCount: Long): DataFrame = {
    if (minCount < 1)
      throw new ParameterError(s"minCount must be >= 1: $minCount")
    val lists = bi
      .where(col("__n") > 1) // singleton baskets make no pairs
      .groupBy(col("__b"))
      .agg(collect_list(col("__i")).as("__m"))
    Buckets.pairs(lists, "__m", "__x", "__y")(_ < _)
      .groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** MB1: frequent item pairs — baskets containing BOTH items, with
    * support = n / |guarded baskets| (distinct incidence: an item twice
    * in one basket counts once; support's denominator includes
    * singleton baskets — they can't host a pair but are baskets). Exact
    * integer counts; support is one IEEE division, 6dp.
    *
    * Output (item1, item2, n, support), n ≥ `minCount`. */
  def frequentPairs(
      items: DataFrame,
      basketCol: String,
      itemCol: String,
      minCount: Long,
      maxBasket: Int = 1000): DataFrame = {
    val (bi, n) = incidence(items, basketCol, itemCol, maxBasket)
    pairCounts(bi, minCount)
      .crossJoin(broadcast(n)) // 1-row grouping-free agg
      .select(
        col("__x").as("item1"), col("__y").as("item2"), col("n"),
        round(col("n").cast("double") / col("__N").cast("double"), 6)
          .as("support"))
  }

  /** MB2: association rules from the frequent pairs, BOTH directions:
    * confidence(A→B) = n(A,B)/n(A), lift = n(A,B)·N / n(A) / n(B)
    * (kept in DOUBLE after the first product — the BIGINT n(A)·n(B)
    * product would overflow past ~3e9 baskets). Item counts join by
    * broadcast: the item frame is bounded by the catalog, not the
    * basket log. Exact integer counts; confidence/lift 6dp.
    *
    * Output (antecedent, consequent, n, n_ante, n_cons, confidence,
    * lift) for pairs with n ≥ `minCount`. */
  def associationRules(
      items: DataFrame,
      basketCol: String,
      itemCol: String,
      minCount: Long,
      maxBasket: Int = 1000): DataFrame = {
    val (bi, n) = incidence(items, basketCol, itemCol, maxBasket)
    val itemCounts = bi.groupBy(col("__i")).agg(count(lit(1)).as("__ni"))
    val pairs = pairCounts(bi, minCount)
      .checkpointed(eager = false) // both rule directions reuse it
    val rules = pairs
      .select(col("__x").as("antecedent"), col("__y").as("consequent"),
        col("n"))
      .unionByName(pairs.select(col("__y").as("antecedent"),
        col("__x").as("consequent"), col("n")))
    rules
      .join(broadcast(itemCounts.select(col("__i").as("antecedent"),
        col("__ni").as("n_ante"))), Seq("antecedent"))
      .join(broadcast(itemCounts.select(col("__i").as("consequent"),
        col("__ni").as("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(n))
      .select(
        col("antecedent"), col("consequent"), col("n"),
        col("n_ante"), col("n_cons"),
        round(col("n").cast("double") / col("n_ante").cast("double"), 6)
          .as("confidence"),
        round(col("n").cast("double") * col("__N") / col("n_ante")
          / col("n_cons"), 6).as("lift"))
  }
}
