package graft.panel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.panel.Panel.Keys
import graft.Exact.Pico

/** Corporate-action price adjustment — the split/dividend back-adjustment
  * every continuous price series needs (the reference delegates it to its
  * data layer: `CONT_FUT`-adjusted scans, base.py:1247; here it's an
  * operator so raw bars + an actions table stay the storage contract).
  *
  * Back-adjustment convention (pandas/yfinance style): a bar at date t is
  * multiplied by the product of the factors of every action STRICTLY
  * after t — a 2:1 split (factor 0.5) halves all history before it, and
  * the most recent bars are untouched.
  *
  * Plan: NO joins — the actions rows are unioned into the panel stream
  * and ONE descending window over the sid partitioning (the W family's
  * existing exchange) accumulates the future factor mass; bars read it
  * as a running sum. Exactness: per-action ln(factor) is quantized to
  * integer nano-nats once, so the cross-action accumulation is an exact
  * integer sum under any partitioning (the unigram-LM trick); the one
  * exp per bar is libm (≤1 ulp cross-engine) and the outputs are
  * rounded (factor 9dp, price 6dp) below that noise floor.
  */
object Adjustments {

  /** Back-adjust `priceCol` for the actions table (`sid`, `date`,
    * `factor`): output = panel columns + `adj_factor` (9dp) +
    * `adj_<priceCol>` (6dp). Non-positive factors fail loudly (a zero
    * factor would silently zero all history). Same-date actions apply
    * only to EARLIER bars, matching the convention above; multiple
    * actions per sid compose multiplicatively. The input panel must be
    * one row per (group, sid, date) — the P-family contract. */
  def backAdjust(
      panel: DataFrame,
      actions: DataFrame,
      priceCol: String = "close")(implicit k: Keys): DataFrame = {
    val pico = Pico.long(when(col("factor") <= 0 || col("factor").isNull,
        raise_error(format_string(
          "adjustment factor must be positive: sid %s date %s factor %s",
          col(k.sid).cast("string"), col(k.dateCol).cast("string"),
          col("factor").cast("string"))).cast("double"))
        .otherwise(log(col("factor"))))
    val evts = actions.select(
      (k.group.map(col) :+ col(k.sid) :+ col(k.dateCol) :+
        lit(1).as("__tag") :+ pico.as("__lq")): _*)
    val bars = panel
      .withColumn("__tag", lit(0))
      .withColumn("__lq", lit(null).cast("long"))
    // descending scan: at a bar row the running sum holds exactly the
    // actions with date > bar date (same-date actions sort AFTER the
    // bar via the tag) — the AsOf union trick, reversed; the panel's
    // other columns ride through the union (null on action rows)
    val w = Window
      .partitionBy((k.group :+ k.sid).map(col): _*)
      .orderBy(col(k.dateCol).desc +: col("__tag").asc +: Nil: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars.unionByName(evts, allowMissingColumns = true)
      .withColumn("__ls", sum(col("__lq")).over(w))
      .where(col("__tag") === 0)
      .withColumn("adj_factor",
        round(exp(coalesce(col("__ls"), lit(0L)) / Pico.factor), 9))
      .withColumn(s"adj_$priceCol", round(col(priceCol) * col("adj_factor"), 6))
      .drop("__tag", "__lq", "__ls")
  }
}
