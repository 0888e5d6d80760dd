package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full default backtest pipeline (SURVEY §3.1) over the
    * supplier×ship-day price panel. */
  def entry(spark: SparkSession): DataFrame =
    Queries.all("backtest_pipeline")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    disjoint(Queries.all, TextQueries.all)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ops whose hash-engine internals
    * are not SQL-expressible (driver records a rows-only check). */
  def oracleSql: Map[String, String] = disjoint(Oracles.all, TextOracles.all)

  /** `a ++ b` for the halves of a catalog, failing when an id is in
    * both: `++` would let the second half's entry silently shadow the
    * first's, and the catalog's split files make an accidental re-add
    * in the wrong half easy. */
  private[graft] def disjoint[V](a: Map[String, V], b: Map[String, V]): Map[String, V] = {
    val dup = a.keySet.intersect(b.keySet)
    require(dup.isEmpty, s"catalog id in both halves: ${dup.toSeq.sorted.mkString(", ")}")
    a ++ b
  }
}
