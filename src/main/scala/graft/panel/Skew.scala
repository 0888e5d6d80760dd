package graft.panel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ParameterError

/** Skew handling for shuffled equi-joins (SURVEY scale rules; the
  * technique the engine reaches for when AQE's runtime skew-split is not
  * available — e.g. a deliberately partitioned write, static plans,
  * strategies pinned by hints, or a skew so hot a single post-split
  * partition still dominates).
  *
  * The problem shape: a fact table joining on a LOW-CARDINALITY or
  * heavy-tailed key (3 returnflags, one bot user, one giant domain)
  * sort-merges into as many tasks as there are distinct hot keys — a
  * 1000-executor cluster idles behind 3 stragglers.
  *
  * `saltedJoin` re-keys the join on (key, salt): each fact row takes ONE
  * salt ∈ [0, salts) from its position (`monotonically_increasing_id`),
  * so even a hot key made of identical rows spreads, and the
  * small-but-unbroadcastable (dim) side replicates every row once per
  * salt value, so one hot key's rows spread over `salts` reducers
  * instead of melting one. The salt need not be stable across runs: it
  * never reaches the output, and whatever salt a row takes, exactly one
  * dim replica carries it. Join cost |fact| + |dim|·salts, parallelism
  * min(distinct keys · salts, partitions) — use for dims too big to
  * broadcast but far smaller than the fact side.
  *
  * Result-identical to the plain equi-join BY CONSTRUCTION: every fact
  * row meets every dim row of its key exactly once (the dim replica
  * with the matching salt), for any `joinType` the fact side leads.
  * The catalog oracles therefore run the PLAIN join — the
  * hash-equality proof that salting changed the plan, not the answer.
  */
object Skew {

  /** `fact` ⋈ `dim` on `key` (`joinType`, default inner), spread over
    * `salts` sub-keys. */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      salts: Int,
      joinType: String = "inner"): DataFrame = {
    if (salts < 1) throw new ParameterError(s"salts must be >= 1: $salts")
    // a long salt: an int one shrinks the fact side's size estimate and
    // can flip a broadcast to build the fact side (j15 at sf0.01 and sf0.1)
    val saltedFact = fact.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salts.toLong)))
    val saltedDim = dim.withColumn(
      "__salt", explode(sequence(lit(0L), lit(salts - 1L))))
    saltedFact
      .join(saltedDim, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }
}
