package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom filter (Bloom 1970) as pure relational algebra — the
  * no-false-negative membership summary that pre-filters expensive
  * lookups: a key is "maybe present" iff all k of its hash bits are
  * set, and "definitely absent" otherwise. The canonical 100 TB use is
  * the decontamination/anti-join pre-filter: probe the bounded bit set
  * before shipping keys into a corpus-scale join.
  *
  * Build shape: keys are FIRST reduced to distinct (map-side combine),
  * each fans out to k bit positions, and ONE distinct produces the set
  * bit frame — a bounded artifact (≤ mBits rows) that broadcasts
  * anywhere. Bits come from the catalog's md5 unit hash
  * (engine-independent by construction — DuckDB spells the same
  * bytes), so both the filter and its false positives are
  * deterministic and oracle-replayable.
  *
  * Filters built on disjoint shards MERGE by plain union+distinct
  * (bitwise OR in relational form), the property that makes the build
  * a partial aggregate rather than a scan.
  */
object Bloom {

  /** Hash-`i` bit position for a key: md5("bloom i|key") folded into
    * [0, mBits). */
  def bitPos(key: Column, i: Int, mBits: Int): Column =
    pmod(conv(substring(md5(concat_ws("|", lit(s"bloom$i"), key)), 1, 8),
      16, 10).cast("long"), lit(mBits.toLong))

  private def bitPositions(key: Column, k: Int, mBits: Int): Column =
    array((0 until k).map(i => bitPos(key, i, mBits)): _*)

  /** Build the set-bit frame from raw rows: per-key distinct, k-way
    * fan-out, one distinct — ≤ mBits rows. */
  def build(df: DataFrame, keyCol: String, k: Int, mBits: Int): DataFrame = {
    require(k >= 1 && k <= 16, s"k in [1,16]: $k")
    require(mBits >= 2, s"mBits >= 2: $mBits")
    setBits(df.select(col(keyCol)).distinct(), bitPositions(col(keyCol), k, mBits), "bit")
  }

  /** Membership probes for a key frame: `(keyCol, maybe_present)`.
    * Inserted keys ALWAYS probe true (no false negatives — every one of
    * their bits was set by construction); absent keys probe true only
    * on a k-bit collision (the false-positive rate the sizing
    * controls). The bit frame is bounded and broadcast; a LEFT join
    * keeps never-matching keys in the output as definite negatives. */
  def probe(keys: DataFrame, bloom: DataFrame, keyCol: String, k: Int, mBits: Int): DataFrame =
    allSet(keys, Seq(keyCol), bitPositions(col(keyCol), k, mBits), bloom, "bit", k,
      "maybe_present")

  /** The relational filter core, shared with [[graft.dedup.Bloom]]:
    * each caller passes its own hash recipe as `positions` (an array of
    * k bit positions per row). The set-bit frame is the distinct
    * positions over `rows`, in column `bitCol`. */
  private[graft] def setBits(rows: DataFrame, positions: Column, bitCol: String): DataFrame =
    rows.select(explode(positions).as(bitCol)).distinct()

  /** Per distinct `keys` group of `rows`: whether all k `positions` are
    * set in `bits` (a broadcast left join, then set count == k). */
  private[graft] def allSet(rows: DataFrame, keys: Seq[String], positions: Column,
      bits: DataFrame, bitCol: String, k: Int, outCol: String): DataFrame =
    rows.select(keys.map(col) :+ explode(positions).as("__pos"): _*)
      .join(broadcast(bits.select(col(bitCol).as("__set"))),
        col("__pos") === col("__set"), "left")
      .groupBy(keys.map(col): _*)
      .agg((count(col("__set")) === k).as(outCol))
}
