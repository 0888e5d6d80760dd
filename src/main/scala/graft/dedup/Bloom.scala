package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{ParameterError, sketch}

/** Bloom-filter n-gram membership — the industrial decontamination
  * shape for reference sets too large to broadcast as grams (Brown 2020
  * appendix C describes filtering against eval sets; production
  * pipelines ship a Bloom filter of reference n-grams to every worker
  * instead of the grams themselves).
  *
  * The filter is represented RELATIONALLY as its set of set bit
  * positions `(pos)` — at most `mBits` rows regardless of reference
  * size, so the probe join always broadcasts (mBits = 2²² → ≤ 4.2 M
  * longs ≈ 33 MB; the gram set it summarizes can be billions of rows).
  * Membership semantics are EXACTLY a Bloom filter's: a gram "hits"
  * iff all k of its bit positions are set, so false positives occur at
  * the standard (1−e^(−kn/m))^k rate and false negatives never —
  * identical, deterministically, in any engine that can compute md5
  * (the DuckDB oracle replicates bit-for-bit).
  *
  * Hashing is Kirsch–Mitzenmacher double hashing (Kirsch &
  * Mitzenmacher 2006: two base hashes h1, h2 derive all k probes as
  * h1 + i·h2 mod m with no loss in the false-positive bound): h1/h2
  * are disjoint 56-bit slices of ONE md5 per gram — one hash
  * evaluation per gram, not k — reduced mod m BEFORE the i·h2
  * multiply so the arithmetic stays far from long overflow (i·h2m <
  * k·m ≤ 2³⁰ for any sane configuration).
  *
  * Scale shape: build = one explode + distinct on the reference side
  * (cost ∝ reference grams, output ≤ mBits); probe = one explode of
  * corpus grams × k positions, a broadcast semi-ish join against the
  * bit relation, and two volume-linear aggregations (per-gram k-count,
  * then per-doc). No corpus×reference join at any point.
  */
object Bloom {

  /** The i-th probe position of `gram` in [0, mBits):
    * (h1 + i·h2) mod m with h1 = md5[1..14], h2 = md5[15..28] forced
    * odd (coprime with any power-of-two m, so the probe sequence
    * cycles through distinct positions). */
  private def probePos(gram: Column, i: Int, mBits: Int): Column = {
    val h1 = conv(substring(md5(gram), 1, 14), 16, 10).cast("long") % mBits
    val h2 = (conv(substring(md5(gram), 15, 14), 16, 10).cast("long")
      .bitwiseOR(lit(1L))) % mBits
    pmod(h1 + lit(i.toLong) * h2, lit(mBits.toLong))
  }

  /** All k probe positions as an array column (codegen'd; the md5
    * subexpressions collapse to one evaluation per slice). */
  private def probePositions(gram: Column, k: Int, mBits: Int): Column =
    array((0 until k).map(i => probePos(gram, i, mBits)): _*)

  private def validate(mBits: Int, k: Int): Unit = {
    if (mBits <= 0) throw new ParameterError(s"mBits must be positive: $mBits")
    if (k <= 0 || k > 16) throw new ParameterError(s"k must be in [1, 16]: $k")
  }

  /** Build the filter over the reference corpus' word n-grams: the
    * DISTINCT set bit positions, ≤ mBits rows. One explode + one
    * distinct (a single shuffle on the position — map-side partials
    * collapse duplicate positions early). */
  def build(
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 5,
      mBits: Int = 1 << 20,
      k: Int = 4): DataFrame = {
    validate(mBits, k)
    sketch.Bloom.setBits(Dedup.shingleRows(ref, idCol, textCol, n),
      probePositions(col("__s"), k, mBits), "pos")
  }

  /** Probe the corpus against a built filter: per doc, the number of
    * distinct n-grams and the number that HIT the filter (all k bits
    * set — reference membership up to the Bloom false-positive rate).
    * `contaminated` flags docs with ≥ minHits hitting grams.
    *
    * Output: (idCol, n_grams, n_hits, contaminated). Docs with fewer
    * than n words have no grams and emit n_grams = 0 (kept, never
    * contaminated — nothing to match on).
    *
    * The filter side is ≤ mBits rows → broadcast by construction; the
    * per-(doc, gram) k-count and per-doc rollup are two volume-linear
    * hash aggregations on the same doc-id prefix. */
  def probe(
      corpus: DataFrame,
      filter: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 5,
      mBits: Int = 1 << 20,
      k: Int = 4,
      minHits: Int = 1): DataFrame = {
    validate(mBits, k)
    if (minHits <= 0) throw new ParameterError(s"minHits must be positive: $minHits")
    val grams = Dedup.shingleRows(corpus, idCol, textCol, n)
      .select(col(idCol), col("__s")).distinct()
    val hits = sketch.Bloom.allSet(grams, Seq(idCol, "__s"),
        probePositions(col("__s"), k, mBits), filter, "pos", k, "__hit")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hits"))
    // left join back so gram-less docs (< n words) appear with 0 grams
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated"))
  }

  /** Build-and-probe composition: flag corpus docs whose n-grams
    * appear in `ref` (up to the Bloom FP rate). The one-call form a
    * decontamination pipeline uses; `build` and `probe` stay public so
    * a filter built once can screen many corpora (the 100 TB shape:
    * the bit relation persists as a tiny parquet, rebuilt only when
    * the reference set changes). */
  def contaminated(
      corpus: DataFrame,
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 5,
      mBits: Int = 1 << 20,
      k: Int = 4,
      minHits: Int = 1): DataFrame =
    probe(corpus, build(ref, idCol, textCol, n, mBits, k),
      idCol, textCol, n, mBits, k, minHits)
}
