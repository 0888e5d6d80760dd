package graft.dedup

import graft.Buckets
import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document fingerprinting by winnowing (Schleimer, Wilkerson, Aiken,
  * SIGMOD 2003 — the MOSS algorithm): hash every character k-gram,
  * slide a w-wide window over the hash sequence, and keep each
  * window's MINIMUM hash. The guarantee: any shared substring of
  * length ≥ w + k − 1 between two documents yields at least one shared
  * fingerprint, while only ~2/(w+1) of all k-grams are kept — the
  * character-level complement to the word-shingle families
  * ([[Dedup.minhashCandidates]] probabilistic, [[SetJoin]] exact-set,
  * [[Dedup.exactSubstringGroups]] exact-substring).
  *
  * Plan shape: k-gram hashing AND window-min selection happen inside
  * ONE native codegen'd expression per row ([[WinnowFingerprints]] —
  * an O(L) pass with a monotonic-deque sliding minimum, zero shuffle,
  * no per-position explode of the corpus); only the ~2/(w+1)-selected
  * fingerprints are exploded. The pair stage is the usual bucketed
  * equi-join with a `winnow_buckets` maxBucket drop+observe guard, so
  * pair mass ∝ shared-fingerprint collisions.
  *
  * Determinism: the hash is an explicit Horner polynomial
  * (base 257 mod 2³¹−1) over character code points — plain integer
  * arithmetic either engine reproduces exactly; no engine-internal
  * hash function is in the result path.
  */
object Winnow {

  private val Base = 257L
  private val Mod = 2147483647L // 2^31 - 1

  /** One-pass scalar kernel behind [[WinnowFingerprints]]: distinct
    * sliding-window minima of the k-gram Horner hashes, as a long
    * array. Two flat primitive arrays (code points + hashes) and a
    * monotonic deque — O(L) time, O(L) allocation per row. This
    * replaced a transform+slice+array_min column chain that allocated
    * L one-char strings plus a fresh w-element array PER WINDOW: same
    * values, but the allocation pressure made wn1 the only catalog
    * query with a ~1.7× run-to-run bench spread (round-6 verdict). */
  def winnowScalar(s: String, k: Int, w: Int): Array[Long] = {
    // code points, matching DuckDB's substring/ascii and Spark's
    // split("")+ascii semantics this formulation replaced
    val cpCount = s.codePointCount(0, s.length)
    val nh = cpCount - k + 1
    if (nh < w) return Array.empty
    val codes = new Array[Int](cpCount)
    var ci = 0
    var idx = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      codes(idx) = cp
      idx += 1
      ci += Character.charCount(cp)
    }
    val hs = new Array[Long](nh)
    var i = 0
    while (i < nh) {
      // per-step reduction: congruent to any reduction schedule, and
      // the intermediate stays under Mod·257 + cp ≈ 5.5e11
      var h = 0L
      var j = 0
      while (j < k) {
        h = (h * Base + codes(i + j)) % Mod
        j += 1
      }
      hs(i) = h
      i += 1
    }
    // monotonic-deque sliding minimum over w consecutive hashes
    val dq = new Array[Int](nh)
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[java.lang.Long]
    val out = new scala.collection.mutable.ArrayBuffer[Long]
    var x = 0
    while (x < nh) {
      while (tail > head && hs(dq(tail - 1)) >= hs(x)) tail -= 1
      dq(tail) = x
      tail += 1
      if (dq(head) <= x - w) head += 1
      if (x >= w - 1) {
        val m = hs(dq(head))
        if (seen.add(m)) out += m
      }
      x += 1
    }
    out.toArray
  }

  /** [[winnowScalar]] boxed as Catalyst ArrayData — the codegen target. */
  def winnowScalarArray(
      s: org.apache.spark.unsafe.types.UTF8String,
      k: Int,
      w: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      winnowScalar(s.toString, k, w))

  /** Distinct winnowed fingerprints per document: `(id, fingerprint)`.
    * Documents shorter than w + k − 1 characters emit nothing. */
  def fingerprints(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 2, s"need k >= 2 and w >= 2, got k=$k w=$w")
    docs
      .select(col(idCol).as("__id"), lower(col(textCol)).as("__lt"))
      .where(length(col("__lt")) >= w + k - 1)
      .select(col("__id").as(idCol),
        explode(graft.functions.WinnowFingerprints.winnowNative(col("__lt"), k, w))
          .as("fingerprint"))
  }

  /** Document pairs sharing ≥ `minShared` winnowed fingerprints:
    * `(doc_a, doc_b, shared)`. Fingerprint buckets above `maxBucket`
    * (boilerplate shared by everything) are dropped before pair
    * expansion — observable via `winnow_buckets`. */
  def fingerprintPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      w: Int = 4,
      minShared: Int = 2,
      maxBucket: Int = 10000): DataFrame = {
    val fps = Buckets.capped(fingerprints(docs, idCol, textCol, k, w),
      Seq("fingerprint"), maxBucket, Buckets.Drop, Some(Buckets.Metric("winnow_buckets")))
      .checkpointed(eager = false)
    fps.select(col("fingerprint"), col(idCol).as("__a"))
      .join(fps.select(col("fingerprint"), col(idCol).as("__b")), Seq("fingerprint"))
      .where(col("__a") < col("__b"))
      .groupBy(col("__a").as("doc_a"), col("__b").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }
}
