package graft.dedup

import graft.Buckets
import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join via prefix filtering (AllPairs,
  * Bayardo et al., WWW 2007 "Scaling Up All Pairs Similarity Search";
  * the length + prefix filters of PPJoin, Xiao et al., WWW 2008).
  *
  * Complements the probabilistic [[Dedup.minhashCandidates]] pipeline:
  * MinHash+LSH trades recall for speed (a pair above threshold can miss
  * every band), while the prefix filter is LOSSLESS — every pair with
  * Jaccard ≥ θ is guaranteed to collide on at least one prefix token,
  * so the output is exactly the θ-similarity join, suitable when the
  * dedup decision must be auditable (legal takedowns, benchmark
  * decontamination with a hard guarantee).
  *
  * Why it scales: each document keeps only its `p = s − ⌈θ·s⌉ + 1`
  * GLOBALLY RAREST tokens as join keys (ordering tokens by ascending
  * corpus frequency — the canonical AllPairs ordering — makes prefix
  * buckets the rare-token buckets), so candidate mass is
  * Σ_rare-token C(df, 2), not C(n, 2). The expensive exact verify runs
  * only on candidate pairs that also pass the length filter
  * (min(s_a,s_b) ≥ θ·max(s_a,s_b)). All joins are shuffle equi-joins on
  * (token) and (doc id) — no cartesian anywhere; at 100 TB the token
  * frequency join and the prefix self-join shuffle ∝ corpus tokens and
  * ∝ collision mass respectively.
  *
  * Degenerate-data guard: a token that is simultaneously globally
  * frequent AND in many docs' prefixes (only possible when θ is low or
  * docs are tiny) would concentrate O(m²) candidate pairs in one task.
  * A prefix bucket above `maxBucket` RAISES, never drops
  * ([[graft.Buckets]]): an overflow voids the exact-join guarantee,
  * this operator's reason to exist over the probabilistic paths. Raise
  * θ or the shingle width — or `maxBucket` when the candidate mass is
  * truly affordable.
  *
  * Cross-engine determinism: the θ comparisons are integer
  * (`inter·10⁶ ≥ round(θ·10⁶)·union`), so no float threshold sits in
  * the filter path; the reported `jaccard` is a single per-row IEEE
  * division.
  */
object SetJoin {

  /** Distinct word-`width`-gram shingle set over a MATERIALIZED word
    * array column (callers project `split(lower(text), " ")` first:
    * passing the split expression itself would re-evaluate it at every
    * `element_at`/`size` reference — measured 7.2 s → 0.6 s on the
    * sf0.1 shingle pass). Docs with fewer than `width` words produce
    * an empty set and drop out. */
  private def shingles(wsCol: Column, width: Int): Column =
    // sequence(0, n) DESCENDS when n < 0 (then element_at(…, 0) throws),
    // so short docs must short-circuit to an empty set before transform
    when(size(wsCol) >= width,
      array_distinct(transform(
        sequence(lit(0), size(wsCol) - width),
        i => concat_ws(" ", (0 until width).map(j => element_at(wsCol, (i + j + 1).cast("int"))): _*))))
      .otherwise(array().cast("array<string>"))

  /** All pairs (id_a < id_b) with shingle-set Jaccard ≥ `theta`:
    * (doc_a, doc_b, inter_size, union_size, jaccard). Exact — no
    * sampling, no hashing; a prefix bucket over `maxBucket` raises at
    * first materialization rather than lose pairs (see object doc). */
  def prefixFilterJoin(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      theta: Double = 0.5,
      shingleWidth: Int = 3,
      maxBucket: Int = 100000): DataFrame = {
    require(theta > 0 && theta <= 1, s"theta must be in (0, 1], got $theta")
    val thetaMicro = math.round(theta * 1e6)

    // (doc, token) pairs — evaluated by three consumers (doc freq,
    // prefix, verify sets), so truncate the shingling work once.
    val tok = docs
      .select(col(idCol).as("__id"), split(lower(col(textCol)), " ").as("__ws"))
      .select(col("__id"), explode(shingles(col("__ws"), shingleWidth)).as("__t"))
      .checkpointed(eager = false)

    // Dictionary-encode the vocabulary: every downstream join/groupBy
    // keys on a LONG token id instead of a ~30-char shingle string
    // (the verify stage shuffles candidate-token mass — narrow keys
    // halve it). The id only needs to be INJECTIVE, not deterministic:
    // the prefix filter is lossless under ANY consistent total order,
    // so the θ-join output is id-assignment-independent.
    val vocab = tok.groupBy("__t")
      .agg(count(lit(1)).as("__df"))
      .withColumn("__tid", monotonically_increasing_id())
    val tokId = tok.join(vocab, "__t")
      .select(col("__id"), col("__tid"), col("__df"))
      .checkpointed(eager = false)

    // Canonical AllPairs ordering: ascending corpus frequency, token id
    // as the total-order tiebreaker. Kept as a SORT KEY inside each
    // doc's array — no global rank materialization (a global
    // row_number over the vocabulary would be a single-partition
    // window; struct sort gives the same order for free).
    // ONE per-doc shuffle serves both pipelines: the frequency-sorted
    // struct array drives the prefix, and re-sorting its tid projection
    // ascending (an in-memory array sort, no second exchange) yields
    // the verify stage's merge-scan array. Checkpointed: three
    // consumers (prefix fan-out + both verify-join sides).
    val perDoc = tokId
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__tid")))).as("__st"),
        count(lit(1)).as("__s"))
      .withColumn("__ta", sort_array(col("__st.__tid")))
      .checkpointed(eager = false)
    // p = s − ⌈θ·s⌉ + 1 rarest tokens are the doc's join keys
    val prefixed = perDoc.select(
      col("__id"), col("__s"),
      slice(col("__st.__tid"), lit(1),
        (col("__s") - ceil(col("__s") * theta) + 1).cast("int")).as("__pfx"))

    // checkpointed: the self-join below would otherwise recompute the
    // whole shingle→freq→sort→prefix pipeline once per aliased side
    // (the dd7 aliased-recompute lesson — measured 11.2 → 2.9 s here)
    // overflow raises inside the one materialization of this frame
    // (graft.Buckets: why not a metric, why not an eager count)
    val prefixRows = prefixed
      .select(col("__id"), col("__s"),
        posexplode(col("__pfx")).as(Seq("__p0", "__tid")))
      .withColumn("__p", col("__p0").cast("long") + 1L).drop("__p0")
    val prefixTok = Buckets.capped(prefixRows, Seq("__tid"), maxBucket,
      Buckets.Raise("prefixFilterJoin", "raise theta or shingleWidth",
        group = "prefix bucket", loss = "the exact-join guarantee cannot hold",
        droppable = false))
      .checkpointed(eager = false)

    // candidate pairs: share a prefix token + two-sided length filter +
    // PPJoin positional filter. The meeting positions (1-based, in the
    // frequency-sorted order) bound the overlap from above —
    // inter ≤ min(pa,pb) − 1 (shared before the meeting) + 1 (the
    // meeting token) + min(sa−pa, sb−pb) (shared after) — and
    // Jaccard ≥ θ needs inter·(10⁶+θµ) ≥ θµ·(sa+sb), so any meeting
    // whose bound falls short is pruned EXACTLY (lossless: it is an
    // upper bound, and a qualifying pair always has a qualifying first
    // meeting).
    val a = prefixTok.select(col("__tid"), col("__id").as("__ida"),
      col("__s").as("__sa"), col("__p").as("__pa"))
    val b = prefixTok.select(col("__tid"), col("__id").as("__idb"),
      col("__s").as("__sb"), col("__p").as("__pb"))
    val cands = a.join(b, Seq("__tid"))
      .where(col("__ida") < col("__idb") &&
        least(col("__sa"), col("__sb")) * lit(1000000L) >= lit(thetaMicro) * greatest(col("__sa"), col("__sb")) &&
        (least(col("__pa"), col("__pb")) +
          least(col("__sa") - col("__pa"), col("__sb") - col("__pb"))) *
          lit(1000000L + thetaMicro) >= lit(thetaMicro) * (col("__sa") + col("__sb")))
      .select("__ida", "__idb").distinct()

    // exact verify on candidates only: each doc's ASCENDING-sorted
    // token-id array meets the pair through two narrow equi-joins and
    // |A∩B| is ONE codegen'd two-pointer merge per pair
    // ([[graft.functions.SortedIntersectCount]]) — nothing shuffles per
    // TOKEN. The round-7 shape exploded (pair × token) rows into a
    // groupBy count, shuffling candidate-token mass; and the round-5
    // "collected-array intersection was 2× slower" measurement predates
    // the dictionary encoding — that dragged ~30-char shingle STRINGS
    // through array_intersect's per-row hash set, where this is 8-byte
    // longs through a primitive loop (measured 3.6 s → 2.5 s on ppj1,
    // er1 7.3 s → 3.7 s at sf0.1 with the shared perDoc shuffle). The
    // arrays ride the perDoc
    // checkpoint above — no second groupBy — and double as the size
    // frame (union via size(), no separate size joins).
    val arr = perDoc.select(col("__id"), col("__ta"))
    cands
      .join(arr.select(col("__id").as("__ida"), col("__ta").as("__taa")), "__ida")
      .join(arr.select(col("__id").as("__idb"), col("__ta").as("__tab")), "__idb")
      .select(col("__ida").as("doc_a"), col("__idb").as("doc_b"),
        graft.functions.SortedIntersect.countNative(
          col("__taa"), col("__tab")).as("inter_size"),
        (size(col("__taa")) + size(col("__tab"))).cast("long").as("__ss"))
      .withColumn("union_size", col("__ss") - col("inter_size"))
      .where(col("inter_size") * lit(1000000L) >= lit(thetaMicro) * col("union_size"))
      .select(col("doc_a"), col("doc_b"), col("inter_size"), col("union_size"),
        (col("inter_size").cast("double") / col("union_size")).as("jaccard"))
  }
}
