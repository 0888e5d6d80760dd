package graft.text

import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ParameterError

/** Byte-pair-encoding vocabulary learning (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * the tokenizer-training stage of an LLM data pipeline, distributed
  * the way the algorithm actually factors:
  *
  *   - The corpus is touched ONCE, to build the word-frequency table
  *     (one explode + one hash agg — the only corpus-scale work).
  *   - Every merge iteration runs on that WORD-FREQUENCY table, which
  *     is bounded by |distinct words|, orders of magnitude below
  *     corpus size at 100 TB (and Zipf-truncatable via `minFreq`).
  *   - Pair counting is one explode + hash agg over the vocab table;
  *     the winning pair is a TakeOrderedAndProject row (deterministic
  *     (freq DESC, left, right) tie-break), applied with a classic
  *     greedy left-to-right fold per word.
  *
  * The greedy fold is a sequential recurrence per word (merge results
  * feed the next position's match), so it is NOT SQL-expressible — a
  * Spark `aggregate` higher-order function evaluates it. HOFs don't
  * whole-stage-codegen, which is why the fold is confined to the
  * vocab table: per iteration it evaluates |vocab| times, never
  * |corpus| times. Encoding a corpus reuses the same factoring: words
  * tokenize once in the vocab, then a broadcastable (word → tokens)
  * map joins onto the corpus stream ([[encode]]).
  */
object Bpe {

  /** End-of-word marker appended to every word's symbol sequence (the
    * Sennrich `</w>`): distinguishes "est"-as-suffix from "est"-as-
    * prefix. A literal `_` — the char stream is the [[TextAnalysis
    * .normWords]] alphabet [a-z0-9], so the marker can't collide. */
  val EndMarker = "_"

  /** Corpus word-frequency table `(word, freq)` — the bounded working
    * set every BPE iteration runs on. `minFreq` drops the Zipf tail
    * (a frequency-1 word can never win a merge against corpus-scale
    * pairs, but at 100 TB the tail dominates |vocab|). */
  def wordFreqs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minFreq: Long = 1L): DataFrame =
    graft.dedup.Dedup.shingleRows(docs, idCol, textCol, n = 1)
      .where(col("__s") =!= "")
      .groupBy(col("__s").as("word"))
      .agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minFreq)

  /** Adjacent symbol pairs of a space-joined sequence, weighted by
    * `freq`: `(l, r, pair_freq)`. */
  private def pairCounts(vocab: DataFrame): DataFrame = {
    val t = split(col("__seq"), " ")
    val n = size(t)
    vocab
      .where(n >= 2)
      .select(col("freq"),
        explode(arrays_zip(
          slice(t, lit(1), n - 1).as("__l"),
          slice(t, lit(2), n - 1).as("__r"))).as("__p"))
      .groupBy(col("__p.__l").as("l"), col("__p.__r").as("r"))
      .agg(sum(col("freq")).as("pair_freq"))
  }

  /** One classic greedy left-to-right merge pass of the constant pair
    * (l, r) over a space-joined symbol sequence — the sequential fold:
    * a merged symbol becomes the new "previous", so `aaa` under (a,a)
    * gives `[aa, a]` and `abab` under (a,b) gives `[ab, ab]`, exactly
    * the reference algorithm. */
  private def mergePass(seq: Column, l: String, r: String): Column =
    array_join(
      aggregate(
        split(seq, " "),
        array().cast("array<string>"),
        (acc, t) =>
          when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && t === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(t)))),
      " ")

  /** The initial symbol sequence of a word: space-joined characters
    * plus the end marker. */
  private def charSeq(word: Column): Column =
    concat(array_join(split(word, ""), " "), lit(" " + EndMarker))

  /** Step-0 pair statistics `(l, r, pair_freq)`: adjacent character
    * pairs (end marker included) over the word-frequency table — the
    * distribution the FIRST merge selects from, exposed so the
    * corpus-scale half of the algorithm (the only part SQL can
    * express) is oracle-checkable end-to-end. */
  def initialPairCounts(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minFreq: Long = 1L): DataFrame =
    pairCounts(wordFreqs(docs, idCol, textCol, minFreq)
      .select(charSeq(col("word")).as("__seq"), col("freq")))

  /** Learn `numMerges` BPE merge operations from the corpus. Returns
    * `(step, left, right, pair_freq)`, step 1..numMerges in learned
    * order. Each step's winning pair is a bounded driver row (the
    * requireFresh cost class); stops early (fewer rows) if no pair
    * remains. The evolving vocab is eagerly checkpointed per step —
    * bounded by |vocab|, referenced by the pair count AND the next
    * pass, and K chained HOF folds would otherwise stack in one
    * expression tree.
    *
    * SCALE BOUND — the loop launches one Spark job (pair agg + top-1)
    * PER MERGE, so wall-clock is numMerges × a vocab-bounded job:
    * right for the analysis-scale vocabularies this engine trains
    * (10s-100s of merges — each job is sub-second once the vocab
    * table is checkpointed), and right for ORACLING: every step is a
    * relational aggregate DuckDB replays. A production 50k-merge
    * tokenizer runs [[learnMergesHeap]] instead — the driver-heap
    * implementation over the same (bounded) word-frequency table,
    * spec-pinned to produce the identical merge list. */
  def learnMerges(
      docs: DataFrame,
      numMerges: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      minFreq: Long = 1L): DataFrame = {
    if (numMerges <= 0)
      throw new ParameterError(s"numMerges must be positive: $numMerges")
    val spark = docs.sparkSession
    // r13 (guide §2 — job latency): LAZY checkpoints. Each step's top-1
    // job materializes the current vocab's blocks as a side effect, so
    // the loop costs ONE job per merge instead of two (eager checkpoint
    // job + top-1 job); the next step's mergePass then reads the cached
    // blocks. Lineage still truncates at every step — the chained HOF
    // folds never stack in one expression tree.
    var vocab = wordFreqs(docs, idCol, textCol, minFreq)
      .select(charSeq(col("word")).as("__seq"), col("freq"))
      .checkpointed(eager = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("pair_freq").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) { exhausted = true }
      else {
        val (l, r, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step, l, r, f))
        vocab = vocab
          .select(mergePass(col("__seq"), l, r).as("__seq"), col("freq"))
          .checkpointed(eager = false)
        step += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("step", "left", "right", "pair_freq")
      .select(col("step").cast("long").as("step"), col("left"), col("right"),
        col("pair_freq"))
  }

  /** Vocabulary-scale BPE training — the production path the
    * [[learnMerges]] scaladoc names as the algorithm of record
    * (Sennrich et al. 2016, the subword-nmt implementation shape): the
    * ONLY corpus-scale pass ([[wordFreqs]]) stays distributed; the
    * vocab-bounded word-frequency table collects to the driver
    * (distinct WORDS, not corpus rows — the documented bounded-collect
    * class) and the merge loop runs on the heap with INCREMENTAL pair
    * statistics plus a lazy-deletion priority queue. Each merge costs
    * O(words containing the pair), not a Spark job, so 50k merges are
    * minutes, not 50k job launches.
    *
    * Output and tie-break are IDENTICAL to [[learnMerges]]
    * (pair_freq desc, then left, then right; leftmost-non-overlapping
    * merge within a word) — BpeSpec pins the equality. */
  def learnMergesHeap(
      docs: DataFrame,
      numMerges: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      minFreq: Long = 1L): DataFrame = {
    if (numMerges <= 0)
      throw new ParameterError(s"numMerges must be positive: $numMerges")
    val spark = docs.sparkSession
    val wf = wordFreqs(docs, idCol, textCol, minFreq)
      .select(col("word"), col("freq")).collect()
    // symbol sequences: code points + end marker (charSeq semantics)
    val words = new Array[scala.collection.mutable.ArrayBuffer[String]](wf.length)
    val freqs = new Array[Long](wf.length)
    var wi = 0
    while (wi < wf.length) {
      val w = wf(wi).getString(0)
      val buf = new scala.collection.mutable.ArrayBuffer[String](
        w.length + 1)
      var ci = 0
      while (ci < w.length) {
        val cp = w.codePointAt(ci)
        buf += new String(Character.toChars(cp))
        ci += Character.charCount(cp)
      }
      buf += EndMarker
      words(wi) = buf
      freqs(wi) = wf(wi).getLong(1)
      wi += 1
    }
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val index = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def updCounts(
        w: Int, delta: Long,
        touched: scala.collection.mutable.Set[(String, String)]): Unit = {
      val s = words(w)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val nv = counts.getOrElse(p, 0L) + delta
        if (nv == 0L) counts.remove(p) else counts(p) = nv
        touched += p
        if (delta > 0)
          index.getOrElseUpdate(
            p, scala.collection.mutable.Set.empty[Int]) += w
        i += 1
      }
    }
    val init = scala.collection.mutable.Set.empty[(String, String)]
    words.indices.foreach(w => updCounts(w, freqs(w), init))
    // max-heap: pair_freq desc, then left asc, then right asc (the
    // learnMerges/oracle tie-break). Stale entries are skipped by the
    // freshness check against the live count.
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val cl = b._2.compareTo(a._2)
          if (cl != 0) cl else b._3.compareTo(a._3)
        }
      }
    }
    val pq = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](ord)
    counts.foreach { case ((l, r), f) => pq.enqueue((f, l, r)) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= numMerges && pq.nonEmpty) {
      var top: (Long, String, String) = null
      while (top == null && pq.nonEmpty) {
        val cand = pq.dequeue()
        if (counts.get((cand._2, cand._3)).contains(cand._1)) top = cand
      }
      if (top != null) {
        val (f, l, r) = top
        merges += ((step, l, r, f))
        val touched = scala.collection.mutable.Set.empty[(String, String)]
        // the index can hold stale word ids (a prior merge may have
        // destroyed the pair in that word) — the adjacency re-check in
        // the merge scan makes them harmless
        index.getOrElse((l, r), scala.collection.mutable.Set.empty[Int])
          .toArray.foreach { w =>
            val s = words(w)
            var has = false
            var i = 0
            while (!has && i < s.length - 1) {
              has = s(i) == l && s(i + 1) == r
              i += 1
            }
            if (has) {
              updCounts(w, -freqs(w), touched)
              // leftmost-non-overlapping merge — the mergePass fold
              val m = new scala.collection.mutable.ArrayBuffer[String](s.length)
              var j = 0
              while (j < s.length) {
                if (j < s.length - 1 && s(j) == l && s(j + 1) == r) {
                  m += l + r
                  j += 2
                } else {
                  m += s(j)
                  j += 1
                }
              }
              words(w) = m
              updCounts(w, freqs(w), touched)
            }
          }
        // a decremented pair's old heap entries are stale: re-enqueue
        // the live count so it stays reachable
        touched.foreach { p =>
          counts.get(p).foreach(f2 => pq.enqueue((f2, p._1, p._2)))
        }
        step += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("step", "left", "right", "pair_freq")
      .select(col("step").cast("long").as("step"), col("left"), col("right"),
        col("pair_freq"))
  }

  /** Tokenize `docs` with a learned merge table: `(idCol, n_tokens)` —
    * the BPE token count per document (the budget/packing input).
    * Factoring: the merge list is a bounded driver collect; each doc's
    * DISTINCT words tokenize once in a derived word table (the same
    * vocab-bounded fold as training), which then equi-joins back onto
    * the corpus word stream — the corpus itself never runs a fold.
    * Docs with no words emit 0. */
  def encode(
      docs: DataFrame,
      mergeTable: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // bounded driver collect: the learned merge list (≤ numMerges rows)
    val merges = mergeTable
      .select(col("step"), col("left"), col("right"))
      .collect().sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2)))
    val words = graft.dedup.Dedup.shingleRows(docs, idCol, textCol, n = 1)
      .where(col("__s") =!= "")
    val vocab = words.select(col("__s").as("word")).distinct()
      .withColumn("__seq",
        merges.foldLeft(charSeq(col("word")))((s, m) => mergePass(s, m._1, m._2)))
      .select(col("word"), (size(split(col("__seq"), " "))).as("__nt"))
    docs.select(col(idCol)).distinct()
      .join(
        words.join(vocab, col("__s") === col("word"))
          .groupBy(col(idCol)).agg(sum(col("__nt")).as("n_tokens")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }
}
