package graft

import graft.Checkpoint._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.{LangModel, Packing, Pii, Retrieval, Sampling, TextAnalysis}
import graft.Exact.Micro

/** LLM-training-data-pipeline operator queries: text analysis, dedup,
  * similarity search, multimodal plumbing — over the `documents` and
  * `embeddings` tables. Oracles in [[TextOracles]] (simhash and the
  * mapPartitions feature extractor are not SQL-expressible → rows-only).
  */
object TextQueries {
  import Queries.t

  /** The sim7/sim8 shared index fixture: label-seeded centroids and the
    * 8×8-dim sub-codebook from the 8 lowest-id embeddings — ONE recipe,
    * so the "sim8 is result-identical to sim7" invariant (they share an
    * oracle) can't drift. Both frames are dimension-sized (|labels| and
    * m×k_sub rows) and consumed 2-4 times each downstream (assignCells
    * broadcast, pqEncode broadcast, shape validation, index writes) —
    * lazily checkpointed so the embeddings scan + groupBy + join behind
    * them runs once, not once per consumer (r13, the dd4
    * aliased-recompute policy). */
  private def ivfFixture(embs: DataFrame): (DataFrame, DataFrame) = {
    val centroids = embs
      .groupBy(col("label")).agg(min(col("vec_id")).as("__cid"))
      .join(embs.select(col("vec_id").as("__cid"), col("embedding").as("centroid")),
        "__cid")
      .select(col("label").as("cell_id"), col("centroid"))
      .checkpointed(eager = false)
    val cb = embs.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("code"),
        posexplode(transform(sequence(lit(0), lit(7)),
          sub => slice(col("embedding"), sub * 8 + 1, lit(8))))
          .as(Seq("subspace", "subcentroid")))
      .select(col("subspace"), col("code"), col("subcentroid"))
      .checkpointed(eager = false)
    (centroids, cb)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- text analysis ----
    "tx1_token_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("token_count"),
        length(col("text")).cast("long").as("char_len"),
        TextAnalysis.charLenTokens(col("text")).as("bpe_estimate"),
        TextAnalysis.meanWordLength(col("text")).as("mean_word_len"))
    }),

    "tx5_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ws_tokens"))
    }),

    "tx2_lang_id" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_id"),
        TextAnalysis.langScore(col("text"), "en").as("en_score"))
    }),

    "tx3_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        round(TextAnalysis.alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(TextAnalysis.digitRatio(col("text")), 6).as("digit_ratio"))
    }),

    "tx4_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.contentHash(col("text")).as("content_md5"),
        TextAnalysis.canonicalFingerprint(col("text")).as("canonical_fp"))
    }),

    // deterministic stratified sampling: keep all of src0, a quarter of
    // src1, a tenth of everything else — membership is a stable id-hash
    // (reproducible across runs/engines/cluster sizes, no RNG)
    "sp1_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "source",
        rates = Map("src0" -> 1.0, "src1" -> 0.25),
        defaultRate = 0.1, seed = "corpus-v1")
        .select(col("doc_id"), col("source"))),

    // deterministic 80/10/10 train/val/test split — full membership map
    // exactly-7-per-source deterministic eval sample
    "sp6_k_per_stratum" -> ((s, dir) =>
      Sampling.sampleKPerStratum(t(s, dir, "documents"), "doc_id", "source",
        k = 7, seed = "r5")
        .select(col("source"), col("doc_id"))),

    "sp2_split" -> ((s, dir) =>
      Sampling.splitByHash(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))),

    // sequence chunking: fixed 64-token windows, stride 48 (16-token
    // overlap) — the standard context-window prep; empty docs drop out
    "tx6_chunks" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.chunks(col("text"), chunkSize = 64, stride = 48))
            .as("c"))
        .select(col("doc_id"), col("c.chunk_id"), col("c.n_tokens"),
          md5(col("c.chunk_text")).as("chunk_md5"))),

    // corpus statistics: the 20 most frequent word-trigrams (count desc,
    // n-gram asc tiebreak) — one count agg over the shingle stream plus
    // a top-k that Spark 4 executes rank-limited (WindowGroupLimit), so
    // only k rows per partition survive to the final sort
    "tx7_top_ngrams" -> ((s, dir) =>
      Dedup.shingleRows(t(s, dir, "documents"))
        .groupBy(col("__s").as("ngram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(20)),

    // Gopher-style repetition/boilerplate filter (Rae et al. 2021 §A1.1):
    // per-doc n-gram repetition fractions + line-level boilerplate
    // signals + the composite keep verdict — ONE native one-pass struct
    // per doc on the scan (GopherSignals), shuffle-free; the column-
    // algebra reference forms are equivalence-pinned in TextFilterSpec
    "tx8_repetition" -> ((s, dir) => {
      val g = TextAnalysis.gopherSignals(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        g.getField("top2gram_frac").as("top2gram_frac"),
        g.getField("dup3gram_frac").as("dup3gram_frac"),
        g.getField("dup_line_frac").as("dup_line_frac"),
        g.getField("symbol_ratio").as("symbol_ratio"),
        g.getField("keep").cast("int").as("keep"))
    }),

    // PII scrub: the corpus has no organic PII, so the query plants a
    // deterministic contact string derived from doc_id (identically in
    // the oracle SQL) and then counts + redacts it — pinning pattern
    // semantics end-to-end, not just on empty input
    "tx9_pii" -> ((s, dir) => {
      val planted = concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or 415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".1 ssn 123-45-6789"))
      t(s, dir, "documents").select(
        col("doc_id"),
        Pii.emailCount(planted).as("n_email"),
        Pii.ipv4Count(planted).as("n_ipv4"),
        Pii.phoneCount(planted).as("n_phone"),
        Pii.ssnCount(planted).as("n_ssn"),
        md5(Pii.redact(planted)).as("redacted_md5"))
    }),

    // GPT-style sequence packing: 8 independent md5-sharded token
    // streams, 512-token budget — one shuffle on shard, per-shard
    // running sum, deterministic across reruns/cluster sizes
    "pk1_pack_sequences" -> ((s, dir) =>
      Packing.packSequences(t(s, dir, "documents"), "doc_id", "text",
        budget = 512, shards = 8)),

    // ---- PK2: packing efficiency report — per-shard sequence count,
    // token mass, and tail waste over pk1's packing: the fill-rate
    // number a training-data team watches (waste = capacity of the
    // shard's sequences minus tokens placed; only each shard's LAST
    // sequence can be partial, so waste < 512 per shard) ----
    "pk2_pack_efficiency" -> ((s, dir) => {
      val packed = Packing.packSequences(t(s, dir, "documents"),
        "doc_id", "text", budget = 512, shards = 8)
      packed.groupBy(col("shard"))
        .agg(
          (max(col("seq_id")) + 1L).as("n_seqs"),
          sum(col("tok_in_seq")).as("total_tokens"),
          count(lit(1)).as("n_doc_spans"))
        .withColumn("waste_tokens",
          col("n_seqs") * 512L - col("total_tokens"))
    }),

    // BM25 top-20 for a fixed query — per-term tf as column algebra on
    // the scan, corpus stats as ONE broadcast scalar row, fixed-order
    // term-score summation for bit determinism
    "ir1_bm25" -> ((s, dir) =>
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "join", "window"))),

    // ---- IR5: Dirichlet query-likelihood ranking — the LM-retrieval
    // counterpart to ir1 on the same query terms; cf=0 terms drop ----
    "ir5_query_likelihood" -> ((s, dir) =>
      Retrieval.queryLikelihoodTopK(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "join", "window"))),

    // ---- SP16: curriculum ordering — quality-band round-robin with
    // the global position computed by exact integer arithmetic over
    // the ≤ 10-row band-size frame, never a global rank window ----
    "sp16_curriculum" -> ((s, dir) =>
      graft.text.Sampling.curriculumOrder(
        Parallelism.spread(t(s, dir, "documents"), col("doc_id")), "doc_id",
        graft.text.TextAnalysis.qualityScore(col("text")), bands = 10)),

    // sparse tf-idf document vectors, hapax tail pruned at df >= 2
    "ir2_tfidf" -> ((s, dir) =>
      Retrieval.tfidf(t(s, dir, "documents"), "doc_id", "text", minDf = 2)),

    // token-budget selection: keep the highest-quality docs until a
    // 10k-token budget fills — score histogram + bounded cumulative
    // window + boundary-bin hash sampling, never a global sort
    "sp5_token_budget" -> ((s, dir) =>
      Sampling.selectByTokenBudget(
        Parallelism.spread(t(s, dir, "documents"), col("doc_id")), "doc_id",
        TextAnalysis.qualityScore(col("text")),
        TextAnalysis.tokenCount(col("text")),
        budget = 10000)
        .select(col("doc_id"))),

    // ---- SP13: per-source token budgets — every source fills 300
    // tokens with its own best docs (no crawl eats the global budget)
    "sp13_budget_per_source" -> ((s, dir) =>
      Sampling.selectByTokenBudgetPerGroup(
        Parallelism.spread(t(s, dir, "documents"), col("doc_id")),
        "doc_id", "source",
        TextAnalysis.qualityScore(col("text")),
        TextAnalysis.tokenCount(col("text")),
        budgetPerGroup = 300)
        .select(col("doc_id"), col("source"))),

    // ---- RV1: rendezvous (highest-random-weight) sharding — each doc
    // goes to the shard with the max md5 weight. Growing 16 → 17
    // shards, a doc MOVES iff the new shard's weight beats all old
    // ones, so every arrival lands on shard 16 and expected churn is
    // N/17 — the oracle output proves the move-minimization property
    // on the real hashes (n_arrived = 0 for shards 0-15) ----
    "rv1_rendezvous" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val w = docs
        .select(col("doc_id"), explode(sequence(lit(0), lit(16))).as("s"))
        .withColumn("wt",
          conv(substring(md5(concat_ws("|", lit("rv"), col("s"), col("doc_id"))),
            1, 8), 16, 10).cast("long"))
      def assign(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("doc_id"))
        .agg(min_by(col("s"), struct((-col("wt")).as("nw"), col("s").as("ss")))
          .as("shard"))
      val a16 = assign(w.where(col("s") < 16))
        .withColumnRenamed("shard", "shard16")
      val a17 = assign(w)
      a17.join(a16, "doc_id")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard") =!= col("shard16"), 1L).otherwise(0L))
            .as("n_arrived"))
    }),

    // ---- TX30: tokenizer fertility per language — BPE tokens per
    // whitespace token, the compression metric a tokenizer team
    // tracks per language (high fertility = underserved language).
    // Trains via the r7 HEAP path, so the production trainer is on a
    // gated end-to-end chain ----
    // ---- TX32: Zipf slope — log-log OLS over the top-100 word
    // frequencies (rank by count desc, word asc). ln(rank)/ln(count)
    // micro-quantized at 1e6 (≤200 distinct small-integer inputs), then
    // EXACT integer OLS moments over the bounded 100-row frame; slope
    // and intercept are single IEEE expressions. English-like corpora
    // sit near −1. ----
    "tx32_zipf_slope" -> ((s, dir) => {
      val freq = t(s, dir, "documents")
        .select(explode(TextAnalysis.normWords(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(100)
      val ranked = freq
        .withColumn("r",
          row_number().over(Window.orderBy(col("n").desc, col("w"))))
        .select(
          Micro.long(log(col("r").cast("double"))).as("x"),
          Micro.long(log(col("n").cast("double"))).as("y"))
      ranked.agg(
        count(lit(1)).as("k"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .select(col("k"),
          round((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
            .as("zipf_slope"),
          round((col("sy").cast("double") -
            ((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"))
              * col("sx").cast("double")) / col("k").cast("double") / 1e6, 6)
            .as("intercept_ln"))
    }),

    // ---- TX31: cross-source shingle novelty — per source, the share of
    // its distinct 3-gram shingles found in NO other source (the "is
    // this corpus slice adding anything" curation question). One
    // distinct (source, shingle) pass feeds both the per-shingle source
    // census and the per-source totals (checkpointed — two consumers). ----
    "tx31_source_novelty" -> ((s, dir) => {
      import graft.Checkpoint._
      val docs = t(s, dir, "documents")
      val ss = docs.select(col("doc_id"), col("source"))
        .join(Dedup.shingleRows(docs), "doc_id")
        .select(col("source"), col("__s")).distinct()
        .checkpointed(eager = false)
      val bySh = ss.groupBy("__s").agg(count(lit(1)).as("__nsrc"))
      ss.join(bySh, "__s")
        .groupBy("source")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("__nsrc") === 1L, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 6))
    }),

    "tx30_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bpe = graft.text.Bpe.encode(
        docs, graft.text.Bpe.learnMergesHeap(docs, numMerges = 10))
      docs.select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__ws"))
        .join(bpe, "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("bpe_tokens"),
          sum(col("__ws")).as("ws_tokens"),
          count(lit(1)).as("n_docs"))
        .withColumn("fertility",
          round(col("bpe_tokens").cast("double")
            / col("ws_tokens").cast("double"), 6))
    }),

    // ---- SP15: negative sampling from unigram^0.75 — hash-
    // deterministic draws into the integer cumulative-mass space;
    // freq^0.75 via two IEEE-exact sqrts (pow is not correctly-rounded
    // across engines, sqrt is) ----
    "sp15_negative_samples" -> ((s, dir) =>
      Sampling.negativeSamples(t(s, dir, "documents"), k = 5)),

    // domain-mixture reweighting: per-source token mass -> the Bernoulli
    // rate hitting a 30/20/uniform-rest target mix with max retention
    "sp3_mixture_rates" -> ((s, dir) =>
      Sampling.mixtureRates(t(s, dir, "documents"), "source",
        TextAnalysis.tokenCount(col("text")),
        targets = Map("src0" -> 0.30, "src1" -> 0.20),
        defaultTarget = 0.5 / 18)),

    // temperature-scaled (α-sampling) mixture rates: target mix derived
    // from the observed shares q ∝ p^α, max-retention rates
    "sp7_temperature" -> ((s, dir) =>
      Sampling.temperatureRates(t(s, dir, "documents"), "source",
        TextAnalysis.tokenCount(col("text")), alpha = 0.3)),

    // Unicode-script census: planted Cyrillic/CJK/Arabic suffixes so the
    // oracle pins every char-range class, not just the Latin corpus
    "tx19_scripts" -> ((s, dir) => {
      val planted = t(s, dir, "documents")
        .withColumn("t", concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" привет мир")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" 你好世界")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" مرحبا")).otherwise(lit(""))))
      val denom = TextAnalysis.nonSpaceChars(col("t"))
      val fracs = TextAnalysis.scriptCounts(col("t")).map { case (name, cnt) =>
        round(when(denom > 0, cnt.cast("double") / denom).otherwise(0.0), 6)
          .as(s"${name}_frac")
      }
      planted.select(
        (col("doc_id") +: denom.as("n_chars") +: fracs :+
          TextAnalysis.dominantScript(col("t")).as("dominant")): _*)
    }),

    // verify-free near-dup scoring: signature-agreement Jaccard estimate
    // over the LSH candidate pairs (no second text read)
    "dd20_minhash_estimate" -> ((s, dir) =>
      Dedup.minhashJaccardEstimates(t(s, dir, "documents"))),

    // lexical diversity: distinct/total word ratio per doc
    "tx20_ttr" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.typeTokenRatio(col("text")).as("ttr"))),

    // encoding-damage census: U+FFFD, raw C0 controls, and UTF-8-as-
    // Latin-1 double-decoding signatures (all exact per-row counts)
    "tx24_encoding" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.replacementCharCount(col("text")).cast("long")
          .as("n_replacement"),
        TextAnalysis.controlCharCount(col("text")).cast("long")
          .as("n_control"),
        TextAnalysis.mojibakeCount(col("text")).cast("long")
          .as("n_mojibake"),
        TextAnalysis.encodingSuspect(col("text")).as("suspect"))),

    // Flesch reading ease + its three exact counts (vowel-group
    // syllable heuristic — the no-dictionary standard)
    "tx23_readability" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.sentenceCount(col("text")).cast("long").as("n_sentences"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.filter(
            TextAnalysis.normWords(col("text")),
            w => w =!= lit(""))).cast("long").as("n_words"),
        TextAnalysis.syllableEstimate(col("text")).cast("long")
          .as("n_syllables"),
        TextAnalysis.fleschReadingEase(col("text")).as("flesch"))),

    // quality-aware survivors: each near-dup cluster keeps its BEST
    // member by the tx3 quality score (not the min id)
    "dd21_best_survivors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.duplicateClusters(
        Dedup.nearDuplicates(docs, threshold = 0.5))
      Dedup.keepBestPerCluster(docs, clusters,
        TextAnalysis.qualityScore(col("text")))
        .select(col("doc_id"))
    }),

    // semantic decontamination: corpus (vec_id >= 100) embeddings flagged
    // when cosine-near ANY eval (vec_id < 100) member of their quantizer
    // cell — the paraphrase leakage exact/minhash decontamination misses
    "sd3_semantic_decontam" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val centroids = Similarity.kmeansCentroids(embs, k = 8, iters = 1)
      Dedup.semanticContamination(
        embs.where(col("vec_id") >= 100), embs.where(col("vec_id") < 100),
        centroids, "vec_id", "embedding", threshold = 0.3, maxBucket = 2000)
    }),

    // leakage-free split: assign by SOURCE group (near-dups from one
    // site stay together); src0 rows get a null group → per-row fallback
    "sp8_group_split" -> ((s, dir) =>
      Sampling.splitByGroup(
        t(s, dir, "documents").withColumn("grp", expr("nullif(source, 'src0')")),
        "grp", "doc_id", Seq("train" -> 0.8, "test" -> 0.2))
        .select("doc_id", "grp", "split")),

    // hybrid search: reciprocal-rank fusion of the bm25 lexical top-50
    // and the cosine semantic top-50 (query vector 0)
    "ir4_rrf" -> ((s, dir) => {
      val lex = Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "join", "window"), topK = 50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val embs = t(s, dir, "embeddings")
      val sem = Similarity.bruteForceTopK(
        embs.where(col("vec_id") === 0), embs, "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, sem), "doc_id", topK = 20)
    }),

    // corpus-health report: per-(language, source) doc counts, token
    // mass, Gopher-keep rate, and mean quality — the dashboard every
    // curation run publishes; integer sums + micro-quantized quality
    // mean so the aggregate hash-compares exactly
    "tx12_corpus_report" -> ((s, dir) => {
      val g = TextAnalysis.gopherSignals(col("text"))
      Parallelism.spread(t(s, dir, "documents"), col("doc_id"))
        .select(
          TextAnalysis.langId(col("text")).as("lang_id"),
          col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__tok"),
          g.getField("keep").cast("long").as("__keep"),
          Micro.long(TextAnalysis.qualityScore(col("text"))).as("__qm"))
        .groupBy(col("lang_id"), col("source"))
        .agg(
          count(lit(1)).as("docs"),
          sum(col("__tok")).as("tokens"),
          round(sum(col("__keep")).cast("double") / count(lit(1)), 6)
            .as("keep_rate"),
          round(sum(col("__qm")).cast("double") / count(lit(1)) / Micro.factor, 6)
            .as("mean_quality"))
    }),

    // unicode normalization + ingest cleanup: planted decomposed
    // accents (e+◌́, A+◌̊), a control char, and space/tab runs —
    // NFC composes, controls strip, runs collapse; md5 pins the result
    "tx11_normalize" -> ((s, dir) => {
      val planted = concat(col("text"),
        lit(" cafe\u0301 A\u030A ring\u0007bell  wide   gaps\t\ttabs "))
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(TextAnalysis.cleanText(planted)).as("clean_md5"),
        length(TextAnalysis.nfcNormalize(planted)).cast("long").as("nfc_len"),
        length(planted).cast("long").as("raw_len"))
    }),

    // unigram-LM quality scoring (CCNet-style): LM trained on the first
    // half of the corpus, every doc scored by cross-entropy against it —
    // high CE = off-domain/low-quality; micro-nat integer sums keep the
    // per-doc aggregation exact under any partitioning
    "tx10_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      LangModel.crossEntropy(docs, docs.where(col("doc_id") < 250))
    }),

    // CCNet head/middle/tail (Wenzek 2020): cutoffs = 1/3- and
    // 2/3-quantiles of cross-entropy over a rate-0.5 hash sample
    // (sampled cutoffs then constant filter, CCNet's own split), bucket
    // assignment a pure when-chain. The scored frame is lazily
    // checkpointed: the cutoff probes and the final projection share ONE
    // crossEntropy run
    "tx13_ppl_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = LangModel.crossEntropy(docs, docs.where(col("doc_id") < 250))
        .checkpointed(eager = false)
      val cuts = Sampling.hashSampleQuantiles(
        scored, "doc_id", "cross_entropy", Seq(1.0 / 3, 2.0 / 3),
        rate = 0.5, seed = "tx13")
      LangModel.perplexityBuckets(scored, cuts)
        .select(col("doc_id"), col("cross_entropy"), col("bucket"))
    }),

    // DSIR importance log-weights: target = src0 docs, raw = the full
    // pool, 256 hashed-bigram buckets — positive = target-like
    "sp4_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      LangModel.dsirLogWeights(
        docs, docs.where(col("source") === "src0"), docs, buckets = 256)
    }),

    // ---- SP12: the DSIR SELECTION step (Xie 2023 §2.3) — importance
    // resample the corpus with the sp4 log weights via A-ES weighted
    // sampling; the weight is exp(log_weight) PRE-ROUNDED to 6dp so
    // both engines divide identical doubles (the voltarget stance)
    "sp12_dsir_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lw = LangModel.dsirLogWeights(
        docs, docs.where(col("source") === "src0"), docs, buckets = 256)
      graft.text.Sampling.weightedSample(
        lw.select(col("doc_id"),
          round(exp(col("log_weight")), 6).as("dsir_w")),
        "doc_id", "dsir_w", k = 100, seed = "dsir")
    }),

    // the flagship curation composition — every stage is the library
    // operator a real 100 TB pipeline would chain: Gopher quality filter
    // (shuffle-free scan) → exact dedup (one hash shuffle) → exact
    // 5-gram decontamination vs the eval set (broadcast collision join)
    // → deterministic 90/10 split (scan predicate) → per-(split, source)
    // doc/token mass (integer agg). Hash-exact end to end.
    "pipeline_text" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val eval = docs.where(col("doc_id") < 50)
      val corpus = docs.where(col("doc_id") >= 50)
      val kept = corpus.where(TextAnalysis.gopherKeepNative(col("text")))
      val deduped = Dedup.dropExactDuplicates(kept)
      val clean = Dedup.decontaminateExact(deduped, eval, n = 5)
      Sampling.splitByHash(clean, "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
        .groupBy(col("split"), col("source"))
        .agg(
          count(lit(1)).as("docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))
    }),

    // ---- dedup ----
    "dd1_exact_dedup" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"))),

    "dd2_canonical_dedup" -> ((s, dir) =>
      Dedup.canonicalGroups(t(s, dir, "documents"))),

    "dd3_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"))),

    "dd4_near_duplicates" -> ((s, dir) =>
      Dedup.nearDuplicates(t(s, dir, "documents"), threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))),

    // DD22: character-level (edit distance) verification of the dd3
    // candidates — order-sensitive where shingle Jaccard is not
    "dd22_edit_verify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.editVerify(docs, Dedup.minhashCandidates(docs),
        threshold = 0.3)
    }),

    // connected components over the verified dd4 pairs → canonical
    // (minimum-id) cluster labels; survivors = docs minus non-canonicals
    // (scoped: nearDuplicates' lazy melt/candidate checkpoints register
    // inside the body and release once the labels are materialized)
    "dd7_dup_clusters" -> ((s, dir) => graft.Checkpoint.scoped(s) {
      Dedup.duplicateClusters(
        Dedup.nearDuplicates(t(s, dir, "documents"), threshold = 0.5))
        .select(col("id").as("doc_id"), col("cluster"))
    }),

    "dd8_survivors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.duplicateClusters(
        Dedup.nearDuplicates(docs, threshold = 0.5))
      Dedup.dropNearDuplicates(docs, clusters).select(col("doc_id"))
    }),

    // ---- TX28: source-overlap shingle-Jaccard matrix — the planted
    // copycat source overlaps its victims; organic pairs stay low
    "tx28_source_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val planted = docs.unionByName(
        docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 100000L).as("doc_id"),
            lit("src_copycat").as("source"), col("text")))
      Dedup.sourceOverlapMatrix(planted)
    }),

    // ---- TX27: per-source duplication report — 50 docs re-attributed
    // to a copycat source show up as its 100% dup rate
    "tx27_source_dups" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val planted = docs.unionByName(
        docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 100000L).as("doc_id"),
            lit("src_copycat").as("source"), col("text")))
      Dedup.sourceDupReport(planted)
    }),

    // ---- DD25: duplicate-cluster size histogram — the dup-mass
    // distribution a curation report quotes ("mostly pairs, one
    // 40-copy boilerplate family")
    "dd25_cluster_sizes" -> ((s, dir) =>
      Dedup.duplicateClusters(
        Dedup.nearDuplicates(t(s, dir, "documents"), threshold = 0.5))
        .groupBy(col("cluster")).agg(count(lit(1)).as("__cs"))
        .groupBy(col("__cs").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))),

    // ---- DD24: Jaccard histogram of the LSH candidate pairs — the
    // threshold-tuning evidence ("where does the similarity mass sit")
    // from ONE candidate+verify pass (threshold 0 keeps every verified
    // candidate; the LSH banding still bounds the pair mass)
    "dd24_jaccard_hist" -> ((s, dir) =>
      Dedup.nearDuplicates(t(s, dir, "documents"), threshold = 0.0)
        .groupBy(least(floor(col("jaccard") * 10), lit(9L)).cast("long")
          .as("jaccard_bin"))
        .agg(count(lit(1)).as("n_pairs"))),

    // ---- DD26: LSH parameter planner — (bands, rows) grid scored
    // against the dd24 Jaccard histogram: expected verify load, fp/fn
    // mass at threshold 0.5, recall-weighted best pick ----
    "dd26_lsh_plan" -> ((s, dir) =>
      Dedup.lshPlanFromHistogram(
        Dedup.nearDuplicates(t(s, dir, "documents"), threshold = 0.0)
          .groupBy(least(floor(col("jaccard") * 10), lit(9L)).cast("long")
            .as("jaccard_bin"))
          .agg(count(lit(1)).as("n_pairs")))),

    // ---- DD23: soft dedup — 1/|cluster| sampling weights instead of
    // dropping (repetition-aware curation; feeds sp10 weightedSample)
    "dd23_soft_weights" -> ((s, dir) => graft.Checkpoint.scoped(s) {
      val docs = t(s, dir, "documents")
      Dedup.softDedupWeights(docs,
        Dedup.duplicateClusters(Dedup.nearDuplicates(docs, threshold = 0.5)))
    }),

    // ---- TX25: per-source boilerplate-line removal — every doc gets a
    // planted source footer (appears in 100% of the source's docs →
    // removed everywhere) plus a unique row line (kept)
    "tx25_boilerplate" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        concat(col("text"),
          lit("\nVisit "), col("source"), lit(".example.com"),
          lit("\nrow "), col("doc_id")).as("text"))
      Dedup.dropBoilerplateLines(planted)
        .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
    }),

    // how a real pipeline composes dd7+dd8: ONE clustering run (the
    // candidate+verify+propagation pipeline executes once — its edge
    // list is checkpointed inside duplicateClusters) labels every doc
    // and derives the survivor flag from the same labels, instead of
    // re-running LSH end-to-end per projection like the two standalone
    // queries must
    // (wrapped in `Checkpoint.scoped`: the clustering run's checkpointed
    // edge/cluster intermediates are released once the labeled frame
    // is materialized — the long-lived-session composition contract)
    "pipeline_dedup" -> ((s, dir) => graft.Checkpoint.scoped(s) {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.duplicateClusters(
        Dedup.nearDuplicates(docs, threshold = 0.5))
      val label = coalesce(col("cluster"), col("doc_id"))
      docs.select(col("doc_id"))
        .join(clusters.select(col("id").as("doc_id"), col("cluster")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), label.as("cluster"),
          (label === col("doc_id")).as("survivor"))
    }),

    // ---- the query a real 100 TB curation run executes, END TO END:
    // ONE near-dup clustering run (dd7) feeds repetition-aware soft
    // weights (dd23); the training half is exact-5-gram decontaminated
    // against the eval half (dd11); a quality × soft-weight token
    // budget picks the docs (sp5 with the dd23 prior); and the keepers
    // are packed into 512-token training sequences (pk1). All in one
    // `Checkpoint.scoped` body: each stage's checkpointed intermediates release
    // the moment the packed frame materializes — the long-lived-session
    // composition contract, proven at the pipeline level.
    "pipeline_curate" -> ((s, dir) => graft.Checkpoint.scoped(s) {
      val docs = t(s, dir, "documents")
      // dd7: one candidate+verify+propagation run labels every doc
      val clusters = Dedup.duplicateClusters(
        Dedup.nearDuplicates(docs, threshold = 0.5))
      // dd23: soft weights from the SAME labels (no second LSH run)
      val weights = Dedup.softDedupWeights(docs, clusters)
        .select(col("doc_id"), col("weight"))
      // dd11: the training half loses every doc quoting an eval 5-gram
      val clean = Dedup.decontaminateExact(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50), n = 5)
      // checkpoint: the budget selector makes two passes (histogram +
      // keep-filter) — without this the decontamination chain runs twice.
      // Both passes compute the CPU-dense quality score.
      val scored = Parallelism.spreadWhenNarrow(docs)(
        clean.join(weights, Seq("doc_id")), col("doc_id"))
        .checkpointed(eager = true)
      val kept = Sampling.selectByTokenBudget(scored, "doc_id",
        TextAnalysis.qualityScore(col("text")) * col("weight"),
        TextAnalysis.tokenCount(col("text")), budget = 5000)
      Packing.packSequences(kept, "doc_id", "text", budget = 512, shards = 8)
        .join(weights, Seq("doc_id"))
        .select(col("shard"), col("seq_id"), col("doc_id"),
          col("tok_in_seq"), col("weight"))
    }),

    // cross-corpus decontamination: docs 50+ are the "training corpus",
    // docs <50 the "eval set"; matches then the decontaminated corpus
    "dd9_decontamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossNearDuplicates(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50),
        threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
    }),

    // C4-style corpus-wide line dedup: every doc gets an identical
    // planted footer line (killed everywhere but the first doc) plus a
    // unique per-doc line (always survives) — exercising multi-line
    // semantics the single-line synthetic corpus can't; md5 pins the
    // reassembled text
    "dd13_line_dedup" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"),
          lit("\nShared boilerplate footer"),
          lit("\nrow "), col("doc_id")).as("text"))
      Dedup.dropDuplicateLines(planted)
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    }),

    // exact n-gram collision decontamination (GPT-3 appendix-C rule,
    // 5-grams here since the synthetic docs are short): corpus docs
    // quoting any eval 5-gram verbatim, then the cleaned corpus
    "dd11_ngram_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramOverlap(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50), n = 5)
    }),

    // PaLM containment rule: fraction of each corpus doc's distinct
    // 5-grams seen anywhere in the eval set; contaminated = ≥ 70%
    "dd15_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.containmentFractions(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50), n = 5)
    }),

    // span redaction: excise exactly the tokens covered by a quoted
    // eval 5-gram, keep the rest of the doc (normalized token space)
    "dd14_redact_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.redactContaminated(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50), n = 5)
        .select(col("doc_id"), col("n_tokens"), md5(col("text")).as("redacted_md5"))
    }),

    // fastText-shaped hashed-n-gram NB classifier: the count model over
    // the labeled half (label = lang, 5 classes, 256 hash buckets)
    "cl1_nb_model" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Classifier.nbModel(
        docs.where(col("doc_id") < 400), labelCol = "lang", buckets = 256)
    }),

    // train on docs < 400, classify the rest: argmax label + margin
    "cl2_nb_classify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Classifier.nbClassify(
        docs.where(col("doc_id") >= 400),
        docs.where(col("doc_id") < 400),
        labelCol = "lang", buckets = 256)
    }),

    // incremental ingest dedup: docs < 400 are the already-indexed
    // corpus (published band index in scratch parquet), docs >= 400 the
    // new batch — near-dup pairs involving a batch doc, verified at the
    // dd4 threshold, WITHOUT re-minhashing the indexed side
    "dd18_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val indexed = docs.where(col("doc_id") < 400)
      val ix = Queries.tempDir("graft_band_index")
      Dedup.writeMinhashIndex(ix, indexed)
      Dedup.incrementalNearDuplicates(
        s, ix, docs.where(col("doc_id") >= 400), indexed, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
    }),

    // ---- DD29: the dd18 build/search split on the FINGERPRINT path —
    // simhash fp + Manku blocked keys published as a parquet index,
    // batch pairs at hamming <= 3 without re-fingerprinting the
    // indexed side (verify reads 8-byte fps, never indexed text). The
    // brute-force oracle replay filtered to batch-involving pairs pins
    // it to the same answer as running dd28 over the full corpus ----
    "dd29_incremental_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ix = Queries.tempDir("graft_simhash_index")
      Dedup.writeSimhashIndex(ix, docs.where(col("doc_id") < 400))
      Dedup.incrementalSimhashPairs(
        s, ix, docs.where(col("doc_id") >= 400), maxHamming = 3)
    }),

    // tokenizer-prep vocabulary: top-100 words by count (lexicographic
    // tie-break), rank 1..V
    "tx15_vocab" -> ((s, dir) =>
      graft.text.Vocab.vocabulary(t(s, dir, "documents"), topV = 100)
        .select(col("word"), col("cnt"), col("rank").cast("long").as("rank"))),

    // ML33: NB learning curve — fixed hash holdout, NESTED hash
    // training fractions (subset property ⇒ the curve measures data
    // volume, not resample luck), accuracy per fraction
    "ml33_nb_learning_curve" -> ((s, dir) =>
      graft.text.Classifier.nbLearningCurve(
        t(s, dir, "documents"), labelCol = "lang")),

    // ML38: leave-one-source-out data valuation — the NB lang
    // classifier retrained without each of four sources; accuracy
    // deltas vs the full pool (shared holdout/pool checkpoints)
    "ml38_source_ablation" -> ((s, dir) =>
      graft.text.Classifier.nbSourceAblation(
        t(s, dir, "documents"), labelCol = "lang",
        ablate = Seq("src0", "src5", "src10", "src15"))),

    // SP14: IPF raking — weights making lang AND source marginals
    // uniform simultaneously; micro-quantized cell masses, 3 unrolled
    // row/col scaling passes
    "sp14_raking" -> ((s, dir) =>
      Sampling.rakingWeights(
        t(s, dir, "documents"), rowDim = "lang", colDim = "source")),

    // ML39: McNemar significance gate for the src0 ablation — exact
    // disagreement counts off two shared-holdout prediction frames
    "ml39_mcnemar" -> ((s, dir) =>
      graft.text.Classifier.nbMcNemar(
        t(s, dir, "documents"), labelCol = "lang", excludeSource = "src0")),

    // CL5: mutual-information feature screen — I(word-presence;
    // source) over the top-50 vocabulary, complete (word × class)
    // grid, per-cell micro-nat quantization
    "cl5_feature_mi" -> ((s, dir) =>
      graft.text.Vocab.featureMi(
        t(s, dir, "documents"), classCol = "source", topV = 50)),

    // per-doc OOV mass against that same top-100 vocabulary
    "tx16_oov" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Vocab.oovRates(
        docs, graft.text.Vocab.vocabulary(docs, topV = 100))
    }),

    // SP10: Efraimidis-Spirakis weighted sample — 100 docs tilted
    // toward length, exactly reproducible (9dp key, id tiebreak)
    "sp10_weighted_sample" -> ((s, dir) =>
      graft.text.Sampling.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "doc_id", "n_chars", k = 100)),

    // Zipf fit over the top-100 word frequencies: ln(count) ~ ln(rank)
    // least-squares slope + R² (corpus-health signal, slope ≈ −1)
    "tx21_zipf" -> ((s, dir) =>
      graft.text.Vocab.zipfFit(t(s, dir, "documents"), topV = 100)),

    // Heaps'-law fit: ten nested hash-sampled corpora from ONE pass,
    // V ∝ N^β slope over the log-log points
    "tx26_heaps" -> ((s, dir) =>
      graft.text.Vocab.heapsFit(t(s, dir, "documents"))),

    // KL/JS divergence between the even- and odd-doc_id halves of the
    // corpus: add-one-smoothed unigram distributions, pico-exact sums
    "tx22_divergence" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.LangModel.corpusDivergence(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    }),

    // weighted PageRank over the source-transition graph (consecutive
    // doc_ids link their sources): 3 damped power steps, pico-exact
    "gr1_pagerank" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val e = d.alias("a")
        .join(d.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .groupBy(col("a.source").as("src"), col("b.source").as("dst"))
        .agg(count(lit(1)).cast("double").as("weight"))
      graft.graph.PageRank.pagerank(e, iterations = 3)
        .select(col("node"), round(col("rank"), 6).as("rank"))
    }),

    // triangle counts + clustering coefficient over the undirected
    // source-transition graph (degree-ordered orientation — the skew
    // guard for power-law graphs)
    "gr2_triangles" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val e = d.alias("a")
        .join(d.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.source").as("src"), col("b.source").as("dst"))
      graft.graph.PageRank.triangles(e)
    }),

    // GR5: 4-core by bulk-synchronous peeling to a fixpoint (loud
    // non-convergence guard). The source-transition graph is a
    // degree-2 ring (its k-core is trivially empty/full), so the graph
    // here is the deterministic doc-id modular multigraph
    // (i → 2i+1, i → 3i+2 mod N: degree 1..5, a 120-node 4-core at
    // sf0.01). The oracle unrolls 8 peel rounds — over-provisioned is
    // safe because post-convergence rounds are no-ops.
    "gr5_kcore" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.agg(count(lit(1)).as("__N"))
      val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        explode(array(
          pmod(col("doc_id") * 2 + 1, col("__N")),
          pmod(col("doc_id") * 3 + 2, col("__N")))).as("dst"))
      graft.graph.PageRank.kCore(e, k = 4)
    }),

    // TX29: RAKE keyphrases — stopword-island phrases, degree/freq
    // word scores quantized per word, exact BIGINT phrase sums,
    // deterministic top-25
    "tx29_rake" -> ((s, dir) =>
      graft.text.Rake.keywords(t(s, dir, "documents"))),

    // GR8: personalized PageRank over the gr5 modular graph (edges
    // pre-aggregated to weights so the oracle sees the same per-edge
    // rounding), seeds = doc_id ≡ 0 (mod 97) — topic-conditioned
    // authority with all teleport mass on the seeds
    "gr8_ppr" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.agg(count(lit(1)).as("__N"))
      val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        explode(array(
          pmod(col("doc_id") * 2 + 1, col("__N")),
          pmod(col("doc_id") * 3 + 2, col("__N")))).as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("double").as("weight"))
      val seeds = docs.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("node"))
      graft.graph.PageRank.personalizedPagerank(e, seeds, iterations = 3)
        .select(col("node"), round(col("rank"), 6).as("rank"))
    }),

    // GR7: Adamic–Adar link prediction over the gr5 modular multigraph
    // (degrees 1..5 — every apex passes the guard; scores are exact
    // quantized 1/ln(deg) sums, pairs pruned to non-adjacent)
    "gr7_adamic_adar" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.agg(count(lit(1)).as("__N"))
      val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        explode(array(
          pmod(col("doc_id") * 2 + 1, col("__N")),
          pmod(col("doc_id") * 3 + 2, col("__N")))).as("dst"))
      graft.graph.PageRank.adamicAdar(e, minCommon = 1L)
    }),

    // GR4: degree assortativity of the same undirected source graph —
    // exact integer moments over both edge orientations, one fixed
    // Pearson expression (null if the graph is degree-regular)
    "gr4_assortativity" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val e = d.alias("a")
        .join(d.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.source").as("src"), col("b.source").as("dst"))
      graft.graph.PageRank.assortativity(e)
    }),

    // connected components over an explicit co-shipment graph (suppliers
    // sharing an (order, ship-day)): Dedup.duplicateClusters' min-label
    // propagation pinned DIRECTLY against a recursive-CTE closure — dd7
    // pins it only inside the dedup pipeline. Edge mass is bounded by
    // pairs-within-order (≤ items²/2 per order, items ~4).
    "gr3_components" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").as("ok"), to_date(col("l_shipdate")).as("d"),
        col("l_suppkey").as("sid"))
      val pairs = li.alias("a")
        .join(li.alias("b"),
          col("a.ok") === col("b.ok") && col("a.d") === col("b.d")
            && col("a.sid") < col("b.sid"))
        .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
        .distinct()
      graft.dedup.Dedup.duplicateClusters(pairs)
    }),

    // ---- GR9: multi-source BFS hop layers over the per-source
    // document CHAIN graph (consecutive doc ids within a source) —
    // dist = min hops from each source's lowest doc, ≤ 6 rounds of
    // frontier expansion (cost ∝ frontier edge mass per round), so
    // layers 0..6 all populate and the tail stays unreachable. Oracle:
    // recursive-CTE min-distance closure, the definitional spec ----
    "gr9_bfs_layers" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      val edges = d
        .withColumn("dst", lead(col("doc_id"), 1).over(w))
        .where(col("dst").isNotNull)
        .select(col("doc_id").as("src"), col("dst"))
      val seeds = d.groupBy(col("source"))
        .agg(min(col("doc_id")).as("node"))
        .select(col("node"))
      graft.graph.PageRank.bfsLayers(edges, seeds, maxHops = 6)
    }),

    // ---- GR10: synchronous label-propagation communities over a
    // planted caveman graph (10-doc cliques + one bridge per adjacent
    // block) — 3 fixed rounds with smallest-label tiebreak recover the
    // block structure; oracle unrolls the identical 3 rounds ----
    "gr10_label_prop" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val cliques = d.alias("a")
        .join(d.alias("b"),
          floor(col("a.doc_id") / 10) === floor(col("b.doc_id") / 10) &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      val bridges = d.where(pmod(col("doc_id"), lit(10)) === 9)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      graft.graph.PageRank.labelPropagation(
        cliques.unionByName(bridges), iterations = 3)
    }),

    // ---- GR11: Newman modularity of the gr10 communities over the
    // same caveman graph — per-community e_c/m − (d_c/2m)² from exact
    // integer ingredients; the quality score that tells a curation
    // run whether its community structure is real or noise ----
    "gr11_modularity" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val cliques = d.alias("a")
        .join(d.alias("b"),
          floor(col("a.doc_id") / 10) === floor(col("b.doc_id") / 10) &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      val bridges = d.where(pmod(col("doc_id"), lit(10)) === 9)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      val edges = cliques.unionByName(bridges)
        .checkpointed(eager = false) // LP rounds + modularity share it
      graft.graph.PageRank.modularity(
        edges, graft.graph.PageRank.labelPropagation(edges, iterations = 3))
    }),

    // ---- GR12: one synchronous Louvain round from singletons over
    // the caveman graph — from singletons the max-gain move is the
    // MIN-DEGREE neighbor (gain > 0 iff k_i·k_j < 2m), all exact
    // integers; the oracle replays the same argmin + predicate ----
    "gr12_louvain_round" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val cliques = d.alias("a")
        .join(d.alias("b"),
          floor(col("a.doc_id") / 10) === floor(col("b.doc_id") / 10) &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      val bridges = d.where(pmod(col("doc_id"), lit(10)) === 9)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      graft.graph.PageRank.louvainRound(cliques.unionByName(bridges))
    }),

    // ---- BPE tokenizer training. bpe0 = step-0 pair stats; bpe1/bpe2
    // are oracle-checked via 10 unrolled DuckDB merge-step CTEs (the
    // greedy fold expressed as leftmost-non-overlapping replace over a
    // double-space token encoding — TextOracles.bpeVocabCtes), plus
    // BpeSpec's independent reference implementation ----
    "bpe0_pairs" -> ((s, dir) =>
      graft.text.Bpe.initialPairCounts(t(s, dir, "documents"))),

    "bpe1_merges" -> ((s, dir) =>
      graft.text.Bpe.learnMerges(t(s, dir, "documents"), numMerges = 10)),

    "bpe2_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Bpe.encode(
        docs, graft.text.Bpe.learnMerges(docs, numMerges = 10))
    }),

    // ---- BPE3: the vocabulary-scale training path — driver-heap
    // incremental pair stats over the distributed word-frequency
    // table. Same oracle as bpe1: the two implementations must learn
    // the IDENTICAL merge list ----
    "bpe3_heap_merges" -> ((s, dir) =>
      graft.text.Bpe.learnMergesHeap(t(s, dir, "documents"), numMerges = 10)),

    // per-doc character-level Shannon entropy (compression-ratio
    // quality proxy): micro-nat-exact histogram sum
    "tx17_entropy" -> ((s, dir) =>
      graft.text.TextAnalysis.charEntropy(t(s, dir, "documents"))),

    // top-100 adjacent-word collocations by PMI (min pair count 5)
    "tx18_pmi" -> ((s, dir) =>
      graft.text.Vocab.collocations(t(s, dir, "documents"))),

    // exact-phrase search: the 5 lowest-id docs' leading trigrams as
    // the query set, matched by sliding-gram equi-join (overlapping
    // occurrence counts)
    "ir3_phrase" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val phrases = docs.where(col("doc_id") < 5).select(
        col("doc_id").as("phrase_id"),
        graft.functions.MinHashShingles.shingleArrayNative(col("text"), 3)
          .getItem(0).as("phrase"))
        .where(col("phrase").isNotNull)
      graft.text.Retrieval.phraseMatches(docs, phrases)
    }),

    // ---- logistic regression: full-batch GD as DataFrame ops, the
    // discriminative half of the fastText quality-filter recipe.
    // Train: is-English on doc_id < 400; score the held-out tail ----
    "cl3_logreg_model" -> ((s, dir) =>
      graft.text.Classifier.logregTrain(
        t(s, dir, "documents").where(col("doc_id") < 400)
          .withColumn("label", (col("lang") === "en").cast("long")),
        buckets = 256, iterations = 3, learningRate = 0.5)),

    "cl4_logreg_scores" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.Classifier.logregTrain(
        docs.where(col("doc_id") < 400)
          .withColumn("label", (col("lang") === "en").cast("long")),
        buckets = 256, iterations = 3, learningRate = 0.5)
      graft.text.Classifier.logregScore(
        docs.where(col("doc_id") >= 400), model, buckets = 256)
    }),

    // ---- URL curation (RefinedWeb-style pre-content stages) over a
    // deterministic URL derived from the documents table: mixed-case
    // scheme/host, tracking params, and a modulo fragment exercise
    // every normalization rule ----
    "ur1_normalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url",
        concat(lit("HTTPS://WWW."), upper(col("source")), lit(".com/"),
          col("lang"), lit("/Doc/"), col("doc_id"),
          lit("?utm_source=graft&page="), pmod(col("doc_id"), lit(7)),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("#sec")).otherwise(lit(""))))
      docs.select(col("doc_id"),
        graft.text.Urls.normalizeUrl(col("url")).as("url_norm"),
        graft.text.Urls.registeredDomain(
          graft.text.Urls.normalizeUrl(col("url"))).as("domain"))
    }),

    // exact-URL dedup: the URL drops the doc-unique path so each
    // (source, lang) page has many claimants — lowest doc_id wins
    "ur2_url_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url",
        concat(lit("http://"), col("source"), lit(".com/"), col("lang"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit("?utm_campaign=x")).otherwise(lit(""))))
      graft.text.Urls.urlDedup(docs, "url")
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // per-domain cap: sources map to .co.uk domains, ≤ 25 docs each by
    // the stable md5 order
    "ur3_domain_cap" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url",
        concat(lit("https://crawl."), col("source"), lit(".co.uk/d/"),
          col("doc_id")))
      graft.text.Urls.domainCap(docs, "url", maxPerDomain = 25)
        .select(col("doc_id"), col("source"))
    }),

    // Bloom-filter membership decontamination: filter = the set-bit
    // relation over eval 5-grams (Kirsch–Mitzenmacher double hashing,
    // 2^16 bits, k=4), probe = docs whose grams have all 4 bits set
    "dd19_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Bloom.contaminated(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50),
        n = 5, mBits = 1 << 16, k = 4)
    }),

    // boilerplate mining: most-frequent trigrams corpus-wide
    "tx14_top_ngrams" -> ((s, dir) =>
      Dedup.frequentNgrams(t(s, dir, "documents"), n = 3, topK = 50)),

    // URL-level dedup: the best doc per source by the tx3 quality score
    "dd17_source_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepBestPerKey(docs, "source",
        graft.text.TextAnalysis.qualityScore(col("text")))
        .select(col("source"), col("doc_id"),
          graft.text.TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    // ExactSubstr self-dedup (Lee 2021): corpus-first occurrence of each
    // 5-gram survives; later occurrences lose their covered tokens
    "dd16_exact_substrings" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupExactSubstrings(docs, n = 5)
        .select(col("doc_id"), col("n_tokens"), md5(col("text")).as("dedup_md5"))
    }),

    "dd12_exact_decontaminated" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateExact(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50), n = 5)
        .select(col("doc_id"))
    }),

    "dd10_decontaminated" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") >= 50)
      val matches = Dedup.crossNearDuplicates(
        corpus, docs.where(col("doc_id") < 50), threshold = 0.5)
      Dedup.decontaminate(corpus, matches).select(col("doc_id"))
    }),

    // simhash near-pairs via hamming-LSH banding (no all-pairs join).
    // Pinned to the 32-bit/4-band demo configuration the DuckDB bit-ops
    // oracle replicates; the library default is 64-bit/8-band.
    "dd5_simhash" -> ((s, dir) =>
      Dedup.simhashNearPairs(t(s, dir, "documents"), maxHamming = 3,
        bits = 32, bands = 4)),

    // ---- DD27: the PRODUCTION simhash config (64-bit/8-band — 2^16
    // band keys, the width that scales the band space with the corpus;
    // dd5 pins the 32/4 demo whose 256-key space is the documented
    // sf1-ratio outlier). Pigeonhole-complete at hamming ≤ 3 < 8
    // bands, so the oracle's all-pairs replay returns the same set ----
    "dd27_simhash_prod" -> ((s, dir) =>
      Dedup.simhashNearPairs(t(s, dir, "documents"), maxHamming = 3)),

    // ---- DD28: the SAME pair set via Manku block-permutation keys —
    // C(8,3) = 56 tables keyed on 40 bits, so candidate mass is 56·n
    // where dd27's 8-bit band keys read n²·8/256 (the measured r10
    // honest-tier story: dd27 8.5× at 10× data, this path ~linear).
    // Both are pigeonhole-complete at hamming ≤ 3, so the brute-force
    // oracle replay pins them to the identical answer ----
    "dd28_simhash_blocked" -> ((s, dir) =>
      Dedup.simhashNearPairsBlocked(t(s, dir, "documents"), maxHamming = 3)),

    "dd6_embedding_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDuplicates(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", threshold = 0.3)
        .withColumn("cosine", round(col("cosine"), 4))
    }),

    // ---- similarity search ----
    "sim1_bruteforce_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        embs.where(col("vec_id") < 5), embs, "vec_id", "embedding", k = 5)
    }),

    // ---- SIM15: MMR diversified re-ranking — greedy λ·rel −
    // (1−λ)·max-sim over each query's top-20, 5 picks; everything
    // after the relevance scan is dimension-bounded ----
    "sim15_mmr" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.mmrRerank(
        embs.where(col("vec_id") < 5), embs, "vec_id", "embedding",
        k = 20, select = 5, lambda = 0.5)
    }),

    // ---- SIM13: Matryoshka-style truncation eval — recall@10 of the
    // first-16-dims retriever against the full-64-dim ground truth
    // (composes sim1's operator at two widths; the cheap-prefix index
    // quality question every MRL deployment asks)
    "sim13_matryoshka" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      def trunc(df: org.apache.spark.sql.DataFrame) = df.select(
        col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val qs = embs.where(col("vec_id") < 5)
      val full = Similarity.bruteForceTopK(qs, embs, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val short = Similarity
        .bruteForceTopK(trunc(qs), trunc(embs), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      full
        .join(short, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(coalesce(sum(col("__hit")), lit(0L)).as("hits"))
        .select(col("query_id"), col("hits"),
          round(col("hits") / 10.0, 6).as("recall"))
    }),

    // ranking-quality eval of the brute-force retriever against
    // same-label ground truth: recall@10 / MRR / nDCG@10 per query
    "sim9_rank_eval" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val ranked = Similarity.bruteForceTopK(
        embs.where(col("vec_id") < 5), embs, "vec_id", "embedding", k = 10)
      val rel = embs.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("label").as("__ql"))
        .join(embs.select(col("vec_id").as("neighbor_id"), col("label")),
          col("__ql") === col("label") &&
            col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
      graft.sim.RankEval.rankingMetrics(ranked, rel, k = 10)
    }),

    // hard-negative mining: top-5 most-similar DIFFERENT-label vectors
    // per anchor (contrastive-training prep)
    "sim10_hard_negatives" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.hardNegatives(
        embs.where(col("vec_id") < 5), embs, "vec_id", "embedding", "label",
        k = 5)
    }),

    // SIM12: corpus diversity via the closed form — no pair join
    "sim12_diversity" -> ((s, dir) =>
      Similarity.diversity(t(s, dir, "embeddings"))),

    // SIM11: centroid drift between the even/odd vec_id halves —
    // cosine + L2 of the exact-micro per-dimension means
    "sim11_centroid_drift" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.centroidDrift(
        embs.where(col("vec_id") % 2 === 0),
        embs.where(col("vec_id") % 2 === 1))
    }),

    "sim2_lsh_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.signLshTopK(
        embs.where(col("vec_id") < 5), embs, "vec_id", "embedding", k = 5)
    }),

    // IVF-probe ANN: deterministic centroids (the min-vec_id embedding
    // per label), nearest-cell assignment, exact top-k within the cell
    "sim3_ivf_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val centroids = embs
        .groupBy(col("label")).agg(min(col("vec_id")).as("__cid"))
        .join(embs.select(col("vec_id").as("__cid"), col("embedding").as("centroid")),
          "__cid")
        .select(col("label").as("cell_id"), col("centroid"))
      Similarity.ivfTopK(
        embs.where(col("vec_id") < 5), embs, centroids, "vec_id", "embedding", k = 5)
    }),

    // IVF with nprobe=2: each query searches its two nearest cells —
    // better recall than sim3's single probe at 2× the candidate volume
    "sim4_ivf_nprobe" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val centroids = embs
        .groupBy(col("label")).agg(min(col("vec_id")).as("__cid"))
        .join(embs.select(col("vec_id").as("__cid"), col("embedding").as("centroid")),
          "__cid")
        .select(col("label").as("cell_id"), col("centroid"))
      Similarity.ivfTopK(
        embs.where(col("vec_id") < 5), embs, centroids, "vec_id", "embedding",
        k = 5, nprobe = 2)
    }),

    // ---- SIM14: recall-vs-nprobe curve — the IVF tuning table (what
    // recall does each probe budget buy) against the brute-force
    // ground truth, one row per nprobe ∈ {1, 2, 4}
    "sim14_nprobe_recall" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val centroids = embs
        .groupBy(col("label")).agg(min(col("vec_id")).as("__cid"))
        .join(embs.select(col("vec_id").as("__cid"), col("embedding").as("centroid")),
          "__cid")
        .select(col("label").as("cell_id"), col("centroid"))
      val qs = embs.where(col("vec_id") < 5)
      val gt = Similarity.bruteForceTopK(qs, embs, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      Seq(1, 2, 4).map { np =>
        val got = Similarity.ivfTopK(qs, embs, centroids, "vec_id",
          "embedding", k = 5, nprobe = np)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
        gt.join(got, Seq("query_id", "neighbor_id"), "left")
          .agg(
            count_distinct(col("query_id")).as("n_queries"),
            coalesce(sum(col("__hit")), lit(0L)).as("__hits"))
          .select(lit(np).as("nprobe"), col("n_queries"),
            round(col("__hits").cast("double") /
              (col("n_queries") * 5).cast("double"), 6).as("mean_recall"))
      }.reduce(_ unionByName _)
    }),

    // k-means training for the IVF coarse quantizer: deterministic
    // seeding (the 8 lowest-vec_id vectors), one Lloyd iteration, long
    // (cell, dim, value) output — the oracle replays assignment + the
    // micro-integer per-dimension mean
    "sim5_kmeans" -> ((s, dir) =>
      Similarity.kmeansCentroids(t(s, dir, "embeddings"), k = 8, iters = 1)
        .select(col("cell_id"),
          posexplode(col("centroid")).as(Seq("dim", "value")))),

    // SemDeDup (Abbas 2023): the sim5 quantizer (8 cells, one Lloyd
    // round from deterministic seeds) partitions the embedding space;
    // within each assigned cell, cosine-near pairs keep only the member
    // farthest from the centroid. maxBucket=2000 ≥ the corpus at every
    // test SF, so no cell overflows the pruning guard
    // ML40: does the sim5 quantizer recover the label structure? ARI +
    // NMI between assigned cells and ground-truth labels
    "ml40_cluster_eval" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val centroids = Similarity.kmeansCentroids(embs, k = 8, iters = 1)
      graft.ml.Evaluation.clusterAgreement(
        Similarity.assignCells(embs, centroids, vecCol = "embedding"),
        "cell_id", "label")
    }),

    "sd1_semdedup" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val centroids = Similarity.kmeansCentroids(embs, k = 8, iters = 1)
      Dedup.semanticDeduplicate(embs, centroids, "vec_id", "embedding",
        threshold = 0.3, maxBucket = 2000)
    }),

    // SSL-prototypes pruning (Sorscher 2022): same trained quantizer as
    // sd1; per cell, drop the ⌊m/2⌋ members closest to the centroid and
    // keep the hard rim
    "sd2_prototypes" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val centroids = Similarity.kmeansCentroids(embs, k = 8, iters = 1)
      Dedup.prototypePrune(embs, centroids, "vec_id", "embedding",
        dropFraction = 0.5)
    }),

    // product quantization: 8×8-dim subspaces, sub-codebooks = the
    // subvectors of the 8 lowest-id embeddings; ADC top-5 per query —
    // the corpus is searched from codes only (no float vectors read)
    "sim6_pq_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cb = embs.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("code"),
          posexplode(transform(sequence(lit(0), lit(7)),
            sub => slice(col("embedding"), sub * 8 + 1, lit(8))))
            .as(Seq("subspace", "subcentroid")))
        .select(col("subspace"), col("code"), col("subcentroid"))
      val encoded = Similarity.pqEncode(embs, cb)
      Similarity.pqTopK(embs.where(col("vec_id") < 5), encoded, cb, k = 5)
    }),

    // IVFADC (the FAISS composition): IVF cells prune candidates, ADC
    // over PQ codes scores them — corpus floats are never read after
    // indexing; label-min centroids (as sim3) + vec_id<8 sub-codebooks
    // (as sim6)
    "sim7_ivfadc" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val (centroids, cb) = ivfFixture(embs)
      Similarity.ivfadcTopK(
        embs.where(col("vec_id") < 5), embs, centroids, cb, k = 5)
    }),

    // publish the IVFADC index as cell-partitioned parquet, then search
    // the PUBLISHED index — the IVF probe happens as dynamic partition
    // pruning on the codes scan; result-identical to sim7
    "sim8_index_search" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val (centroids, cb) = ivfFixture(embs)
      val ix = Queries.tempDir("graft_ivf_index")
      Similarity.writeIvfadcIndex(ix, embs, centroids, cb)
      Similarity.searchIvfadcIndex(s, ix, embs.where(col("vec_id") < 5), k = 5)
    }),

    // ---- multimodal plumbing ----
    "mm1_binary_meta" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .withColumn("jpeg_payload", concat(unhex(lit("FFD8FFE0")), col("payload")))
      media.select(
        col("doc_id"),
        length(col("payload")).cast("long").as("byte_len"),
        md5(col("text")).as("content_md5"),
        Multimodal.sniffFormat(col("payload")).as("fmt_raw"),
        Multimodal.sniffFormat(col("jpeg_payload")).as("fmt_jpeg"))
    }),

    // ---- MM2: REAL image decode (javax.imageio) — gradient-PNG
    // fixtures whose decoded per-channel pixel sums are closed-form in
    // (x, y, id), so the oracle checks actual decoded content. PNG is
    // lossless: the encode→decode roundtrip is exact by spec.
    "mm2_media_features" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id").as("media_id"))
      Multimodal.imageContent(Multimodal.imageFixture(ids))
    }),

    // ---- MM5: perceptual-hash near-dup pairs — stub pHash (md5
    // splice) through the REAL banding+verify dataflow; 50 planted
    // byte-identical payload copies → hamming-0 pairs
    "mm5_phash_pairs" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("payload"))
      val planted = media.unionByName(
        media.where(col("media_id") < 50)
          .select((col("media_id") + 100000L).as("media_id"), col("payload")))
      Multimodal.perceptualNearPairs(planted)
    }),

    // ---- MM3: REAL image resize — decode + explicit nearest-neighbor
    // resample to 16×8 on the raster (sampling rule src = (x·sw)//dw,
    // (y·sh)//dh), resized content sums oracled against the fixture's
    // closed form
    "mm3_resize" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id").as("media_id"))
      Multimodal.resizeImageContent(
        Multimodal.imageFixture(ids), dstW = 16, dstH = 8)
    }),

    // ---- SH1: training-shard writer — deterministic md5 sharding,
    // partitioned parquet write, integrity manifest computed from the
    // files AS WRITTEN (read-back), oracled against the analytic
    // assignment + order-free content checksum
    "sh1_training_shards" -> ((s, dir) =>
      graft.text.Shards.writeTrainingShards(
        t(s, dir, "documents"), Queries.tempDir("graft_shards"), shards = 16)),

    // ---- MM7: decompression-bomb adversarial — even doc_ids get their
    // IHDR width forged to 2^30 via binary overlay (a crafted crawl
    // payload); the header-first maxPixels guard must reject them as
    // null content at header-parse cost while odd ids decode to their
    // closed-form sums. Oracle: CASE parity → nulls / analytic sums.
    "mm7_bomb_guard" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id").as("media_id"))
      val png = Multimodal.imageFixture(ids)
      val forged = png.select(col("media_id"),
        when(col("media_id") % 2 === 0,
          overlay(col("payload"), unhex(lit("40000000")), lit(17)))
          .otherwise(col("payload")).as("payload"))
      Multimodal.imageContent(forged)
    }),

    // ---- MM8: REAL WAV decode (javax.sound.sampled) — sawtooth-PCM
    // fixtures whose decoded 16-bit samples are closed-form in (n, id),
    // so the oracle checks actual decoded audio content analytically.
    // Even ids get their RIFF magic zeroed (a crafted crawl payload):
    // the decoder must return nulls for them, not crash — the audio
    // edition of mm7's parity adversarial.
    "mm8_wav_features" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id").as("media_id"))
      val wav = Multimodal.wavFixture(ids)
      val forged = wav.select(col("media_id"),
        when(col("media_id") % 2 === 0,
          overlay(col("payload"), unhex(lit("00000000")), lit(1)))
          .otherwise(col("payload")).as("payload"))
      Multimodal.wavContent(forged)
    }),

    // ---- MM6: PNG metadata WITHOUT decode — IHDR width/height parsed
    // by pure column algebra from the real encoder's bytes (the 100 TB
    // fast path: dimension filters at scan time, no decoder in the loop)
    "mm6_png_meta" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id").as("media_id"))
      val png = Multimodal.imageFixture(ids)
      val (wc, hc) = Multimodal.pngHeaderDims(col("payload"))
      png.select(col("media_id"),
        Multimodal.sniffFormat(col("payload")).as("fmt"), wc, hc)
    }),

    // frame-sample plumbing: row explosion in typed space (32-byte
    // frames every 24 bytes, ≤5 per doc), frame contents md5-checked
    "mm4_frame_sample" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("payload"))
      Multimodal.sampleFrames(media, frameBytes = 32, strideBytes = 24, maxFrames = 5)
        .select(col("media_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"),
          md5(upper(hex(col("frame")))).as("frame_md5"))
    }),

    // ---- WN1: winnowing fingerprint pairs (MOSS) — character-level
    // near-dup: every shared substring of length ≥ w+k−1 = 29 chars
    // forces a shared fingerprint; hashing + window-min selection run
    // in ONE per-row array expression (no corpus-wide explode).
    // (k=20/w=10 tuned on this corpus: short grams over a 31-word
    // vocabulary collide on common word bigrams and the pair table
    // approaches the complete graph.)
    "wn1_winnow_pairs" -> ((s, dir) =>
      graft.dedup.Winnow.fingerprintPairs(
        t(s, dir, "documents"), k = 20, w = 10, minShared = 3)),

    // ---- ER1: entity resolution end-to-end — EXACT similarity pairs
    // (ppj1's lossless prefix-filter join) → min-label connected
    // components → survivorship (canonical record = longest text, tie
    // smallest id). Singletons resolve to themselves via the left join.
    "er1_entities" -> ((s, dir) => graft.Checkpoint.scoped(s) {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.SetJoin.prefixFilterJoin(docs, theta = 0.5)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      val labels = graft.dedup.Dedup.duplicateClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
      docs.select(col("doc_id"), col("n_chars"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("entity", coalesce(col("cluster"), col("doc_id")))
        .groupBy("entity")
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
            .as("canonical_doc"))
    }),

    // ---- PCA family: distributed quantized Gram matrix, integer
    // power-iteration top component (driver-side over the d×d collect),
    // literal-inlined projection. Oracle replays the iteration as
    // unrolled CTEs (the PageRank discipline).
    "pca1_gram" -> ((s, dir) =>
      graft.ml.Pca.gram(t(s, dir, "embeddings"))),

    "pca2_power" -> ((s, dir) => {
      val l = graft.ml.Pca.topComponent(t(s, dir, "embeddings"))
      s.createDataFrame(l.zipWithIndex.toSeq.map { case (v, i) => (i.toLong, v) })
        .toDF("dim_idx", "loading_fixed")
    }),

    "pca3_project" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ml.Pca.project(e, "vec_id", "embedding",
        graft.ml.Pca.topComponent(e))
    }),

    // ---- PPJ1: EXACT θ-Jaccard self-join via AllPairs prefix filtering
    // (lossless — unlike dd3's MinHash LSH there is no recall loss). The
    // oracle computes the same answer by a DIFFERENT algorithm (brute
    // token-intersection join), so the prefix filter's completeness is
    // itself under test.
    "ppj1_prefix_join" -> ((s, dir) =>
      graft.dedup.SetJoin.prefixFilterJoin(
        t(s, dir, "documents"), theta = 0.5, shingleWidth = 3))
  )
}
