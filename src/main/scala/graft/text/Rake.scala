package graft.text

import graft.Checkpoint._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ParameterError

/** RAKE keyword extraction (Rose et al. 2010) — corpus-level keyphrase
  * mining with zero linguistic machinery: candidate phrases are the
  * maximal stopword-free token runs, a word scores degree/frequency
  * (degree = total length of phrases it appears in — co-occurrence
  * rewards multi-word terms), and a phrase scores the sum of its word
  * scores. The cheap first pass every corpus-exploration / topic-
  * labeling pipeline runs before anything embedding-based.
  *
  * Scale shape: tokenization is the house one-pass normalize+split
  * (no regex dialect hazards — phrase boundaries come from a
  * gaps-and-islands cumsum over stopword flags, not from splitting on
  * a stopword regex); the only shuffles are the user-key-free token
  * windows (partitioned by doc — bounded by document length), one
  * groupBy on the word dimension, one join back on the word key, and
  * the final bounded top-K (TakeOrdered). Phrases longer than
  * `maxPhraseLen` are dropped (RAKE's own convention — unbounded runs
  * are boilerplate, not keyphrases), which also bounds every
  * collect_list.
  *
  * Determinism: degree/frequency are exact integer ratios, quantized
  * at 1e12 per WORD (one rounding each), so phrase scores are exact
  * BIGINT sums; the top-K orders by (score desc, phrase). */
object Rake {

  /** The fixed stopword set (shared with the SQL oracle — keep in
    * sync with [[stopwordsSqlList]]). */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "but", "if", "then", "of", "in",
    "on", "at", "to", "for", "with", "by", "from", "as", "is", "are",
    "was", "were", "be", "been", "it", "this", "that", "these", "those",
    "not", "no", "so", "we", "you", "they", "he", "she", "i")

  /** The same set rendered for an SQL IN list. */
  def stopwordsSqlList: String =
    Stopwords.map(w => s"'$w'").mkString(", ")

  /** TX29: top-K keyphrases corpus-wide.
    * Output (phrase, n_occurrences, score), ordered (score desc,
    * phrase), at most `topK` rows. */
  def keywords(
      docs: DataFrame,
      topK: Int = 25,
      maxPhraseLen: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    if (topK < 1) throw new ParameterError(s"topK must be >= 1: $topK")
    if (maxPhraseLen < 1)
      throw new ParameterError(s"maxPhraseLen must be >= 1: $maxPhraseLen")
    val words = split(
      trim(regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " ")), "\\s+")
    val wOrd = Window.partitionBy(col("__d")).orderBy(col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tokens = docs
      .select(col(idCol).as("__d"), posexplode(words).as(Seq("__p", "__w")))
      .where(col("__w") =!= "")
      .withColumn("__stop", col("__w").isin(Stopwords: _*))
      .withColumn("__isl",
        sum(when(col("__stop"), 1L).otherwise(0L)).over(wOrd))
      .where(!col("__stop"))
      .withColumn("__len",
        count(lit(1)).over(Window.partitionBy(col("__d"), col("__isl"))))
      .where(col("__len") <= maxPhraseLen)
      .checkpointed(eager = false) // feeds word stats AND phrases
    val wordScores = tokens
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .select(col("__w"),
        round(col("__deg").cast("double") / col("__freq").cast("double")
          * 1e12).cast("long").as("__swq"))
    tokens
      .join(wordScores, Seq("__w")) // word-keyed equi-join, no broadcast:
      // the vocabulary is data-driven, not dimension-bounded
      .groupBy(col("__d"), col("__isl"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__p"), col("__w")))),
          x => x.getField("__w"))).as("phrase"),
        sum(col("__swq")).as("__sq"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"), max(col("__sq")).as("__sq"))
      .select(col("phrase"), col("n_occurrences"),
        round(col("__sq").cast("double") / 1e12, 6).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }
}
