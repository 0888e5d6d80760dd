package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.dedup.{Dedup, SetJoin, Winnow}
import graft.events.Basket
import graft.graph.PageRank
import graft.text.Fuzzy

/** Every capped site over its cap: each is fed one group above the
  * cap. A raising site must name its cap parameter in the error; a
  * dropping site must lose exactly that group's rows and report the
  * overflow through its observe metric (name, field names, values). */
class OversizedGroupSpec extends SparkSpec {
  import spark.implicits._

  private val cap = 10
  private val hot = 12L // rows in the one group over the cap
  private val twin = "identical adversarial document body with plenty of words to shingle"
  private val other = "quartz jukebox vixens glyph fjords nymphs waltz zebras klutzy"

  /** `hot` clones (ids 0..11) plus two copies of an unrelated text
    * (100, 101) whose own groups stay under the cap. */
  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, if (i >= 100L) other else twin)).toDF("doc_id", "text")
  private lazy val corpus = docs((0L until hot) ++ Seq(100L, 101L))

  /** A metric field whose name is checked but not its value. The
    * `incremental_simhash_buckets`, `winnow_buckets` and `basket_sizes`
    * metrics are observed below a lazy checkpoint and reach a listener
    * with null fields, a known defect (the `FOUND:` line on them in
    * CHANGES.md); once they carry values, assert those here. */
  private case object Unread

  private def tmp(): String =
    Files.createTempDirectory("graft_cap").resolve("ix").toString

  /** Observe metrics of every query `body` runs, read through a
    * QueryExecutionListener: under AQE a frame's own
    * `queryExecution.observedMetrics` stays empty. A frame read by
    * several queries (a checkpointed one) reports its metric once per
    * query, but only the query that computed it sees its rows; the
    * others report nulls, so a non-null report wins. */
  private def observed(body: => Unit): Map[String, Row] = {
    val seen = new ConcurrentHashMap[String, Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) =>
          seen.merge(k, v, (old, now) => if (old.anyNull) now else old)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toMap
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  /** One capped site. `raise` runs it in its raising mode (its error
    * must contain every `says` string, and mention `dropOversized`
    * exactly when the site has that option); `drop` runs it in its
    * dropping mode, where `keyCols` of the result must equal `left`
    * and `metric` must read `fields` (Long group sizes, or [[Unread]]). */
  private case class Site(
      name: String,
      raise: Option[() => DataFrame],
      says: Seq[String],
      droppable: Boolean,
      drop: Option[() => DataFrame],
      keyCols: Seq[String],
      left: Set[Seq[Any]],
      metric: Option[String],
      fields: Map[String, Any])

  private val firstWord: Column => Column = c => split(c, " ").getItem(0)

  private lazy val vecCents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
    .toDF("cell_id", "centroid")
  private def vecs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, if (i >= 100L) Array(0.0f, 1.0f) else Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
  private lazy val blocked = ((0L until hot).map(i => (i, Array(1.0, 0.0), "hot")) ++
    Seq((100L, Array(0.0, 1.0), "ok"), (101L, Array(0.0, 1.0), "ok")))
    .toDF("vec_id", "embedding", "bucket")

  private lazy val crossCorpus = corpus.where($"doc_id" =!= 101L)
  private lazy val crossRef = Seq((200L, twin), (201L, other)).toDF("doc_id", "text")
  /** One corpus vector in each cell: only the one in cell 1 can match. */
  private lazy val probes = Seq((1000L, Array(1.0f, 0.0f)), (1100L, Array(0.0f, 1.0f)))
    .toDF("vec_id", "embedding")

  private lazy val minhashIx = {
    val ix = tmp()
    Dedup.writeMinhashIndex(ix, docs((0L until hot / 2) :+ 100L))
    ix
  }
  private lazy val simhashIx = {
    val ix = tmp()
    Dedup.writeSimhashIndex(ix, docs((0L until hot / 2) :+ 100L))
    ix
  }
  private lazy val batch = docs((hot / 2L until hot) :+ 101L)

  private def fuzzy(hotSide: String, drop: Boolean): DataFrame = {
    val big = (0L until hot).map(i => (i, s"alpha x$i")) :+ ((100L, "beta one"))
    val small = Seq((200L, "alpha x1"), (201L, "beta one"))
    val (l, r) = if (hotSide == "l") (big, small) else (small, big)
    Fuzzy.fuzzyJoin(l.toDF("id", "name"), r.toDF("id", "name"), "id", "id",
      "name", "name", firstWord, minSim = 0.5, maxBlock = cap,
      dropOversized = drop)
  }

  private lazy val sites: Seq[Site] = Seq(
    Site("Dedup.minhashCandidates",
      Some(() => Dedup.minhashCandidates(corpus, maxBucket = cap)),
      Seq("minhashCandidates: a bucket of 12 rows exceeds maxBucket=10"), true,
      Some(() => Dedup.minhashCandidates(corpus, maxBucket = cap, dropOversized = true)),
      Seq("id_a", "id_b"), Set(Seq(100L, 101L)),
      Some("minhash_buckets"), Map("rows_in_overflow" -> 4L * hot, "max_bucket" -> hot)),
    Site("Dedup.minhashJaccardEstimates",
      Some(() => Dedup.minhashJaccardEstimates(corpus, maxBucket = cap)),
      Seq("minhashJaccardEstimates: a bucket of 12 rows exceeds maxBucket=10"), true,
      Some(() => Dedup.minhashJaccardEstimates(corpus, maxBucket = cap,
        dropOversized = true)),
      Seq("id_a", "id_b"), Set(Seq(100L, 101L)),
      Some("minhash_est_buckets"), Map("rows_in_overflow" -> 4L * hot, "max_bucket" -> hot)),
    Site("Dedup.incrementalCandidates",
      Some(() => Dedup.incrementalCandidates(spark, minhashIx, batch, maxBucket = cap)),
      Seq("incrementalCandidates: a bucket of 12 rows exceeds maxBucket=10"), true,
      Some(() => Dedup.incrementalCandidates(spark, minhashIx, batch, maxBucket = cap,
        dropOversized = true)),
      Seq("id_a", "id_b"), Set(Seq(100L, 101L)),
      Some("incremental_buckets"), Map("rows_in_overflow" -> 4L * hot, "max_bucket" -> hot)),
    Site("Dedup.crossNearDuplicates",
      Some(() => Dedup.crossNearDuplicates(crossCorpus, crossRef, maxBucket = cap)),
      Seq("crossNearDuplicates: a band bucket of 12 rows exceeds maxBucket=10"), true,
      Some(() => Dedup.crossNearDuplicates(crossCorpus, crossRef, maxBucket = cap,
        dropOversized = true)),
      Seq("corpus_id", "ref_id"), Set(Seq(100L, 201L)),
      Some("cross_hot_buckets"), Map("dropped_buckets" -> 4L)),
    // 16-bit bands: the unrelated text shares no band key with the twins
    Site("Dedup.bucketedFingerprintPairs",
      Some(() => Dedup.simhashNearPairs(corpus, bands = 4, maxBucket = cap)),
      Seq("simhash_buckets: a bucket of 12 rows exceeds maxBucket=10"), true,
      Some(() => Dedup.simhashNearPairs(corpus, bands = 4, maxBucket = cap,
        dropOversized = true)),
      Seq("id_a", "id_b"), Set(Seq(100L, 101L)),
      Some("simhash_buckets"), Map("rows_in_overflow" -> 4L * hot, "max_bucket" -> hot)),
    Site("Dedup.incrementalSimhashPairs",
      Some(() => Dedup.incrementalSimhashPairs(spark, simhashIx, batch, maxBucket = cap)),
      Seq("incrementalSimhashPairs: a bucket of 12 rows exceeds maxBucket=10"), true,
      Some(() => Dedup.incrementalSimhashPairs(spark, simhashIx, batch, maxBucket = cap,
        dropOversized = true)),
      Seq("id_a", "id_b"), Set(Seq(100L, 101L)),
      Some("incremental_simhash_buckets"),
      Map("rows_in_overflow" -> Unread, "max_bucket" -> Unread)),
    Site("Dedup.embeddingNearDuplicates",
      Some(() => Dedup.embeddingNearDuplicates(blocked, "vec_id", "embedding",
        "bucket", threshold = 0.9, maxBucket = cap)),
      Seq("embeddingNearDuplicates: a bucket of 12 rows exceeds maxBucket=10"), true,
      Some(() => Dedup.embeddingNearDuplicates(blocked, "vec_id", "embedding",
        "bucket", threshold = 0.9, maxBucket = cap, dropOversized = true)),
      Seq("id_a", "id_b"), Set(Seq(100L, 101L)),
      Some("embedding_buckets"), Map("rows_in_overflow" -> hot.toLong, "max_bucket" -> hot)),
    // an oversized cell loses only its pruning: its members all survive
    Site("Dedup.semanticDeduplicate", None, Nil, false,
      Some(() => Dedup.semanticDeduplicate(vecs((0L until hot) ++ Seq(100L, 101L)),
        vecCents, "vec_id", "embedding", threshold = 0.95, maxBucket = cap)),
      Seq("vec_id"), ((0L until hot) :+ 100L).map(Seq(_)).toSet,
      Some("semdedup_cells"), Map("rows_in_overflow" -> hot.toLong, "max_cell" -> hot)),
    Site("Dedup.semanticContamination",
      Some(() => Dedup.semanticContamination(probes, vecs((0L until hot) :+ 100L),
        vecCents, "vec_id", "embedding", threshold = 0.9, maxBucket = cap)),
      Seq("semanticContamination: a bucket of 12 rows exceeds maxBucket=10"), true,
      Some(() => Dedup.semanticContamination(probes, vecs((0L until hot) :+ 100L),
        vecCents, "vec_id", "embedding", threshold = 0.9, maxBucket = cap,
        dropOversized = true)),
      Seq("vec_id", "eval_id"), Set(Seq(1100L, 100L)),
      Some("semdecon_cells"), Map("rows_in_overflow" -> hot.toLong, "max_cell" -> hot)),
    Site("Winnow.fingerprintPairs", None, Nil, false,
      Some(() => Winnow.fingerprintPairs(corpus, maxBucket = cap)),
      Seq("doc_a", "doc_b"), Set(Seq(100L, 101L)),
      Some("winnow_buckets"), Map("rows_in_overflow" -> Unread, "max_bucket" -> Unread)),
    Site("Fuzzy.fuzzyJoin left side",
      Some(() => fuzzy("l", drop = false)),
      Seq("fuzzyJoin: a l-side block of 12 rows exceeds maxBlock=10"), true,
      Some(() => fuzzy("l", drop = true)),
      Seq("l_id", "r_id"), Set(Seq(100L, 201L)),
      Some("fuzzy_blocks"), Map("left_rows_in_overflow" -> hot.toLong,
        "max_left_block" -> hot)),
    Site("Fuzzy.fuzzyJoin right side",
      Some(() => fuzzy("r", drop = false)),
      Seq("fuzzyJoin: a r-side block of 12 rows exceeds maxBlock=10"), true,
      Some(() => fuzzy("r", drop = true)),
      Seq("l_id", "r_id"), Set(Seq(201L, 100L)),
      Some("fuzzy_blocks_right"), Map("right_rows_in_overflow" -> hot.toLong,
        "max_right_block" -> hot)),
    Site("Basket.incidence", None, Nil, false,
      Some(() => Basket.frequentPairs(
        ((0L until hot).map(i => (1L, i)) ++ Seq((2L, 100L), (2L, 101L)))
          .toDF("basket", "item"), "basket", "item", minCount = 1, maxBasket = cap)),
      Seq("item1", "item2"), Set(Seq(100L, 101L)),
      Some("basket_sizes"), Map("rows_in_overflow" -> Unread, "max_basket" -> Unread)),
    Site("PageRank.adamicAdar", None, Nil, false,
      Some(() => PageRank.adamicAdar(
        ((1L to hot).map(i => (0L, i)) ++ Seq((20L, 21L), (21L, 22L)))
          .toDF("src", "dst"), maxApexDegree = cap)),
      Seq("node1", "node2"), Set(Seq(20L, 22L)),
      Some("aa_apexes"), Map("rows_in_overflow" -> hot.toLong, "max_degree" -> hot)),
    Site("SetJoin.prefixFilterJoin",
      Some(() => SetJoin.prefixFilterJoin(corpus, theta = 0.9, maxBucket = cap)),
      Seq("prefixFilterJoin: a prefix bucket of 12 rows exceeds maxBucket=10"), false,
      None, Nil, Set.empty, None, Map.empty))

  test("the table covers all 15 capped sites: 11 raise, 14 drop, each " +
    "metric name once") {
    assert(sites.map(_.name).distinct.size == 15)
    assert(sites.count(_.raise.isDefined) == 11)
    assert(sites.count(_.drop.isDefined) == 14)
    assert(sites.flatMap(_.metric).distinct.size == 14)
  }

  test("a raising site over its cap raises, naming its cap parameter; only " +
    "sites with the option suggest dropOversized") {
    for (s <- sites; run <- s.raise) {
      val e = intercept[Exception](run().collect())
      val ms = messages(e)
      for (w <- s.says) assert(ms.exists(_.contains(w)), s"${s.name}: $e")
      assert(ms.exists(_.contains("pass dropOversized=true")) == s.droppable,
        s"${s.name}: $e")
    }
  }

  test("a dropping site over its cap loses that group's rows and reports " +
    "the overflow in its observe metric") {
    for (s <- sites; run <- s.drop) {
      var rows = Set.empty[Seq[Any]]
      val metrics = observed {
        rows = run().select(s.keyCols.map(col): _*).collect().map(_.toSeq).toSet
      }
      assert(rows == s.left, s.name)
      for (name <- s.metric) {
        val m = metrics.getOrElse(name, fail(s"${s.name}: no metric $name in " +
          metrics.keys.toSeq.sorted.mkString(", ")))
        assert(m.schema.fieldNames.toSet == s.fields.keySet, s"${s.name}: ${m.schema}")
        for ((f, v) <- s.fields if v != Unread)
          assert(m.get(m.fieldIndex(f)) == v, s"${s.name}.$f: $m")
      }
    }
  }
}
