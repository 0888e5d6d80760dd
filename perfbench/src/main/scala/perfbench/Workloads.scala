package perfbench

import java.util.Random

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.costs.PercentageCommission
import graft.dedup.Dedup
import graft.panel.Panel.Keys
import graft.perf.Performance
import graft.pipeline.{Backtest, Strategy}
import graft.text.{Classifier, Packing, Sampling, TextAnalysis}
import graft.trade.Trade

/** One closed-loop call. `run` is the timed part and returns the
  * collected outputs by name; `params` go to the checker with them. */
final case class Op(kind: String, params: Map[String, Any], rows: Long,
    run: () => Map[String, Array[Row]])

trait Workload {
  /** Load inputs and build whatever state the ops start from. */
  def setup(): Unit
  /** One op of the primary kind; its cost is part of set-up. */
  def warmup(): Unit
  /** The ops of one cycle, parameters drawn from `rng`; called between
    * cycles, outside every timed window. */
  def cycle(rng: Random): Seq[Op]
  /** Facts about the run's end state, for the per-layer report. */
  def stats: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: String, work: String,
      unitRows: Long, trace: Trace): Workload = name match {
    case "live_trade" => new LiveTrade(spark, inputs, unitRows, trace)
    case "corpus_ingest" => new CorpusIngest(spark, inputs, work, unitRows, trace)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def pick[T](rng: Random, xs: Seq[T]): T = xs(rng.nextInt(xs.size))
}

/** Mean reversion on a trailing window: long while the close is below
  * its `window`-bar mean (times `factor`). Written as close × n < Σclose
  * so that whole-cent closes compare exactly in any engine. */
final class RollingReversion(
    window: Int,
    k: Keys,
    factor: Column,
    bench: Option[String],
    commissionRate: Double,
    slipBps: Double) extends Strategy {
  val code = "perfbench"
  override def keys: Keys = k
  override def benchmarkSid: Option[String] = bench
  override def commissionModel =
    Some(PercentageCommission(brokerCommissionRate = commissionRate))
  override def slippageBps: Double = slipBps
  def pricesToSignals(prices: DataFrame): DataFrame = {
    val w = Window.partitionBy((k.group :+ k.sid).map(col): _*)
      .orderBy(col(k.dateCol)).rowsBetween(1 - window, 0)
    prices.withColumn("signal",
      (col("close") * count(lit(1)).over(w) < sum(col("close")).over(w) * factor)
        .cast("int"))
  }
}

/** The Moonshot desk on one EOD universe. Mostly `Trade.run` calls with
  * the account state of the moment (balances, FX, positions, open
  * orders), orders collected to the driver; once a cycle the strategy is
  * re-researched: a backtest whose results feed a four-measure tear
  * sheet, and a four-variant grouped-key sweep. */
final class LiveTrade(spark: SparkSession, dir: String, bars: Long, trace: Trace)
    extends Workload {
  private var prices: DataFrame = _
  private var master: DataFrame = _
  private var dates: Seq[String] = Nil
  private var state: Map[String, (StructType, Map[Int, Seq[Row]])] = _
  private var nextState = 0

  def setup(): Unit = {
    prices = spark.read.parquet(s"$dir/panel")
    master = spark.read.parquet(s"$dir/master.parquet")
    dates = prices.select(col("date").cast("string").as("date")).distinct()
      .orderBy(col("date").desc).limit(5).collect().map(_.getString(0)).toSeq
    // account state is small: held on the driver like a broker API's reply
    state = Seq("balances", "rates", "allocations", "positions", "orders").map { t =>
      val df = spark.read.parquet(s"$dir/state/$t.parquet")
      val cols = df.columns.filter(_ != "state")
      val rows = df.collect().groupBy(_.getAs[Long]("state").toInt).map {
        case (k, rs) => k -> rs.toSeq.map(r => Row.fromSeq(cols.map(r.getAs[Any](_)).toSeq))
      }
      t -> (df.select(cols.toIndexedSeq.map(col): _*).schema, rows)
    }.toMap
  }

  def warmup(): Unit = orders(0, 20, dates.head, 0.25).run(): Unit

  private def frame(t: String, k: Int): DataFrame = {
    val (schema, rows) = state(t)
    spark.createDataFrame(rows.getOrElse(k, Nil).asJava, schema)
  }

  private def orders(st: Int, window: Int, signalDate: String, threshold: Double): Op =
    Op("orders",
      Map("state" -> st, "window" -> window, "signal_date" -> signalDate,
        "threshold" -> threshold),
      bars, () => {
        val strategy = new RollingReversion(window, Keys(), lit(1.0), None, 0.0, 0.0)
        val out = trace.span("Trade.run", "trade") {
          Trade.run(strategy, prices, master, frame("allocations", st),
            frame("balances", st), frame("rates", st), frame("positions", st),
            frame("orders", st), signalDate,
            rebalance = Trade.RebalanceThreshold(threshold)).collect()
        }
        Map("orders" -> out)
      })

  private def backtest(window: Int, commission: Double, slipBps: Double): Op =
    Op("backtest",
      Map("window" -> window, "commission" -> commission, "slippage_bps" -> slipBps),
      bars, () => {
        val strategy = new RollingReversion(window, Keys(), lit(1.0), Some("BM"),
          commission, slipBps)
        val results = trace.span("Backtest.run", "pipeline") {
          Backtest.run(strategy, prices, Some(master))
        }
        def measure(name: String)(f: DataFrame => DataFrame): Array[Row] =
          trace.span(s"Performance.$name", "perf")(f(results).collect())
        Map(
          "summary" -> measure("summary")(Performance.summary(_)),
          "daily" -> measure("dailySeries")(Performance.dailySeries(_)),
          "drawdowns" -> measure("drawdowns")(Performance.drawdowns(_)),
          "vs_benchmark" -> measure("vsBenchmark")(Performance.vsBenchmark(_)))
      })

  private def sweep(window: Int, commission: Double, slipBps: Double,
      factors: Seq[Double]): Op =
    Op("sweep",
      Map("window" -> window, "commission" -> commission, "slippage_bps" -> slipBps,
        "factors" -> factors),
      bars * factors.size, () => {
        val k = Keys(group = Seq("variant"))
        val variants = spark.createDataFrame(
          factors.zipWithIndex.map { case (f, i) => (s"v$i", f) })
          .toDF("variant", "factor")
        val strategy = new RollingReversion(window, k, col("factor"), None,
          commission, slipBps)
        val results = trace.span("Backtest.run", "pipeline") {
          Backtest.run(strategy, prices.crossJoin(broadcast(variants)), Some(master))
        }
        val perVariant = results
          .where(col("field") === "Return")
          .groupBy("variant")
          .agg(
            count(lit(1)).as("n_rows"),
            (sum(round(col("value") * 1e12).cast("long").cast(DecimalType(38, 0)))
              .cast("double") / 1e12).as("sum_return"))
        Map("variants" -> trace.span("sweep.collect", "pipeline")(perVariant.collect()))
      })

  def cycle(rng: Random): Seq[Op] = {
    def window = 5 + rng.nextInt(56)
    def commission = Workload.pick(rng, Seq(0.0001, 0.0002, 0.0005, 0.001))
    def slip = 1.0 + rng.nextInt(10)
    def trade = Seq.fill(6) {
      val st = nextState % state("balances")._2.size
      nextState += 1
      orders(st, window, Workload.pick(rng, dates),
        Workload.pick(rng, Seq(0.0, 0.1, 0.25, 0.5)))
    }
    // research first: its window, join and melt paths warm the trades too
    (backtest(window, commission, slip) +: trade) ++
      (sweep(window, commission, slip, Seq(1.0) ++ Seq.fill(3)(0.97 + rng.nextInt(7) * 0.01))
        +: trade)
  }
}

/** A data engineer's loop over arriving batches: probe the simhash index,
  * append the admitted docs, then curate the batch. The index is built
  * from batch 0 at set-up and rebuilt before each later pass over the
  * batches, outside the timed ops. */
final class CorpusIngest(spark: SparkSession, dir: String, work: String,
    batchDocs: Long, trace: Trace) extends Workload {
  private var batches: IndexedSeq[DataFrame] = _
  private val index = s"$work/simhash-index"
  private var indexedDocs = 0L
  private var lastPairs: Array[Row] = Array.empty

  private def build(): Unit = {
    Dedup.writeSimhashIndex(index, batches(0))
    indexedDocs = batchDocs
  }

  def setup(): Unit = {
    val files = new java.io.File(s"$dir/batches").list().sorted
    batches = files.map(f => spark.read.parquet(s"$dir/batches/$f")).toIndexedSeq
    build()
  }

  def warmup(): Unit =
    Dedup.incrementalSimhashPairs(spark, index, batches(1)).collect(): Unit

  private def probe(b: Int): Op =
    Op("probe", Map("batch" -> b), batchDocs, () => {
      lastPairs = trace.span("Dedup.incrementalSimhashPairs", "dedup") {
        Dedup.incrementalSimhashPairs(spark, index, batches(b)).collect()
      }
      Map("pairs" -> lastPairs)
    })

  private def append(b: Int): Op =
    Op("append", Map("batch" -> b), 0L, () => {
      // admit every batch doc that is not the later member of a probe pair
      val dropped = lastPairs.map(_.getAs[Long]("id_b")).distinct.sorted
      val admitted = batches(b).where(!col("doc_id").isin(dropped.toSeq: _*))
      trace.span("Dedup.appendToSimhashIndex", "dedup") {
        Dedup.appendToSimhashIndex(index, admitted)
      }
      indexedDocs += batchDocs - dropped.length
      Map("dropped" -> dropped.map(Row(_)))
    })

  private def curate(b: Int, threshold: Double, budget: Long, seqLen: Int,
      ablate: Seq[String]): Op =
    Op("curate",
      Map("batch" -> b, "threshold" -> threshold, "token_budget" -> budget,
        "seq_len" -> seqLen, "ablate" -> ablate),
      0L, () => {
        val docs = batches(b)
        // duplicateClusters runs its iterations eagerly, so the span holds
        // the construction as well as the collect
        val (weights, soft) = trace.span("Dedup.nearDuplicates", "dedup") {
          val w = Dedup.softDedupWeights(docs,
            Dedup.duplicateClusters(Dedup.nearDuplicates(docs, threshold = threshold)))
          (w, w.collect())
        }
        val selected = trace.span("Sampling.selectByTokenBudget", "text") {
          Sampling.selectByTokenBudget(docs.join(weights, "doc_id"), "doc_id",
            col("quality") * col("weight"), TextAnalysis.tokenCount(col("text")), budget)
        }
        val packed = trace.span("Packing.packSequences", "text") {
          Packing.packSequences(selected, "doc_id", "text", budget = seqLen, shards = 4)
            .collect()
        }
        val ablation = trace.span("Classifier.nbSourceAblation", "text") {
          Classifier.nbSourceAblation(docs, labelCol = "lang", ablate = ablate).collect()
        }
        val raking = trace.span("Sampling.rakingWeights", "text") {
          Sampling.rakingWeights(docs, rowDim = "lang", colDim = "source").collect()
        }
        Map("weights" -> soft, "packed" -> packed, "ablation" -> ablation,
          "raking" -> raking)
      })

  private var passes = 0

  def cycle(rng: Random): Seq[Op] = {
    if (passes > 0) build()
    passes += 1
    (1 until batches.size).flatMap { b =>
      val ablate = rng.ints(0, 20).distinct().limit(3).toArray.toSeq.map(i => s"src$i")
      Seq(probe(b), append(b),
        curate(b, Workload.pick(rng, Seq(0.5, 0.6, 0.7, 0.8)),
          batchDocs * (15 + rng.nextInt(20)), Workload.pick(rng, Seq(256, 512, 1024)),
          ablate))
    }
  }

  private def listFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(listFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Nil

  /** The index after the last pass: docs, parquet bytes and files. */
  override def stats: Map[String, Any] = {
    val files = listFiles(new java.io.File(index))
    Map("index_docs" -> indexedDocs, "index_bytes" -> files.map(_.length).sum,
      "index_files" -> files.size)
  }
}
