package graft.panel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-interval (range) join at scale — trade↔quote matching,
  * event↔session attribution, bar↔halt overlap. A raw
  * `p.ts BETWEEN i.start AND i.end` theta-join has no equi key, so
  * Spark plans a broadcast-nested-loop (O(points × intervals)
  * comparisons — a scale killer). The standard fix (the bucketized
  * range-join technique): quantize time into fixed-width bins, explode
  * each interval into the bins it covers, EQUI-join points to intervals
  * on (keys…, bin), and re-apply the exact predicate.
  *
  * Cost: |points| + Σ(span/width) interval bin rows through one hash
  * equi-join shuffle, plus exact comparisons only within shared bins —
  * no nested loop anywhere. A point lives in exactly one bin, so a
  * matching interval meets it exactly once: no dedup pass needed.
  * `maxBinsPerInterval` fails LOUDLY on degenerate intervals (an
  * open-ended interval would otherwise explode into millions of rows
  * inside one task); widen `bucket` instead of raising the cap.
  */
object Intervals {

  /** Inner-join `points` (event rows with `tsCol`) to `intervals`
    * (rows with `[startCol, endCol]`, both inclusive) on equal
    * `keyCols` and ts ∈ [start, end]. `bucket` is the bin width as a
    * microsecond count (e.g. 600000000L = 10 min). */
  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      startCol: String = "start_ts",
      endCol: String = "end_ts",
      bucket: Long = 600000000L,
      maxBinsPerInterval: Int = 10000): DataFrame = {
    require(bucket > 0, s"bucket width must be positive micros: $bucket")
    // cast handles TIMESTAMP_NTZ sources (unix_micros only accepts
    // TIMESTAMP; the session runs UTC so the reading is unambiguous)
    def bin(c: String) = floor(unix_micros(col(c).cast("timestamp")) / bucket)
    val nb = bin(endCol) - bin(startCol) + 1
    // the guard must sit INSIDE the sequence bounds — a standalone
    // guarded column would be pruned by the optimizer and never fire
    val guardedNb =
      when(col(endCol) < col(startCol),
        raise_error(format_string(
          "interval end %s before start %s",
          col(endCol).cast("string"), col(startCol).cast("string")))
          .cast("long"))
        .when(nb > maxBinsPerInterval,
          raise_error(format_string(
            s"interval [%s, %s] spans %s bins (> $maxBinsPerInterval): " +
              "widen the bucket or split the interval",
            col(startCol).cast("string"), col(endCol).cast("string"),
            nb.cast("string"))).cast("long"))
        .otherwise(nb)
    val ivs = intervals.withColumn("__bin",
      explode(sequence(bin(startCol), bin(startCol) + guardedNb - 1)))
    points
      .withColumn("__bin", bin(tsCol))
      .join(ivs, keyCols :+ "__bin", "inner")
      .where(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bin")
  }

  /** Interval-OVERLAP join: pairs of intervals from `left` and `right`
    * that share any instant ([aStart ≤ bEnd] ∧ [bStart ≤ aEnd], both
    * inclusive) on equal keys — trading-halt × bar-window overlap,
    * session × outage attribution. Same bucketization as
    * [[pointInInterval]], with the standard DEDUP-FREE anchor trick:
    * two overlapping intervals co-occupy every bin of their
    * intersection, so a naive bin equi-join emits the pair once per
    * shared bin — instead the pair is kept ONLY in the intersection's
    * FIRST bin (bin == floor(max(start_a, start_b))), which exists iff
    * the intervals overlap. One hash equi-join, no distinct pass, no
    * nested loop. Column names must differ between the two sides
    * (left keeps its names; right's start/end are parameters). */
  def intervalOverlap(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftStart: String = "start_ts",
      leftEnd: String = "end_ts",
      rightStart: String = "r_start_ts",
      rightEnd: String = "r_end_ts",
      bucket: Long = 600000000L,
      maxBinsPerInterval: Int = 10000): DataFrame = {
    require(bucket > 0, s"bucket width must be positive micros: $bucket")
    def explodeBins(df: DataFrame, s: String, e: String): DataFrame = {
      def bin(c: String) = floor(unix_micros(col(c).cast("timestamp")) / bucket)
      val nb = bin(e) - bin(s) + 1
      val guarded =
        when(col(e) < col(s),
          raise_error(format_string(
            "interval end %s before start %s",
            col(e).cast("string"), col(s).cast("string"))).cast("long"))
          .when(nb > maxBinsPerInterval,
            raise_error(format_string(
              s"interval [%s, %s] spans %s bins (> $maxBinsPerInterval): " +
                "widen the bucket or split the interval",
              col(s).cast("string"), col(e).cast("string"),
              nb.cast("string"))).cast("long"))
          .otherwise(nb)
      df.withColumn("__bin", explode(sequence(bin(s), bin(s) + guarded - 1)))
    }
    val anchor = floor(
      unix_micros(greatest(col(leftStart), col(rightStart)).cast("timestamp")) /
        bucket)
    explodeBins(left, leftStart, leftEnd)
      .join(explodeBins(right, rightStart, rightEnd), keyCols :+ "__bin", "inner")
      .where(col(leftStart) <= col(rightEnd) && col(rightStart) <= col(leftEnd))
      .where(col("__bin") === anchor)
      .drop("__bin")
  }

  /** Generic left as-of join with a staleness tolerance: every `left`
    * row picks up the LATEST `right` row with equal `keyCols` and
    * right.ts ≤ left.ts — but a match older than `toleranceMicros`
    * nulls out instead of silently attaching stale data (a quote from
    * last Tuesday is not "the prevailing quote"). Appends `right`'s
    * value columns and `asof_age_us` (exact integer µs, null when no
    * in-tolerance match).
    *
    * Shape: the J6 union+tag+window formulation — NO range-exploded
    * join, no per-left-row scan of the right side. Both inputs tag and
    * union, ONE window per key partition ordered by (µs, side) — right
    * rows sort before left at the same instant, so an equal-timestamp
    * quote matches — and a last-ignoring-nulls carries each value
    * forward. Cost is one shuffle of |left| + |right| rows on the key.
    * `right` is first collapsed to one row per (keys, ts) by
    * per-column max — duplicate same-instant quotes would otherwise
    * make "the last one" partition-order-dependent. */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTsCol: String = "ts",
      rightTsCol: String = "ts",
      toleranceMicros: Long = Long.MaxValue): DataFrame = {
    require(keyCols.nonEmpty, "asofJoin needs at least one key column")
    require(toleranceMicros > 0, s"tolerance must be positive µs: $toleranceMicros")
    val valCols = right.columns.toSeq
      .filterNot(c => keyCols.contains(c) || c == rightTsCol)
    require(valCols.nonEmpty, "right side has no value columns")
    val rightTypes = right.schema.fields.map(f => f.name -> f.dataType).toMap
    val rightC = right.groupBy((keyCols.map(col) :+ col(rightTsCol)): _*)
      .agg(max(col(valCols.head)).as(valCols.head),
        valCols.tail.map(c => max(col(c)).as(c)): _*)
    val l2 = left.select(
      keyCols.map(col) ++ Seq(
        unix_micros(col(leftTsCol).cast("timestamp")).as("__tm"),
        lit(1).as("__side"),
        struct(left.columns.map(col).toSeq: _*).as("__row")) ++
        valCols.map(c => lit(null).cast(rightTypes(c)).as(c)): _*)
    val r2 = rightC.select(
      keyCols.map(col) ++ Seq(
        unix_micros(col(rightTsCol).cast("timestamp")).as("__tm"),
        lit(0).as("__side"),
        lit(null).cast(l2.schema("__row").dataType).as("__row")) ++
        valCols.map(col): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__tm"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def carried(c: String) =
      last(when(col("__side") === 0, col(c)), ignoreNulls = true).over(w)
    val matchedTs =
      last(when(col("__side") === 0, col("__tm")), ignoreNulls = true).over(w)
    val age = col("__tm") - col("__mt")
    val keep = col("__mt").isNotNull && age <= toleranceMicros
    l2.unionByName(r2)
      .withColumn("__mt", matchedTs)
      .select(
        Seq(col("__side"), col("__row")) ++
          valCols.map(c => when(keep, carried(c)).as(c)) :+
          when(keep, age).as("asof_age_us"): _*)
      .where(col("__side") === 1)
      .select(
        left.columns.map(c => col("__row").getField(c).as(c)).toSeq ++
          valCols.map(col) :+ col("asof_age_us"): _*)
  }

  /** J14: NEAREST-direction as-of join (pandas merge_asof
    * direction='nearest') — each left row takes the right row closest
    * in time on its key, looking BOTH ways, tolerance-capped; exact
    * time distance ties prefer the backward match (the information
    * that already existed at decision time). [[asofJoin]]'s backward
    * carry answers "latest known state"; nearest answers "which
    * reading belongs to this row" — sensor alignment, trade-to-quote
    * matching, log stitching.
    *
    * Same melt-union shape as [[asofJoin]]: one shuffle on the key,
    * one ordered window pass carrying the last backward AND first
    * forward right values (two frames over the same sort — Catalyst
    * plans one Window operator chain, no self-join, no range
    * explosion). Same-timestamp right rows are pre-deduplicated by
    * max per value column (the asofJoin contract); a right row at the
    * left row's exact timestamp matches backward with age 0.
    *
    * Output: left columns + right value columns + `asof_age_us`
    * (exact integer µs distance) + `asof_dir` ('backward'/'forward',
    * null when nothing is in tolerance). */
  def asofJoinNearest(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTsCol: String = "ts",
      rightTsCol: String = "ts",
      toleranceMicros: Long = Long.MaxValue): DataFrame = {
    require(keyCols.nonEmpty, "asofJoinNearest needs at least one key column")
    require(toleranceMicros > 0, s"tolerance must be positive µs: $toleranceMicros")
    val valCols = right.columns.toSeq
      .filterNot(c => keyCols.contains(c) || c == rightTsCol)
    require(valCols.nonEmpty, "right side has no value columns")
    val rightTypes = right.schema.fields.map(f => f.name -> f.dataType).toMap
    val rightC = right.groupBy((keyCols.map(col) :+ col(rightTsCol)): _*)
      .agg(max(col(valCols.head)).as(valCols.head),
        valCols.tail.map(c => max(col(c)).as(c)): _*)
    val l2 = left.select(
      keyCols.map(col) ++ Seq(
        unix_micros(col(leftTsCol).cast("timestamp")).as("__tm"),
        lit(1).as("__side"),
        struct(left.columns.map(col).toSeq: _*).as("__row")) ++
        valCols.map(c => lit(null).cast(rightTypes(c)).as(c)): _*)
    val r2 = rightC.select(
      keyCols.map(col) ++ Seq(
        unix_micros(col(rightTsCol).cast("timestamp")).as("__tm"),
        lit(0).as("__side"),
        lit(null).cast(l2.schema("__row").dataType).as("__row")) ++
        valCols.map(col): _*)
    val ord = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__tm"), col("__side"))
    val wB = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the FORWARD carry as a prefix frame over the REVERSED sort:
    // Spark recomputes currentRow→unboundedFollowing frames from
    // scratch per row — quadratic on a hot key (a 1M-event single-user
    // log ran >17 min without finishing, BASELINE.md "Round-7
    // EventsBench rows"); the reversed prefix is O(n)-incremental
    // and frame-identical (desc (__tm, __side) prefix excludes
    // equal-ts right rows exactly as the asc suffix did)
    val ordR = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__tm").desc, col("__side").desc)
    val wF = ordR.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def back(c: String) =
      last(when(col("__side") === 0, col(c)), ignoreNulls = true).over(wB)
    def fwd(c: String) =
      last(when(col("__side") === 0, col(c)), ignoreNulls = true).over(wF)
    val bAge = col("__tm") - col("__bt")
    val fAge = col("__ft") - col("__tm")
    val useB = col("__bt").isNotNull &&
      (col("__ft").isNull || bAge <= fAge) // tie → backward
    val age = when(useB, bAge).otherwise(fAge)
    val keep = (col("__bt").isNotNull || col("__ft").isNotNull) &&
      age <= toleranceMicros
    l2.unionByName(r2)
      .withColumn("__bt",
        last(when(col("__side") === 0, col("__tm")), ignoreNulls = true)
          .over(wB))
      .withColumn("__ft",
        last(when(col("__side") === 0, col("__tm")), ignoreNulls = true)
          .over(wF))
      .select(
        Seq(col("__side"), col("__row")) ++
          valCols.map(c =>
            when(keep, when(useB, back(c)).otherwise(fwd(c))).as(c)) ++
          Seq(when(keep, age).as("asof_age_us"),
            when(keep, when(useB, "backward").otherwise("forward"))
              .as("asof_dir")): _*)
      .where(col("__side") === 1)
      .select(
        left.columns.map(c => col("__row").getField(c).as(c)).toSeq ++
          valCols.map(col) ++
          Seq(col("asof_age_us"), col("asof_dir")): _*)
  }
}
