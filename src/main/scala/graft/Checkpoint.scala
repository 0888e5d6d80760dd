package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** The one checkpoint entry point: `ds.checkpointed(eager, keepAqe)`
  * and the composition-level [[scoped]].
  *
  * Per query, lazy local checkpoints are the right tool: a frame that
  * several consumers read evaluates once instead of once per consumer
  * (near-dup went 458 → 175 s on that alone). Every call states both
  * of its choices:
  *  - `eager` (required): `true` materializes at the call, `false` at
  *    the first action that reads the frame.
  *  - `keepAqe`: `false` (default) captures the segment's plan with
  *    AQE off, so the frame's declared partitioning survives into the
  *    replacement `LogicalRDD` — right for big frames whose
  *    partitioning downstream joins consume. `true` is for per-ROUND
  *    iteration state (labels, ranks, frontiers): those frames are
  *    small, get re-keyed next round anyway, and benefit more from
  *    AQE's runtime coalescing inside the round's own job (measured:
  *    gr3 8.0 → 5.x s at sf0.1 when the rounds kept AQE).
  *
  * Why AQE off: `Dataset.localCheckpoint` records the captured physical
  * plan's output partitioning into the `LogicalRDD` — the property that
  * makes a repartition→checkpoint→N-consumers chain exchange-free
  * downstream. With AQE on, the captured plan is an
  * `AdaptiveSparkPlanExec` whose output partitioning is UNKNOWN at
  * capture time, so every downstream consumer silently re-shuffles
  * (measured with AQE on: mb1 2→4 exchanges, sim8 1→4, sp15 0→1 —
  * exactly the silent-at-sf0.01, fatal-at-100-TB regression class the
  * plan audits exist to catch). The segment's own execution forgoes
  * AQE runtime re-planning — the audited static shape is what the
  * shuffle budgets pin, so the static plan IS the contract.
  *
  * Build-time work: an AQE-off capture prepares the segment's static
  * plan at the call, and preparing a plan that holds a broadcast
  * exchange starts that broadcast's job. So even a LAZY AQE-off
  * checkpoint over a segment with a broadcast join computes the
  * broadcast side while the frame is being built, before any action
  * (no work is repeated; it moves earlier). `Dedup.nearDuplicates`
  * (the candidate ids) and `Dedup.incrementalSimhashPairs` (the
  * batch's keys) do this today; which side a join broadcasts comes
  * from the static size estimates of the frames it joins.
  *
  * The session-conf flip is session-wide for the duration of the
  * capture, so AQE-off captures are serialized under one global lock:
  * two threads checkpointing concurrently cannot interleave set/restore
  * and capture an AQE-wrapped plan or leave AQE off after both. Only
  * captures take the lock. Any other query planned on the same session
  * while an AQE-off capture runs plans with AQE off. No caller does
  * that today: the only concurrent planners are the `Concurrent.runAll`
  * closures, which make no checkpoint, and their caller waits for them.
  * The lock holds for plan capture plus (lazy) registration; an EAGER
  * capture materializes inside it, so concurrent eager captures queue.
  *
  * Local checkpoints live in the block manager only: a lost executor,
  * or an unpersist of the checkpointed RDD, leaves the truncated lineage
  * with nothing to read, and the next action fails with a
  * `SparkException` naming the missing checkpoint block (pinned by
  * `CheckpointSpec`). */
object Checkpoint {

  /** Test-observable probe: called with the checkpointed SEGMENT's
    * physical plan on every [[Syntax.checkpointed]] (AQE off or on, as
    * captured). Checkpoints truncate published plans to ExistingRDD
    * scans, so a plan audit walking only final plans is blind to
    * everything above a checkpoint — this hook is how WindowPlanSpec
    * sees those segments, and how `tools.Explain` prints them. No-op
    * in production. */
  @volatile var planProbe: SparkPlan => Unit = _ => ()

  private val captureLock = new Object

  implicit final class Syntax[T](private val ds: Dataset[T]) extends AnyVal {
    def checkpointed(eager: Boolean, keepAqe: Boolean = false): Dataset[T] = {
      def capture(): Dataset[T] = {
        planProbe(ds.queryExecution.executedPlan)
        ds.localCheckpoint(eager)
      }
      if (keepAqe) capture()
      else captureLock.synchronized {
        val conf = ds.sparkSession.conf
        val key = "spark.sql.adaptive.enabled"
        val was = conf.get(key, "true")
        conf.set(key, "false")
        try capture() finally conf.set(key, was)
      }
    }
  }

  /** Block lifecycle for a multi-stage composition. A checkpointed
    * block is otherwise released only when the JVM garbage-collects the
    * RDD reference and the async ContextCleaner catches up; in a
    * long-lived session chaining many operators (dedup → soft-weights →
    * sampling) that state accumulates (the round-5 bench measured
    * mid-run queries inflated 4-9× by unreleased checkpoint blocks).
    *
    * Runs `body`, eagerly checkpoints its result (AQE off) so it no
    * longer depends on any intermediate, then releases EVERY persistent
    * RDD registered during the body — checkpointed by the body itself
    * or inside a library call it composed — and returns the result. The
    * result stays a normal checkpointed frame the CALLER owns (a harness
    * sweeps it via `getPersistentRDDs` between queries; a pipeline
    * passes it to the next scope). If the body or the result's
    * checkpoint throws, every block registered since the scope began
    * is released before the exception propagates: a throwing pipeline
    * leaks nothing.
    *
    * Threading contract: the release set is a diff of
    * `sparkContext.getPersistentRDDs` snapshots, so a scope must not
    * race OTHER persist activity on the same SparkContext. Compositions
    * here are single-threaded (Spark parallelism lives below the driver
    * API), so this holds by construction. */
  def scoped(spark: SparkSession)(body: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def since = sc.getPersistentRDDs.keySet -- before
    var keep = Set.empty[Int] // the result's blocks, once it exists
    try {
      val result = body
      val bodyIds = since
      // eager, and released only AFTER: the result's blocks must exist
      // before the intermediates they derive from are dropped (a lazy
      // checkpoint here would recompute through already-unpersisted
      // truncated lineage)
      val out = result.checkpointed(eager = true)
      keep = (since -- bodyIds).toSet
      out
    } finally
      (since -- keep).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }
}
