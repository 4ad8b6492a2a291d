package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The repo's localCheckpoint conventions behind one audit seam,
  * [[recording]].
  *
  * LAZY checkpoints (multi-consumer frames) ride `.transform(Ckpt
  * .lazyCkpt)` instead of a bare `.localCheckpoint(eager = false)` so
  * that a `recording(spark, lazyPins = false)` block (the plan audits,
  * `graft.plans.PlanAudits`) makes the checkpoint a no-op and the full
  * logical plan visible. A lazy checkpoint otherwise truncates the plan
  * to a LogicalRDD at construction, which is exactly how the round-12
  * `events_dgim` hot-partition window HID from every plan pin: the
  * rows-sized per-key sort lived inside the checkpointed subtree and no
  * audit walking the final query plan could see it.
  *
  * Value-safety of the bypass: every lazily checkpointed frame in this
  * repo is deterministic (md5-seeded, no rand), so recomputing it per
  * consumer changes cost, never values.
  *
  * EAGER checkpoints (iterative-loop lineage cuts, staged-swap replay
  * pins) ride `.transform(Ckpt.eagerCkpt)`. These carry CORRECTNESS
  * contracts (a loop that re-derives its edge set per round is a
  * different computation; the writeBucketed staged-swap pins the old
  * generation before an overwrite) so nothing ever disables them —
  * instead, inside a [[recording]] block, the pre-checkpoint OPTIMIZED
  * plan is recorded so the plan audits and the exchange budget can walk
  * the subtree the checkpoint is about to hide.
  *
  * The `localCheckpoint` calls stay in this file: profilers find pin
  * jobs by their `Ckpt.scala` call site.
  */
object Ckpt {

  /** One [[recording]] block's state: the lazy-pin mode and the plans. */
  private final class Recorder(val lazyPins: Boolean) {
    val plans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
  }

  // keyed by session identity (SparkSession does not override equals), so
  // pins built on other threads — Par.concurrently — are recorded too
  private val recorders = new ConcurrentHashMap[SparkSession, Recorder]()

  /** Runs `body` with plan recording on for `spark` only, and returns its
    * result with the pre-checkpoint optimized plan of every eager pin it
    * built on that session, in pin order. With `lazyPins = false`, lazy
    * checkpoints on that session are skipped for the block. Blocks on one
    * session do not nest. */
  def recording[A](spark: SparkSession, lazyPins: Boolean)(body: => A): (A, Seq[LogicalPlan]) = {
    val r = new Recorder(lazyPins)
    if (recorders.putIfAbsent(spark, r) != null)
      throw new IllegalStateException("Ckpt.recording is already active on this session")
    try {
      val out = body
      (out, r.synchronized(r.plans.toList))
    } finally recorders.remove(spark)
  }

  private def recorder(ds: Dataset[_]): Option[Recorder] = Option(recorders.get(ds.sparkSession))

  private def record(ds: Dataset[_]): Unit =
    recorder(ds).foreach(r => r.synchronized { r.plans += ds.queryExecution.optimizedPlan })

  def lazyCkpt[T](ds: Dataset[T]): Dataset[T] =
    if (recorder(ds).exists(!_.lazyPins)) ds
    else ds.localCheckpoint(eager = false)

  /** Eager lineage-cut pin; always checkpoints (correctness contract),
    * but exposes the pre-checkpoint plan to a [[recording]] block. */
  def eagerCkpt[T](ds: Dataset[T]): Dataset[T] = {
    record(ds)
    ds.localCheckpoint()
  }

  private val meterId = new java.util.concurrent.atomic.AtomicLong(0)

  /** [[eagerCkpt]] that additionally evaluates aggregate `metrics` DURING
    * the materialization job via `Dataset.observe` (guide §1.2: an
    * iterative loop's convergence scan is free when it rides the
    * checkpoint write instead of running as a second job over the blocks
    * just written — one full pass over the loop state per round, gone).
    * Returns the pinned frame plus the observed metrics row. Metrics
    * must be aggregates that never need a post-scan (count/sum/min/max).
    */
  def eagerCkptMetered[T](ds: Dataset[T], metrics: org.apache.spark.sql.Column*): (Dataset[T], org.apache.spark.sql.Row) = {
    val name = s"__graft_ckpt_meter_${meterId.incrementAndGet()}"
    val obs = ds.observe(name, metrics.head, metrics.tail: _*)
    record(obs)
    val pinned = obs.localCheckpoint()
    val row = obs.queryExecution.observedMetrics.getOrElse(name,
      throw new IllegalStateException(
        s"Ckpt.eagerCkptMetered: meter $name was not observed by the checkpoint job"))
    (pinned, row)
  }
}
