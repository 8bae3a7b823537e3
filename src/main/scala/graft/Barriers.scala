package graft

import org.apache.spark.sql.SparkSession

/** Deterministic lifetime management for barrier blocks.
  *
  * The multi-consumer operators (q51/q52/q53/q74/q84/q87/q92/q94/q95 and
  * the CC loops) pin intermediate frames with `localCheckpoint` — the
  * blocks are persisted at plan-construction time and, once the query has
  * been consumed, are dead weight until GC + ContextCleaner get around to
  * them. One query per session never notices; a long-lived session running
  * thousands of barrier queries accumulates storage-memory pressure that
  * evicts blocks other work still wants.
  *
  * `withBarrierScope` makes the lifetime explicit: it snapshots the
  * context's persistent-RDD ids, runs `body`, and on exit unpersists every
  * RDD persisted DURING the scope — checkpoint pins, caches, everything
  * the scoped work registered — returning the session's storage to its
  * entry state. Release is non-blocking (block deletion proceeds async;
  * the registry entries are gone synchronously, so a following scope
  * starts from a clean snapshot).
  *
  * CONTRACT: the scope must CONSUME its results (collect / write / noop
  * sink) before exiting. A localCheckpoint truncates lineage, so a lazily
  * built DataFrame that escapes the scope unconsumed would find its
  * checkpoint blocks gone with no way to recompute them. This is the
  * caller-side half of the barrier design: operators cannot free blocks
  * they create (the caller hasn't consumed yet — NEXT r9 #2); the scope
  * frees them at the one point where "consumed" is knowable.
  *
  * Verify wraps each query's write, Bench each measured run and
  * `pipeline.Runner` each ingest run, so none of them accumulates blocks
  * across the runs of one session.
  */
object Barriers {

  /** Run `body`, then unpersist every RDD the scope persisted. Returns
    * `body`'s result. Scopes nest: an inner scope releases only its own
    * blocks (the outer snapshot still covers its own). */
  def withBarrierScope[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    try body
    finally {
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = false)
      }
    }
  }

  /** Count of currently registered persistent RDDs — the observable the
    * scope guarantees to restore (test hook + session-health probe). */
  def persistentRddCount(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size

  /** Release the blocks behind an eagerly checkpointed DataFrame NOW —
    * the in-loop complement of [[withBarrierScope]] for iterative
    * operators that supersede a barrier every round (BPE training, the
    * CC loops): without it a 30-round loop holds 30 vocab-sized pinned
    * copies until scope exit. The frame must not be read again — its
    * lineage was truncated by the checkpoint, so the blocks are the only
    * copy. No-op on frames without a LogicalRDD leaf. */
  def release(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
