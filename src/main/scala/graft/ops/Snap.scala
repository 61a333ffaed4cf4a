package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

/** RDD-handle checkpointing for driver-side iterative loops (the
  * [[PageRank.ranksAdaptive]] / [[DedupClusters]] discipline, shared).
  *
  * `Dataset.localCheckpoint()` pins an INTERNAL RDD that the caller
  * never sees: `Dataset.rdd` on the returned frame builds a fresh
  * deserialization lineage over it, so `returned.rdd.unpersist()` is a
  * no-op and superseded per-round state silently accumulates for the
  * loop's lifetime (see `streaming/Staging.scala`'s persist-vs-
  * checkpoint note). [[pin]] pulls the EXACT persisted handle off the
  * checkpointed frame's `LogicalRDD`, so release is real — verified in
  * `SnapSpec` via `sparkContext.getPersistentRDDs` before/after.
  */
object Snap {

  /** Mark `df`'s rows for a local checkpoint and return the rebuilt
    * frame plus the EXACT RDD handle that holds the pinned blocks.
    * Lazy: the first job over the returned frame materializes the
    * checkpoint (callers in argmax/isEmpty-per-round loops already run
    * one — no extra job); call [[release]] with the handle once the
    * state is superseded.
    *
    * Since r17 this is `Dataset.localCheckpoint(eager = false)` with
    * the pinned INTERNAL RDD pulled off the resulting `LogicalRDD`
    * (the [[tracked]] technique), not a re-wrap of `df.rdd`: the
    * blocks then hold compact UnsafeRows instead of boxed external
    * `Row` objects, every per-round loop skips one full
    * InternalRow→Row→InternalRow conversion of its state, and the
    * checkpointed frame keeps the physical plan's output partitioning
    * (a `createDataFrame(rdd)` re-wrap pins UnknownPartitioning, so
    * every downstream key operation re-exchanged even when the state
    * was already hash-placed on that key).
    */
  def pin(df: DataFrame): (DataFrame, RDD[_]) = {
    val cp = df.localCheckpoint(eager = false)
    val rdd = cp.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.orNull
    (cp, rdd)
  }

  /** [[pin]] + an immediate count() so the checkpoint materializes NOW
    * — for loops with no natural per-round action, where the previous
    * round must not be released until the current one is safely pinned.
    */
  def pinEager(df: DataFrame): (DataFrame, RDD[_]) = {
    val (back, rdd) = pin(df)
    back.count()
    (back, rdd)
  }

  /** Free a superseded handle (null-safe, non-blocking). */
  def release(rdd: RDD[_]): Unit =
    if (rdd != null) rdd.unpersist(blocking = false)

  // -------------------------------------------------------------------
  // Tracked one-shot checkpoints (the Verify/benchmark lifecycle)
  // -------------------------------------------------------------------

  private val trackedHandles = new java.util.concurrent
    .ConcurrentLinkedQueue[java.lang.ref.WeakReference[RDD[_]]]()

  /** `Dataset.localCheckpoint()` with the pinned INTERNAL RDD captured
    * for deterministic release: the checkpointed frame's logical plan
    * IS a `LogicalRDD` over exactly the persisted handle, so it is
    * pulled straight off the plan — never diffed out of the global
    * `getPersistentRDDs` registry, which could capture an UNRELATED
    * RDD persisted concurrently (e.g. a session fixture's raw
    * `localCheckpoint()` on another thread) and later unpersist it,
    * leaving that fixture unrecomputable. The queue holds the handle
    * through a `WeakReference`: callers that never drain (specs invoke
    * query bodies directly) pin nothing — once the query's frames are
    * unreferenced the ContextCleaner reclaims the blocks exactly as it
    * would for an untracked checkpoint. One-shot query bodies route
    * their checkpoints here (via `TrainQueries.snap`) so a harness
    * that invokes hundreds of queries per session — Verify dumps all
    * 326 in one — releases each invocation's blocks as
    * soon as its action completes, instead of waiting for the
    * ContextCleaner to notice the dropped reference after a driver GC
    * (the block-manager store fills with stale MEMORY_AND_DISK blocks
    * in the meantime — eviction + GC pressure exactly where the run
    * is deepest). SESSION FIXTURES must NOT come through here: their
    * checkpoints outlive the invoking query by design (raw
    * `localCheckpoint()` — a drained fixture would be unrecomputable,
    * lineage is truncated).
    */
  def tracked(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        trackedHandles.add(new java.lang.ref.WeakReference[RDD[_]](lr.rdd))
    }
    cp
  }

  /** Release every tracked checkpoint (non-blocking); returns how many
    * entries were drained. An entry whose weak reference was already
    * cleared counts too — a collected RDD's blocks are the
    * ContextCleaner's to reclaim, so it is equally released. Callers
    * invoke this once the consuming action is DONE — the checkpointed
    * frames cannot be recomputed after.
    */
  def drainTracked(): Int = {
    var n = 0
    var ref = trackedHandles.poll()
    while (ref != null) {
      val rdd = ref.get()
      if (rdd != null) rdd.unpersist(blocking = false)
      n += 1
      ref = trackedHandles.poll()
    }
    n
  }

  /** Currently-tracked (not yet drained) checkpoint count. */
  def trackedCount: Int = trackedHandles.size
}
