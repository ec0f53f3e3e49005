package graft.ext

import org.apache.spark.sql.Dataset

/** Thread-scoped tracking of per-query scratch frames — persisted or
  * `localCheckpoint`ed intermediates whose cached blocks are only
  * needed while their own query materializes.
  *
  * Why: a 150+-query harness run executes queries back to back in one
  * JVM, and a heavy query's `localCheckpoint` can leave hundreds of MB
  * of blocks that NOTHING later can ever reuse — a checkpoint
  * truncates lineage into a fresh LogicalRDD leaf, which Spark's
  * CacheManager can never plan-match from another query's plan. Later
  * queries then pay the eviction/GC bill of dead weight (the
  * round-9/10 heavy-neighbor bench artifact). The harness-global
  * alternative — clearCache + GC around every query — was measured
  * 22% WORSE for the median query; and releasing EVERYTHING a query
  * persisted was measured (round 11 A/B, sf0.1) to cost the suite
  * ~10 s of legitimate cross-query reuse, because plain `persist`ed
  * fragments (band tables, shingle tables) ARE plan-matched by
  * sibling queries' identical plan fragments and reused.
  *
  * So the policy is split by reuse value: [[scoped]] releases
  * checkpoint-backed frames (zero reuse value, often the largest
  * blocks) AND any tracked persist derived from one of those released
  * checkpoints (equally zero reuse value — its unique LogicalRDD leaf
  * plan-matches nothing — plus a recompute hazard once the checkpoint
  * blocks are gone); plain persists with replayable lineage stay
  * cached — Spark's LRU storage eviction self-manages them under
  * pressure, and CacheManager reuse keeps the dedup family's shared
  * fragments warm across the suite.
  *
  * Without an active scope (library use, specs) [[track]]
  * is a no-op — callers outside a harness keep full control of frame
  * lifetimes. Registration happens at plan-construction time on the
  * scope's thread, which is also where `persist`/`localCheckpoint`
  * calls live, so concurrent harness threads (Verify's bounded pool)
  * never release each other's frames.
  *
  * At 100 TB the same discipline matters more, not less: an executor
  * fleet serving a query mix cannot afford N queries' worth of dead
  * pinned checkpoint blocks, and "who releases this" must be
  * answerable per frame — for a checkpoint the answer is always "the
  * query that made it"; for a shared cacheable fragment it is the
  * cache's eviction policy.
  */
object Scratch {

  private val tl = new ThreadLocal[java.util.ArrayDeque[Dataset[_]]]()

  /** Register a persisted/checkpointed scratch frame for release when
    * the enclosing [[scoped]] block ends. Returns the frame, so call
    * sites read `Scratch.track(df.persist())`. No-op without a scope.
    * Do NOT track frames cached for cross-query reuse (model caches,
    * [[IndexCache]]-built artifacts) — those are serving state, not
    * scratch.
    */
  def track[T <: Dataset[_]](df: T): T = {
    val buf = tl.get()
    if (buf != null) buf.push(df)
    df
  }

  /** Best-effort release, three cases:
    *
    *   1. Frames that ARE a checkpoint (analyzed plan's ROOT is the
    *      LogicalRDD leaf): unpersist the backing RDD blocks
    *      (Dataset.unpersist alone does not reach those) plus the
    *      frame's own cache entry.
    *   2. Tracked persists DERIVED from a checkpoint released in the
    *      same scope (the analyzed plan CONTAINS one of the released
    *      LogicalRDD leaves): unpersist the frame's cache entry too.
    *      Such a persist has zero reuse value — its unique LogicalRDD
    *      leaf can never plan-match a sibling query — and a live
    *      recompute hazard: with the checkpoint's blocks gone its
    *      truncated lineage cannot be replayed, so on cache-block loss
    *      in cluster mode the "cached" frame would simply fail. Only
    *      the cache entry is dropped; the checkpoint RDD itself is
    *      released exactly once by its own case-1 entry.
    *   3. Any other tracked frame is a plain persist with replayable
    *      lineage — left cached on purpose (see object doc:
    *      plan-matched reuse beats eager release, measured).
    *
    * Derived-release is scoped to checkpoints tracked IN THIS SCOPE: a
    * persist over a long-lived checkpoint someone else owns (serving
    * state) is untouched, since that leaf is not in `ckptRddIds`.
    */
  private def release(df: Dataset[_],
      ckptRddIds: java.util.HashSet[Int]): Unit =
    try {
      df.queryExecution.analyzed match {
        case _: org.apache.spark.sql.execution.LogicalRDD =>
          unpersistAll(df)
        case plan =>
          val derived = plan.exists {
            case l: org.apache.spark.sql.execution.LogicalRDD =>
              ckptRddIds.contains(l.rdd.id)
            case _ => false
          }
          if (derived) { df.unpersist(blocking = false); () }
      }
    } catch { case _: Throwable => () }

  /** Best-effort full release of one frame: when it IS a checkpoint,
    * its backing RDD blocks (not reachable through Dataset.unpersist
    * alone), then the frame's own cache entry.
    */
  private def unpersistAll(df: Dataset[_]): Unit =
    try {
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
      df.unpersist(blocking = false)
      ()
    } catch { case _: Throwable => () }

  /** Run `body` with a fresh tracking scope; release every frame the
    * body tracked once it returns (or throws). Scopes nest — an inner
    * scope restores the outer one.
    */
  def scoped[T](body: => T): T = {
    val outer = tl.get()
    val buf = new java.util.ArrayDeque[Dataset[_]]()
    tl.set(buf)
    try body
    finally {
      tl.set(outer)
      // Pass 1: the RDD ids of checkpoints this scope is about to
      // release — the "derived from a released checkpoint" test set.
      val ckptRddIds = new java.util.HashSet[Int]()
      buf.forEach { df =>
        try {
          df.queryExecution.analyzed match {
            case l: org.apache.spark.sql.execution.LogicalRDD =>
              ckptRddIds.add(l.rdd.id); ()
            case _ => ()
          }
        } catch { case _: Throwable => () }
      }
      buf.forEach(release(_, ckptRddIds))
    }
  }

  /** Run `body` in a fresh scope on THIS thread and hand its tracked
    * frames back instead of releasing them — the seam for fanning
    * scope-tracked work out to helper threads (the concurrent media
    * legs of [[graft.streaming.GraphStream]]): [[track]] is
    * thread-local, so a helper thread sees no scope and would leak
    * every persist; with this, the helper collects and the CALLER
    * adopts the frames into its own scope ([[adopt]]), releasing them
    * at the enclosing boundary — after the plans they back have been
    * consumed. If `body` throws, the collected frames are released
    * here (nobody can adopt them) before the failure propagates.
    */
  def collectTracked[T](body: => T): (T, Seq[Dataset[_]]) = {
    val outer = tl.get()
    val buf = new java.util.ArrayDeque[Dataset[_]]()
    tl.set(buf)
    val frames = () =>
      buf.toArray(Array.empty[Dataset[_]]).toIndexedSeq
    try {
      val r = body
      (r, frames())
    } catch {
      case e: Throwable =>
        // scopedAll's release: dropping only the cache entry would pin
        // a checkpoint's RDD blocks for the stream's lifetime
        frames().foreach(unpersistAll)
        throw e
    } finally tl.set(outer)
  }

  /** Adopt frames collected on another thread ([[collectTracked]])
    * into the CURRENT thread's scope. No-op without one — the caller
    * then owns the frames' lifetimes, same as any untracked persist.
    */
  def adopt(frames: Seq[Dataset[_]]): Unit = {
    frames.foreach(track(_))
    ()
  }

  /** [[scoped]] with the keep-plain-persists policy INVERTED: release
    * EVERY tracked frame, plain persists included. The scope of every
    * streaming foreachBatch body: [[graft.streaming.MicroBatch.commit]]
    * runs each body in it, which makes the commit gate the one owner
    * of a micro-batch's frames — each micro-batch's plans are unique
    * (new batch data in every leaf), so the cross-query plan-match
    * reuse that justifies keeping plain persists in the harness scope
    * cannot happen, and over hours of triggers the untouched cache
    * entries (MEMORY_AND_DISK: evicted blocks land on DISK and stay
    * until unpersist) accumulate without bound. Outside streaming it
    * bounds one measured unit of work (ScaleProbe's touched audit, the
    * closure rounds of [[CorpusGraph]]).
    */
  def scopedAll[T](body: => T): T = {
    val outer = tl.get()
    val buf = new java.util.ArrayDeque[Dataset[_]]()
    tl.set(buf)
    try body
    finally {
      tl.set(outer)
      buf.forEach(unpersistAll(_))
    }
  }
}
