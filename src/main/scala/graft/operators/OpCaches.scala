package graft.operators

import org.apache.spark.sql.DataFrame

/** Bounded LRU registry for OPERATOR-INTERNAL multi-consumer persists —
  * the shared home for the r19 gate-path `persist` sites (triangleCounts /
  * pageRankFixedPoint edge+degree frames, groupedPrefixSums input,
  * Resample bucket aggregate, spearman's fact projection, the
  * frequency-ordered jaccard prefix frame) and the minhash signature frame
  * of `Dedup.minhashDupPairsWithStats`. Same design as the
  * [[TextOps]] span-frame registry (keyed by (session, analyzed-plan
  * semantic hash), LRU-bounded, stopped-session purge), generalized to any
  * operator intermediate.
  *
  * Why a registry instead of a bare `.persist`: these frames are persisted
  * for INTRA-action reuse (several consumers inside one query plan or one
  * operator invocation), but a bare persist has no unpersist path — in a
  * long-lived session every distinct input accumulates MEMORY_AND_DISK
  * blocks until executor eviction (r19 verdict item 1/2; ADVICE medium).
  * Registration bounds the lifetime: at most [[MaxFrames]] frames are ever
  * pinned, the least-recently-used is unpersisted on overflow, and an
  * unpersisted plan lazily recomputes, so eviction is never a correctness
  * event.
  *
  * Bench cold-sample contract: [[clear]] unpersists every registered frame.
  * Bench.scala calls it before EVERY timed sample, so a timed sample can
  * never read an InMemoryRelation built by the untimed warmup (or by a
  * previous sample) of one of these frames — the r19 verdict's "warmup
  * computes, timed samples read cache" hazard. Frames still serve their
  * real purpose inside the sample: the several consumers of one action
  * share one computation, and that build cost is INSIDE the timed window.
  */
object OpCaches {

  /** Upper bound on simultaneously pinned frames. Sized to the widest
    * real call chain (a gate that routes 2-3 frames per invocation, a few
    * gates interleaved by a bench pass) — overflow only costs a lazy
    * recompute on the evicted frame's next consumer. */
  private[graft] val MaxFrames = 8

  private val frames = new java.util.LinkedHashMap[
    (org.apache.spark.sql.SparkSession, Int), DataFrame](16, 0.75f, true)

  /** Registry hits — observability hook for specs (same role as
    * [[TextOps.spanCacheHits]]). */
  private[graft] val hits = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def frameCount: Int = frames.synchronized(frames.size)

  /** Unpersist is registry hygiene, never correctness — and must not throw
    * when the owning SparkContext has stopped. */
  private def safeUnpersist(df: DataFrame, blocking: Boolean): Unit = {
    scala.util.Try(df.unpersist(blocking)): Unit
  }

  /** Drop entries whose owning session is stopped (they pin the dead
    * session against GC; their blocks died with the context). Injectable
    * predicate is for specs only — one JVM allows one active context. */
  private[graft] def purgeStoppedSessions(
      isStopped: org.apache.spark.sql.SparkSession => Boolean =
        _.sparkContext.isStopped): Unit = frames.synchronized {
    val it = frames.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (isStopped(e.getKey._1)) { it.remove(); safeUnpersist(e.getValue, blocking = false) }
    }
  }

  /** Persist `df` MEMORY_AND_DISK and register it; if a frame with the
    * same analyzed plan is already registered, return THAT frame (its
    * blocks, if built, serve every consumer). All mutation runs under the
    * map's lock (the TextOps atomicity lesson: an unlocked
    * check/unpersist/persist interleaving can leave a persisted frame
    * untracked, i.e. leaked forever). */
  def cached(df: DataFrame): DataFrame = frames.synchronized {
    purgeStoppedSessions()
    val analyzed = df.queryExecution.analyzed
    val key = (df.sparkSession, analyzed.semanticHash())
    val hit = frames.get(key) // get() refreshes LRU access order
    // sameResult confirms the 32-bit semanticHash — a collision must be a
    // REPLACE, never a silent wrong-frame serve.
    if (hit != null && hit.queryExecution.analyzed.sameResult(analyzed)) {
      hits.incrementAndGet(); hit
    } else {
      if (hit != null) safeUnpersist(hit, blocking = false)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      frames.put(key, df)
      if (frames.size > MaxFrames) {
        val it = frames.entrySet().iterator()
        val eldest = it.next()
        it.remove()
        safeUnpersist(eldest.getValue, blocking = false)
      }
      df
    }
  }

  /** Unpersist and forget EVERY registered frame. Blocking, so the freed
    * blocks are gone before the caller's next timed region starts — this
    * is the Bench per-sample cold hook (see the class doc); it is also
    * safe to call any time (frames lazily recompute). */
  def clear(): Unit = frames.synchronized {
    val it = frames.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      it.remove()
      safeUnpersist(e.getValue, blocking = true)
    }
  }
}
