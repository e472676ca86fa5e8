package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.storage.StorageLevel

/** The one persist lifecycle of graft: no other code in `src/main` calls
  * `.persist`. Two forms, for the two ways a frame is shared.
  *
  *   - Registry, [[cached]]: a frame that several consumers of one action
  *     (or several calls over the same input) read, and that outlives the
  *     call which built it — a lazy plan handed back still scans it.
  *     Registered frames are keyed by (session, analyzed-plan semantic
  *     hash) and persisted MEMORY_AND_DISK. A registration whose plan
  *     matches a live entry gets that entry's frame back (a hit, counted
  *     in [[hits]]).
  *   - Scoped, [[withPersisted]]: a frame that one eager computation reads
  *     many times (training loops, a count and then a probe). It is
  *     persisted for the body only and released in `finally`. A frame
  *     that is already persisted, by the registry or by a caller, is left
  *     as it is, so a scope never evicts a frame it did not persist.
  *
  * Bounds and validity of the registry:
  *   - at most [[MaxFrames]] frames are pinned; the least-recently-used
  *     one is unpersisted on overflow. An unpersisted plan lazily
  *     recomputes, so eviction is never a correctness event;
  *   - entries of a stopped session are dropped at every registration
  *     (they would pin the dead session; their blocks died with it);
  *   - a hit needs `sameResult` on the analyzed plans (the 32-bit hash may
  *     collide) AND the same file snapshot — name:size:mtime of every file
  *     each file-sourced leaf listed, taken when the frame registered.
  *     `sameResult` alone compares a file index by its root paths only, so
  *     a frame over files rewritten in place would otherwise be served
  *     stale. The snapshot is kept with the entry because Spark's own
  *     writer refreshes a cached index in place after an overwrite, while
  *     the registered frame's executed plan still names the old files. A
  *     mismatch replaces the entry.
  *
  * [[clear]] unpersists every registered frame, blocking. Bench calls it
  * before every timed sample, so no timed sample reads a cache built by
  * the warmup or by a previous sample; each sample builds its frames
  * inside its own timed window.
  */
object OpCaches {

  /** Upper bound on simultaneously pinned frames. Sized to the widest
    * real call chain (a gate that routes 2-3 frames per invocation, a few
    * gates interleaved by a bench pass) — overflow only costs a lazy
    * recompute on the evicted frame's next consumer. */
  private[graft] val MaxFrames = 8

  private final case class Entry(df: DataFrame, files: Seq[String])
  private val frames = new java.util.LinkedHashMap[
    (org.apache.spark.sql.SparkSession, Int), Entry](16, 0.75f, true)

  /** Registry hits — the observability hook for specs and perfbench. */
  private[graft] val hits = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def frameCount: Int = frames.synchronized(frames.size)

  /** Unpersist is registry hygiene, never correctness — and must not throw
    * when the owning SparkContext has stopped. */
  private def safeUnpersist(df: DataFrame, blocking: Boolean): Unit = {
    scala.util.Try(df.unpersist(blocking)): Unit
  }

  /** Drop entries whose owning session is stopped. Injectable predicate is
    * for specs only — one JVM allows one active context. */
  private[graft] def purgeStoppedSessions(
      isStopped: org.apache.spark.sql.SparkSession => Boolean =
        _.sparkContext.isStopped): Unit = frames.synchronized {
    val it = frames.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (isStopped(e.getKey._1)) {
        it.remove(); safeUnpersist(e.getValue.df, blocking = false)
      }
    }
  }

  /** The files each file-sourced leaf of `plan` lists, read from its
    * index's in-memory listing (no file-system call). */
  private def fileSnapshot(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location
    }.collect {
      case i: PartitioningAwareFileIndex =>
        graft.sources.TableMemo.fingerprint(i.allFiles())
    }

  /** Persist `df` MEMORY_AND_DISK and register it; if a frame with the
    * same plan over the same files is already registered, return THAT
    * frame (its blocks, if built, serve every consumer). All mutation runs
    * under the map's lock: an unlocked check/unpersist/persist
    * interleaving can leave a persisted frame untracked, i.e. leaked. */
  def cached(df: DataFrame): DataFrame = frames.synchronized {
    purgeStoppedSessions()
    val analyzed = df.queryExecution.analyzed
    val key = (df.sparkSession, analyzed.semanticHash())
    val files = fileSnapshot(analyzed)
    val hit = frames.get(key) // get() refreshes LRU access order
    if (hit != null && hit.files == files &&
        hit.df.queryExecution.analyzed.sameResult(analyzed)) {
      hits.incrementAndGet(); hit.df
    } else {
      if (hit != null) safeUnpersist(hit.df, blocking = false)
      df.persist(StorageLevel.MEMORY_AND_DISK)
      frames.put(key, Entry(df, files))
      if (frames.size > MaxFrames) {
        val it = frames.entrySet().iterator()
        val eldest = it.next()
        it.remove()
        safeUnpersist(eldest.getValue.df, blocking = false)
      }
      df
    }
  }

  /** Run `body` over `df` persisted MEMORY_AND_DISK, and unpersist it
    * afterwards, also when `body` throws. If `df`'s plan is already
    * persisted, `body` runs over it as is and nothing is released. `body`
    * may return eager results, or a lazy plan that first executes after
    * it (and then recomputes `df`); not a plan it already executed, whose
    * cached scan would rebuild `df`'s blocks outside any owner. */
  def withPersisted[A](df: DataFrame)(body: DataFrame => A): A =
    if (df.storageLevel != StorageLevel.NONE) body(df)
    else {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try body(df) finally safeUnpersist(df, blocking = false)
    }

  /** Unpersist and forget EVERY registered frame. Blocking, so the freed
    * blocks are gone before the caller's next timed region starts; safe
    * to call any time (frames lazily recompute). */
  def clear(): Unit = frames.synchronized {
    val it = frames.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      it.remove()
      safeUnpersist(e.getValue.df, blocking = true)
    }
  }
}
