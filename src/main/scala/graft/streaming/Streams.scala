package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (beyond-parity: the reference has no
  * streaming, SURVEY.md §2.10) over the `events` stream shape
  * (event_id, ts, user_id, event_type, value).
  *
  * Scale design: every operator is keyed (user_id / window start), so state
  * partitions across executors; watermarks bound state size — without them
  * windowed state grows unboundedly on an infinite stream. All
  * transformations are declarative (Catalyst-planned) except the explicit
  * flatMapGroupsWithState custom-state example.
  */
object Streams {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class UserRunning(user_id: Long, n_events: Long, total_value: Double,
      mean_value: Double)

  /** File-source ingest of an events directory as an unbounded stream —
    * the production entry point (each arriving parquet = one micro-batch).
    * The file source needs an explicit schema, so the directory's current
    * footers are probed through [[graft.sources.TableMemo]] — the stream
    * then survives a data-layer timestamp-unit change: `ts` may arrive as
    * BIGINT nanos (TIMESTAMP(NANOS) parquet under `nanosAsLong`), as
    * TIMESTAMP, or as TIMESTAMP_NTZ (TIMESTAMP(MICROS)); all normalize here
    * to one true TimestampType event-time column (sessions run UTC, so the
    * NTZ cast is exact).
    *
    * `maxFilesPerTrigger = Some(1)` makes each staged file its own
    * micro-batch under an AvailableNow drain (the file source orders files
    * by modification time, oldest first) — the replay mode the multi-batch
    * parity gates use to exercise cross-batch state merge and watermark
    * late-drops against a finite corpus. */
  def eventStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // An EMPTY landing directory (production cold start: the stream is
    // started before the first file arrives) has no footer to probe —
    // fall back to the canonical staged layout (BIGINT-nanos ts) so the
    // stream still starts and picks up files as they land.
    val schema = try graft.sources.TableMemo.read(spark, dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        org.apache.spark.sql.types.StructType.fromDDL("event_id BIGINT, " +
          "ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, " +
          "props STRING") }
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val df = reader.parquet(dir)
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer div keeps exactness: nanos/1e9 in double drops sub-µs
        // precision for 2024-era epochs (2^53 < nanos)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** File-source ingest of a documents directory as an unbounded stream —
    * the corpus-as-it-lands entry point: each arriving parquet of scraped
    * documents is one micro-batch, and the stateless quality/lang
    * projections ([[graft.operators.TextOps]]) apply unchanged. */
  def documentStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Sliding event-time windowed aggregation with a watermark: counts and
    * value sums per (window, event_type). Watermark bounds state: windows
    * older than maxDelay are finalized and evicted. */
  def windowedCounts(events: DataFrame, width: String, slide: String,
      maxDelay: String): DataFrame =
    events
      .withWatermark("ts", maxDelay)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Session windows per user: events within `gap` of each other merge into
    * one session (state scales with live sessions, keyed by user). */
  def sessionize(events: DataFrame, gap: String, maxDelay: String): DataFrame =
    events
      .withWatermark("ts", maxDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Stream-static enrichment join: each micro-batch of the unbounded
    * stream joins against a STATIC batch dimension. Stateless — the join
    * carries no streaming state and needs no watermark — and the dimension
    * is broadcast, so the 100 TB shape is: the fact stream never shuffles,
    * each executor probes its local dim copy, and a dim that changes on
    * disk is re-resolved at the next trigger (Spark re-plans the static
    * side per micro-batch). For dimensions too large to broadcast, drop
    * the hint and pre-bucket both sides on the key instead. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      joinExpr: org.apache.spark.sql.Column): DataFrame =
    stream.join(broadcast(dim), joinExpr)

  /** Stream-stream event-time interval join (inner): rows from two
    * unbounded streams match on an equality key plus a time-range bound on
    * their event times. Inner matches emit as soon as BOTH rows have
    * arrived — the watermark is not an output gate, it bounds STATE: with
    * watermarks on both sides and a range condition relating the two event
    * times, Spark derives how far back each side's buffered rows can still
    * find a partner and evicts everything older, so an infinite stream
    * joins in bounded memory. The equality key routes both sides to the
    * same state-store partition (hash shuffle on the key — the stream
    * analog of a co-partitioned join); without a range condition the
    * buffers only shrink if one side's watermark alone clears them.
    *
    * Late rows (below the operative late-filter watermark, the
    * two-batches-back one) are dropped from the join INPUT like any
    * stateful op — pick `maxDelay` beyond the worst expected lateness.
    *
    * `joinType = "left_outer"` additionally emits each unmatched left row
    * (right columns null) — but only when the GLOBAL watermark (min across
    * both sides) passes the row's join window, because until then a partner
    * could still arrive. That is why the optional side filters are applied
    * AFTER `withWatermark`, not by the caller before: the watermark node
    * accumulates max-event-time from the rows flowing through IT, so a
    * caller-side filter (e.g. keep only clicks up to some cutoff) would
    * freeze that side's watermark at the last kept row and the final rows'
    * outer results would never emit. Filtering after the watermark keeps
    * the watermark advancing with the FULL stream while the join state only
    * holds the filtered rows.
    *
    * Syntactic placement is not enough: Catalyst pushes deterministic
    * predicates THROUGH EventTimeWatermark unless they reference the
    * watermark column (PushPredicateThroughNonJoin) — and conjuncts are
    * SPLIT and pushed independently, so `pred AND ts IS NOT NULL` loses
    * `pred` below the watermark anyway. Each filter is therefore wrapped in
    * [[graft.expressions.AboveWatermarkPredicate]]: a single unsplittable
    * predicate referencing the event-time column, pinned above the
    * watermark node (null predicate result counts as false — a row with a
    * null event time is meaningless to an event-time join either way). */
  def intervalJoin(left: DataFrame, leftTs: String, leftDelay: String,
      right: DataFrame, rightTs: String, rightDelay: String,
      joinExpr: org.apache.spark.sql.Column,
      joinType: String = "inner",
      leftFilter: Option[org.apache.spark.sql.Column] = None,
      rightFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    def side(df: DataFrame, ts: String, delay: String,
        f: Option[org.apache.spark.sql.Column]) = {
      val w = df.withWatermark(ts, delay)
      f.map(c => w.filter(graft.expressions.AboveWatermarkPredicate
        .pinAboveWatermark(c, col(ts)))).getOrElse(w)
    }
    side(left, leftTs, leftDelay, leftFilter)
      .join(side(right, rightTs, rightDelay, rightFilter), joinExpr, joinType)
  }

  /** Streaming exact dedup on `keys` with watermark-bounded state — the
    * streaming face of Dedup.exactGroups. State holds one entry per
    * distinct key seen inside the watermark horizon and is evicted as the
    * watermark advances, so an infinite stream runs in bounded memory. */
  def dedupStream(events: DataFrame, maxDelay: String,
      keys: Seq[String] = Seq("event_id")): DataFrame =
    events.withWatermark("ts", maxDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  private val runSeq = new AtomicLong(0)

  private val _lastRunBatches = new java.util.concurrent.atomic.AtomicInteger(0)

  /** State-store residency of a finished drain, read from the engine's
    * progress telemetry: total state rows and bytes across the LAST
    * micro-batch progress that reported state operators, summed over
    * operators. This is the 100×-scale wall the session gate's verdict
    * item flagged — state rows grow with live sessions, and the default
    * on-heap HDFSBackedStateStore holds all of them per executor — so
    * residency must be a MEASUREMENT in the probe artifact, not a claim.
    * `bytes` is the provider's own memory estimate (on-heap map size for
    * the default provider; block-cache + memtable usage for RocksDB). */
  case class StateTelemetry(rows: Long, bytes: Long)

  private val _lastRunState =
    new java.util.concurrent.atomic.AtomicReference[Option[StateTelemetry]](None)

  /** State telemetry of the most recent drain, or None for a stateless
    * plan (e.g. the stream-static join). */
  def lastRunStateTelemetry: Option[StateTelemetry] = _lastRunState.get()

  /** The default state store holds every state row ON-HEAP per executor —
    * at 100× the session corpus that heap residency is the first
    * streaming wall. This scopes a drain to the RocksDB provider
    * (off-heap native memory + local SST files, the production choice for
    * large state), restoring the previous provider afterwards. Results
    * are provider-invariant (StreamsSpec pins the session gate's output
    * equal under both providers); only residency and commit mechanics
    * change. The rocksdbjni natives ship with Spark's jars. */
  /** @param changelogCheckpointing commit writes the batch's CHANGELOG to
    *   the checkpoint instead of a full SST snapshot per store per batch
    *   (snapshots move to background maintenance) — the documented
    *   production setting for RocksDB commit latency; at scale the
    *   per-batch snapshot upload is the dominant commit cost, and in the
    *   finite replays here it was most of the provider's wall-time premium
    *   over the on-heap store (q_stream_stream_join_rocksdb: 4 stores ×
    *   partitions × batches full snapshots). CHECKPOINT-FORMAT CAVEAT
    *   (ADVICE r19, why this is a parameter and not hard-wired): a
    *   changelog-enabled checkpoint is a different on-disk layout, so a
    *   caller resuming a checkpoint directory written with the other
    *   setting (or on a Spark without the feature) fails at RESTORE —
    *   opt out for such checkpoints. Fresh-checkpoint replays (every
    *   drain in this repo) are unaffected. Results are provider- and
    *   setting-invariant either way (StreamsSpec pins it).
    *
    * Also pools native memory across RocksDB instances
    * (`boundedMemoryUsage` + the default 500 MB cap): one shared block
    * cache + write-buffer manager instead of per-instance allocations —
    * with stores × partitions instances per drain (8 in the join gates)
    * the unpooled per-instance buffers are both slower to create and
    * unbounded in aggregate; pooling is the documented production answer
    * to RocksDB memory growth and leaves the per-store telemetry
    * (memoryUsedBytes) intact. */
  def withRocksDBStateStore[A](spark: SparkSession,
      changelogCheckpointing: Boolean = true)(body: => A): A = {
    val settings = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"),
    ) ++ (if (changelogCheckpointing) Seq(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing" +
        ".enabled" -> "true") else Nil)
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Number of micro-batches WITH input rows the most recent
    * [[runToTable]]/[[runToTableAppend]] drain executed — the observability
    * hook that lets specs prove a staged replay really spanned multiple
    * micro-batches (state merged across batches) instead of collapsing into
    * one. Capped at the engine's recentProgress retention (100), far above
    * any staged replay. */
  def lastRunBatches: Int = _lastRunBatches.get()

  private def recordBatches(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    _lastRunBatches.set(q.recentProgress.count(_.numInputRows > 0))
    _lastRunState.set(
      q.recentProgress.reverse.find(_.stateOperators.nonEmpty).map { p =>
        StateTelemetry(p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      })
  }

  /** Run `body` with the trailing NO-DATA micro-batch disabled
    * (`spark.sql.streaming.noDataMicroBatches.enabled=false`), restored
    * afterwards. After an AvailableNow drain's last data batch, Spark by
    * default runs one more EMPTY batch so watermark-driven work (state
    * eviction, eviction-triggered emission) can happen without new input
    * — a full trigger with planning, offset WAL, state loads and commits
    * over every store × partition, measured at 0.6-0.9 s per drain here
    * (the probe's `rows=0` batch). For a finite replay whose OUTPUT
    * provably cannot depend on that batch — an INNER stream-stream join
    * emits matches when the second row ARRIVES, so an input-less batch
    * can only evict state it will never use again — the batch is pure
    * replay overhead and is skipped. Do NOT use this for plans that emit
    * on eviction (the left-outer join gate) or any plan whose final rows
    * are flushed by a watermark that only becomes operative after the
    * last data batch. Production infinite streams keep the default: there
    * the no-data batch is what lets results progress through a lull. */
  def withoutNoDataBatches[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` with the session's shuffle-partition count clamped to `n`,
    * restored afterwards. A streaming query pins its STATE-STORE partition
    * count from this conf at `start()` and every micro-batch commits one
    * checkpoint delta per store per partition — so a staged multi-batch
    * replay over a handful of keys pays partitions × stores × batches in
    * checkpoint I/O while doing trivial compute (measured 4-5× of the
    * stream-stream join gate's wall time at 32 partitions). Production
    * sizing is the opposite: state partitions must match cluster
    * parallelism and key cardinality, so this clamp belongs at REPLAY call
    * sites, never baked into an operator. Restoring in `finally` keeps the
    * surrounding batch session untouched. */
  def withStatePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Scratch checkpoint root for the finite-replay drains below. A MEMORY
    * sink is explicitly non-recoverable (its contents die with the
    * session), so a durable checkpoint buys a drain nothing — but the
    * state store still fsyncs one delta file per store per partition per
    * micro-batch into it. On a disk-backed temp dir those fsyncs ARE the
    * wall time of a small staged replay (measured: the two stream-stream
    * join gates spend most of their 4-5 s there). Point the scratch at
    * tmpfs when the host has one; production jobs with real sinks keep
    * durable checkpoints — this root is only ever used by the
    * memory-sink drains. */
  private val ScratchCkptBase: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base = if (java.nio.file.Files.isDirectory(shm)) shm
      else java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir", "/tmp"))
    base.resolve("graft_stream_ckpt")
  }

  /** Per-JVM checkpoint root: `<base>/<pid>` — two concurrent JVMs (a
    * test suite beside an oracle run at another SF, the scenario the
    * oracle side-tables already engineer for) can never write the same
    * checkpoint even when their drain names and runSeq counters align,
    * and a crashed run's leftovers (its finally never executed) can never
    * be RESUMED by a later process: a fresh pid means a fresh root, and a
    * resumed stale checkpoint would make Complete-mode drains silently
    * return empty (all offsets already committed). Stale roots of dead
    * pids are pruned lazily on first use — best-effort GC, matching the
    * staged-source generation GC above. */
  private lazy val ScratchCkptRoot: java.nio.file.Path = {
    val pid = ProcessHandle.current().pid()
    try {
      if (java.nio.file.Files.isDirectory(ScratchCkptBase))
        listClosing(ScratchCkptBase).foreach { p =>
          val dead = p.getFileName.toString.toLongOption.exists { other =>
            val h = ProcessHandle.of(other)
            other != pid && !(h.isPresent && h.get().isAlive)
          }
          if (dead) graft.queries.Streaming.deleteRecursively(p)
        }
    } catch { case scala.util.control.NonFatal(_) => () } // GC best-effort
    ScratchCkptBase.resolve(pid.toString)
  }

  private def listClosing(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = java.nio.file.Files.list(p)
    try { import scala.jdk.CollectionConverters._
      st.iterator().asScala.toSeq
    } finally st.close()
  }

  private def drainTo(df: DataFrame, name: String, mode: OutputMode)
      : DataFrame = {
    val spark = df.sparkSession
    val unique = s"${name}_${runSeq.incrementAndGet()}"
    val ckpt = ScratchCkptRoot.resolve(unique)
    val q = df.writeStream.format("memory").queryName(unique)
      .option("checkpointLocation", ckpt.toString)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally {
      recordBatches(q); q.stop()
      // scratch; best-effort — NonFatal, not just IOException: Files.walk
      // surfaces mid-traversal races as UncheckedIOException, and a failed
      // delete must never mask the drain's own outcome
      try graft.queries.Streaming.deleteRecursively(ckpt)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // the frame holds the sink's rows through its plan; the session's temp
    // view would hold them for the session's life
    val out = spark.table(unique)
    spark.catalog.dropTempView(unique)
    out
  }

  /** Drain a FINITE stream to completion and return the result as a batch
    * DataFrame: AvailableNow trigger (process everything currently in the
    * source, then stop) into a Complete-mode memory sink. This is the
    * bounded-replay face of the streaming surface — it lets a stream plan
    * be value-compared against a batch/oracle computation of the same
    * aggregation (the stream/batch parity gate). Table names are
    * uniquified per run, and the sink's temp view is dropped once the
    * returned frame is taken, so the rows live only as long as the frame;
    * the tiny memory sink holds only the AGGREGATED result, never the
    * input. Checkpoints go to [[ScratchCkptRoot]] and
    * are removed when the drain ends. */
  def runToTable(df: DataFrame, name: String): DataFrame =
    drainTo(df, name, OutputMode.Complete())

  /** [[runToTable]] for APPEND-mode plans (dedup, watermark-finalized
    * windows): rows are emitted once and accumulated by the memory sink. */
  def runToTableAppend(df: DataFrame, name: String): DataFrame =
    drainTo(df, name, OutputMode.Append())

  /** Drain a FINITE stream through a foreachBatch SINK (the CDC-merge
    * pattern: each micro-batch is handed to `f` in arrival order, which
    * merges it into caller-held state — typically via
    * [[graft.operators.Merge.upsertLatest]]). Same AvailableNow +
    * scratch-checkpoint plumbing as [[runToTable]]; the sink holds no
    * state of its own, so there is nothing to return — the caller's
    * merged state IS the result. */
  def runForeachBatch(df: DataFrame, name: String)(
      f: (DataFrame, Long) => Unit): Unit = {
    val unique = s"${name}_${runSeq.incrementAndGet()}"
    val ckpt = ScratchCkptRoot.resolve(unique)
    val q = df.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally {
      recordBatches(q); q.stop()
      try graft.queries.Streaming.deleteRecursively(ckpt)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Custom keyed state via flatMapGroupsWithState: running per-user event
    * count and mean value, emitted on every update — the
    * mapGroupsWithState-style escape hatch for state machines the
    * declarative ops can't express. */
  def userRunningStats(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), UserRunning](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event],
            state: GroupState[(Long, Double)]) =>
          val (n0, tot0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var tot = tot0
          batch.foreach { e => n += 1; tot += e.value }
          state.update((n, tot))
          Iterator.single(UserRunning(uid, n, tot, tot / math.max(n, 1)))
      }
  }
}
