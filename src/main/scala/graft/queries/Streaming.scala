package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.TextOps._
import graft.streaming.Streams

/** Stream/batch parity gates (SURVEY.md §2.10, beyond-parity — the
  * reference has no streaming). The streaming surface is driven through the
  * REAL production entry (file-source micro-batches over the events
  * parquet), drained with an AvailableNow trigger, and the finite result is
  * value-compared against the same aggregation computed by the DuckDB
  * oracle — so the streaming operators are held to the same hash-equality
  * bar as every batch operator, not just spec assertions.
  *
  * Determinism note: the windowed VALUE sum goes through DECIMAL (exact,
  * association-independent) — a double sum's value would depend on
  * micro-batch arrival order, which no cross-engine compare can pin.
  */
object Streaming {

  /** The parquet file source streams a DIRECTORY of arriving files; the
    * testdata ships one flat <table>.parquet per sf. Stage it into a
    * scratch directory — exactly the production layout, where each arriving
    * file is one micro-batch.
    *
    * The stage key embeds a fingerprint of the SOURCE files (size + mtime —
    * metadata only, so the idempotent re-invocation does zero data I/O):
    * an unchanged source finds its `.staged` marker and skips the copy
    * entirely; a regenerated source gets a fresh directory instead of
    * silently reusing a stale one. */
  private val StageRoot = java.nio.file.Paths.get("/tmp/graft_stream_stage")

  private def sanitizedName(dir: String, file: String): String =
    (dir + "/" + file).replaceAll("[^A-Za-z0-9.]", "_")

  private def fingerprint(s: org.apache.spark.sql.SparkSession, dir: String,
      file: String): String = {
    // every part file of a Spark-written table counts; zero part files
    // would stage EMPTY (a silent zero-row replay), so fail loudly
    val parts = graft.sources.TableMemo.files(s, s"$dir/$file").getOrElse(Nil)
      .filter(_.getPath.getName.endsWith(".parquet"))
    require(parts.nonEmpty, s"no .parquet part files under $dir/$file — " +
      "staging would replay zero rows")
    s"${parts.map(_.getLen).sum}_${parts.map(_.getModificationTime).max}"
  }

  /** java.nio directory streams hold an open fd until closed — drain them
    * eagerly under try/finally (a long-lived session stages many sources). */
  private def listClosing(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = java.nio.file.Files.list(p)
    try { import scala.jdk.CollectionConverters._
      st.iterator().asScala.toSeq
    } finally st.close()
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    val st = java.nio.file.Files.walk(p)
    val all = try { import scala.jdk.CollectionConverters._
      st.iterator().asScala.toSeq
    } finally st.close()
    all.reverse.foreach(java.nio.file.Files.delete)
  }

  /** Idempotent stage-or-reuse with generation GC. `variantRe` is the
    * regex CLASS of the variant (e.g. `_multi\d+` matching any
    * SplitRuleVersion, or empty for the plain copy): any directory of the
    * same source + variant class whose name is not the current key is a
    * dead generation — an older fingerprint (data regeneration) or an
    * older rule version — and is pruned, so the scratch root never
    * accretes. The fingerprint tail (`_\d+_\d+`) keeps the empty-variant
    * pattern from swallowing the `_multiN` variants of the same source. */
  private def staged(sanitized: String, variantRe: String, name: String)(
      fill: java.nio.file.Path => Unit): String = {
    val stage = StageRoot.resolve(name)
    val marker = stage.resolve(".staged")
    if (!java.nio.file.Files.exists(marker)) {
      if (java.nio.file.Files.isDirectory(StageRoot)) {
        val re = (java.util.regex.Pattern.quote(sanitized) + variantRe +
          "_\\d+_\\d+").r
        listClosing(StageRoot)
          .filter(p => re.matches(p.getFileName.toString) &&
            p.getFileName.toString != name)
          .foreach(deleteRecursively)
      }
      java.nio.file.Files.createDirectories(stage)
      fill(stage)
      java.nio.file.Files.writeString(marker, "ok\n")
    }
    stage.toString
  }

  private def stageDir(s: org.apache.spark.sql.SparkSession, dir: String,
      file: String): String = {
    val san = sanitizedName(dir, file)
    staged(san, "", s"${san}_${fingerprint(s, dir, file)}") { stage =>
      val src = java.nio.file.Paths.get(dir, file)
      if (java.nio.file.Files.isDirectory(src)) {
        // Spark-written table: stage every part file. A bare Files.copy
        // of the directory creates an EMPTY directory — the file-source
        // stream then replays ZERO rows, silently (caught by the r18
        // full-surface sf1 oracle: q_stream_quality_parity read 0 of
        // 50k docs while every single-file scale passed).
        val parts = listClosing(src)
          .filter(_.getFileName.toString.endsWith(".parquet"))
        require(parts.nonEmpty, s"no .parquet part files under $src — " +
          "staging would replay zero rows")
        parts
          .sortBy(_.getFileName.toString)
          .foreach { p =>
            java.nio.file.Files.copy(p, stage.resolve(p.getFileName),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
          }
      } else
        java.nio.file.Files.copy(src, stage.resolve(file),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  /** Gate drains size streaming STATE partitions to the replay's INPUT
    * scale (see Streams.withStatePartitions) — ⌈events bytes / 2 MiB⌉
    * clamped to [2, 32]. Two regimes, both measured:
    *
    *   - SMALL replays (gate scales — sf0.1 events = 2 MiB → 2
    *     partitions): every micro-batch commits one checkpoint delta per
    *     store per partition, so a 3-file replay over a handful of keys
    *     pays partitions × stores × batches in commit work. Time falls
    *     monotonically with the clamp (32 → 8 cut the stream-stream gates
    *     ~4× in r11; 8 → 2 another ~15% in r12; 16 doubled them again
    *     when re-measured in r14).
    *   - LARGE replays (sf1 probe — 16 MiB → 8 partitions): the
    *     Complete-mode session gate re-sorts and re-merges its ENTIRE
    *     session state every batch, and that per-partition sort is the
    *     wall time; clamped to 2 it ran serialized (22.5 s at sf1,
    *     ×6.1 vs sf0.1 — the one super-linear streaming probe row of
    *     r13). At 8 partitions the same replay is 11 s, ×3.3 — the
    *     probe's linear-ish band.
    *
    * A production job sizes state partitions to cluster parallelism and
    * key cardinality — this is replay plumbing, not operator behavior
    * (results are partition-count invariant, which StreamsSpec pins). */
  private def statePartitionsFor(dir: String): Int = {
    val f = new java.io.File(s"$dir/events.parquet")
    val bytes =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(_.length).sum).getOrElse(0L)
      else f.length()
    math.max(2, math.min(32, ((bytes + (2L << 20) - 1) / (2L << 20)).toInt))
  }
  private def drain(df: org.apache.spark.sql.DataFrame, name: String,
      dir: String) =
    Streams.withStatePartitions(df.sparkSession, statePartitionsFor(dir))(
      Streams.runToTable(df, name))
  private def drainAppend(df: org.apache.spark.sql.DataFrame, name: String,
      dir: String) =
    Streams.withStatePartitions(df.sparkSession, statePartitionsFor(dir))(
      Streams.runToTableAppend(df, name))

  /** Bumped whenever the multi-file split rule OR the staged file layout
    * changes, so stale staged layouts from an older rule can never satisfy
    * the marker check (v3: staged files always carry canonical BIGINT-nanos
    * `ts` regardless of the source parquet's timestamp unit). */
  private val SplitRuleVersion = 3
  private val TwoHoursNs = 7200000000000L

  /** user_id carried by the session gate's watermark-sentinel rows.
    * Staging fails fast if the real data ever contains this key (see
    * the guard in [[stageEventsMulti]]); the gate's post-drain filter
    * tests it NULL-SAFELY so a legitimate NULL-user session is kept —
    * NULL <=> −1 is false, and the oracle's GROUP BY keeps the NULL
    * group too. */
  private val SentinelUser = -1L

  /** The session-parity drain, shared by the default-provider gate and
    * the RocksDB-provider gate (which wraps THIS in
    * [[Streams.withRocksDBStateStore]]): ordered 5-file staging with
    * watermark-advancer sentinels, 30-minute gap sessionization under a
    * 1-hour delay, Append drain to `table`, then the post-drain sentinel
    * filter (see the long note on q_stream_session_parity for why the
    * filter must NOT run inside the streaming plan). */
  private def sessionParityDrain(s: org.apache.spark.sql.SparkSession,
      dir: String, table: String): org.apache.spark.sql.DataFrame = {
    val stream = Streams.eventStream(s,
        stageEventsMulti(s, dir, sessionGate = true),
        maxFilesPerTrigger = Some(1))
      .withColumn("value", col("value").cast("decimal(38,6)"))
    val agg = Streams.sessionize(stream, gap = "30 minutes",
      maxDelay = "1 hour")
    // No-data batch skipped (r20): every REAL session flushes in the b5
    // sentinel DATA batch (b4's watermark is operative there and sits 91
    // days past every real session end — the sentinel design above); the
    // only thing a trailing no-data batch can add is the b4 sentinel's
    // OWN session, which the post-drain filter drops anyway.
    Streams.withoutNoDataBatches(s)(drainAppend(agg, table, dir))
      // null-safe: a NULL-user session must survive this filter (the
      // oracle's GROUP BY keeps the NULL group); staging guarantees
      // no REAL row carries SentinelUser
      .filter(!(col("user_id") <=> lit(SentinelUser)))
      .select(col("user_id"), col("s_start"), col("s_end"),
        col("n_events"),
        col("session_value").cast("double").as("session_value"))
      .orderBy(col("user_id"), col("s_start"))
  }

  /** DuckDB mirror of the session drain — one SQL, two gates (default and
    * RocksDB provider): results are provider-invariant by contract. */
  private val SessionParitySql =
    """WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS nw
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |    SUM(nw) OVER (PARTITION BY user_id ORDER BY ts
      |         ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS s_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS s_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
      |    AS session_value
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, s_start""".stripMargin

  /** The stream-STREAM event-time interval join drain, shared by the
    * default-provider gate and the RocksDB-provider gate: each click
    * pairs with the same user's follow-up events within 30 minutes across
    * the three-batch replay — both sides unbounded, matches emitted as
    * both rows arrive (some pairs straddle micro-batches, so one side
    * must be BUFFERED in join state until its partner lands;
    * single-batch execution could not produce them without state).
    * Watermarks exceed the ~30-day replay span so the batch-3 stragglers
    * join instead of being late-dropped (late-drop semantics are
    * q_stream_late_drop's business); at production scale the delay would
    * be the real lateness bound, which with the range condition is
    * exactly what lets Spark evict state. Column discipline: every column
    * selected into a side is BUFFERED in the join state store until the
    * watermark clears it — the click side carries event_type only to
    * filter (dropped after), the follow side never needs it. */
  private def streamStreamJoinDrain(s: org.apache.spark.sql.SparkSession,
      dir: String, table: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // Join state format v3 (r20, RocksDB only — the provider the wrapper
    // sets for the rocksdb gate): ONE state store with virtual column
    // families instead of FOUR stores per partition. The r20 phase probe
    // put the provider's premium in per-store native overhead (8
    // instances loaded + committed per batch, changelog fsync per store);
    // v3 quarters the instance count with identical join semantics. The
    // conf is pinned at query START and rides the fresh per-drain
    // checkpoint, so no cross-version restore can occur (the docs'
    // incompatibility caveat applies to RESUMED checkpoints). Unsupported
    // on the default on-heap provider — applied only when the session's
    // provider is RocksDB.
    val fmtKey = "spark.sql.streaming.join.stateFormatVersion"
    val isRocks = s.conf
      .getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB"))
    def withFmt[A](body: => A): A =
      if (!isRocks) body
      else {
        val prev = s.conf.getOption(fmtKey)
        s.conf.set(fmtKey, "3")
        try body finally prev match {
          case Some(v) => s.conf.set(fmtKey, v)
          case None => s.conf.unset(fmtKey)
        }
      }
    def side(prefix: String, extra: Seq[org.apache.spark.sql.Column]) =
      Streams.eventStream(s, stageEventsMulti(s, dir),
          maxFilesPerTrigger = Some(1))
        .select(Seq(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_uid"),
          col("ts").as(s"${prefix}_ts")) ++ extra: _*)
    val clicks = side("c", Seq(col("event_type")))
      .filter($"event_type" === "click").drop("event_type")
    val follows = side("n", Nil)
    val joined = Streams.intervalJoin(
        clicks, "c_ts", "60 days", follows, "n_ts", "60 days",
        $"c_uid" === $"n_uid" && $"n_ts" > $"c_ts" &&
          $"n_ts" <= $"c_ts" + expr("INTERVAL 30 MINUTES"))
      .select($"c_id".as("click_id"), $"n_id".as("next_id"))
    // INNER join: every output row emits in the data batch where its
    // second side arrives, so the trailing no-data batch can only evict
    // state that has no further use — skip it (r20; it was ~0.8 s of pure
    // per-drain overhead in the phase probe, more under RocksDB where its
    // empty trigger still loads and commits all 8 stores).
    withFmt(Streams.withoutNoDataBatches(s)(drainAppend(joined, table, dir)))
      .orderBy($"click_id", $"next_id")
  }

  /** DuckDB mirror of the interval-join drain — one SQL, two gates
    * (default and RocksDB provider): the plain batch interval self-join;
    * results are provider-invariant by contract. */
  private val StreamStreamJoinSql =
    """SELECT a.event_id AS click_id, b.event_id AS next_id
      |FROM events a JOIN events b ON a.user_id = b.user_id
      | AND a.event_type = 'click'
      | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
      |ORDER BY click_id, next_id""".stripMargin

  /** Multi-file staging of the events table: split deterministically into
    * THREE parquet files with ascending modification times, so the file
    * source under `maxFilesPerTrigger=1` + AvailableNow replays them as
    * three ordered micro-batches. Split rule (ts = canonical BIGINT nanos,
    * see queries.canonicalizeTime; span = t1 − t0; arithmetic mirrored by
    * the q_stream_late_drop oracle):
    *
    *   cut1 = t0 + span·6/10,  cut2 = t0 + span·85/100
    *   straggler ⇔ event_id % 50 = 0 AND ts ≤ cut1 − 2h
    *   batch1 = {ts ≤ cut1} minus stragglers
    *   batch2 = {cut1 < ts ≤ cut2}
    *   batch3 = {ts > cut2} ∪ stragglers
    *
    * Consequences the multi-batch gates rely on: a session whose events
    * straddle cut1 exists in the gate corpora (sf0.01: 1 user, sf0.1: 3),
    * so session state MUST merge across micro-batches. The stragglers ride
    * in the LAST batch because Spark filters late events against the
    * watermark from TWO batches back (the two-watermark model of
    * SPARK-24634: batch N's late-event filter uses the watermark committed
    * after batch N−2, its state eviction the one after batch N−1 —
    * StreamsSpec pins this lag). In batch 3 the operative late-filter
    * watermark is the one the batch-1 maximum established (~1h under
    * cut1), a full hour above every straggler's event time (≥ 2h under
    * cut1), so a watermark-enforcing sink provably drops exactly them —
    * and batch membership is a pure function of the data, so the oracle
    * reproduces the drop set in SQL. Complete-mode aggregations are
    * unaffected (Spark drops late rows only in Append/Update mode —
    * StreamsSpec pins this too), so the window parity oracle stays the
    * plain whole-table SQL.
    *
    * `sessionGate = true` (a SEPARATE staged variant — the 3-file
    * gates replay the plain layout unchanged) appends two
    * watermark-advancer files b4/b5: one event each, user_id = −1,
    * event times 91 and 92 days past the real maximum. Purpose: let an
    * APPEND-mode session drain emit every real session exactly once
    * against the whole-table oracle. Under the two-watermark lag
    * (eviction uses the watermark committed after the PREVIOUS batch)
    * the b4 sentinel lifts the watermark past every real session end
    * and the b5 sentinel forces one more data-carrying batch in which
    * that watermark is operative, so flushing every real session does
    * not depend on an optional no-data final micro-batch. The b5
    * sentinel's own session ends 92 days out, where no watermark ever
    * reaches — never emitted; the b4 sentinel's MAY be emitted by a
    * trailing no-data batch once b5's watermark is operative, which is
    * why the session gate filters `user_id = −1` after the drain (the
    * sentinels are replay scaffolding, not data — the oracle reads the
    * real events table only).
    *
    * The same flag also splits by TIME ONLY — no straggler rerouting
    * (late-arrival semantics are
    * q_stream_late_drop's business, on the unordered layout). This is
    * what lets the session drain run a PRODUCTION-SHAPED watermark
    * (1 hour) instead of a 60-day one: batches are disjoint ascending
    * time ranges, so no real event ever lands under the late filter
    * (batch N's filter watermark is max(batch ≤ N−2) − delay, strictly
    * below batch N's minimum), while state EVICTS progressively — a
    * session ending below max(batch N−1) − 1h is emitted in batch N and
    * can never receive later events (any later event starts > 1h ≥ 2×gap
    * after its end). With the 60-day delay the r15→r16 first spelling
    * kept ALL state resident across every batch (nothing evicted until
    * the sentinel batches); the ordered variant holds only LIVE sessions
    * per batch — bounded state, the production shape. Per-batch
    * telemetry shows the remaining wall time is real sessionization
    * work, not state accumulation: at 10× data, batch 1 alone creates
    * 57% of all session state rows (600k events → 573k sessions) and
    * costs ~half the total trigger time, state-store commit stays
    * sub-second, and the gate's shuffle bytes are scale-invariant. */
  private[graft] def stageEventsMulti(s: org.apache.spark.sql.SparkSession,
      dir: String, sessionGate: Boolean = false): String = {
    // ONE flag covers both the sentinel files and the ordered split:
    // sentinels without the ordered layout is the RETIRED r16 first
    // Append draft, whose staging class `_multis\d+` is swept by the
    // ordered class's GC regex below — staging it again would let the
    // session gate's sweep delete a LIVE staging mid-replay. A single
    // parameter makes that spelling unrepresentable at the call site
    // (the r16 shape was two booleans runtime-required to be equal).
    val withSentinels = sessionGate
    val ordered = sessionGate
    val san = sanitizedName(dir, "events.parquet")
    // variant classes `_multi\d+` / `_multiso\d+` (disjoint regexes): the
    // GC prunes BOTH stale fingerprints (data regenerations) and stale
    // SplitRuleVersions of this source, per variant class; the ordered
    // class regex also sweeps the retired r16 `_multis\d+` spelling
    val variant = if (ordered) "multiso" else "multi"
    val variantRe = if (ordered) "_multiso?\\d+" else s"_$variant\\d+"
    val fp = fingerprint(s, dir, "events.parquet")
    staged(san, variantRe, s"${san}_$variant${SplitRuleVersion}_$fp") {
        stage =>
      // canonicalize at stage time: the staged replay files always carry
      // BIGINT-nanos ts whatever unit the source parquet was regenerated
      // with, so the split arithmetic below and every downstream reader see
      // one shape
      val df = canonicalizeTime(
        graft.sources.TableMemo.read(s, s"$dir/events.parquet"))
      if (withSentinels) {
        // fail-fast guard, BEFORE any batch write: the session gate
        // filters user_id = −1 rows out post-drain as replay scaffolding,
        // so a REAL −1 user in a regenerated corpus would be silently
        // dropped from the Spark side while the whole-table oracle keeps
        // it — a parity mismatch that would read as flaky streaming.
        // Refusing up front also means a refused corpus writes NOTHING
        // (no marker-less half-staged directory to reclaim later).
        val clash = df.filter(col("user_id") <=> lit(SentinelUser)).count()
        require(clash == 0L,
          s"events at $dir carry $clash row(s) with user_id = " +
            s"$SentinelUser — the sentinel key must be out of the data " +
            "domain for the session gate's post-drain filter to be exact")
      }
      val mm = df.agg(min(col("ts")), max(col("ts"))).head()
      val t0 = mm.getLong(0)
      val maxTs = mm.getLong(1)
      val span = maxTs - t0
      val cut1 = t0 + span * 6L / 10L
      val cut2 = t0 + span * 85L / 100L
      require(cut2 - cut1 > 5400000000000L, s"events at $dir: cut2 - cut1 " +
        "must exceed the 1 h delay + 30 min the no-data-batch skip relies on")
      // ordered variant: pure time ranges — no straggler rerouting
      val straggler = if (ordered) lit(false)
        else col("event_id") % 50 === 0 && col("ts") <= cut1 - TwoHoursNs
      def writeBatch(frame: org.apache.spark.sql.DataFrame, i: Int): Unit = {
        val tmp = stage.resolve(s"b${i + 1}.tmpdir")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = listClosing(tmp)
          .find(_.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        val target = stage.resolve(s"b${i + 1}.parquet")
        java.nio.file.Files.move(part, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // fixed ascending mtimes pin the file-source replay order (the
        // source sorts oldest-first); constants keep re-stages stable
        target.toFile.setLastModified(1700000000000L + i * 60000L)
        deleteRecursively(tmp)
      }
      val batches = Seq(
        col("ts") <= cut1 && !straggler,
        col("ts") > cut1 && col("ts") <= cut2,
        col("ts") > cut2 || straggler)
      batches.zipWithIndex.foreach { case (pred, i) =>
        writeBatch(df.filter(pred), i)
      }
      if (withSentinels) {
        val dayNs = 86400000000000L
        Seq(91L, 92L).zipWithIndex.foreach { case (days, j) =>
          // one deterministic row, canonical column shape: the five
          // contract columns carry the sentinel, anything else rides NULL
          val sent = df.limit(1).select(df.columns.toIndexedSeq.map {
            case "event_id" => lit(-(j + 1).toLong).as("event_id")
            case "ts" => lit(maxTs + days * dayNs).as("ts")
            case "user_id" => lit(SentinelUser).as("user_id")
            case "event_type" => lit("__sentinel").as("event_type")
            case "value" => lit(0.0).as("value")
            case c => lit(null).cast(df.schema(c).dataType).as(c)
          }: _*)
          writeBatch(sent, 3 + j)
        }
      }
    }
  }

  val defs: Map[String, Q] = Map(
    // Streaming corpus QUALITY filtering: the stateless quality/lang
    // projection (tokens, stopword ratio, language argmax, keep verdict)
    // applied to documents as they land, drained AvailableNow and
    // hash-compared to the oracle computing the same flags in batch —
    // proving the text-analysis expression surface runs unchanged under
    // micro-batch execution (no state, so parity must be exact).
    "q_stream_quality_parity" -> Q(
      (s, dir) => {
        val stream = Streams.documentStream(s,
          stageDir(s, dir, "documents.parquet"))
        val toks = tokens(col("text"))
        val nTok = size(toks)
        val stopR = stopHits(toks, StopEn).cast("double") /
          nTok.cast("double")
        val flags = stream.select(
          col("doc_id"),
          nTok.as("n_tokens"),
          stopR.as("stop_ratio"),
          langPredict(toks).as("lang_pred"),
          (nTok >= 10 && nTok <= 1000 && stopR >= 0.01).as("keep"))
        drainAppend(flags, "stream_quality_parity", dir)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |scored AS (
              |  SELECT doc_id, w, ${LangOrder.map { case (l, set) =>
                   s"${DuckFrag.stopHitsSql(set)} AS s_$l" }.mkString(", ")}
              |  FROM toks)
              |SELECT doc_id, len(w) AS n_tokens,
              |       CAST(${DuckFrag.stopHitsSql(StopEn)} AS DOUBLE) /
              |         CAST(len(w) AS DOUBLE) AS stop_ratio,
              |       ${DuckFrag.langPredictSql} AS lang_pred,
              |       (len(w) >= 10 AND len(w) <= 1000 AND
              |        CAST(${DuckFrag.stopHitsSql(StopEn)} AS DOUBLE) /
              |          CAST(len(w) AS DOUBLE) >= 0.01) AS keep
              |FROM scored ORDER BY doc_id""".stripMargin)),

    "q_stream_window_parity" -> Q(
      (s, dir) => {
        val stream = Streams.eventStream(s, stageEventsMulti(s, dir),
            maxFilesPerTrigger = Some(1))
          .withColumn("value", col("value").cast("decimal(38,6)"))
        val agg = Streams.windowedCounts(stream,
          width = "1 hour", slide = "1 hour", maxDelay = "1 hour")
        // Complete mode re-emits the whole aggregate each batch; a
        // trailing no-data batch can only re-emit the same table — skip
        // it (see Streams.withoutNoDataBatches).
        Streams.withoutNoDataBatches(s)(drain(agg, "stream_window_parity", dir))
          .select(col("w_start"), col("w_end"), col("event_type"), col("n"),
            col("total_value").cast("double").as("total_value"))
          .orderBy(col("w_start"), col("event_type"))
      },
      Some("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
             |  time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS w_end,
             |  event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
             |FROM events
             |GROUP BY 1, 2, 3
             |ORDER BY w_start, event_type""".stripMargin)),

    // Streaming SESSION windows vs the oracle's gap-session SQL, replayed
    // across five staged micro-batches (three time-ordered data ranges +
    // two watermark sentinels) — at sf0.01/sf0.1 at least one user's
    // events straddle the batch-1/batch-2 cut inside the gap, so session
    // state MUST merge across batches for the hash to match. Boundary
    // semantics pinned exactly: Spark's session window is [start, last+gap)
    // — end-EXCLUSIVE — so an event arriving at exactly `gap` after the
    // previous one starts a NEW session (windows [t1,t1+g) and [t2,t2+g)
    // merge iff t2 < t1+g). The oracle therefore flags `diff >= gap`, NOT
    // the `diff > gap` of the batch Sessionize operator's oracle.
    // APPEND drain over the ORDERED staged split (r15 verdict item 5 —
    // the production output mode AND the production watermark shape):
    // through r15 this gate drained in Complete mode, re-sorting and
    // re-emitting the ENTIRE session state on every batch; the first
    // Append spelling kept the 60-day delay, which evicted nothing until
    // the sentinel batches — every micro-batch still re-merged the full
    // accumulated history (measured ×4.9 at 10× data, WORSE than
    // Complete). The fix is in the STAGING, not the drain: the `ordered`
    // variant splits by time only (no straggler rerouting — late-drop
    // semantics live in q_stream_late_drop on the unordered layout), so
    // a 1-hour delay never late-filters a real event (each batch's
    // filter watermark sits below the batch's minimum ts) while closed
    // sessions EVICT progressively batch-by-batch — state holds LIVE
    // sessions only, the production shape. The two watermark-advancer
    // sentinel files flush the tail sessions during the replay's final
    // data batch (see stageEventsMulti's doc); the b4 sentinel's own
    // session can surface from a trailing no-data batch, so the drain
    // filters user_id = −1 — replay scaffolding, never data — and the
    // oracle stays the same whole-table SQL over the real events table.
    // Every real session is emitted exactly once; session state still
    // MERGES across batches (the straddling users sit inside the gap at
    // both cuts in the ordered layout too).
    //
    // The sentinel filter MUST run post-drain (on the materialized batch
    // table), never inside the streaming plan: inlined before the drain,
    // Catalyst pushes the user_id predicate through the session
    // aggregation and BELOW the EventTimeWatermark node to the file
    // scan, the sentinel rows vanish at the source, the watermark never
    // advances past the real data, and the tail sessions are silently
    // retained instead of flushed (measured: 185 sessions short at
    // sf0.1). The oracle gate would catch the row loss, but the failure
    // reads as "flaky streaming", not "predicate pushdown ate the
    // watermark advancer" — hence this note.
    "q_stream_session_parity" -> Q(
      (s, dir) => sessionParityDrain(s, dir, "stream_session_parity"),
      Some(SessionParitySql)),

    // The SAME session drain executed under the PRODUCTION state-store
    // provider (RocksDB: off-heap native memory + local SST files — the
    // answer to on-heap state residency at 100×). r17 pinned provider-
    // invariance as a spec; this gate makes it a CORRECTNESS row: the
    // full micro-batch replay runs with
    // spark.sql.streaming.stateStore.providerClass = RocksDB and must
    // hash-match the same DuckDB oracle as the default-provider gate.
    "q_stream_session_rocksdb" -> Q(
      (s, dir) => Streams.withRocksDBStateStore(s)(
        sessionParityDrain(s, dir, "stream_session_rocksdb")),
      Some(SessionParitySql)),

    // Streaming exact dedup (dropDuplicatesWithinWatermark) vs batch
    // DISTINCT: the emitted KEY SET must match exactly. Only the key
    // columns are compared — which duplicate arrives first is an
    // arrival-order artifact no cross-engine compare can pin, but the set
    // of distinct keys is deterministic. Multi-file staging: cross-batch
    // re-deliveries are dropped by carried STATE, so the watermark horizon
    // must exceed the replay's ~30-day event-time span — otherwise the
    // batch-2 stragglers would be dropped as LATE rather than deduped, and
    // the DISTINCT oracle would no longer describe the output (late-drop
    // semantics are q_stream_late_drop's business).
    "q_stream_dedup_parity" -> Q(
      (s, dir) => {
        val stream = Streams.eventStream(s, stageEventsMulti(s, dir),
          maxFilesPerTrigger = Some(1))
        val dd = Streams.dedupStream(
          stream.select(col("ts"), col("user_id"), col("event_type")),
          maxDelay = "60 days", keys = Seq("user_id", "event_type"))
        // dedup emits each surviving row in ITS OWN arrival batch; the
        // no-data batch only evicts state — skip it (r20).
        Streams.withoutNoDataBatches(s)(
            drainAppend(dd, "stream_dedup_parity", dir))
          .select(col("user_id"), col("event_type"))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    // Watermark LATE-DROP, oracle-gated across real micro-batches: the
    // staged batch-3 stragglers (see stageEventsMulti) carry event times
    // below the operative late-filter watermark — which, under the
    // two-watermark lag, is the one the batch-1 maximum established — so
    // the watermark-enforcing dedup sink must drop exactly them. The oracle
    // replays the split rule and the engine's watermark arithmetic in SQL:
    // event time compared at MICROsecond precision against a watermark
    // computed from the batch-1 max truncated to MILLIseconds minus the 1h
    // delay (drop ⇔ ts_us <= wm_us — StreamsSpec pins the boundary with an
    // at-watermark and a 1µs-past event). event_id is unique in the events
    // table, so dedup state never removes anything — the output is exactly
    // the NOT-dropped set.
    "q_stream_late_drop" -> Q(
      (s, dir) => {
        val stream = Streams.eventStream(s, stageEventsMulti(s, dir),
          maxFilesPerTrigger = Some(1))
        val dd = Streams.dedupStream(
          stream.select(col("ts"), col("event_id")),
          maxDelay = "1 hour", keys = Seq("event_id"))
        // arrival-batch emission again (late rows are dropped at their
        // arrival batch's INPUT filter, never by the trailing no-data
        // batch) — skip it (r20).
        Streams.withoutNoDataBatches(s)(
            drainAppend(dd, "stream_late_drop", dir))
          .select(col("event_id"))
          .orderBy(col("event_id"))
      },
      Some(s"""WITH b AS (
              |  SELECT min(epoch_ns(ts)) AS t0, max(epoch_ns(ts)) AS t1
              |  FROM events),
              |c AS (SELECT t0 + (t1 - t0) * 6 // 10 AS cut1 FROM b),
              |lab AS (
              |  SELECT event_id, epoch_ns(ts) AS tn,
              |         (event_id % 50 = 0 AND
              |          epoch_ns(ts) <= (SELECT cut1 FROM c) - $TwoHoursNs)
              |           AS straggler
              |  FROM events),
              |wm AS (
              |  SELECT ((max(tn // 1000) // 1000) - 3600000) * 1000 AS w1
              |  FROM lab
              |  WHERE NOT straggler AND tn <= (SELECT cut1 FROM c))
              |SELECT event_id FROM lab, wm
              |WHERE NOT (straggler AND tn // 1000 <= w1)
              |ORDER BY event_id""".stripMargin)),

    // Custom keyed state (flatMapGroupsWithState) oracle-gated across
    // micro-batches: userRunningStats emits each user's running event
    // count on every batch the user appears in, so the MAX emitted count
    // per user equals the batch COUNT(*) iff state survived across
    // batches — nearly every user's events span the 60/25/15 split, so
    // per-batch state loss would leave max(n_events) at a fraction of the
    // total and hash-mismatch. Counts only: the running double total is a
    // fold in intra-batch arrival order, which no cross-engine oracle can
    // pin (see the Determinism note above).
    "q_stream_running_counts" -> Q(
      (s, dir) => {
        import s.implicits._
        val stream = Streams.eventStream(s, stageEventsMulti(s, dir),
          maxFilesPerTrigger = Some(1))
        val ds = stream.select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Streams.Event]
        // flatMapGroupsWithState with NoTimeout only invokes the state
        // function for groups WITH input — a no-data batch emits nothing;
        // skip it (r20).
        Streams.withoutNoDataBatches(s)(
            drainAppend(Streams.userRunningStats(ds).toDF(),
              "stream_running_counts", dir))
          .groupBy(col("user_id"))
          .agg(max(col("n_events")).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_events FROM events
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Stream-static enrichment join across real micro-batches: every event
    // in the three-file replay is joined to the static customer dimension
    // (broadcast; stateless Append mode — no watermark needed), and the
    // per-event enriched output hash-compares against the oracle's batch
    // join. Per-EVENT output (not an aggregate) so the gate pins the join
    // cardinality: a batch that skipped the dim or dropped rows cannot
    // hash-match. acctbal passes through the join untouched — exact across
    // engines, no decimal detour needed.
    "q_stream_static_join" -> Q(
      (s, dir) => {
        val stream = Streams.eventStream(s, stageEventsMulti(s, dir),
          maxFilesPerTrigger = Some(1))
        val dim = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        val joined = Streams.enrichStream(stream, dim,
            col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("c_mktsegment").as("segment"),
            col("c_acctbal").as("acctbal"))
        drainAppend(joined, "stream_static_join", dir)
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, c.c_mktsegment AS segment,
             |  c.c_acctbal AS acctbal
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |ORDER BY e.event_id""".stripMargin)),

    // Stream-STREAM event-time interval join across the three-batch
    // replay: each click pairs with the same user's follow-up events
    // within 30 minutes — both sides unbounded, matches emitted as both
    // rows arrive (some pairs straddle micro-batches, so one side must be
    // BUFFERED in join state until its partner lands; single-batch
    // execution could not produce them without state). The oracle is the
    // plain batch interval self-join. Watermarks exceed the ~30-day replay
    // span so the batch-3 stragglers join instead of being late-dropped
    // (late-drop semantics are q_stream_late_drop's business); at
    // production scale the delay would be the real lateness bound, which
    // with the range condition is exactly what lets Spark evict state.
    "q_stream_stream_join" -> Q(
      (s, dir) => streamStreamJoinDrain(s, dir, "stream_stream_join"),
      Some(StreamStreamJoinSql)),

    // The SAME stream-stream interval join under the PRODUCTION state-
    // store provider. Of the whole streaming surface this join buffers
    // the LARGEST state (both sides' rows are held until the watermark
    // clears them — the r18 probe measured session state in the tens of
    // MB, and join state dwarfs it), so it is the gate where the
    // RocksDB answer to on-heap state growth matters most. Provider
    // invariance is held to the same cross-engine hash bar as the
    // session gate pair: same drain, same DuckDB oracle.
    "q_stream_stream_join_rocksdb" -> Q(
      (s, dir) => Streams.withRocksDBStateStore(s)(
        streamStreamJoinDrain(s, dir, "stream_stream_join_rocksdb")),
      Some(StreamStreamJoinSql)),

    // Stream-stream LEFT OUTER interval join: clicks that found no
    // follow-up within 30 minutes must STILL emit (next_id −1) — and an
    // outer result can only emit once the global watermark proves no
    // partner can arrive, i.e. after state EVICTION, which AvailableNow
    // never grants rows in the final batch. The gate therefore bounds the
    // left side to clicks at or below cut1 (batch 1) while the watermark
    // nodes sit ABOVE the click filter (see intervalJoin's filter-after-
    // watermark contract): the left watermark keeps advancing with the
    // full three-batch replay, so by the final batch the eviction
    // watermark (≈ cut2 − 1h, and cut2 − cut1 spans days) is far past
    // every left window's end (≤ cut1 + 30min) and EVERY unmatched click
    // has emitted its null row — making the plain batch LEFT JOIN a
    // truthful oracle. Stragglers are excluded from BOTH sides by pure
    // µs arithmetic (event_id % 50, ts ≤ cut1 − 2h — mirrored exactly in
    // SQL) so no late-drop watermark arithmetic enters the oracle: every
    // surviving row rides a batch where it is never late. Matched pairs
    // straddle the cut (a batch-1 click's follow-up lands in batch 2), so
    // a hash match proves matches, eviction-driven null emission, AND
    // cross-batch buffering simultaneously. next_id −1 (not NULL) keeps
    // the ORDER BY engine-independent (Spark sorts nulls first, DuckDB
    // last).
    "q_stream_outer_join" -> Q(
      (s, dir) => {
        import s.implicits._
        val mm = canonicalizeTime(
          graft.sources.TableMemo.read(s, s"$dir/events.parquet"))
          .agg(min(col("ts")), max(col("ts"))).head()
        val t0 = mm.getLong(0)
        val cut1 = t0 + (mm.getLong(1) - t0) * 6L / 10L
        val cut1Us = cut1 / 1000L
        val stragUs = (cut1 - TwoHoursNs) / 1000L
        def side(prefix: String, extra: Seq[org.apache.spark.sql.Column]) =
          Streams.eventStream(s, stageEventsMulti(s, dir),
              maxFilesPerTrigger = Some(1))
            .select(Seq(col("event_id").as(s"${prefix}_id"),
              col("user_id").as(s"${prefix}_uid"),
              col("ts").as(s"${prefix}_ts")) ++ extra: _*)
        def strag(id: String, ts: String) =
          col(id) % 50 === 0 && unix_micros(col(ts)) <= stragUs
        val joined = Streams.intervalJoin(
            side("c", Seq(col("event_type"))), "c_ts", "1 hour",
            side("n", Nil), "n_ts", "1 hour",
            $"c_uid" === $"n_uid" && $"n_ts" > $"c_ts" &&
              $"n_ts" <= $"c_ts" + expr("INTERVAL 30 MINUTES"),
            joinType = "left_outer",
            leftFilter = Some($"event_type" === "click" &&
              unix_micros($"c_ts") <= cut1Us && !strag("c_id", "c_ts")),
            rightFilter = Some(!strag("n_id", "n_ts")))
          .select($"c_id".as("click_id"),
            coalesce($"n_id", lit(-1L)).as("next_id"))
        // No-data batch skipped (r20) — for an OUTER join this needs the
        // eviction argument, not the arrival argument: every left row is
        // a click at or below cut1 (window end ≤ cut1 + 30 min), and the
        // eviction watermark operative in the LAST DATA batch is the
        // post-batch-2 one, ≈ cut2 − 1h — cut2 − cut1 is a quarter of the
        // replay's multi-day span, so every unmatched click's null row
        // has provably emitted by the end of batch 3's data processing
        // (stageEventsMulti asserts cut2 − cut1 > 1 h + 30 min). The
        // trailing no-data batch could only evict leftover RIGHT-side
        // rows, which never emit.
        Streams.withoutNoDataBatches(s)(
            drainAppend(joined, "stream_outer_join", dir))
          .orderBy($"click_id", $"next_id")
      },
      Some(s"""WITH b AS (
              |  SELECT min(epoch_ns(ts)) AS t0, max(epoch_ns(ts)) AS t1
              |  FROM events),
              |c AS (SELECT t0 + (t1 - t0) * 6 // 10 AS cut1 FROM b),
              |lab AS (
              |  SELECT event_id, user_id, event_type,
              |         epoch_ns(ts) // 1000 AS tu,
              |         (event_id % 50 = 0 AND epoch_ns(ts) // 1000 <=
              |          ((SELECT cut1 FROM c) - $TwoHoursNs) // 1000)
              |           AS strag
              |  FROM events),
              |lefts AS (
              |  SELECT event_id, user_id, tu FROM lab
              |  WHERE event_type = 'click' AND NOT strag
              |    AND tu <= (SELECT cut1 FROM c) // 1000),
              |rights AS (SELECT event_id, user_id, tu FROM lab
              |           WHERE NOT strag)
              |SELECT l.event_id AS click_id,
              |       COALESCE(r.event_id, -1) AS next_id
              |FROM lefts l LEFT JOIN rights r
              |  ON l.user_id = r.user_id AND r.tu > l.tu
              |  AND r.tu <= l.tu + 1800000000
              |ORDER BY click_id, next_id""".stripMargin)),

    // Streaming CDC merge: each micro-batch upserts into a maintained
    // per-user snapshot via the EVENT-TIME last-writer-wins merge
    // (Merge.upsertLatest through a foreachBatch sink — the standard
    // streaming-merge pattern over parquet/Delta-style snapshot state).
    // The staged replay makes blind arrival-order upsert WRONG by
    // construction: batch 3 carries the stragglers, whose event times
    // predate rows already merged from batches 1-2 — so a hash match
    // proves the merge keeps the event-time winner under out-of-order
    // arrival, exactly what a 100 TB CDC pipeline faces. Oracle: latest
    // row per user by (ts, event_id) over the whole table. State stays
    // |users|-sized; each batch costs one union + one key-partitioned
    // top-1 window; localCheckpoint truncates lineage between batches.
    "q_stream_upsert_parity" -> Q(
      (s, dir) => {
        import s.implicits._
        val cols = Seq("user_id", "ts", "event_id", "event_type", "value")
        val stream = Streams.eventStream(s, stageEventsMulti(s, dir),
            maxFilesPerTrigger = Some(1))
          .select(cols.map(col): _*)
        var state = s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          stream.schema)
        Streams.withStatePartitions(s, statePartitionsFor(dir)) {
          Streams.runForeachBatch(stream, "stream_upsert") { (batch, _) =>
            state = graft.operators.Merge
              .upsertLatest(state, batch, "user_id", Seq("ts", "event_id"))
              .localCheckpoint(eager = true)
            ()
          }
        }
        state.select(cols.map(col): _*).orderBy($"user_id")
      },
      Some("""SELECT user_id, ts, event_id, event_type, value FROM (
             |  SELECT user_id, ts, event_id, event_type, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) t
             |WHERE rn = 1 ORDER BY user_id""".stripMargin))
  )
}
