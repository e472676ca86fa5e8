package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Drives the streaming operators end-to-end through micro-batches with
  * MemoryStream + memory sink: windowed aggregation, sessionization,
  * watermark-bounded dedup, and custom keyed state.
  */
class StreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def t(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("windowedCounts aggregates by event-time window across batches") {
    val in = MemoryStream[Event](spark)
    in.addData(
      Event(1, t(0, 10), 1, "click", 1.0),
      Event(2, t(0, 50), 2, "click", 2.0),
      Event(3, t(5, 10), 1, "view", 4.0))
    in.addData(Event(4, t(5, 30), 3, "view", 8.0))
    runToMemory(
      Streams.windowedCounts(in.toDF(), "5 minutes", "5 minutes", "10 minutes"),
      "win_counts", OutputMode.Update())
    val rows = spark.table("win_counts")
      .select($"w_start", $"event_type", $"n", $"total_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows.contains((t(0), "click", 2L, 3.0)))
    assert(rows.contains((t(5), "view", 2L, 12.0)) ||
      rows.contains((t(5), "view", 1L, 4.0)))   // update mode emits per batch
  }

  test("sessionize merges events within the gap into one session") {
    val in = MemoryStream[Event](spark)
    in.addData(
      Event(1, t(0), 7, "click", 1.0),
      Event(2, t(1), 7, "click", 2.0),     // within 2-min gap → same session
      Event(3, t(10), 7, "click", 4.0))    // far away → new session
    // session windows emit in Append only when the watermark passes their
    // end; a far-future event advances it past both sessions
    val q = Streams.sessionize(in.toDF(), "2 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      in.addData(Event(4, t(59), 8, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val sess = spark.table("sessions")
      .select($"user_id", $"n_events", $"session_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sess.contains((7L, 2L, 3.0)))
    assert(sess.contains((7L, 1L, 4.0)))
  }

  test("dedupStream drops re-delivered event_ids within the watermark") {
    val in = MemoryStream[Event](spark)
    in.addData(
      Event(1, t(0), 1, "click", 1.0),
      Event(1, t(0), 1, "click", 1.0),     // duplicate in the same batch
      Event(2, t(1), 2, "view", 2.0))
    in.addData(Event(2, t(1), 2, "view", 2.0))  // re-delivery next batch
    runToMemory(Streams.dedupStream(in.toDF(), "10 minutes"),
      "deduped", OutputMode.Append())
    assert(spark.table("deduped").select($"event_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("userRunningStats keeps per-user state across micro-batches") {
    val in = MemoryStream[Event](spark)
    val q = Streams.userRunningStats(in.toDS()).toDF()
      .writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Event(1, t(0), 1, "click", 2.0),
        Event(2, t(1), 1, "view", 4.0))
      q.processAllAvailable()                     // batch 1
      in.addData(Event(3, t(2), 1, "view", 6.0))
      q.processAllAvailable()                     // batch 2: state carried
    } finally q.stop()
    val states = spark.table("running")
      .select($"n_events", $"total_value", $"mean_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(states.contains((2L, 6.0, 3.0)))   // after batch 1
    assert(states.contains((3L, 12.0, 4.0)))  // after batch 2
  }

  test("streamed windowedCounts equals the same aggregation in batch") {
    val events = (0 until 200).map { i =>
      Event(i, t(i % 30, i % 60), i % 7, if (i % 3 == 0) "click" else "view",
        i.toDouble)
    }
    val in = MemoryStream[Event](spark)
    in.addData(events.take(120))
    in.addData(events.drop(120))
    runToMemory(
      Streams.windowedCounts(in.toDF(), "10 minutes", "10 minutes", "1 hour"),
      "parity_stream", OutputMode.Complete())
    val streamed = spark.table("parity_stream")
      .select($"w_start", $"event_type", $"n", $"total_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = events.toDF()
      .groupBy(window($"ts", "10 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("total_value"))
      .select($"window.start", $"event_type", $"n", $"total_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed === batch)
  }

  test("eventStream file source runs end-to-end against the events dir") {
    val dir = "/tmp/graft_stream_src"
    val out = new java.io.File(dir)
    out.mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val q = Streams.windowedCounts(
        graft.streaming.Streams.eventStream(spark, dir),
        "1 hour", "1 hour", "1 day")
      .writeStream.format("memory").queryName("file_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("file_stream").agg(sum($"n")).head.getLong(0)
    val batchN = spark.read.parquet(s"$sf0001/events.parquet").count()
    assert(n === batchN)   // every event lands in exactly one window
  }

  test("eventStream starts on an EMPTY landing directory (production cold " +
      "start: stream up before the first file arrives)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-empty").toString
    val stream = Streams.eventStream(spark, dir)
    assert(stream.isStreaming)
    // fallback schema is the canonical staged layout, normalized to a true
    // timestamp column like any other arrival
    assert(stream.schema("ts").dataType.typeName === "timestamp")
    assert(stream.schema.fieldNames.toSeq ===
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  test("eventStream normalizes ts to TimestampType whatever the source " +
      "parquet unit is") {
    // drive the real streaming entry against the shipped testdata: the
    // schema probe + normalization must yield a true timestamp column
    val dir = "/tmp/graft_stream_norm"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val stream = Streams.eventStream(spark, dir)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType.typeName === "timestamp",
      s"eventStream left ts as ${stream.schema("ts").dataType}")
    // and the values land in the corpus's year, proving the unit conversion
    // (a nanos-as-micros mixup would shift the epoch by ×1000)
    val years = Streams.runToTable(
      stream.groupBy().agg(org.apache.spark.sql.functions
        .min(org.apache.spark.sql.functions.year($"ts")).as("y")),
      "stream_norm_year")
    assert(years.head.getInt(0) === 2024)
  }

  test("the stream schema probe re-probes a regenerated source that is not " +
      "a listable directory, and one whose parts are nested") {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_reprobe")
    val v1 = Seq((1L, 1700000000000000000L, 7L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val v2 = v1.withColumn("props", lit("x"))
    // a single parquet FILE as the source: it cannot be listed as a
    // directory, yet a batch read of it works
    val file = base.resolve("events.parquet")
    def writeFile(df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val tmp = base.resolve("tmpdir")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, file,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      file.toFile.setLastModified(mtime)
    }
    writeFile(v1, 1700000000000L)
    assert(!Streams.eventStream(spark, file.toString).columns.contains("props"))
    writeFile(v2, 1700000060000L)
    assert(Streams.eventStream(spark, file.toString).columns.contains("props"),
      "a regenerated single-file source kept its first schema")
    // part files one level down (partitioned layout): only the nested
    // files change on regeneration, not the top-level entries
    val nested = base.resolve("nested").toString
    v1.write.partitionBy("event_type").parquet(nested)
    assert(!Streams.eventStream(spark, nested).columns.contains("props"))
    v2.write.mode("overwrite").partitionBy("event_type").parquet(nested)
    assert(Streams.eventStream(spark, nested).columns.contains("props"),
      "a regenerated nested-part source kept its first schema")
  }

  // ---- multi-file replay semantics the multi-batch parity gates rely on --

  /** Write one events parquet file (nanos-long ts, the testdata layout)
    * with a pinned mtime — the file source replays files oldest-first, one
    * micro-batch each under maxFilesPerTrigger=1. */
  private def writeEventsFile(dir: java.nio.file.Path, name: String,
      rows: Seq[(Long, String, Long)], mtime: Long): Unit = {
    val tmp = dir.resolve(name + ".tmpdir")
    rows.map { case (id, t, uid) => (id, t, uid, "click", 1.0, "") }
      .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("unix_micros(CAST(tss AS TIMESTAMP)) * 1000"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part, dir.resolve(name))
    dir.resolve(name).toFile.setLastModified(mtime)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("late-event filter uses the watermark from two batches back, " +
      "boundary ts <= wm (the contract q_stream_late_drop's oracle mirrors)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_lag")
    // batch 1 fixes the watermark the batch-3 late filter will use:
    // 02:00 − 1h = 01:00
    writeEventsFile(dir, "b1.parquet",
      Seq((1L, "2024-01-01 02:00:00", 1L)), 1700000000000L)
    // batch 2's late filter is still the PRE-batch-1 watermark (epoch), so
    // even a very old event survives here — the two-watermark lag
    writeEventsFile(dir, "b2.parquet",
      Seq((2L, "2024-01-01 00:45:00", 1L)), 1700000060000L)
    // batch 3's late filter is batch 1's watermark (01:00): at-watermark
    // drops (<=), one microsecond past survives
    writeEventsFile(dir, "b3.parquet", Seq(
      (90L, "2024-01-01 00:30:00", 1L),        // below wm → dropped
      (91L, "2024-01-01 01:00:00", 1L),        // AT wm → dropped
      (92L, "2024-01-01 01:00:00.000001", 1L), // 1µs past → kept
      (93L, "2024-01-01 01:30:00", 1L)),       // fresh → kept
      1700000120000L)
    val stream = Streams.eventStream(spark, dir.toString,
      maxFilesPerTrigger = Some(1))
    val out = Streams.runToTableAppend(
      Streams.dedupStream(stream.select($"ts", $"event_id"),
        maxDelay = "1 hour", keys = Seq("event_id")),
      "lag_boundary")
    assert(Streams.lastRunBatches === 3)
    assert(out.select($"event_id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 92L, 93L))
  }

  test("session state merges across file-source micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_merge")
    writeEventsFile(dir, "b1.parquet", Seq(
      (1L, "2024-01-01 01:00:00", 7L),
      (2L, "2024-01-01 01:10:00", 7L)), 1700000000000L)
    writeEventsFile(dir, "b2.parquet", Seq(
      (3L, "2024-01-01 01:20:00", 7L),   // within the 30-min gap of event 2
      (4L, "2024-01-01 05:00:00", 8L)), 1700000060000L)
    val stream = Streams.eventStream(spark, dir.toString,
      maxFilesPerTrigger = Some(1))
    val out = Streams.runToTable(
      Streams.sessionize(stream, gap = "30 minutes", maxDelay = "30 days"),
      "merge_sessions")
    assert(Streams.lastRunBatches === 2)
    val u7 = out.filter($"user_id" === 7).collect()
    // one MERGED session [01:00, 01:50) of 3 events — two sessions here
    // would mean batch-2 state failed to merge into batch-1's window
    assert(u7.length === 1)
    assert(u7.head.getAs[Long]("n_events") === 3L)
    assert(u7.head.getAs[Timestamp]("s_end").toString === "2024-01-01 01:50:00.0")
  }

  test("the staged parity gates really replay three micro-batches (five " +
      "for the session gate: three real + two watermark sentinels)") {
    for (gate <- Seq("q_stream_session_parity", "q_stream_late_drop",
        "q_stream_stream_join", "q_stream_outer_join")) {
      // the session gate's Append drain replays the sentinel variant —
      // two extra one-row watermark-advancer batches (see
      // stageEventsMulti's sessionGate doc); lastRunBatches counts
      // data-carrying batches, so they show up here
      val want = if (gate == "q_stream_session_parity") 5 else 3
      SparkEntry.queries(gate)(spark, sf0001).collect()
      assert(Streams.lastRunBatches === want,
        s"$gate drained ${Streams.lastRunBatches} batches, want $want")
    }
  }

  test("a gate drain drops its memory-sink view once the frame is taken; " +
      "the frames keep their rows") {
    def views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("stream_quality_parity")).toSeq
    val before = views
    val first = SparkEntry.queries("q_stream_quality_parity")(spark, sf0001)
    val second = SparkEntry.queries("q_stream_quality_parity")(spark, sf0001)
    assert(views === before, "a drain left its temp view registered")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    val a = first.collect().toSeq
    assert(a.size === docs)
    assert(second.collect().toSeq === a)
  }

  test("session gate output is state-store-provider invariant: RocksDB " +
      "(the production residency choice — off-heap native memory + local " +
      "SST files instead of the default provider's on-heap map) produces " +
      "identical rows, and both drains report state-residency telemetry") {
    def run() = SparkEntry.queries("q_stream_session_parity")(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq
    val defRows = run()
    val defState = Streams.lastRunStateTelemetry
    assert(defState.exists(_.rows > 0),
      s"default-provider drain reported no state telemetry: $defState")
    assert(defState.exists(_.bytes > 0),
      s"default-provider drain reported no state bytes: $defState")
    val (rocksRows, rocksState) = Streams.withRocksDBStateStore(spark) {
      val r = run(); (r, Streams.lastRunStateTelemetry)
    }
    assert(rocksRows === defRows,
      "session output must not depend on the state store provider")
    assert(rocksState.exists(_.rows > 0),
      s"RocksDB drain reported no state telemetry: $rocksState")
    // a provider swap must not change WHAT is held, only WHERE: the final
    // data-batch's live-state row count is provider-invariant
    assert(rocksState.map(_.rows) === defState.map(_.rows),
      s"state row counts diverge across providers: $rocksState vs $defState")
    // stateless plans report None, not stale telemetry from a prior drain
    SparkEntry.queries("q_stream_static_join")(spark, sf0001).collect()
    assert(Streams.lastRunStateTelemetry.isEmpty,
      "a stateless drain must clear the telemetry slot")
  }

  test("q_stream_outer_join emits both matched pairs and eviction-driven " +
      "unmatched rows") {
    val rows = SparkEntry.queries("q_stream_outer_join")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.exists(_._2 == -1L), "no unmatched click emitted a null row")
    assert(rows.exists(_._2 != -1L), "no click matched a follow-up")
  }

  test("left-outer intervalJoin: a filtered-out row still advances the " +
      "watermark, so the unmatched left row's null emits on eviction") {
    val left = MemoryStream[Event](spark)
    val right = MemoryStream[Event](spark)
    val joined = Streams.intervalJoin(
      left.toDF().selectExpr("event_id AS c_id", "user_id AS c_uid",
        "ts AS c_ts", "event_type"),
      "c_ts", "1 minute",
      right.toDF().selectExpr("event_id AS n_id", "user_id AS n_uid",
        "ts AS n_ts"),
      "n_ts", "1 minute",
      expr("c_uid = n_uid AND n_ts > c_ts AND " +
        "n_ts <= c_ts + INTERVAL 10 MINUTES"),
      joinType = "left_outer",
      // only clicks enter join state — but the watermark node upstream of
      // this filter still sees every left-side row
      leftFilter = Some($"event_type" === "click"))
      .select($"c_id", $"n_id")
    val q = joined.writeStream.format("memory").queryName("soj")
      .outputMode(OutputMode.Append()).start()
    try {
      left.addData(Event(1, t(0), 1, "click", 1.0))
      q.processAllAvailable()                   // batch 1: buffered, no match
      assert(spark.table("soj").count() === 0)
      // batch 2: NON-click left rows + a far right row advance BOTH
      // watermarks hours past the click's window; the non-click never
      // enters join state, yet the left watermark must advance through it
      val far = Timestamp.valueOf("2024-01-01 06:00:00")
      left.addData(Event(2, far, 7, "view", 1.0))
      right.addData(Event(3, far, 8, "view", 1.0))
      q.processAllAvailable()
      // eviction runs with the watermark committed after the PREVIOUS
      // batch (two-watermark lag), and MemoryStream batch boundaries per
      // addData are not 1:1 with processAllAvailable calls — drive two
      // more batches so the committed watermark provably reaches eviction
      left.addData(Event(4, Timestamp.valueOf("2024-01-01 06:00:01"), 7,
        "view", 1.0))
      q.processAllAvailable()
      left.addData(Event(5, Timestamp.valueOf("2024-01-01 06:00:02"), 7,
        "view", 1.0))
      right.addData(Event(6, Timestamp.valueOf("2024-01-01 06:00:02"), 8,
        "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("soj").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      assert(rows.toSet === Set((1L, -1L)),
        s"want the unmatched click's null row, got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("enrichStream joins every micro-batch against the static dim via " +
      "BroadcastHashJoin, carrying no state") {
    val dim = Seq((1L, "gold"), (2L, "iron")).toDF("uid", "tier")
    val in = MemoryStream[Event](spark)
    val joined = Streams.enrichStream(in.toDF(), dim, $"user_id" === $"uid")
      .select($"event_id", $"tier")
    val q = joined.writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Event(1, t(0), 1, "click", 1.0),
        Event(2, t(1), 2, "view", 1.0))
      q.processAllAvailable()                     // batch 1
      in.addData(Event(3, t(2), 1, "view", 1.0),
        Event(4, t(3), 9, "view", 1.0))           // uid 9: no dim row
      q.processAllAvailable()                     // batch 2
      // the dim side must be planned as a broadcast join inside the
      // micro-batch execution (stream side never shuffles)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out))(q.explain())
      assert(out.toString.contains("BroadcastHashJoin"), out.toString)
      assert(!out.toString.contains("StateStore"), out.toString)
    } finally q.stop()
    val got = spark.table("enriched").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "gold"), (2L, "iron"), (3L, "gold")))
  }

  test("intervalJoin buffers one side across micro-batches and evicts " +
      "state once the watermark clears it") {
    val clicks = MemoryStream[Event](spark)
    val follows = MemoryStream[Event](spark)
    val joined = Streams.intervalJoin(
      clicks.toDF().selectExpr("event_id AS c_id", "user_id AS c_uid",
        "ts AS c_ts"),
      "c_ts", "1 minute",
      follows.toDF().selectExpr("event_id AS n_id", "user_id AS n_uid",
        "ts AS n_ts"),
      "n_ts", "1 minute",
      expr("c_uid = n_uid AND n_ts > c_ts AND " +
        "n_ts <= c_ts + INTERVAL 10 MINUTES"))
      .select($"c_id", $"n_id")
    val q = joined.writeStream.format("memory").queryName("sj")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(Event(1, t(0), 1, "click", 1.0))
      q.processAllAvailable()                   // batch 1: no partner yet
      assert(spark.table("sj").count() === 0)
      follows.addData(Event(2, t(5), 1, "view", 1.0))
      q.processAllAvailable()                   // batch 2: buffered click
      assert(spark.table("sj").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
      // advance BOTH watermarks hours past the click; its state row (and
      // the follow's) must be evicted — numRowsRemoved shows up in the
      // state operator progress of a subsequent batch
      clicks.addData(Event(3, Timestamp.valueOf("2024-01-01 06:00:00"), 2,
        "click", 1.0))
      follows.addData(Event(4, Timestamp.valueOf("2024-01-01 06:00:00"), 3,
        "view", 1.0))
      q.processAllAvailable()
      clicks.addData(Event(5, Timestamp.valueOf("2024-01-01 06:00:01"), 2,
        "click", 1.0))
      q.processAllAvailable()
      val removed = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(removed > 0, "watermark never evicted join state")
    } finally q.stop()
  }

  test("Complete mode: plain windows keep late rows, session windows drop " +
      "them (the asymmetry behind the parity gates' watermark choices)") {
    def lateScenario(mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, name: String): Long = {
      val in = MemoryStream[Event](spark)
      val q = mk(in.toDF()).writeStream.format("memory")
        .queryName(name).outputMode(OutputMode.Complete()).start()
      try {
        in.addData(Event(1, t(0), 1, "click", 1.0)) // 00:00, advances wm
        q.processAllAvailable()
        in.addData(Event(2, t(5), 1, "click", 1.0)) // 00:05
        q.processAllAvailable()   // wm flushed past the lag by these batches
        in.addData(Event(3, Timestamp.valueOf("2023-12-31 20:00:00"), 1,
          "click", 1.0))          // hours late by now
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).count()
    }
    val winRows = lateScenario(
      df => Streams.windowedCounts(df, "5 minutes", "5 minutes", "1 minute"),
      "late_win")
    val sessRows = lateScenario(
      df => Streams.sessionize(df, "2 minutes", "1 minute"), "late_sess")
    assert(winRows === 3)  // 00:00, 00:05, and the LATE 20:00 window all kept
    assert(sessRows === 2) // late event's session vanished: dropped on input
  }

  test("withStatePartitions: results identical at any state-partition " +
      "count and the session conf is restored (even on failure)") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val dir = "/tmp/graft_stream_clamp"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def drained(n: Int) = Streams.withStatePartitions(spark, n) {
      Streams.runToTable(
        Streams.windowedCounts(Streams.eventStream(spark, dir),
          "1 hour", "1 hour", "1 day"), s"clamp_parity_$n")
    }.orderBy("w_start", "event_type").collect().toSeq
    val a = drained(2)
    assert(spark.conf.get(key) === before)
    val b = drained(13)
    assert(a === b, "state-partition count changed the result")
    intercept[RuntimeException](
      Streams.withStatePartitions(spark, 3)(
        throw new RuntimeException("boom")))
    assert(spark.conf.get(key) === before)
  }
}
