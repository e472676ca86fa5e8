package graft

import java.nio.file.{Files, Paths}

/** Staging hygiene for the streaming replay scratch area: the stage key is
  * (source+variant, fingerprint) where the fingerprint is the source file's
  * size+mtime, so a REGENERATED source gets a fresh staged directory — and
  * the stale fingerprints of the same source+variant must be GC'd at that
  * moment, or /tmp/graft_stream_stage accretes one dead multi-file copy of
  * the events table per data regeneration, forever. */
class StagingSpec extends SparkTestBase {

  test("re-staging a regenerated events source GCs the stale staged copy") {
    val dir = Files.createTempDirectory("graft-stage-gc")
    val src = dir.resolve("events.parquet")
    Files.copy(Paths.get(s"$sf0001/events.parquet"), src)

    val multi1 = graft.queries.Streaming.stageEventsMulti(spark, dir.toString)
    try {
      assert(Files.exists(Paths.get(multi1).resolve(".staged")))

      // "regenerate" the source: same path, new fingerprint (mtime bump)
      assert(src.toFile.setLastModified(
        Files.getLastModifiedTime(src).toMillis + 60000))
      val multi2 =
        graft.queries.Streaming.stageEventsMulti(spark, dir.toString)

      assert(multi1 != multi2, "regenerated source must get a fresh key")
      assert(!Files.exists(Paths.get(multi1)),
        s"stale staged copy $multi1 not GC'd on re-stage")
      assert(Files.exists(Paths.get(multi2).resolve(".staged")))

      // the three replay files are present and carry canonical BIGINT ts
      val staged = spark.read.parquet(multi2)
      assert(staged.schema("ts").dataType ===
        org.apache.spark.sql.types.LongType)
      val n = spark.read.parquet(src.toString).count()
      assert(staged.count() === n, "staged replay must cover every event")
    } finally {
      // this spec's source lives in a per-run temp dir, so no later run's
      // GC could ever match its prefix — clean up our own staged copies
      for (p <- Seq(multi1).map(Paths.get(_)) ++
          Seq(graft.queries.Streaming.stageEventsMulti(spark, dir.toString))
            .map(Paths.get(_)) if Files.exists(p))
        graft.queries.Streaming.deleteRecursively(p)
    }
  }

  test("sentinel staging refuses a corpus whose data domain contains the " +
      "sentinel user key (the session gate's post-drain filter would " +
      "silently drop a real user's sessions)") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-stage-clash")
    val src = dir.resolve("events.parquet")
    // one real event rewritten to carry the sentinel key −1
    spark.read.parquet(s"$sf0001/events.parquet")
      .limit(5)
      .withColumn("user_id", lit(-1L))
      .coalesce(1).write.mode("overwrite").parquet(src.toString)
    val e = intercept[IllegalArgumentException] {
      graft.queries.Streaming.stageEventsMulti(spark, dir.toString,
        sessionGate = true)
    }
    assert(e.getMessage.contains("user_id"), e.getMessage)
    // the refused staging must write NOTHING: the guard runs before any
    // batch write, so there is no half-staged directory (marker-less or
    // otherwise) under the stage root for this source at all
    val root = Paths.get("/tmp/graft_stream_stage")
    if (Files.isDirectory(root)) {
      val st = Files.list(root)
      val leaked = try st.toArray.map(_.toString)
          .filter(_.contains(dir.getFileName.toString))
        finally st.close()
      assert(leaked.forall { p =>
        val s = Files.list(Paths.get(p))
        try s.count() == 0L finally s.close()
      }, s"refused staging left files behind: ${leaked.mkString(",")}")
      leaked.foreach(p => graft.queries.Streaming
        .deleteRecursively(Paths.get(p)))
    }
  }

  test("staging refuses a corpus whose cuts are too close for the " +
      "no-data-batch skip (cut2 - cut1 must exceed 1 h delay + 30 min)") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-stage-narrow")
    val src = dir.resolve("events.parquet")
    // a 4-hour corpus: cut2 - cut1 = a quarter of the span = 1 h
    spark.read.parquet(s"$sf0001/events.parquet")
      .limit(50)
      .withColumn("ts", lit(1700000000000000000L) +
        (col("event_id") % 5) * lit(3600000000000L))
      .coalesce(1).write.mode("overwrite").parquet(src.toString)
    try {
      val e = intercept[IllegalArgumentException] {
        graft.queries.Streaming.stageEventsMulti(spark, dir.toString)
      }
      assert(e.getMessage.contains("no-data-batch skip"), e.getMessage)
    } finally {
      val root = Paths.get("/tmp/graft_stream_stage")
      if (Files.isDirectory(root)) {
        val st = Files.list(root)
        try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
            .filter(_.toString.contains(dir.getFileName.toString))
            .foreach(graft.queries.Streaming.deleteRecursively)
        finally st.close()
      }
    }
  }

  // The retired unordered-sentinel staging spelling (r16's first Append
  // draft — sentinels without the ordered split) is now UNREPRESENTABLE:
  // stageEventsMulti takes one `sessionGate` flag covering both, so no
  // call site can stage the layout whose class the ordered variant's GC
  // regex sweeps. (r16 enforced the same invariant with a runtime
  // require over two booleans.)
}
