package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object Bench {
  /** The three artifact lines as pure functions of pre-rendered JSON
    * fragments, extracted so BenchContractSpec can pin that each line is
    * standalone-parseable JSON (the driver tail-grabs stdout; r9/r10 lost
    * rounds to a line that wasn't) and that the FINAL line stays tiny. */
  private[graft] def fullLine(total: String, stat: String, qs: String,
      qsMedian: String, qsCpu: String, qsGc: String, qsMem: String,
      qsShuffle: String, qsShufRec: String, qsBcast: String,
      recallJson: String, failed: String, sf: String,
      calib: String, env: String = "{}"): String =
    s"""{"metric":"total","value":$total,"unit":"sec","stat":"$stat","calibration_sec":$calib,"env":$env,"queries":$qs,"queries_median":$qsMedian,"queries_cpu":$qsCpu,"queries_gc":$qsGc,"queries_peak_mem":$qsMem,"queries_shuffle_mb":$qsShuffle,"queries_shuffle_rec":$qsShufRec,"queries_broadcast_mb":$qsBcast,"queries_recall":$recallJson,"failed":$failed,"sf":"$sf"}"""

  private[graft] def compactLine(total: String, stat: String, qs: String,
      recallJson: String, failed: String, sf: String, detail: String,
      calib: String, env: String = "{}"): String =
    s"""{"metric":"total","value":$total,"unit":"sec","stat":"$stat","calibration_sec":$calib,"env":$env,"queries":$qs,"queries_recall":$recallJson,"failed":$failed,"sf":"$sf","detail":"$detail"}"""

  private[graft] def tinyLine(total: String, stat: String, nQueries: Int,
      failed: String, sf: String, detail: String, calib: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","stat":"$stat","calibration_sec":$calib,"n_queries":$nQueries,"failed":$failed,"sf":"$sf","detail":"$detail"}"""

  /** Split the per-query min-wall map into standalone-JSON "queries_part"
    * lines, each at most ~`maxChars` characters. Motivation (r19 PERF):
    * the driver's stdout capture is a bounded TAIL (observed 2000 chars),
    * and at 178 queries the compact line is ~6 KB — it never survives the
    * grab whole, so PERF lost all per-query visibility (per_query: {},
    * geomean null). Per-query data in SMALL standalone chunks printed
    * right before the tiny line means every chunk that lands inside the
    * tail window parses on its own; entries are sorted by query name, so
    * the subset that survives a bounded tail is the SAME queries round
    * over round (maximizing the cross-round common set). A consumer with
    * the full stdout can reassemble all parts (part/n_parts index them);
    * the authoritative full map stays in the "detail" file. Each entry is
    * rounded like the compact line (0.1 ms). */
  private[graft] def queriesPartLines(
      entries: Seq[(String, Option[Double])], stat: String, sf: String,
      maxChars: Int = 1600): Seq[String] = {
    val items = entries.sortBy(_._1).map { case (k, v) =>
      s"\"" + k + "\":" + v.map(x =>
        (math.rint(x * 10000) / 10000).toString).getOrElse("null")
    }
    if (items.isEmpty) return Seq.empty
    val overhead = 120 // frame + part indices + stat/sf fields
    val groups = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[String])
    items.foreach { it =>
      val cur = groups.last
      val curLen = cur.map(_.length + 1).sum
      if (cur.nonEmpty && curLen + it.length + overhead > maxChars)
        groups += scala.collection.mutable.ArrayBuffer(it)
      else cur += it
    }
    val n = groups.size
    groups.zipWithIndex.map { case (g, i) =>
      s"""{"metric":"queries_part","part":${i + 1},"n_parts":$n,"stat":"$stat","queries":${g.mkString("{", ",", "}")},"sf":"$sf"}"""
    }.toSeq
  }

  /** QUANTIFIED loaded-host rule (the r17 consumer rule said only "load is
    * high"): a 1-minute load average above cpus/8 at process start means
    * co-tenant work already owned a material slice of the machine before
    * this bench ran anything — do NOT normalize the artifact across
    * rounds; re-capture on a quiet window. cpus/8 separates the observed
    * regimes by an order of magnitude each way: quiet captures read
    * 0.3-1.3 on 32 cpus (limit 4.0) while the loaded r17 driver run read
    * 8.59. Negative samples mean "platform can't measure" (see
    * [[loadJson]]) and never warn. */
  private[graft] def loadLimit(cpus: Int): Double = cpus / 8.0
  private[graft] def loadWarning(loadStart: Double, cpus: Int)
      : Option[String] =
    if (loadStart >= 0 && loadStart > loadLimit(cpus))
      Some(f"[bench] WARNING: load_avg_start=$loadStart%.2f exceeds " +
        f"${loadLimit(cpus)}%.1f (cpus/8 on $cpus cpus) — co-tenant load " +
        "BEFORE any Spark work; timings in this artifact are NOT " +
        "normalizable across rounds, re-run on a quiet window")
    else None

  /** JSON value for a sampled load average: getSystemLoadAverage returns
    * -1.0 where the platform cannot sample it, and writing -1 into the
    * artifact would read as a real (impossible) measurement to the
    * high-load consumer rule — emit null instead. */
  private[graft] def loadJson(load: Double): String =
    if (load < 0) "null" else (math.rint(load * 10000) / 10000).toString

  def main(args: Array[String]): Unit = {
    // Sample the 1-minute load BEFORE any Spark work: this is the
    // co-tenant-load signal the env consumer rule keys on, and the
    // bench's own warmup + calibration scans would otherwise contaminate
    // it (a quiet box read 1.35 when sampled after them). load_avg_end
    // is sampled after everything and INCLUDES self-load by construction
    // — it is only comparable same-code-run to same-code-run.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val loadStart = osBean.getSystemLoadAverage
    // self-identify a loaded host in the DRIVER'S LOG, not just the
    // artifact (r17: the driver's own bench ran at load 8.59 and only the
    // env block showed it) — both streams, so any capture mode sees it;
    // stdout is safe here, the driver's tail grab reads the FINAL lines
    loadWarning(loadStart, Runtime.getRuntime.availableProcessors)
      .foreach { w => println(w); System.err.println(w) }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Optional comma-separated subset for fast local iteration on one
    // operator; the driver never sets it, so round benches stay complete.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').map(_.trim).toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Force full materialization of EVERY output column: a bare count()
    // lets Catalyst prune projections and drop sorts, benchmarking string
    // kernels as empty scans. xxhash64 over the row struct evaluates every
    // expression; bit_xor folds to one long WITHOUT overflow (sum of random
    // longs throws under ANSI mode — Spark 4's default).
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val df = fn(spark, sfDir)
      val out = df.agg(
        bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))))
      out.collect()
      out
    }
    // Global warmup: the first query in a fresh JVM pays ~5s of
    // classloading/JIT/codegen that would be misattributed to whichever
    // query happens to run first.
    try run(SparkEntry.queries("q1_agg")) catch { case _: Throwable => }
    // CALIBRATION gate: a constant data-independent workload (6.4e9
    // xxhash64 over a range, 64 fixed partitions — pure whole-stage
    // codegen CPU, no I/O, no shuffle) timed like a query but NEVER
    // counted in `value`/`queries`. Round-over-round the workload is
    // byte-identical, so its wall time moves ONLY with the machine:
    // r12->r13 carried an unexplained ~14% uniform shift that took
    // quiet-machine adjudication reruns to attribute — with this field
    // two artifacts separate machine drift (calibration moved with the
    // totals) from code drift (calibration flat) without any rerun.
    // Sampled in two windows (before pass 1, after the last pass) for
    // the same one-noisy-window defense as the query passes; min wins.
    def calibrationRun(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 6400000000L, 1L, 64)
        .agg(bit_xor(xxhash64(col("id")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrationRun() // untimed warmup (codegen for the calibration plan)
    val calibPre = calibrationRun()
    // Per-query: one untimed warmup (plan compile + codegen cache), then 5
    // timed runs recording wall time, process CPU time, GC time and peak
    // heap. The round-7 driver bench reported phantom 4-12x regressions on
    // untouched queries (and a phantom 5x speedup) because the whole machine
    // was loaded by another process — a failure mode median-within-one-JVM
    // cannot defend against, since every run is equally slowed. Defense:
    //   * headline per-query stat is the MINIMUM of the samples (for a
    //     CPU-bound query the minimum is the least-contaminated observation;
    //     external load can only ADD wall time, never subtract it);
    //   * the median and the process-CPU seconds of the min-wall run are
    //     persisted alongside, so a contaminated run is detectable from the
    //     artifact alone: external load inflates wall while THIS process's
    //     CPU seconds stay flat, so cpu/wall collapsing vs prior rounds =
    //     contamination, not a code regression.
    // A query that throws is recorded as null (failed), never as its
    // time-to-exception — a broken query must not masquerade as a speedup.
    // The r8 round proved cpu/wall alone misses one contamination mode:
    // machine-wide memory pressure drives THIS JVM into a GC storm, so wall
    // AND process-CPU both inflate (q1_agg: wall 14.2s, cpu 17.5s driver-side
    // vs 1.0s/1.45s clean) and the cpu-flat fingerprint never fires. GC
    // collection time is the missing signal: gc >> 0 with unchanged plans
    // reads as environment, mechanically. Round 9 then showed six sub-second
    // queries swinging 1.4-4.4x round-over-round with gc=0, cpu ∝ wall and
    // ZERO code change — min-of-3 was not enough samples to filter machine
    // noise at the sub-second scale. Round 10's final capture then showed the
    // remaining hole: ALL samples of one invocation share one time window, so
    // a noisy window inflates even a min-of-5 (q_sql_text/q_rollup/
    // q_stream_window_parity read ~2x in the captured artifact while three
    // adjudication runs in other windows all agreed at the prior-round
    // level). Hence the suite now runs in PASSES: the whole query set is
    // iterated `passes` times end-to-end and the per-query min is taken
    // across every sample of every pass — the passes are separated by the
    // full suite's runtime (minutes), so a single noisy window can no longer
    // own all of a query's samples. Each pass settles with System.gc()
    // before each query so the previous query's garbage is not charged to
    // this one's timed runs. Rule for artifact consumers, in order
    // (final-capture noise: compare to other-window minima before
    // investigating — two artifacts agreeing within ~1.3x supersede an
    // outlier):
    //   0. no plan/code change for the query since the prior round
    //                                -> environment; confirm by one re-run
    //                                   (two consecutive artifacts agreeing
    //                                   within ~1.3x supersede the outlier)
    //   1. wall up, cpu flat         -> external CPU load (r7 mode)
    //   2. wall up, cpu up, gc >> prior -> memory-pressure GC storm (r8 mode)
    //   3. wall up, cpu up, gc flat, peak_mem ~flat, code changed
    //                                -> a real code regression; investigate.
    // Noise floor: for queries whose min wall is < 0.5 s, scheduler/JIT
    // jitter alone reaches ~1.5x across runs even on an idle machine — a
    // RATIO alarm on a sub-0.5 s query is only actionable if the absolute
    // delta also exceeds ~0.3 s; otherwise read it as noise.
    // queries_peak_mem (MB) is the sum of per-heap-pool peak usage during the
    // min-wall run (upper bound on true concurrent peak): a query whose peak
    // jumps across rounds with unchanged wall is building bigger intermediate
    // state — the regression class wall clock hides (reference analog: asv
    // track_size_* in /root/reference/benchmarks/boolean.py:24-39).
    // Host context for the artifact (r16 verdict: a 3.7× calibration swing
    // between two same-code runs made "calibration-normalized" claims
    // unfalsifiable). load_avg_start is sampled at process start (above),
    // BEFORE any Spark work, so it reads co-tenant load only; cpu_model +
    // cpus fingerprint the host so two artifacts normalizing against each
    // other can first check they ran on comparable silicon. Consumer
    // rule: when calibration_pre and calibration_post disagree by >2×, or
    // load_avg_start exceeds cpus/8 (the quantified limit in loadLimit —
    // the run also self-identifies with a WARNING line at start), do NOT
    // normalize across artifacts — re-run on a quiet window instead.
    // load_avg_start: null means the platform could not sample it.
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
    def peakMb(): Double =
      heapPools.map(p => math.max(0L, p.getPeakUsage.getUsed)).sum / 1e6
    // 3 samples x 2 passes = 6 observations per query, spread across two
    // windows separated by the full suite runtime (see the r10 note above).
    val samplesPerQuery = sys.env.get("SPARK_GRAFT_BENCH_SAMPLES")
      .map(_.toInt).getOrElse(3)
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .map(_.toInt).getOrElse(2)
    val benched = SparkEntry.queries
      .filter { case (name, _) => filter.forall(_.contains(name)) }.toSeq
    val collected = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]]()
    val failedSet = scala.collection.mutable.LinkedHashSet[String]()
    // Exchange volume (shuffle bytes/records written, broadcast bytes) read
    // from the warmup run's executed plan via SQLMetrics. Unlike every
    // timing stat these are PLAN-DETERMINED and deterministic for a fixed
    // dataset — zero noise floor. Reading rule: a cross-round jump in
    // shuffle_mb/shuffle_rec at flat wall time is a plan regression (lost
    // broadcast, lost partial aggregate, new exchange) — the class that
    // costs milliseconds at sf0.1 and kills the job at 100 TB; wall time
    // cannot see it, these columns can.
    val volumes = scala.collection.mutable.LinkedHashMap[String,
      graft.tools.PlanMetrics.ExchangeVolume]()
    for (pass <- 1 to passes; (name, fn) <- benched if !failedSet(name)) {
      try {
        // settle: collect the previous query's garbage OUTSIDE this query's
        // timed window, so cross-query heap pollution doesn't masquerade as
        // this query's gc/wall cost
        System.gc()
        // untimed warmup (plan compile + codegen cache) — first pass only;
        // later passes reuse the warmed caches
        if (pass == 1)
          volumes(name) = graft.tools.PlanMetrics.exchangeVolume(run(fn))
        val buf = collected.getOrElseUpdate(name,
          scala.collection.mutable.ArrayBuffer.empty)
        (1 to samplesPerQuery).foreach { _ =>
          // PER-SAMPLE CACHE STATE: every frame graft persists beyond one
          // call is registered in OpCaches (the minhash and span frames,
          // the prepared ANN corpus, the jaccard sets); clearing the
          // registry here (blocking, OUTSIDE the timed window) guarantees
          // no timed sample ever reads an InMemoryRelation built by the
          // untimed warmup or a previous sample — each sample recomputes
          // AND re-persists those frames inside its own timed window, so
          // the reported minimum is a cold-query time. TableMemo stays
          // warm on purpose: a long-lived session resolves each table once.
          graft.operators.OpCaches.clear()
          resetPeaks()
          val c0 = osBean.getProcessCpuTime
          val g0 = gcMillis()
          val t0 = System.nanoTime()
          run(fn)
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = (osBean.getProcessCpuTime - c0) / 1e9
          val gc = (gcMillis() - g0) / 1e3
          buf += ((wall, cpu, gc, peakMb()))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        failedSet += name
      }
    }
    val results: Seq[(String, Option[(Double, Double, Double, Double, Double)])] =
      benched.map { case (name, _) =>
        name -> (if (failedSet(name)) None else {
          val samples = collected(name)
          val byWall = samples.sortBy(_._1)
          val med = byWall(samples.length / 2)._1
          val m = byWall.head
          Some((m._1, med, m._2, m._3, m._4))
        })
      }
    def jmap(f: ((Double, Double, Double, Double, Double)) => Double,
        round: Boolean = false): String =
      results.map { case (k, v) =>
        s"\"" + k + "\":" + v.map { s =>
          val x = f(s)
          if (round) (math.rint(x * 10000) / 10000).toString else x.toString
        }.getOrElse("null")
      }.mkString("{", ",", "}")
    // ANN recall@k vs knnBrute on the bench corpus (full runs only; a
    // subset filter is a fast-iteration mode and skips it). Reading rule:
    // recall is a deterministic per-dataset constant — ANY change without a
    // code change is a bug, and a recall drop at unchanged wall time is the
    // silent-regression class the timing stats cannot see.
    val calibPost = calibrationRun()
    val loadEnd = osBean.getSystemLoadAverage
    val calibSec = math.min(calibPre, calibPost)
    val calib = (math.rint(calibSec * 10000) / 10000).toString
    def r4(x: Double): String = (math.rint(x * 10000) / 10000).toString
    val cpuModel = try {
      val src = scala.io.Source.fromFile("/proc/cpuinfo")
      try src.getLines()
        .collectFirst { case l if l.startsWith("model name") =>
          l.split(":", 2)(1).trim }
        .getOrElse("unknown")
      finally src.close()
    } catch { case _: Throwable => "unknown" }
    val envJson = s"""{"cpu_model":"${
      cpuModel.replace("\\", "\\\\").replace("\"", "\\\"")
    }","cpus":${Runtime.getRuntime.availableProcessors},""" +
      s""""load_avg_start":${loadJson(loadStart)},"load_avg_end":${loadJson(loadEnd)},""" +
      s""""calibration_pre":${r4(calibPre)},"calibration_post":${r4(calibPost)}}"""
    val recall: Map[String, Double] =
      if (filter.isDefined) Map.empty
      else try queries.Similarity.recallVsBrute(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] recall computation FAILED: ${e.getMessage}")
        Map.empty
      }
    val recallJson = recall.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        s"\"" + k + "\":" + (math.rint(v * 10000) / 10000) }
      .mkString("{", ",", "}")
    def vmap(f: graft.tools.PlanMetrics.ExchangeVolume => Double): String =
      results.map { case (k, _) =>
        s"\"" + k + "\":" + volumes.get(k)
          .map(v => (math.rint(f(v) * 1000) / 1000).toString)
          .getOrElse("null")
      }.mkString("{", ",", "}")
    val qsShuffle = vmap(_.shuffleWritten / 1e6)  // MB written through shuffles
    val qsShufRec = vmap(_.shuffleRecords.toDouble) // rows crossing exchanges
    val qsBcast = vmap(_.broadcastBytes / 1e6)    // MB resident per executor
    val qs = jmap(_._1)        // min-of-N wall: the load-robust stat
    val qsMedian = jmap(_._2)  // median wall: the r6/r7 historical stat
    val qsCpu = jmap(_._3)     // process CPU seconds of the min-wall run
    val qsGc = jmap(_._4)      // GC seconds of the min-wall run (storm detector)
    val qsMem = jmap(_._5)     // peak heap MB of the min-wall run
    val failed = results.collect { case (k, None) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    // A total over a partial query set is not comparable across rounds: if
    // ANY query failed, "value" is null so a broken query can never read as
    // a speedup to a consumer that only looks at the total.
    val total =
      if (results.exists(_._2.isEmpty)) "null"
      else results.flatMap(_._2).map(_._1).sum.toString
    val stat = s"min_of_${samplesPerQuery}x$passes"
    // Full-fidelity artifact: every stat map, unrounded. The driver's stdout
    // capture has truncated long lines in past rounds (BENCH_r06 lost 16 of
    // 83 timings, BENCH_r09 parsed null), so the full line goes to a FILE
    // and stdout carries a compact line that fits a tail grab.
    val full = fullLine(total, stat, qs, qsMedian, qsCpu, qsGc, qsMem,
      qsShuffle, qsShufRec, qsBcast, recallJson, failed, sfDir, calib,
      envJson)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_times.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // Compact line: per-query min wall only, rounded to 0.1ms (~2.5 KB for
    // 92 queries vs ~13 KB with all five maps). "detail" names the full
    // artifact.
    println(compactLine(total, stat, jmap(_._1, round = true), recallJson,
      failed, sfDir, out, calib, envJson))
    // queries_part chunk lines (r20, PERF item 2): at 178 queries even the
    // compact line (~6 KB) overflows the driver's bounded tail grab
    // (observed 2000 chars), which cost PERF_r19 its whole per_query /
    // geomean / scaling block. Re-emit the per-query minima as SMALL
    // standalone-JSON lines immediately before the tiny line so the
    // chunks nearest the tail survive the grab whole and parse on their
    // own; a full-stdout consumer reassembles every part.
    queriesPartLines(results.map { case (k, v) => k -> v.map(_._1) },
      stat, sfDir).foreach(println)
    // FINAL line is tiny (~150 bytes): the driver's stdout capture is a
    // bounded TAIL, and r9/r10 proved even the compact per-query line can
    // overflow it (BENCH "parsed": null, head of the line clipped). Totals +
    // failed + detail pointer always survive a tail grab whole; per-query
    // data lives one line up and, authoritatively, in the "detail" file.
    println(tinyLine(total, stat, results.size, failed, sfDir, out, calib))
  }
}
