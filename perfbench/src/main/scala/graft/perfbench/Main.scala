package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark process: set up one workload, warm it, measure one
  * closed-loop window (and, in a traced run, a second window with spans and
  * listeners on), and write the result file that `perfbench/run.py` turns
  * into the benchmark's output line.
  *
  * `--mode survey` instead runs `--passes` traced passes with no warm-up
  * and records every op's layer times and folded result; it is how the gate
  * lists and the expected digests were chosen and recorded. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val cores = a("cores").toInt
    val mode = a.getOrElse("mode", "run")
    val traced = a.get("trace").contains("1")
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // kernel_scan cycles through more generated classes per pass than
      // Spark's default codegen cache holds (100); with the default, every
      // op recompiled evicted classes and the JIT compiled them again.
      .config("spark.sql.codegen.cache.maxEntries", 1000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark)
    val sessionReadyMs = System.currentTimeMillis()

    val gates = a.get("gates").map(_.split(',').toSeq.filter(_.nonEmpty))
    val kernel = if (gates.isEmpty) Some(new KernelWorkload(spark, seed, KernelSizes(
      a("text-rows").toInt, a("int-rows").toInt, a("vec-rows").toInt, a("dim").toInt,
      a("partitions").toInt))) else None
    val gateWl = gates.map(g => new GateWorkload(spark, a("data"), g,
      a.get("expected").map(GateOp.readExpected).getOrElse(Map.empty), seed))
    val pass: () => Seq[Op] = () => kernel.map(_.pass()).getOrElse(gateWl.get.pass())
    val dataReadyMs = System.currentTimeMillis()
    val kernelRows: Map[String, Long] =
      kernel.map(k => k.pass().map(o => o.name -> o.rows).toMap).getOrElse(Map.empty)

    val out = mode match {
      case "survey" => survey(h, spark, pass, a("passes").toInt)
      case _ =>
        val warmPasses = a("warmup-passes").toInt
        val w0 = System.nanoTime()
        val warm = (1 to warmPasses).flatMap(_ => pass().map(op => h.runOp(op, None)))
        val warmS = (System.nanoTime() - w0) / 1e9
        val seconds = a("seconds").toDouble
        val timedPasses = a("timed-passes").toInt
        val timed = h.window(pass, timedPasses, seconds, None)
        val tracedPart = if (!traced) None else {
          val tr = new Tracer(spark)
          val tw = h.window(pass, timedPasses, seconds, Some(tr))
          tr.drain()
          val layers = new Layers(tw, tr, cores)
          val probes: Seq[(String, Double)] = gateWl.map(g =>
            Seq("build.tbl_s" -> g.tblSeconds())).getOrElse(Nil) ++
            kernel.map(k => kernelProbes(h, tr, k)).getOrElse(Nil)
          tr.drain()
          layers.addChildSpans(kernelRows.keySet)
          val overhead = 1.0 - opsPerS(tw) / opsPerS(timed)
          val metrics = layers.metrics(kernelRows) ++ probes :+ ("trace.overhead_frac" -> overhead)
          Files.write(Paths.get(a("spans")), json(ListMap(
            "fields" -> Seq("id", "op", "name", "parent", "start_ns", "end_ns"),
            "ops" -> tw.runs.map(r => Seq(r.id, r.name)),
            "spans" -> layers.spanJson)).getBytes(UTF_8))
          Some(ListMap(
            "window" -> windowJson(tw),
            "metrics" -> ListMap(metrics: _*),
            "self_s" -> ListMap(layers.selfSeconds: _*),
            "profile" -> ListMap(layers.profile: _*)))
        }
        ListMap(
          "session_ready_epoch_ms" -> sessionReadyMs,
          "data_ready_epoch_ms" -> dataReadyMs,
          "first_timed_epoch_ms" -> timed.startEpochMs,
          "warmup" -> ListMap("passes" -> warmPasses, "ops" -> warm.size, "seconds" -> warmS,
            "failures" -> failures(warm)),
          "timed" -> windowJson(timed),
          "traced" -> tracedPart)
    }
    val result = ListMap(
      "workload" -> workload, "seed" -> seed, "mode" -> mode,
      "kind" -> (if (traced) "traced" else "timed"),
      "master" -> spark.sparkContext.master,
      "jvm_heap_mb" -> Stats.jvmHeapMb(),
      "spark_version" -> spark.version,
      "peak_rss_mb" -> Stats.peakRssMb(),
      "result" -> out)
    spark.stop()
    Files.write(Paths.get(a("out")), json(result).getBytes(UTF_8))
  }

  /** Objects are `ListMap`s, so the written keys keep their order. */
  private def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  private def opsPerS(w: Window): Double = w.runs.size / (w.wallNs / 1e9)

  private def failures(runs: Seq[OpRun]): Seq[Map[String, Any]] =
    runs.collect { case r if r.error.isDefined => ListMap("op" -> r.name, "error" -> r.error.get) }

  private def windowJson(w: Window): Map[String, Any] = {
    val lat = w.runs.map(_.wall / 1e9)
    val (pct, tail) = Stats.tail(lat)
    val n = math.max(w.runs.size, 1)
    ListMap(
      "ops" -> w.runs.size,
      "failed" -> w.runs.count(_.error.isDefined),
      "failures" -> failures(w.runs),
      "wall_s" -> w.wallNs / 1e9,
      "cpu_s" -> w.cpuNs / 1e9,
      "jit_compile_s" -> w.jitMs / 1e3,
      "gc_s" -> w.gcMs / 1e3,
      "classes_loaded" -> w.classesLoaded,
      "codegen_compiles" -> w.codegenCompiles,
      "ops_per_s" -> opsPerS(w),
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> tail,
      "op_tail_pct" -> pct,
      "cpu_s_per_op" -> w.cpuNs / 1e9 / n,
      "rows_per_s" -> w.runs.map(_.rows).sum / (w.wallNs / 1e9),
      "per_op" -> w.runs.map(r => Seq(r.name, r.wall / 1e9, r.error.isEmpty)))
  }

  /** Kernel-layer probes outside the window: the nearest builtin spelling
    * of each shape, run as an op (second of two runs), and the bare static
    * kernel looped on one thread. */
  private def kernelProbes(h: Harness, tr: Tracer, k: KernelWorkload): Seq[(String, Double)] = {
    val builtin = k.builtins.map { case (shape, rows, f) =>
      val op = new KernelOp(s"builtin.$shape", f, None, rows)
      h.runOp(op, Some(tr))
      shape -> h.runOp(op, Some(tr))
    }
    tr.drain()
    val bare = k.bareNsPerRow(1 << 14)
    // Build a Layers view over just the probe runs to read their task time.
    val view = new Layers(Window(builtin.map(_._2), 1L, 0L, 0L), tr, 1)
    builtin.map { case (shape, r) => s"kernel.$shape.builtin_ns_row" -> view.nsPerRow(r) } ++
      bare.map { case (shape, ns) => s"kernel.$shape.bare_ns_row" -> ns }
  }

  /** Traced passes with no warm-up; every op's layer times and result. */
  private def survey(h: Harness, spark: SparkSession, pass: () => Seq[Op],
      passes: Int): Map[String, Any] = {
    val tr = new Tracer(spark)
    val runs = (1 to passes).flatMap { p =>
      pass().map { op =>
        val r = h.runOp(op, Some(tr))
        println(s"[survey] pass $p ${r.name} ${r.wall / 1e9} ${r.error.getOrElse("ok")}")
        p -> r
      }
    }
    tr.drain()
    val layers = new Layers(Window(runs.map(_._2), 1L, 0L, 0L), tr, 1)
    ListMap("ops" -> runs.map { case (p, r) => ListMap(
      "pass" -> p, "op" -> r.name, "wall_s" -> r.wall / 1e9, "build_s" -> r.build / 1e9,
      "plan_s" -> r.plan / 1e9, "exec_s" -> r.exec / 1e9, "result" -> r.result,
      "error" -> r.error.orNull) },
      "profile" -> ListMap(layers.profile: _*))
  }
}
