package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark operation: build a frame by calling into graft, fold it
  * to a single row, and check that row against an independently known
  * answer. */
trait Op {
  def name: String
  def build(): DataFrame
  def fold(df: DataFrame): DataFrame
  /** None when the folded row is right, else what was wrong. */
  def check(rows: Array[Row]): Option[String]
  /** Generated input rows the op reads (kernel ops; 0 for gates). */
  def rows: Long = 0L
}

/** What one executed op left behind. Layer times are nanoseconds. */
final case class OpRun(id: Int, name: String, wall: Long,
    build: Long, plan: Long, exec: Long, error: Option[String],
    phasesMs: Map[String, Long], codegenCount: Long, codegenNs: Long,
    opCacheHits: Long, persisted: Int, storageBytes: Long, rows: Long,
    result: String)

/** A measured window: every op of whole passes, the process CPU and wall
  * time the window took, and the JIT compile time, GC time, classes loaded
  * and codegen compiles inside it. */
final case class Window(runs: Seq[OpRun], wallNs: Long, cpuNs: Long,
    startEpochMs: Long, jitMs: Long = 0L, gcMs: Long = 0L,
    classesLoaded: Long = 0L, codegenCompiles: Long = 0L)

/** Tracing state: spans plus the two Spark listeners. Present only in a
  * traced run; timed runs never install listeners or set job groups. */
final class Tracer(spark: SparkSession) {
  val spans = new Spans
  val sched = new SchedulerListener
  val progress = new ProgressListener
  spark.sparkContext.addSparkListener(sched)
  spark.streams.addListener(progress)
  def drain(): Unit = SparkInternals.drainListeners(spark.sparkContext)
}

final class Harness(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var nextOp = 0

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val classes = java.lang.management.ManagementFactory.getClassLoadingMXBean

  def processCpuNs(): Long = osBean.getProcessCpuTime
  def jitMs(): Long = jit.getTotalCompilationTime
  def gcMs(): Long = gcs.map(_.getCollectionTime).sum

  /** Run one op. With a tracer, each layer call runs under its own job
    * group and the op leaves `op`/`build`/`plan`/`exec` spans. */
  def runOp(op: Op, tracer: Option[Tracer]): OpRun = {
    val id = nextOp
    nextOp += 1
    def group(layer: String): Unit = if (tracer.isDefined)
      sc.setJobGroup(s"pb:$id:$layer", s"${op.name} $layer", interruptOnCancel = false)
    val cgCount0 = if (tracer.isDefined) SparkInternals.codegenCompiles() else 0L
    val cgNs0 = if (tracer.isDefined) CodeGenerator.compileTime else 0L
    val hits0 = graft.operators.OpCaches.hits.get()
    val t0 = System.nanoTime()
    var tb = t0
    var tp = t0
    var te = t0
    var phases = Map.empty[String, Long]
    var result = ""
    val error = try {
      group("build")
      val df = op.build()
      tb = System.nanoTime()
      group("plan")
      val out = op.fold(df)
      out.queryExecution.executedPlan
      tp = System.nanoTime()
      group("exec")
      val rows = out.collect()
      te = System.nanoTime()
      result = rows.headOption.map(_.toSeq.map(String.valueOf).mkString(",")).getOrElse("")
      if (tracer.isDefined)
        phases = out.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
      op.check(rows)
    } catch {
      case e: Throwable =>
        te = System.nanoTime()
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally {
      if (tracer.isDefined) sc.clearJobGroup()
    }
    val end = System.nanoTime()
    if (tb == t0 && error.isDefined) { tb = te; tp = te }
    else if (tp == t0 && error.isDefined) tp = te
    var persisted = 0
    var storage = 0L
    var cgCount = 0L
    var cgNs = 0L
    tracer.foreach { tr =>
      val s = tr.spans
      def at(ns: Long): Long = ns - s.originNs
      val root = s.add(id, "op", -1, at(t0), at(end))
      s.add(id, "build", root, at(t0), at(tb))
      s.add(id, "plan", root, at(tb), at(tp))
      s.add(id, "exec", root, at(tp), at(te))
      persisted = sc.getPersistentRDDs.size
      storage = sc.getRDDStorageInfo.map(_.memSize).sum
      cgCount = SparkInternals.codegenCompiles() - cgCount0
      cgNs = CodeGenerator.compileTime - cgNs0
    }
    OpRun(id, op.name, end - t0, tb - t0, tp - tb, te - tp, error, phases,
      cgCount, cgNs, graft.operators.OpCaches.hits.get() - hits0, persisted,
      storage, op.rows, result)
  }

  /** Closed loop, one client: run `passes` whole passes, and more if
    * `seconds` have not passed yet. A fixed pass count measures the same
    * ops, equally warm, in every run; a window that ended at a time instead
    * would hold one pass more exactly on the runs that happened to be fast,
    * and its warmer ops would widen the spread between runs. */
  def window(pass: () => Seq[Op], passes: Int, seconds: Double,
      tracer: Option[Tracer]): Window = {
    val epoch = System.currentTimeMillis()
    val (c0, j0, g0) = (processCpuNs(), jitMs(), gcMs())
    val (k0, cg0) = (classes.getTotalLoadedClassCount, SparkInternals.codegenCompiles())
    val t0 = System.nanoTime()
    val runs = scala.collection.mutable.ArrayBuffer.empty[OpRun]
    var done = 0
    while (done < passes || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass().foreach(op => runs += runOp(op, tracer))
      done += 1
    }
    Window(runs.toList, System.nanoTime() - t0, processCpuNs() - c0, epoch,
      jitMs() - j0, gcMs() - g0, classes.getTotalLoadedClassCount - k0,
      SparkInternals.codegenCompiles() - cg0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and the
    * value there. Below 20 samples that percentile is under the median, so
    * the maximum (percentile 100) is reported instead. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (100.0, 0.0)
    else if (n < 20) (100.0, s.last)
    else {
      val k = n - 11 // s(k) has exactly ten samples above it
      (100.0 * (k + 1) / n, s(k))
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def jvmHeapMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0

  def mapOf(m: java.util.Map[String, java.lang.Long]): Map[String, Long] =
    if (m == null) Map.empty else m.asScala.map { case (k, v) => k -> v.longValue }.toMap
}
