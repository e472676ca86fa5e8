package graft.perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer numbers of a traced window, the per-op profile and the span
  * list, all derived from spans the harness recorded around its calls and
  * from Spark's listener events. */
final class Layers(w: Window, tr: Tracer, cores: Int) {
  private val runs = w.runs
  private val n = math.max(runs.size, 1).toDouble
  private val spans = tr.spans
  private val sched = tr.sched

  private val layerSpan: Map[(Int, String), Span] =
    spans.all.map(s => (s.op, s.name) -> s).toMap
  /** Jobs per op, by the layer that ran them: first by job group, then,
    * for jobs under a foreign group (micro-batches), by the layer span that
    * holds their submission time. */
  private val jobsByOp: Map[Int, Seq[(String, JobRec)]] = {
    val layers = layerSpan.filter(_._1._2 != "op").toSeq
    val loose = sched.looseJobs.flatMap { j =>
      val t = spans.fromEpochMs(j.submitMs)
      layers.find { case (_, s) => t >= s.start - 1000000L && t <= s.end }
        .map { case ((op, layer), _) => op -> (layer, j) }
    }.groupBy(_._1)
    runs.map(r => r.id ->
      (sched.jobsOf(r.id) ++ loose.getOrElse(r.id, Nil).map(_._2))).toMap
  }

  /** Micro-batches, each tied to the op whose build span holds its start. */
  private val batchesByOp: Map[Int, Seq[(StreamingQueryProgress, Long)]] = {
    val builds = runs.flatMap(r => layerSpan.get((r.id, "build")))
    tr.progress.all.flatMap { p =>
      val start = spans.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      builds.find(b => start >= b.start - 1000000L && start <= b.end)
        .map(b => b.op -> (p, start))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Job and batch spans, parented under the layer span that caused them,
    * and a `kernel.<shape>` span under each kernel op's exec span. */
  def addChildSpans(kernelShapes: Set[String]): Unit = runs.foreach { r =>
    jobsByOp.getOrElse(r.id, Nil).foreach { case (layer, j) =>
      layerSpan.get((r.id, layer)).foreach { parent =>
        val end = if (j.endMs >= 0) spans.fromEpochMs(j.endMs) else parent.end
        spans.add(r.id, "job", parent.id, spans.fromEpochMs(j.submitMs), end)
      }
    }
    batchesByOp.getOrElse(r.id, Nil).foreach { case (p, start) =>
      layerSpan.get((r.id, "build")).foreach { b =>
        val d = Stats.mapOf(p.durationMs).getOrElse("triggerExecution", 0L)
        spans.add(r.id, "batch", b.id, start, start + d * 1000000L)
      }
    }
    if (kernelShapes(r.name)) layerSpan.get((r.id, "exec")).foreach { e =>
      spans.add(r.id, s"kernel.${r.name}", e.id, e.start, e.end)
    }
  }

  private def jobIds(r: OpRun): Set[Int] = jobsByOp.getOrElse(r.id, Nil).map(_._2.id).toSet
  private def runMsOf(r: OpRun): Long = sched.totals(jobIds(r)).runMs

  /** Smallest share of an op's wall that its build, plan and exec spans
    * cover. */
  def coverageMin: Double =
    if (runs.isEmpty) 0.0
    else runs.map(r => (r.build + r.plan + r.exec).toDouble / math.max(r.wall, 1L)).min

  def metrics(kernelRows: Map[String, Long]): Seq[(String, Double)] = {
    val wall = runs.map(_.wall).sum.toDouble
    val allJobs = runs.flatMap(jobIds).toSet
    val t = sched.totals(allJobs)
    def phase(k: String): Double = runs.map(_.phasesMs.getOrElse(k, 0L)).sum / 1e3 / n
    val batches = batchesByOp.values.flatten.map(_._1).toSeq
    val nb = math.max(batches.size, 1).toDouble
    def batchMean(k: String): Double =
      batches.map(b => Stats.mapOf(b.durationMs).getOrElse(k, 0L)).sum / nb
    def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      batches.map(_.stateOperators.map(f).sum).sum / nb
    val drainS = runs.filter(r => batchesByOp.contains(r.id)).map(_.build).sum / 1e9
    val events = batches.map(_.numInputRows).sum.toDouble
    val kernelNs = runs.filter(r => kernelRows.contains(r.name))
      .groupBy(_.name).map { case (k, rs) =>
        k -> rs.map(r => runMsOf(r) * 1e6 / math.max(r.rows, 1L)).sum / rs.size }
    Seq(
      "build.s_per_op" -> runs.map(_.build).sum / 1e9 / n,
      "build.share" -> runs.map(_.build).sum / math.max(wall, 1.0),
      "build.jobs_per_op" -> jobsByOp.values.flatten.count(_._1 == "build") / n,
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "plan.share" -> runs.map(_.plan).sum / math.max(wall, 1.0),
      "exec.s_per_op" -> runs.map(_.exec).sum / 1e9 / n,
      "exec.share" -> runs.map(_.exec).sum / math.max(wall, 1.0),
      "exec.jobs_per_op" -> allJobs.size / n,
      "exec.stages_per_op" -> sched.stagesOf(allJobs).size / n,
      "exec.tasks_per_op" -> t.tasks / n,
      "exec.sched_delay_s" -> t.schedDelayMs / 1e3 / n,
      "exec.codegen_compiles" -> runs.map(_.codegenCount).sum / n,
      "exec.codegen_compile_s" -> runs.map(_.codegenNs).sum / 1e9 / n,
      "exec.task_run_s" -> t.runMs / 1e3 / n,
      "exec.task_cpu_s" -> t.cpuNs / 1e9 / n,
      "exec.task_gc_s" -> t.gcMs / 1e3 / n,
      "exec.slot_util" -> t.runMs / 1e3 / (w.wallNs / 1e9 * cores),
      "exec.shuffle_write_mb" -> t.shuffleWrite / 1e6 / n,
      "exec.shuffle_read_mb" -> t.shuffleRead / 1e6 / n,
      "exec.fetch_wait_s" -> t.fetchWaitMs / 1e3 / n,
      "exec.spill_mb" -> t.spillBytes / 1e6 / n,
      "exec.input_mb" -> t.inputBytes / 1e6 / n,
      "cache.opcaches_hits_per_op" -> runs.map(_.opCacheHits).sum / n,
      "cache.persisted_after_op" -> runs.map(_.persisted).sum / n,
      "cache.storage_mb" -> runs.map(_.storageBytes).sum / 1e6 / n,
      "stream.batches_per_op" -> batches.size / n,
      "stream.nodata_batches_per_op" -> batches.count(_.numInputRows == 0) / n,
      "stream.trigger_ms" -> batchMean("triggerExecution"),
      "stream.addbatch_ms" -> batchMean("addBatch"),
      "stream.walcommit_ms" -> batchMean("walCommit"),
      "stream.commitoffsets_ms" -> batchMean("commitOffsets"),
      "stream.queryplanning_ms" -> batchMean("queryPlanning"),
      "stream.latestoffset_ms" -> batchMean("latestOffset"),
      "stream.state_rows" -> stateSum(_.numRowsTotal),
      "stream.state_mb" -> stateSum(_.memoryUsedBytes) / 1e6,
      "stream.state_commit_ms" -> stateSum(_.commitTimeMs),
      "stream.events_per_s" -> (if (drainS > 0) events / drainS else 0.0),
      "kernel.rows_per_s" -> runs.map(_.rows).sum / (w.wallNs / 1e9),
      "trace.span_coverage_min" -> coverageMin
    ) ++ kernelRows.keys.toSeq.sorted.map(k =>
      s"kernel.$k.expr_ns_row" -> kernelNs.getOrElse(k, 0.0))
  }

  /** ns per row of a separately run op, from its tasks' run time. */
  def nsPerRow(r: OpRun): Double = runMsOf(r) * 1e6 / math.max(r.rows, 1L)

  /** Per-op layered profile: build/plan/exec seconds and, for streaming
    * ops, the micro-batch split. */
  def profile: Seq[(String, Any)] = runs.groupBy(_.name).toSeq.sortBy(_._1).map {
    case (name, rs) =>
      val k = rs.size.toDouble
      val bs = rs.flatMap(r => batchesByOp.getOrElse(r.id, Nil)).map(_._1)
      val split = Seq("triggerExecution", "latestOffset", "queryPlanning", "walCommit",
        "addBatch", "commitOffsets").map { key =>
        key -> (if (bs.isEmpty) 0.0
          else bs.map(b => Stats.mapOf(b.durationMs).getOrElse(key, 0L)).sum.toDouble / bs.size)
      }
      name -> ListMap(
        "runs" -> rs.size,
        "op_s" -> rs.map(_.wall).sum / 1e9 / k,
        "build_s" -> rs.map(_.build).sum / 1e9 / k,
        "plan_s" -> rs.map(_.plan).sum / 1e9 / k,
        "exec_s" -> rs.map(_.exec).sum / 1e9 / k,
        "jobs_per_op" -> rs.map(r => jobIds(r).size).sum / k,
        "build_jobs_per_op" -> rs.map(r =>
          jobsByOp.getOrElse(r.id, Nil).count(_._1 == "build")).sum / k,
        "task_run_s" -> rs.map(runMsOf).sum / 1e3 / k,
        "batches_per_op" -> bs.size / k,
        "batch_ms" -> ListMap(split: _*))
  }

  /** Self time per span name, summed over the window. */
  def selfSeconds: Seq[(String, Double)] = {
    val all = spans.all
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      name -> ss.map(s => spans.selfTime(s, kids.getOrElse(s.id, Nil))).sum / 1e9
    }
  }

  def spanJson: Seq[Seq[Any]] =
    spans.all.map(s => Seq(s.id, s.op, s.name, s.parent, s.start, s.end))
}
