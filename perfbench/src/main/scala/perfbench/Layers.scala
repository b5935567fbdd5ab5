package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the spans, the listener
  * records and the per-step notes. Every metric of [[Metrics.perLayer]]
  * gets a value; a layer the workload never reaches reads 0.
  */
object Layers {
  /** The per-layer metrics, and every span with its self time. */
  def compute(tr: Tracer, w: Workload,
      cores: Int): (Map[String, Double], Seq[(Span, Long)]) = {
    val (chain, jobOf) = Tracer.chain(tr)
    val tops = tr.spans.filter(s => s.kind == "op" || s.kind == "read")
    // a step is an op plus its reads; per-op metrics divide by steps
    val nSteps = math.max(1, tops.map(_.op).distinct.size).toDouble
    val stepWallUs = tops.map(_.dur).sum.toDouble
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => jobOf.contains(j.jobId))
    val iv = jobs.map(j => (j.start, math.max(j.start, j.end)))
    val stages = jobs.flatMap(_.stageIds).distinct
      .flatMap(id => Option(tr.stages.get(id)))
    val m = collection.mutable.LinkedHashMap[String, Double]()
    Metrics.perLayer.foreach { case (n, _) => m(n) = 0.0 }

    m("spark.jobs_per_op") = jobs.size / nSteps
    m("spark.stages_per_op") = stages.size / nSteps
    m("spark.tasks_per_op") = stages.map(_.numTasks).sum / nSteps
    m("spark.sched_delay_s_per_op") =
      stages.map(_.schedDelayMs).sum / 1000.0 / nSteps
    m("spark.shuffle_write_mb_per_op") = stages.map(_.shuffleWrite).sum / 1e6 / nSteps
    m("spark.shuffle_read_mb_per_op") = stages.map(_.shuffleRead).sum / 1e6 / nSteps
    m("spark.spill_mb_per_op") = stages.map(_.spill).sum / 1e6 / nSteps
    m("spark.stage_skew_p50") = Metrics.median(stages.filter(_.taskDurs.size >= 2)
      .map { s => s.taskDurs.max / math.max(1.0, Metrics.median(
        s.taskDurs.map(_.toDouble))) })
    m("spark.task_busy_frac") =
      stages.map(_.runMs).sum * 1000.0 / math.max(1.0, stepWallUs * cores)
    m("spark.jobs_concurrent_peak") = Tracer.peakConcurrency(iv)
    m("driver.self_s_per_op") = tops.map { t =>
      t.dur - Tracer.covered(iv, t.start, t.end) }.sum / 1e6 / nSteps
    Metrics.modules.foreach { mod =>
      val js = jobs.filter(_.module == mod)
      m(s"module.$mod.jobs_per_op") = js.size / nSteps
      m(s"module.$mod.job_s_per_op") =
        js.map(j => math.max(0L, j.end - j.start)).sum / 1e6 / nSteps
    }
    m("probe.jobs_concurrent_peak") = Tracer.peakConcurrency(
      jobs.filter(_.module == "Warehouse").map(j => (j.start, math.max(j.start, j.end))))

    val sqls = tr.sqls.asScala.toSeq.filter(q =>
      tops.exists(t => t.start <= q.start + 1000 && q.start <= t.end))
    m("sql.queries_per_op") = sqls.size / nSteps
    m("sql.analysis_s_per_op") = sqls.map(_.analysis).sum / 1000.0 / nSteps
    m("sql.optimize_s_per_op") = sqls.map(_.optimization).sum / 1000.0 / nSteps
    m("sql.planning_s_per_op") = sqls.map(_.planning).sum / 1000.0 / nSteps

    def mean(k: String) = tr.notes.get(k).filter(_.nonEmpty)
      .map(v => v.sum / v.size).getOrElse(0.0)
    def sum(k: String) = tr.notes.get(k).map(_.sum).getOrElse(0.0)
    // counters read around every traced span add up to a per-step total
    val perStep = Set("fs.bytes_read_per_op", "codegen.compiles",
      "jvm.gc_s_per_op", "wh.commits_per_op", "wh.files_added_per_op")
    tr.notes.keys.foreach(k => if (m.contains(k))
      m(k) = if (perStep(k)) sum(k) / nSteps else mean(k))
    tr.callNotes.foreach { case (k, v) => m(k) = Metrics.median(v.toSeq) }
    // the histogram keeps a sample of compile times; its mean times the
    // exact compile count estimates the compile time per op
    val compileMs = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getSnapshot.getMean
    m("codegen.compile_s") = m("codegen.compiles") * compileMs / 1000.0
    m("fs.bytes_written_per_input_byte") =
      sum("fs.bytes_written") / math.max(1.0, sum("fs.input_bytes"))

    val files = w.warehouseDirs.flatMap(d => walk(new File(d)))
    m("wh.data_files") = files.count(f => f.getName.endsWith(".parquet") &&
      !f.getPath.contains("/_"))
    m("wh.manifest_files") = files.count(f =>
      f.getParentFile.getName == "_manifests" && f.getName.matches("v\\d+\\.mfd?"))
    m("wh.stored_bytes_per_live_row") =
      files.map(_.length).sum.toDouble / math.max(1L, w.liveRows())

    val threads = ManagementFactory.getThreadMXBean
    m("jvm.threads_peak") = threads.getPeakThreadCount
    m("jvm.jit_compile_s") =
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    m("jvm.code_cache_peak_mb") = pools.filter(p =>
      p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    m("jvm.heap_peak_mb") = pools.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    // traced against untraced ops of the same kind: the most frequent
    // kind that both kinds of step ran
    val byKind = tr.opNames.zip(tr.opLat.zip(tr.opTraced)).groupBy(_._1)
      .map { case (k, xs) => k -> xs.map(_._2) }
      .filter { case (_, xs) => xs.exists(_._2) && xs.exists(!_._2) }
    if (byKind.nonEmpty) {
      val xs = byKind.values.maxBy(_.size)
      m("trace.overhead_frac") =
        Metrics.median(xs.collect { case (l, true) => l }.toSeq) /
          Metrics.median(xs.collect { case (l, false) => l }.toSeq) - 1.0
    }
    (m.toMap, chain)
  }

  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil
}

/** Minimal JSON writer for the result line and files. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
