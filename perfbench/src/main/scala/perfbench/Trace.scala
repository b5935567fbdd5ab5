package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds. `kind` is one of
  * op, call, job, stage; `parent` is the id of the span that caused this
  * one (-1 for ops). Self time is the duration minus what the children
  * cover.
  */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
    name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

final case class JobRec(jobId: Int, start: Long, end: Long,
    stageIds: Seq[Int], module: String, site: String, desc: String)
final case class StageRec(stageId: Int, name: String, start: Long,
    end: Long, numTasks: Int, runMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, taskDurs: Seq[Long], schedDelayMs: Long)
final case class SqlRec(start: Long, analysis: Long, optimization: Long,
    planning: Long)

/** The benchmark's instrument. It times the benchmark's own calls into
  * the engine's public functions (op and call spans), keeps the
  * closed-loop counters, and, on traced steps, listens on Spark's public
  * listener APIs for the jobs, stages, tasks and SQL executions those
  * calls cause. Nothing inside the engine is instrumented.
  *
  * A traced run alternates traced and untraced steps. On a traced step
  * the listeners are registered, spans are kept, and the listener bus is
  * drained before they are removed again, so untraced steps run with no
  * listener at all and the difference between the two is the tracing
  * overhead.
  */
final class Tracer(spark: SparkSession) {
  private val baseNano = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def nowMicros: Long = baseMicros + (System.nanoTime() - baseNano) / 1000L

  /** Latencies are recorded only while measuring (not during warm-up). */
  var measuring = false
  /** True during a traced step. */
  var recording = false

  val opLat = mutable.ArrayBuffer[Double]()
  val opTraced = mutable.ArrayBuffer[Boolean]()
  val opNames = mutable.ArrayBuffer[String]()
  val readLat = mutable.ArrayBuffer[Double]()
  var rows = 0L
  /** Head-version sum of the workload's tables, read around traced spans. */
  var commits: () => Long = () => 0L
  /** Number of files under the workload's warehouse directories. */
  var files: () => Long = () => 0L
  var stepFailed = false
  val failures = mutable.ArrayBuffer[String]()

  /** Record a correctness check; a false one fails the current step. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    stepFailed = true
    if (failures.size < 50) failures += what
  }

  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }
  val spans = mutable.ArrayBuffer[Span]()
  private var cur: Option[(Long, Long)] = None // op span id, op id

  /** Per-step values noted while recording: metric name → values. */
  val notes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def note(name: String, v: Double): Unit =
    if (recording) notes.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Time the workload's operation. */
  def op[T](opId: Long, name: String)(body: => T): T =
    span(opId, name, opLat, isOp = true)(body)

  /** Time an interleaved read (a read has no op of its own; it is its own
    * top-level span).
    */
  def readOp[T](opId: Long, name: String)(body: => T): T =
    span(opId, name, readLat, isOp = false)(body)

  private def span[T](opId: Long, name: String,
      lat: mutable.ArrayBuffer[Double], isOp: Boolean)(body: => T): T = {
    val id = newId()
    val before =
      if (recording) Some((commits(), files(), Counters.now())) else None
    val s = nowMicros
    cur = Some((id, opId))
    val t0 = System.nanoTime()
    val r = try body finally cur = None
    val dt = (System.nanoTime() - t0) / 1e9
    val end = nowMicros
    before.foreach { case (c0, f0, k0) =>
      Counters.note(this, k0, Counters.now())
      note("wh.commits_per_op", (commits() - c0).toDouble)
      note("wh.files_added_per_op", (files() - f0).toDouble)
    }
    if (measuring) {
      lat += dt
      if (isOp) { opTraced += recording; opNames += name }
    }
    if (recording) spans += Span(id, -1, opId, if (isOp) "op" else "read",
      name, s, end)
    r
  }

  /** Time one call into an engine public function. Jobs the call starts
    * carry its name in their job description. `key`, when given, is the
    * per-layer metric the call's duration feeds.
    */
  def call[T](name: String, key: String = "")(body: => T): T = {
    val sc = spark.sparkContext
    val (parent, opId) = cur.getOrElse((-1L, -1L))
    val id = newId()
    sc.setJobDescription(s"perfbench op=$opId call=$name")
    val s = nowMicros
    val t0 = System.nanoTime()
    val r = try body finally sc.setJobDescription(null)
    if (recording) {
      spans += Span(id, parent, opId, "call", name, s, nowMicros)
      if (key.nonEmpty) callNotes.getOrElseUpdate(key,
        mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
    }
    r
  }
  /** Call durations by per-layer metric; reported as medians. */
  val callNotes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  /** Run a read inside a call span and collect its rows; on a traced
    * step, note the scan-node metrics of its executed plan (the
    * ManifestFileIndex read and pruning path).
    */
  def collect(name: String, key: String, df: DataFrame): Array[Row] = {
    val out = call(name, key)(df.collect())
    if (recording) {
      val scans = Tracer.scans(df.queryExecution.executedPlan)
      def m(k: String) = scans.map(_.metrics.get(k).map(_.value)
        .getOrElse(0L)).sum
      val read = m("numFiles")
      val total = df.inputFiles.length
      note("scan.files_read_per_read", read.toDouble)
      note("scan.files_skipped_frac",
        if (total == 0) 0.0 else math.max(0.0, 1.0 - read.toDouble / total))
      note("scan.metadata_s_per_read", m("metadataTime") / 1000.0)
    }
    out
  }

  // ------------------------------------------------------------ listeners
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val sqls = new ConcurrentLinkedQueue[SqlRec]()
  private val taskDurs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val schedDelay = mutable.HashMap[Int, Long]()
  @volatile private var drainStart = -1
  @volatile private var drained = false

  private val Frame = """\(([A-Za-z0-9_$]+)\.scala:\d+\)""".r
  /** The innermost engine-module frame of a long-form call site. */
  private def moduleOf(site: String): Option[String] =
    Frame.findAllMatchIn(site).map(_.group(1)).find(Metrics.modules.contains)
  private val execModule = mutable.HashMap[Long, String]()
  private val DrainDesc = "perfbench drain"

  // Listener callbacks run on the single listener-bus thread.
  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        moduleOf(s.details).foreach(m => execModule(s.executionId) = m)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      if (desc == DrainDesc) { drainStart = e.jobId; return }
      // SQL jobs that run on Spark's own threads (adaptive query stages,
      // broadcasts) have no engine frame in their stage's call site; the
      // SQL execution they belong to has the caller's
      val last = e.stageInfos.sortBy(_.stageId).lastOption
      val site = last.map(_.name).getOrElse("")
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val module = last.flatMap(si => moduleOf(si.details))
        .orElse(exec.flatMap(execModule.get)).getOrElse("other")
      jobs.put(e.jobId, JobRec(e.jobId, e.time * 1000L, -1L, e.stageIds,
        module, site, desc))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) jobs.put(e.jobId, j.copy(end = e.time * 1000L))
      if (e.jobId == drainStart) drained = true
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      if (ti == null) return
      taskDurs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        ti.duration
      val m = e.taskMetrics
      if (m != null) schedDelay(e.stageId) =
        schedDelay.getOrElse(e.stageId, 0L) + math.max(0L, ti.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      def tm(f: org.apache.spark.executor.TaskMetrics => Long) =
        if (m == null) 0L else f(m)
      stages.put(si.stageId, StageRec(si.stageId, si.name,
        si.submissionTime.getOrElse(0L) * 1000L,
        si.completionTime.getOrElse(0L) * 1000L, si.numTasks,
        tm(_.executorRunTime), tm(_.shuffleReadMetrics.totalBytesRead),
        tm(_.shuffleWriteMetrics.bytesWritten), tm(_.diskBytesSpilled),
        taskDurs.remove(si.stageId).map(_.toSeq).getOrElse(Nil),
        schedDelay.remove(si.stageId).getOrElse(0L)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs)
        .getOrElse(0L)
      if (ph.nonEmpty) sqls.add(SqlRec(ph.values.map(_.startTimeMs).min * 1000L,
        d("analysis"), d("optimization"), d("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      rec(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = rec(qe)
  }

  def startRecording(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    recording = true
  }

  /** Drain the listener bus, then remove the listeners. A marker job's
    * end event is delivered after every event posted before it.
    */
  def stopRecording(): Unit = if (recording) {
    recording = false
    val sc = spark.sparkContext
    drained = false
    sc.setJobDescription(DrainDesc)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!drained && System.nanoTime() < deadline) Thread.sleep(2)
    require(drained, "the listener bus did not drain within 30 s")
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) { case s: FileSourceScanExec => s }

  private val OpCall = """perfbench op=(-?\d+) call=(.*)""".r

  /** Covered length of a set of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  def peakConcurrency(iv: Seq[(Long, Long)]): Int = {
    val ev = iv.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) }
    ev.foldLeft((0, 0)) { case ((c, p), (_, d)) =>
      (c + d, math.max(p, c + d)) }._2
  }

  /** Attach the listener records to the op and call spans that caused
    * them and return every span (op, read, call, job, stage) with its self
    * time in microseconds.
    */
  def chain(t: Tracer): (Seq[(Span, Long)], Map[Int, Long]) = {
    val tops = t.spans.filter(s => s.kind == "op" || s.kind == "read")
    val callsByParent = t.spans.filter(_.kind == "call").groupBy(_.parent)
    var next = t.spans.map(_.id).maxOption.getOrElse(0L) + 1
    val jobOf = mutable.HashMap[Int, Long]() // job id → top span id
    val extra = mutable.ArrayBuffer[Span]()
    t.jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      val end = if (j.end < 0) j.start else j.end
      val byDesc = j.desc match {
        case OpCall(op, call) =>
          tops.find(s => s.op == op.toLong && s.start <= j.start &&
            j.start <= s.end + 1000).map(s => (s, Some(call)))
        case _ => None
      }
      val hit = byDesc.orElse(tops.find(s => s.start <= j.start &&
        j.start <= s.end).map(s => (s, None)))
      hit.foreach { case (top, callName) =>
        val calls = callsByParent.getOrElse(top.id, Nil)
        val parent = calls.find(c => callName.forall(_ == c.name) &&
            c.start <= j.start && j.start <= c.end + 1000)
          .orElse(calls.find(c => c.start <= j.start && j.start <= c.end))
          .map(_.id).getOrElse(top.id)
        val jid = next; next += 1
        jobOf(j.jobId) = top.id
        extra += Span(jid, parent, top.op, "job",
          s"job ${j.jobId} ${j.module}: ${j.site}", j.start, end)
        j.stageIds.flatMap(id => Option(t.stages.get(id))).foreach { st =>
          extra += Span(next, jid, top.op, "stage",
            s"stage ${st.stageId} ${st.name}", st.start, st.end)
          next += 1
        }
      }
    }
    val all = t.spans.toSeq ++ extra
    val kids = all.groupBy(_.parent)
    val withSelf = all.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      (s, s.dur - covered(c, s.start, s.end))
    }
    (withSelf, jobOf.toMap)
  }
}
