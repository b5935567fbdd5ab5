package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Args(workload: String = "", seed: Long = 1L,
    seconds: Double = 10.0, trace: Boolean = false, size: String = "full",
    setups: Int = 3, work: String = "", results: String = "",
    wrongExpect: Boolean = false, commit: String = "unknown",
    tree: String = "unknown", cores: Int = 4)

/** The benchmark driver: one named workload, one client, closed loop.
  *
  * The process generates the workload's inputs from the seed, sets the
  * workload up `setups` times on a fresh SparkSession each time (the
  * median is `setup_s`), then issues operations back to back for
  * `seconds` and to the end of the workload's step cycle, checking every
  * output against the generator's model. The last line of standard
  * output is the result object; the full record
  * (provenance, sample counts, spans) goes to the results directory.
  */
object Main {
  private val SettleSeconds = 6.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Args())
    require(Workloads.names.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workloads.names.mkString(", ")})")
    val procStartMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val preLoad = os.getSystemLoadAverage
    val p0 = nowS
    val probe = new SpinProbe(a.cores)
    val probeS = nowS - p0
    val w = Workloads(a.workload, a.seed, a.size, a.wrongExpect)

    // ---- set-up, several times; the last session stays for the loop
    val setupTimes = mutable.ArrayBuffer[Double]()
    var genS = 0.0
    var spark: SparkSession = null
    var tr: Tracer = null
    var warmFailed = 0L
    val warmFailures = mutable.ArrayBuffer[String]()
    (1 to a.setups).foreach { rep =>
      val t0 = if (rep == 1) procStartMs / 1000.0 else nowS
      if (spark != null) { w.teardown(); Session.stop(spark) }
      spark = Session.create(a.cores, s"${a.work}/spark-local")
      if (rep == 1) {
        val g0 = nowS
        w.generate(spark, s"${a.work}/inputs")
        genS = nowS - g0
      }
      tr = new Tracer(spark)
      tr.commits = () => w.commits()
      tr.files = () => w.warehouseDirs.map(d => Layers.walk(new File(d)).size.toLong).sum
      w.setup(spark, tr, s"${a.work}/state-$rep")
      runStep(w, 0L, tr) // the untimed warm-up operation
      if (tr.stepFailed) warmFailed += 1
      warmFailures ++= tr.failures
      setupTimes += nowS - t0 - (if (rep == 1) genS + probeS else 0.0)
    }
    // Untimed steps on the kept state for a few more seconds: the JIT is
    // still compiling after the set-ups, and the first timed ops would
    // otherwise read 20-40% slow. The step count varies; the time does not.
    var i = 1L
    val settle = nowS
    while (i == 1L || nowS - settle < SettleSeconds) {
      runStep(w, i, tr)
      if (tr.stepFailed) warmFailed += 1
      i += 1
    }
    val settleSteps = i - 1
    warmFailures ++= tr.failures
    tr.failures.clear()

    // ---- the timed closed loop
    val threads = ManagementFactory.getThreadMXBean
    threads.resetPeakThreadCount()
    val pre = probe.sample()
    val cpuTicks0 = Counters.cpuTicks()
    val cpu0 = os.getProcessCpuTime
    tr.measuring = true
    tr.rows = 0L // rows landed by the set-ups and settle steps do not count
    tr.stepFailed = false
    val start = nowS
    var steps = 0L
    var failedSteps = warmFailed
    // a traced run times at least two cycles: it alternates steps and
    // flips the phase every cycle, so that over two cycles the traced and
    // the untraced steps see the same mix of operation kinds
    val minSteps = if (a.trace) 2L * w.cycleSteps else 1L
    while (nowS - start < a.seconds || steps < minSteps ||
        steps % w.cycleSteps != 0) {
      val traced = a.trace && (i % w.cycleSteps + i / w.cycleSteps) % 2 == 1
      tr.stepFailed = false
      if (traced) tr.startRecording()
      runStep(w, i, tr)
      if (traced) tr.stopRecording()
      steps += 1
      if (tr.stepFailed) failedSteps += 1
      i += 1
    }
    val loopS = nowS - start
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val steal = Counters.stealFrac(cpuTicks0, Counters.cpuTicks())
    val post = probe.sample()
    tr.measuring = false

    // ---- final correctness checks (one more attempted step)
    tr.stepFailed = false
    try w.finalCheck(tr)
    catch { case e: Throwable => tr.check(false, s"final check threw $e") }
    if (tr.stepFailed) failedSteps += 1
    val attempted = steps + 1 + a.setups + settleSteps

    val e2e = Map(
      "setup_s" -> Metrics.median(setupTimes.toSeq),
      "op_p50_s" -> Metrics.median(tr.opLat.toSeq),
      "read_p50_s" -> Metrics.median(tr.readLat.toSeq),
      "rows_per_s" -> tr.rows / (tr.opLat.sum + tr.readLat.sum),
      "cpu_s_per_op" -> cpuS / steps,
      "peak_rss_mb" -> Counters.peakRssMb(),
      "ok_frac" -> (1.0 - failedSteps.toDouble / attempted))
    val (layer, chain) =
      if (a.trace) Layers.compute(tr, w, a.cores) else (Map.empty[String, Double], Nil)
    val conf = spark.sparkContext.getConf
    val confKeys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.shuffle.sort.bypassMergeThreshold",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.codegen.cache.maxEntries", "spark.hadoop.fs.file.impl",
      "spark.sql.streaming.checkpointFileManagerClass")
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(f => f.startsWith("-Xmx") ||
        f.contains("ReservedCodeCacheSize"))
    val contended = probe.contended(pre, post) || steal > 0.05
    val provenance = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "size" -> a.size,
      "trace" -> a.trace, "seconds" -> a.seconds, "commit" -> a.commit,
      "source_tree" -> a.tree, "cores" -> a.cores,
      "confs" -> Json.obj(confKeys.map(k => k -> conf.get(k, "")): _*),
      "jvm_flags" -> jvmFlags.toSeq, "pre_load_avg" -> preLoad,
      "probe_min_s" -> probe.floor, "probe_pre" -> pre, "probe_post" -> post,
      "steal_frac" -> steal,
      "contended" -> contended, "setup_samples_s" -> setupTimes.toSeq,
      "generate_s" -> genS, "steps" -> steps, "ops" -> tr.opLat.size,
      "reads" -> tr.readLat.size, "loop_s" -> loopS,
      "op_names" -> tr.opNames.toSeq, "op_latencies_s" -> tr.opLat.toSeq,
      "read_latencies_s" -> tr.readLat.toSeq,
      "failures" -> (warmFailures ++ tr.failures).toSeq)
    val resultDir = new File(a.results); resultDir.mkdirs()
    val stem = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    if (a.trace) writeSpans(new File(resultDir, s"$stem-spans.jsonl"), chain)
    val correct = failedSteps == 0
    val metrics =
      if (a.trace) Metrics.perLayer.map { case (n, u) => n -> (layer(n), u) }
      else Metrics.endToEnd.map { case (n, u) => n -> (e2e(n), u) }
    val result = Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failedSteps, "metrics" -> Json.obj(metrics.map {
        case (n, (v, u)) => n -> Json.obj("value" -> v, "unit" -> u) }: _*))
    Files.writeString(Paths.get(resultDir.getPath, s"$stem.json"),
      Json.obj("result" -> result, "provenance" -> provenance,
        "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1): _*)).s + "\n")
    w.teardown()
    Session.stop(spark)
    System.err.println(s"perfbench provenance: $provenance")
    (warmFailures ++ tr.failures).foreach(f =>
      System.err.println(s"perfbench check failed: $f"))
    println(result)
  }

  def nowS: Double = System.currentTimeMillis() / 1000.0

  /** One step; an exception fails the step instead of the run. */
  private def runStep(w: Workload, i: Long, tr: Tracer): Unit = {
    tr.stepFailed = false
    try w.step(i, tr)
    catch { case e: Throwable =>
      tr.check(false, s"step $i threw $e")
      if (sys.env.contains("PERFBENCH_DEBUG")) e.printStackTrace()
    }
  }

  private def writeSpans(f: File, spans: Seq[(Span, Long)]): Unit = {
    val out = new PrintWriter(f)
    try spans.foreach { case (s, self) =>
      out.println(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "kind" -> s.kind, "name" -> s.name, "start_us" -> s.start,
        "end_us" -> s.end, "self_us" -> self))
    } finally out.close()
  }

  @annotation.tailrec
  private def parse(l: List[String], a: Args): Args = l match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--size" :: v :: t => parse(t, a.copy(size = v))
    case "--setups" :: v :: t => parse(t, a.copy(setups = v.toInt))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--results" :: v :: t => parse(t, a.copy(results = v))
    case "--commit" :: v :: t => parse(t, a.copy(commit = v))
    case "--tree" :: v :: t => parse(t, a.copy(tree = v))
    case "--cores" :: v :: t => parse(t, a.copy(cores = v.toInt))
    case "--wrong-expect" :: t => parse(t, a.copy(wrongExpect = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }
}

/** SparkSession lifecycle. A session must be created fresh: a cached
  * `getOrCreate` context silently ignores core confs such as the shuffle
  * bypass threshold, so reusing one would measure another configuration
  * than the one recorded.
  */
object Session {
  def create(cores: Int, localDir: String): SparkSession = {
    require(SparkSession.getActiveSession.isEmpty &&
      SparkSession.getDefaultSession.isEmpty,
      "a SparkSession already exists; its cached context would ignore " +
        "the benchmark's core confs")
    val before = System.currentTimeMillis()
    val s = GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]").appName("perfbench"), cores)
      .config("spark.local.dir", localDir)
      .getOrCreate()
    val sc = s.sparkContext
    require(sc.startTime >= before,
      "getOrCreate returned a cached SparkContext; core confs were ignored")
    val bypass = sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "0")
    require(sc.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == bypass,
      "the session's bypassMergeThreshold is not the configured one")
    sc.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Contention probe, the idea `graft.Bench` uses: a fixed ALU spin whose
  * wall time is a machine constant on an idle box, run on one thread and
  * on `cores` threads at once. Frequency throttling, steal and co-tenants
  * all inflate it. A run is flagged (never dropped) when a probe around
  * the timed loop exceeds 1.35 times the calibrated floor.
  */
final class SpinProbe(cores: Int) {
  @volatile private var sink = 0L
  private def spin(): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < 12000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  private def timed(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => { sink = spin() }); t.start(); t }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
  /** Worst of the single- and multi-thread shapes, as a multiple of its
    * own calibrated floor.
    */
  private val (single, multi) = {
    val runs = (1 to 8).map(_ => (timed(1), timed(cores))).drop(3)
    (runs.map(_._1).min, runs.map(_._2).min)
  }
  def floor: Double = single
  def sample(): Double = math.max(timed(1) / single, timed(cores) / multi)
  def contended(pre: Double, post: Double): Boolean =
    math.max(pre, post) > 1.35
}

/** Process counters read around each traced step. */
object Counters {
  final case class Snap(bytesRead: Long, bytesWritten: Long, compiles: Long,
      gcMs: Long)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  @annotation.nowarn("cat=deprecation")
  def now(): Snap = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Snap(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount, gcBeans.map(_.getCollectionTime).sum)
  }

  def note(tr: Tracer, a: Snap, b: Snap): Unit = {
    tr.note("fs.bytes_read_per_op", (b.bytesRead - a.bytesRead).toDouble)
    tr.note("fs.bytes_written", (b.bytesWritten - a.bytesWritten).toDouble)
    tr.note("codegen.compiles", (b.compiles - a.compiles).toDouble)
    tr.note("jvm.gc_s_per_op", (b.gcMs - a.gcMs) / 1000.0)
  }

  /** The machine's CPU time counters (the `cpu` line of /proc/stat). */
  def cpuTicks(): Seq[Long] =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .split("\\s+").drop(1).map(_.toLong).toSeq).getOrElse(Nil)

  /** Share of CPU time the hypervisor gave to other guests (steal) between
    * two readings; 0 where the counters are not available.
    */
  def stealFrac(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) 0.0
    else {
      val d = b.zip(a).map { case (y, x) => y - x }
      d(7).toDouble / math.max(1L, d.sum)
    }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .get).getOrElse(0.0)
}
