package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Force FULL materialization of the final plan — including sorts and
    * columns a `count()` would let Catalyst prune — by writing to the
    * built-in `noop` datasource (consumes every row of every column,
    * writes nothing). This is what makes window/sort queries measurable.
    */
  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---------------------------------------------------------------------
  // Contention self-defense (r13). Two rounds running, the artifact of
  // record was captured on a degraded box (r11 mildly, r12 badly: 539 s
  // where an idle re-run of the same HEAD reproduces the 238 s family)
  // and needed manual adjudication. The harness now defends itself:
  //
  //   * a fixed single-threaded spin probe (pure ALU xorshift, no
  //     allocation, no syscalls) runs before and after every timed pass.
  //     On a healthy box its wall time is a machine constant; frequency
  //     throttling AND hypervisor steal both inflate it, which are
  //     exactly the two signatures that poisoned r11/r12 (cpu_total
  //     doubling with wall = throttle/steal, not co-tenant wait).
  //   * the reference is SELF-CALIBRATED: the minimum probe time seen
  //     anywhere in the run (including a JIT-warmed startup calibration)
  //     is "healthy"; a pass whose surrounding probes exceed
  //     CleanFactor x that minimum is dirty.
  //   * a query with no clean pass is RE-RUN (bounded budget) until a
  //     clean pass lands, and whatever is STILL dirty after the whole
  //     run gets a final end-of-run sweep (r14): a probe-gated
  //     cool-down, then a lifted per-query retry cap — co-tenancy is
  //     bursty, so the artifact of record lands clean whenever the
  //     contention ever lets up during the capture.
  //   * the recorded number is the min wall over clean passes when any
  //     exist, else the min over everything; a FAILED pass (negative
  //     wall) always stays visible — a later clean success must not
  //     launder an intermittent failure.
  //   * the trailer emits "contended": true/false plus probe stats and
  //     the pre-session load average, so the driver's artifact
  //     self-adjudicates instead of needing a manual idle-box re-run.
  // ---------------------------------------------------------------------
  private val SpinIters = 12000000L // ~10-20 ms single-threaded
  private val CleanFactor = 1.35 // probe beyond this x min => dirty pass
  private val SpinThreads = 8 // parallel-probe width (see spinParallel)
  @volatile private var sink = 0L // defeat dead-code elimination

  private def spinBody(): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < SpinIters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  private def spinOnce(): Double = {
    val t0 = System.nanoTime()
    sink = spinBody()
    (System.nanoTime() - t0) / 1e9
  }

  /** The single-threaded spin catches frequency throttling and steal,
    * but MISSES partial-core co-tenancy: a co-tenant eating half the
    * box leaves one thread a full core (clean probe) while a
    * 32-thread stage contends — exactly how a 1.3x-inflated capture
    * once read "contended: false". The parallel spin runs the same
    * body on [[SpinThreads]] threads at once; idle box ⇒ ~= the
    * single time, co-tenant ⇒ some thread waits and the max-join time
    * inflates. A pass's probe value is the WORST of both shapes.
    */
  private def spinParallel(): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to SpinThreads).map { _ =>
      val t = new Thread(() => { sink = spinBody() })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // Load average BEFORE we create any Spark threads: anything much
    // above ~zero here is co-tenant work that will poison the capture.
    val preLoad = osBean.getSystemLoadAverage
    // JIT-warm the probe, then calibrate: the min of several post-warm
    // runs seeds the run-wide healthy reference. Single and parallel
    // shapes calibrate separately (the parallel join carries its own
    // constant overhead), and a pass's value is each shape's ratio to
    // its own floor — worst shape wins.
    var probeMin = Double.MaxValue
    var probeMax = 0.0
    var parMin = Double.MaxValue
    (1 to 12).foreach { i =>
      val p = spinOnce()
      val q = spinParallel()
      if (i > 4) {
        probeMin = math.min(probeMin, p); probeMax = math.max(probeMax, p)
        parMin = math.min(parMin, q)
      }
    }
    // probe value NORMALIZED to the single-thread floor: the parallel
    // shape contributes via its own ratio so both shapes share one
    // CleanFactor threshold (and probe_min/max stay in seconds of the
    // single shape for the artifact)
    def probe(): Double = {
      val p = spinOnce()
      val q = spinParallel()
      probeMin = math.min(probeMin, p); probeMax = math.max(probeMax, p)
      parMin = math.min(parMin, q)
      math.max(p, q / math.max(parMin, 1e-9) * probeMin)
    }
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"),
      cpus).getOrCreate()
    GraftExtensions.register(spark) // in case getOrCreate hit a cached session
    spark.sparkContext.setLogLevel("WARN")
    // NUMERIC query order (q2 < q10 < q100): a plain string sort runs
    // q100 between q10 and q11, so its time landed in the truncated head
    // of the r4 bench artifact. Ties (same number) fall back to name.
    // SPARK_GRAFT_ONLY=q105_..,q106_.. restricts the run — the isolated
    // scaling-probe mode (same warm-up + min-of-two harness as the full
    // artifact run, so probe numbers and BENCH numbers are comparable).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) =>
        ("""\d+""".r.findFirstIn(name).map(_.toInt).getOrElse(Int.MaxValue), name)
      }
    // Untimed warm-up of EVERY query (JIT + codegen + parquet footers), so
    // first-touch costs don't land on whichever query runs first.
    queries.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"warmup:$name")
      try exec(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    // Timed passes record (wall, cpu, probe): whole-JVM process-CPU delta
    // (correct in local mode — driver + executors share the process) and
    // the worse of the two surrounding spin probes (conservative: a pass
    // is only clean if the box was healthy at BOTH ends).
    def timeOnce(name: String,
        fn: (SparkSession, String) => DataFrame): (Double, Double, Double) = {
      // label every job of the pass with the query name (guide §1.5):
      // event-log/UI time attributes to queries instead of anonymous jobs
      spark.sparkContext.setJobDescription(name)
      val pPre = probe()
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      // failures go to stderr (the artifact captures stdout only) so a
      // negative bench number is diagnosable without re-running
      val ok = try { exec(fn(spark, sfDir)); true }
               catch { case e: Throwable =>
                 System.err.println(s"[bench] $name FAILED: $e")
                 if (sys.env.contains("SPARK_GRAFT_DEBUG")) e.printStackTrace()
                 false
               }
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = (osBean.getProcessCpuTime - c0) / 1e9
      val pPost = probe()
      (if (ok) dt else -dt, dc, math.max(pPre, pPost))
    }
    def isClean(p: Double): Boolean = p <= CleanFactor * probeMin
    // Two base passes per query; min-wall picks the faster (failures are
    // negative and win the min, keeping them visible).
    val base = queries.map { case (name, fn) =>
      name -> Seq(timeOnce(name, fn), timeOnce(name, fn))
    }
    // Contention repair: any query whose passes were BOTH dirty gets up
    // to two more passes (global budget caps the worst case — a fully
    // contended box should not double the run). Tiny queries are skipped:
    // a dirty 0.2 s pass cannot move the total materially.
    val RerunBudget = 80
    var rerunsUsed = 0
    val repaired = base.map { case (name, passes0) =>
      var passes = passes0
      val fn = queries.find(_._1 == name).get._2
      val minWall = passes.map(p => math.abs(p._1)).min
      var tries = 0
      while (tries < 2 && rerunsUsed < RerunBudget && minWall > 0.25 &&
             !passes.exists(p => isClean(p._3))) {
        passes = passes :+ timeOnce(name, fn)
        rerunsUsed += 1; tries += 1
      }
      name -> passes
    }
    // FINAL SWEEP over whatever stayed dirty. Co-tenancy is bursty:
    // the inline repair above gives up while the co-tenant is still
    // resident, but by end-of-run it has usually left (r13's artifact
    // shipped contended:true with 8 dirty queries a calm re-run timed
    // at a third of their recorded walls). So: wait for the PROBE
    // itself to read healthy (bounded cool-down), then re-run each
    // remaining dirty query with a lifted per-query cap under its own
    // budget — the artifact of record should land clean on any box
    // whose contention ever lets up.
    val SweepBudget = 120
    var sweepUsed = 0
    val stillDirty = repaired.exists { case (_, passes) =>
      passes.map(p => math.abs(p._1)).min > 0.25 &&
        !passes.exists(p => isClean(p._3))
    }
    if (stillDirty) {
      var waits = 0
      while (waits < 15 && probe() > CleanFactor * probeMin) {
        Thread.sleep(2000); waits += 1
      }
    }
    val swept = repaired.map { case (name, passes0) =>
      var passes = passes0
      val dirty = passes.map(p => math.abs(p._1)).min > 0.25 &&
        !passes.exists(p => isClean(p._3))
      if (dirty) {
        val fn = queries.find(_._1 == name).get._2
        var tries = 0
        while (tries < 6 && sweepUsed < SweepBudget &&
               !passes.exists(p => isClean(p._3))) {
          passes = passes :+ timeOnce(name, fn)
          sweepUsed += 1; tries += 1
        }
      }
      name -> passes
    }
    // Recorded pass per query: a FAILED pass stays visible no matter
    // what (an intermittent failure must not be laundered by a later
    // clean success — the negative wall wins the min); otherwise min
    // wall over clean passes when any pass is clean, else min over all
    // (and the query counts as contended).
    val detailed = swept.map { case (name, passes) =>
      val clean = passes.filter(p => isClean(p._3))
      val pool =
        if (passes.exists(_._1 < 0)) passes
        else if (clean.nonEmpty) clean else passes
      val best = pool.minBy(_._1)
      // run-to-run spread across SUCCESSFUL passes of the pool the
      // number was picked from — wide spread (the commit-heavy fixture
      // queries swing 1.3-2x) flags a number too noisy to diff against
      val walls = pool.map(_._1).filter(_ > 0)
      val spread = if (walls.size >= 2) walls.max / walls.min else 1.0
      (name, best, clean.isEmpty, spread)
    }
    val results = detailed.map { case (name, (wall, _, _), _, _) => name -> wall }
    // Millisecond precision keeps the per-query JSON line compact (~3 KB
    // for 100 queries instead of ~6 KB of full-double digits).
    def fmt(v: Double): String = {
      val r = math.round(v * 1000).toDouble / 1000
      if (r == 0.0 && v != 0.0) (if (v < 0) "-0.001" else "0.001") else r.toString
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // "queries" stays a plain name→seconds map (the driver's parser
    // depends on that shape); the wall+cpu+spread triples ride in a
    // parallel "detail" map for the contention post-mortem (spread =
    // max/min wall across the successful passes the number was picked
    // from — >1.3 marks a number too noisy to diff against).
    val det = detailed.map { case (k, (w, c, _), _, sp) =>
      s"\"" + k + "\":{\"wall\":" + fmt(w) + ",\"cpu\":" + fmt(c) +
        ",\"spread\":" + fmt(sp) + "}"
    }.mkString("{", ",", "}")
    val total = results.map { case (_, v) => math.abs(v) }.sum
    val totalCpu = detailed.map { case (_, (_, c, _), _, _) => c }.sum
    val failed = results.count(_._2 < 0)
    // 1-minute system load average at end of run: load >> cores while
    // wall >> cpu pins the blame on co-tenant processes.
    val load = osBean.getSystemLoadAverage
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"detail":$det,"sf":"$sfDir"}""")
    // The driver's artifact capture keeps the TAIL of the output; the
    // r3/r4 single-line form lost its leading total when the per-query
    // map outgrew the window, and the r8 capture kept only q114+ of the
    // big map. Two short lines land LAST so the tail always retains
    // (a) the slowest-queries head — the part of the per-query map an
    // expensive-query post-mortem actually needs — and (b) the headline
    // totals, even when the full line above is truncated.
    val slowest = results.sortBy { case (_, v) => -math.abs(v) }.take(20)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"slowest20","queries":$slowest,"unit":"sec","sf":"$sfDir"}""")
    // Contention verdict. "contended" means: trust this artifact's totals
    // only after checking "dirty" (queries whose every pass, including
    // repairs, ran beside a slow probe — their numbers are inflated) and
    // "pre_load" (co-tenant load before Spark started). probe_min is the
    // healthiest observed spin time; probe_max/probe_min >> CleanFactor
    // means the box's speed moved materially during the capture.
    val dirtyQs = detailed.collect {
      case (n, (w, _, _), true, _) if math.abs(w) > 0.25 => n }
    val contended = dirtyQs.nonEmpty || preLoad > cpus * 0.25
    val dirtyJson = dirtyQs.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"contention","contended":$contended,"dirty":$dirtyJson,"reruns":$rerunsUsed,"sweep_reruns":$sweepUsed,"probe_min":${fmt(probeMin)},"probe_max":${fmt(probeMax)},"pre_load":${fmt(preLoad)},"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$failed,"cpu_total":${fmt(totalCpu)},"load_avg":${fmt(load)},"cores":$cpus,"contended":$contended,"sf":"$sfDir"}""")
    spark.stop()
  }
}
