package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.types._
import org.scalatest.concurrent.TimeLimits
import org.scalatest.time.SpanSugar._

import graft.pipeline.Warehouse
import graft.util.DriverPool

/** The driver's one bounded pool: a probe wave wider than the pool
  * completes with at most [[DriverPool.size]] pool threads alive, a wave
  * started on a pool thread runs inline on it, and the core count that
  * sizes the pool is validated.
  */
class DriverPoolSpec extends SparkSpec with TimeLimits {
  import spark.implicits._

  /** Highest number of live pool threads seen while `body` runs. */
  private def peakPoolThreads(body: => Unit): Int = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val done = new AtomicBoolean(false)
    @volatile var peak = 0
    val sampler = new Thread(() =>
      while (!done.get) {
        val n = mx.getThreadInfo(mx.getAllThreadIds).count(t =>
          t != null && t.getThreadName.startsWith("graft-driver-"))
        peak = math.max(peak, n)
        Thread.sleep(2)
      })
    sampler.setDaemon(true)
    sampler.start()
    try body finally { done.set(true); sampler.join() }
    peak
  }

  test("an appendAll probe wave wider than the pool completes within " +
    "the pool's thread bound") {
    // per table: CHECK 1 + PRIMARY KEY 2 (batch, live) + UNIQUE 4 +
    // FOREIGN KEY 1 = 8 probes, so the tables' one wave exceeds the cap
    val tables = (0 to DriverPool.size / 8).map(i => s"t$i")
    val unique = Seq("u1", "u2", "u3", "u4")
    val dir = Files.createTempDirectory("graft-pool-").toString
    val wh = new Warehouse(spark, dir, specs = Map(
      "p" -> Warehouse.TableSpec(StructType(Seq(
        StructField("pid", LongType))), primaryKey = Seq("pid"))) ++
      tables.map(_ -> Warehouse.TableSpec(
        StructType((Seq("id", "pid") ++ unique).map(
          StructField(_, LongType))),
        primaryKey = Seq("id"), unique = unique.map(Seq(_)),
        checks = Map("id_nonneg" -> "id >= 0"),
        foreignKeys = Seq(Warehouse.ForeignKey(Seq("pid"), "p",
          Seq("pid"))))))
    wh.bootstrap()
    wh.append("p", Seq(1L, 2L).toDF("pid"))
    val batch = (1L to 3L).map(i => (i, 1L, i, i, i, i))
      .toDF("id", "pid", "u1", "u2", "u3", "u4")
    var appended = Seq.empty[(String, Long, Long)]
    val peak = peakPoolThreads {
      failAfter(60.seconds) {
        appended = wh.appendAll(tables.map(t => (t, batch, 0L)))
      }
    }
    assert(peak <= DriverPool.size, s"$peak pool threads")
    assert(appended.map(_._3) === tables.map(_ => 3L))
  }

  test("a wave started on a pool thread runs inline on that thread") {
    val inline = DriverPool.map(Seq(1, 2)) { _ =>
      val outer = Thread.currentThread
      DriverPool.map(1 to 4)(_ => Thread.currentThread).forall(_ eq outer)
    }
    assert(inline === Seq(true, true))
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(GraftSession.cpusFrom(Some("8")) === 8)
    assert(GraftSession.cpusFrom(None) ===
      Runtime.getRuntime.availableProcessors())
    Seq("", "four", "4.5", "0", "-2").foreach { v =>
      val e = intercept[IllegalArgumentException](
        GraftSession.cpusFrom(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
