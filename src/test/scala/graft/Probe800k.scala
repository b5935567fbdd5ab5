package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.pipeline.Warehouse

/** Scaling-probe main (not a test): 800k-entry manifests, measuring the
  * lazy planning paths — r11's partition-pruned cold plan, plus r12's
  * DV-bearing lazy plan (survivor-fed vector filter), the slim
  * unfiltered cold plan (stats-stripped driver list), and the
  * hidden-partitioning distributed prune. Run with `java -cp` over
  * classes + test-classes + the Spark jars (JDK17 --add-opens apply).
  * Results land in SCALING_r12.md.
  */
object Probe800k {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-probe800k", nCpus = 8)
    val dir = Files.createTempDirectory("graft-p800k-").toString
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    val n = 800000
    val nparts = 400
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime; val r = f
      println(f"TIME $label ${(System.nanoTime - t0) / 1e9}%.3f s"); r
    }

    // ---------------- r11 flow: partition-pruned lazy plan ----------
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("big" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1000L
    wh.bootstrap()
    val sb = new StringBuilder("graft-manifest 1")
    var i = 0
    while (i < n) {
      sb.append(s"\ns=g${i % nparts}/part-$i.parquet\t1048576\tk=$i:${i + 9}\t100\t\t0")
      i += 1
    }
    Files.write(Paths.get(dir, "big", "_manifests", "v000000000002.mf"),
      sb.result().getBytes(StandardCharsets.UTF_8))
    time("materializeColumnar (one-time)") { wh.materializeColumnar("big") }
    Warehouse.invalidateCached(s"$dir#big#")

    // COLD one-partition read: Catalyst pushes s='g7' into the lazy
    // index; .rdd.partitions forces listFiles + file-partition
    // planning end-to-end without running tasks
    val cold = time("COLD one-partition plan (lazy distributed prune)") {
      wh.read("big").where(col("s") === "g7").rdd.partitions.length
    }
    println(s"cold planned rdd partitions: $cold")
    println("driver folded? " + Warehouse.snapshots.get(
      wh.currentCacheKey("big", 2L)).isDefined)
    time("WARM one-partition plan (agg + prune memoized)") {
      wh.read("big").where(col("s") === "g7").rdd.partitions.length
    }

    // r13: COLD UNFILTERED plan — the list STREAMS in rel-sorted
    // ≤64k-entry chunks (toLocalIterator over the hash-repartitioned,
    // within-partition-sorted checkpoint scan); no slim list is driver-resident at all (r12
    // held ~112 MiB of slim entries here; ~1.1 GiB at 8M files)
    Warehouse.invalidateCached(s"$dir#big#")
    graft.pipeline.LazyManifestFileIndex.dirMemo.clear()
    val streams0 = Warehouse.streamedLists.get()
    time("COLD unfiltered plan (streamed chunked list)") {
      wh.read("big").rdd.partitions.length
    }
    println("driver folded (full entries)? " + Warehouse.snapshots.get(
      wh.currentCacheKey("big", 2L)).isDefined)
    println("streamed lists: " +
      (Warehouse.streamedLists.get() - streams0) +
      "; slim entries held: " +
      Warehouse.slims.get(wh.currentCacheKey("big", 2L))
        .map(_.size.toString).getOrElse("none (streamed — by design)") +
      s"; chunk bound: 65536 entries (~10 MiB) of $n total")
    time("WARM unfiltered plan (directory memo)") {
      wh.read("big").rdd.partitions.length
    }

    // r14: COLD WEAKLY-SELECTIVE plan (90% survivors) — the filtered
    // prune's survivor list also STREAMS past the hybrid bound instead
    // of collecting (r13 held ~all 800k survivor entries driver-side
    // for a filter like this; ~8M at the design point)
    Warehouse.invalidateCached(s"$dir#big#")
    graft.pipeline.LazyManifestFileIndex.dirMemo.clear()
    val sPrunes0 = Warehouse.streamedPrunes.get()
    time("COLD 90%-survivor plan (streamed filtered prune)") {
      // k >= 80000 keeps 720k of 800k entries: weakly selective
      wh.read("big").where(col("k") >= 80000L).rdd.partitions.length
    }
    println("streamed prunes: " +
      (Warehouse.streamedPrunes.get() - sPrunes0) +
      "; driver folded? " + Warehouse.snapshots.get(
        wh.currentCacheKey("big", 2L)).isDefined +
      "; slim held? " + Warehouse.slims.get(
        wh.currentCacheKey("big", 2L)).isDefined +
      s"; chunk bound: 65536 entries of ~720k survivors")
    time("WARM 90%-survivor plan (directory memo)") {
      wh.read("big").where(col("k") >= 80000L).rdd.partitions.length
    }

    // full text fold for reference (the pre-r11 shape)
    time("full text fold (warms snapshot cache)") {
      wh.loadAt("big", 2L).length
    }
    val eager = time("one-partition plan over CACHED snapshot (eager)") {
      wh.read("big").where(col("s") === "g7").rdd.partitions.length
    }
    println(s"eager planned rdd partitions: $eager")

    // ---------------- r12: DV-bearing lazy plan ---------------------
    // every entry carries a vector ref; only the probed partition's
    // sidecars exist — the survivor-fed filter must open exactly those
    val whDv = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("dvt" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    whDv.columnarThreshold = 1000L
    whDv.bootstrap()
    val dvDir = Paths.get(dir, "dvt", "_dv")
    Files.createDirectories(dvDir)
    val sidecar = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeBytes("GDV1"); out.writeLong(1L); out.writeLong(0L)
      out.flush(); bos.toByteArray
    }
    val sb2 = new StringBuilder("graft-manifest 1")
    i = 0
    while (i < n) {
      val dv = if (i % nparts == 7) {
        Files.write(dvDir.resolve(s"dv-$i.gdv"), sidecar)
        s"_dv/dv-$i.gdv"
      } else s"_dv/missing-$i.gdv"
      sb2.append(s"\ns=g${i % nparts}/part-$i.parquet\t1048576\tk=$i:${i + 9}\t100\t$dv\t1")
      i += 1
    }
    Files.write(Paths.get(dir, "dvt", "_manifests", "v000000000002.mf"),
      sb2.result().getBytes(StandardCharsets.UTF_8))
    time("DV table materializeColumnar (one-time)") {
      whDv.materializeColumnar("dvt")
    }
    Warehouse.invalidateCached(s"$dir#dvt#")
    val dvCold = time("COLD one-partition plan, 800k DV-bearing entries " +
      "(r11: fell back to the eager fold)") {
      whDv.read("dvt").where(col("s") === "g7").rdd.partitions.length
    }
    println(s"dv cold planned rdd partitions: $dvCold")
    println("driver folded? " + Warehouse.snapshots.get(
      whDv.currentCacheKey("dvt", 2L)).isDefined)
    val dvDf = whDv.read("dvt").where(col("s") === "g7")
    dvDf.rdd.partitions.length
    val fed = dvDf.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect { case d: graft.plans.DvRowDeleted => d.lookup }
    }.flatten.collectFirst {
      case g: graft.plans.GrowableDvLookup => g.fedFiles }
    println(s"dv sidecars fed (survivor-bounded): ${fed.getOrElse(-1)} " +
      s"of ${n / nparts} survivors (table-wide: $n)")

    // ---------------- r12: hidden-partitioning distributed prune ----
    // day = CAST(ts AS DATE) generated partitioning; the predicate is
    // on the BASE column ts, the cut must happen in the distributed
    // scan via derived /day=.../ segments
    val hidSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("k", LongType),
      StructField("day", DateType)))
    val whHid = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("hid" -> Warehouse.TableSpec(hidSchema,
        partitionBy = Seq("day"), statColumns = Seq("k"),
        generated = Map("day" -> "CAST(ts AS DATE)"))))
    whHid.columnarThreshold = 1000L
    whHid.bootstrap()
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    val sb3 = new StringBuilder("graft-manifest 1")
    i = 0
    while (i < n) {
      val d = day0.plusDays((i % nparts).toLong).toString
      sb3.append(s"\nday=$d/part-$i.parquet\t1048576\tk=$i:${i + 9}\t100\t\t0")
      i += 1
    }
    Files.write(Paths.get(dir, "hid", "_manifests", "v000000000002.mf"),
      sb3.result().getBytes(StandardCharsets.UTF_8))
    time("hidden-partition materializeColumnar (one-time)") {
      whHid.materializeColumnar("hid")
    }
    Warehouse.invalidateCached(s"$dir#hid#")
    val probeDay = day0.plusDays(7)
    val lo = java.sql.Timestamp.valueOf(probeDay.atStartOfDay)
    val hi = java.sql.Timestamp.valueOf(probeDay.plusDays(1).atStartOfDay)
    val hidCold = time("COLD one-day plan over the BASE ts column, 800k " +
      "hidden-partitioned entries (r11: exact pass only, post-fold)") {
      whHid.read("hid")
        .where(col("ts") >= org.apache.spark.sql.functions.lit(lo) &&
          col("ts") < org.apache.spark.sql.functions.lit(hi))
        .rdd.partitions.length
    }
    println(s"hidden cold planned rdd partitions: $hidCold")
    println("driver folded? " + Warehouse.snapshots.get(
      whHid.currentCacheKey("hid", 2L)).isDefined)
    spark.stop()
  }
}
