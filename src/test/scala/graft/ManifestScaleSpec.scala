package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

import graft.pipeline.Warehouse

/** The snapshot-metadata SCALE path — what keeps table opens and key
  * probes off the O(|files|)-on-one-node cliff at 100 TB (~800k files):
  *
  *   1. JVM-wide immutable-snapshot cache: a confirmed version's parsed
  *      entry list and commit metadata memoize across Warehouse
  *      instances, so a table's SECOND open performs zero manifest
  *      reads and an append chain parses only its own delta.
  *   2. Columnar (parquet) checkpoint manifests (`v<N>.mfp`): stat-range
  *      probes push their [lo, hi] conditions into a DISTRIBUTED scan
  *      of the checkpoint and collect only surviving entries — the
  *      driver never folds the full list (Delta checkpoint / Iceberg
  *      manifest-file shape).
  *
  * The 100k-entry manifest here is synthesized as manifest TEXT (the
  * format is part of the commit contract — this spec pins it) so the
  * metadata path is exercised at a realistic file count without paying
  * for 100k real parquet files.
  */
class ManifestScaleSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("s", StringType)))

  test("second open of a table is O(1): zero manifest reads, served " +
    "entirely from the JVM-wide snapshot cache") {
    val dir = Files.createTempDirectory("graft-mscale-").toString
    val wh = new Warehouse(spark, dir, specs = Map("t" ->
      Warehouse.TableSpec(schema, statColumns = Seq("k"))))
    wh.bootstrap()
    (1 to 3).foreach { i =>
      wh.append("t", Seq((i.toLong, s"v$i")).toDF("k", "s")) }
    assert(wh.read("t").count() === 3L)

    // an INDEPENDENT instance over the same directory: every version is
    // confirmed and cached, so resolving + loading the head re-reads
    // nothing (rawVersions' directory listing is not a manifest read)
    val before = Warehouse.manifestReads.get()
    val wh2 = Warehouse.open(spark, dir)
    assert(wh2.read("t").count() === 3L)
    assert(Warehouse.manifestReads.get() === before,
      "cached re-open must not re-read any manifest file")
  }

  test("commit metadata is a bounded HEAD read and memoizes: history() " +
    "twice costs zero reads the second time") {
    val dir = Files.createTempDirectory("graft-mscale-").toString
    val wh = new Warehouse(spark, dir, specs = Map("t" ->
      Warehouse.TableSpec(schema)))
    wh.bootstrap()
    (1 to 4).foreach { i =>
      wh.append("t", Seq((i.toLong, "x")).toDF("k", "s")) }
    wh.history("t") // warm
    val before = Warehouse.manifestReads.get()
    val hist = wh.history("t")
    assert(hist.size === 5)
    assert(Warehouse.manifestReads.get() === before)
  }

  test("a 100k-entry manifest probes DISTRIBUTED through the columnar " +
    "checkpoint: range pruning collects only survivors, never folding " +
    "the full list on the driver") {
    val dir = Files.createTempDirectory("graft-mscale-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("big" -> Warehouse.TableSpec(schema,
        statColumns = Seq("k"))))
    wh.columnarThreshold = 1000L
    wh.bootstrap()
    // synthesize checkpoint v2 directly as manifest text: 100k entries,
    // file i covering k ∈ [i, i+9]
    val n = 100000
    val lines = new StringBuilder("graft-manifest 1")
    (0 until n).foreach { i =>
      lines.append(s"\npart-$i.parquet\t1048576\tk=$i:${i + 9}\t100\t\t0")
    }
    Files.write(
      Paths.get(dir, "big", "_manifests", "v000000000002.mf"),
      lines.result().getBytes(StandardCharsets.UTF_8))
    // backfill the columnar sidecar for the new checkpoint
    assert(wh.materializeColumnar("big"))
    // drop what materialization cached so the probe below cannot serve
    // from the driver-side snapshot — it must take the columnar path
    Warehouse.invalidateCached(s"$dir#big#")

    val prunes = Warehouse.columnarPrunes.get()
    val planned = wh.readRange("big", "k", 5000L, 5050L).inputFiles
    assert(Warehouse.columnarPrunes.get() === prunes + 1,
      "the probe must run through the distributed columnar prune")
    // survivors: i+9 >= 5000 && i <= 5050 → i ∈ [4991, 5050], 60 files
    assert(planned.length === 60)
    assert(planned.forall { f =>
      val i = f.split("part-")(1).stripSuffix(".parquet").toInt
      i >= 4991 && i <= 5050
    })
    // and the head was NEVER cached on the driver by that probe
    assert(Warehouse.snapshots.get(wh.currentCacheKey("big", 2L)).isEmpty)

    // equivalence: warm the cache (one driver fold), then the same
    // probe takes the cached-driver path and prunes to the same files
    assert(wh.read("big").inputFiles.length === n)
    val prunes2 = Warehouse.columnarPrunes.get()
    val viaDriver = wh.readRange("big", "k", 5000L, 5050L).inputFiles
    assert(Warehouse.columnarPrunes.get() === prunes2,
      "a cached snapshot must serve the probe without a columnar scan")
    assert(viaDriver.sorted.toSeq === planned.sorted.toSeq)
  }

  test("columnar path stays exact across DELTA manifests: upserts and " +
    "removes on top of the checkpoint replay batch-bounded") {
    val dir = Files.createTempDirectory("graft-mscale-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 4,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        statColumns = Seq("k"))))
    wh.columnarThreshold = 1L // every checkpoint writes .mfp
    wh.bootstrap() // v1 checkpoint (empty)
    (1 to 5).foreach { i =>
      wh.append("t", Seq((i.toLong, s"v$i")).toDF("k", "s")) }
    // v4 was a checkpoint with .mfp; v5..v6 are append deltas and the
    // delete commits the v7 delta (a remove, plus any rewrite add)
    wh.delete("t", $"k" === 2L)
    val expect = Set((1L, "v1"), (3L, "v3"), (4L, "v4"), (5L, "v5"))
    assert(wh.read("t").as[(Long, String)].collect().toSet === expect)
    // force the columnar path: no cached snapshot
    Warehouse.invalidateCached(s"$dir#t#")
    val prunes = Warehouse.columnarPrunes.get()
    val got = wh.readRange("t", "k", Long.MinValue, Long.MaxValue)
      .as[(Long, String)].collect().toSet
    assert(got === expect)
    assert(Warehouse.columnarPrunes.get() === prunes + 1)
    // a narrowed range through the same path
    Warehouse.invalidateCached(s"$dir#t#")
    assert(wh.readRange("t", "k", 5L, 99L).as[(Long, String)]
      .collect().toSet === Set((5L, "v5")))
  }

  test("metadata tables plan DISTRIBUTED: count over a 100k-entry " +
    "t.files never materializes the entry list on the driver") {
    val dir = Files.createTempDirectory("graft-mscale-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("big" -> Warehouse.TableSpec(schema,
        statColumns = Seq("k"))))
    wh.columnarThreshold = 1000L
    wh.bootstrap()
    graft.sql.WarehouseSql.register(spark, wh, "msq_")
    val n = 100000
    val lines = new StringBuilder("graft-manifest 1")
    (0 until n).foreach { i =>
      lines.append(
        s"\npart-$i.parquet\t1048576\tk=$i:${i + 9}\t100\t\t0")
    }
    Files.write(
      Paths.get(dir, "big", "_manifests", "v000000000002.mf"),
      lines.result().getBytes(StandardCharsets.UTF_8))
    assert(wh.materializeColumnar("big"))
    Warehouse.invalidateCached(s"$dir#big#")
    val prunes = Warehouse.columnarPrunes.get()
    assert(spark.sql("SELECT count(*) FROM msq_big.files")
      .head().getLong(0) === n.toLong)
    val agg = spark.sql(
      "SELECT sum(rows), sum(bytes) FROM msq_big.partitions").head()
    assert((agg.getLong(0), agg.getLong(1)) ===
      ((n * 100L, n * 1048576L)))
    assert(Warehouse.columnarPrunes.get() > prunes,
      "t.files must plan over the columnar relation")
    assert(Warehouse.snapshots.get(wh.currentCacheKey("big", 2L)).isEmpty,
      "the metadata query must not have folded the list on the driver")
  }

  test("t.files and t.partitions agree between the distributed and " +
    "driver-fold paths, deltas included") {
    val dir = Files.createTempDirectory("graft-mscale-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 4,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    graft.sql.WarehouseSql.register(spark, wh, "msd_")
    (1 to 5).foreach { i =>
      wh.append("t", Seq((i.toLong, s"g${i % 2}")).toDF("k", "s")) }
    wh.delete("t", $"k" === 2L) // a delta remove on top of the v4 .mfp
    def snap(): (Set[String], Set[String]) = (
      spark.sql("SELECT * FROM msd_t.files").collect()
        .map(_.mkString("|")).toSet,
      spark.sql("SELECT * FROM msd_t.partitions").collect()
        .map(_.mkString("|")).toSet)
    Warehouse.invalidateCached(s"$dir#t#")
    val prunes = Warehouse.columnarPrunes.get()
    val viaColumnar = snap()
    assert(Warehouse.columnarPrunes.get() > prunes)
    // force the driver fold by making the columnar relation unavailable
    val mfp = Paths.get(dir, "t", "_manifests")
    Files.list(mfp).filter(_.getFileName.toString.endsWith(".mfp"))
      .forEach { p =>
        def rm(x: java.nio.file.Path): Unit = {
          if (Files.isDirectory(x))
            Files.list(x).forEach(c => rm(c))
          Files.delete(x)
        }
        rm(p)
      }
    val viaFold = snap()
    assert(viaColumnar === viaFold)
    assert(viaColumnar._1.exists(_.contains("s=g1")))
  }

  test("a cold partitioned read plans LAZY end-to-end: the scan's own " +
    "filters prune distributed, the driver never folds the entry list, " +
    "and results (weird values and null partitions included) are exact") {
    val dir = Files.createTempDirectory("graft-mlazy-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    // three partitions incl. a hive-escaped value and a NULL partition
    wh.append("t", Seq((1L, "g0"), (2L, "g0"), (3L, "g1"),
      (4L, "a/b=c"), (5L, null)).toDF("k", "s"))
    Warehouse.invalidateCached(s"$dir#t#")

    val prunes = Warehouse.columnarPrunes.get()
    // partition-equality read: only g0's entries may be collected
    assert(wh.read("t").where($"s" === "g0").as[(Long, String)]
      .collect().toSet === Set((1L, "g0"), (2L, "g0")))
    assert(Warehouse.columnarPrunes.get() > prunes,
      "the filtered read must prune through the columnar manifest")
    assert(Warehouse.snapshots.get(wh.currentCacheKey("t", 2L)).isEmpty,
      "the lazy read must not have folded the entry list on the driver")
    // escaped partition value round-trips through the segment prune
    assert(wh.read("t").where($"s" === "a/b=c").as[(Long, String)]
      .collect().toSet === Set((4L, "a/b=c")))
    // null partition via IS NULL → the hive default marker
    assert(wh.read("t").where($"s".isNull).select($"k").as[Long]
      .collect().toSet === Set(5L))
    // data-filter stat pruning composes with the lazy path
    assert(wh.read("t").where($"k" >= 4L && $"s".isNotNull)
      .as[(Long, String)].collect().toSet === Set((4L, "a/b=c")))
    // the unfiltered read is exact too — and since r12 it collects a
    // SLIM (stats-stripped) list distributed instead of the full fold:
    // the driver-side snapshot cache must stay empty
    assert(wh.read("t").count() === 5L)
    assert(Warehouse.snapshots.get(wh.currentCacheKey("t", 2L)).isEmpty,
      "the unfiltered lazy scan must use the slim distributed list, " +
        "never the full driver fold")
  }

  test("a one-partition read of a 100k-entry table collects only that " +
    "partition's entries (LazyManifestFileIndex at scale)") {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft-mlazy2-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("big" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1000L
    wh.bootstrap()
    val n = 100000
    val lines = new StringBuilder("graft-manifest 1")
    (0 until n).foreach { i =>
      lines.append(
        s"\ns=g${i % 50}/part-$i.parquet\t1048576\tk=$i:${i + 9}\t100\t\t0")
    }
    Files.write(
      Paths.get(dir, "big", "_manifests", "v000000000002.mf"),
      lines.result().getBytes(StandardCharsets.UTF_8))
    assert(wh.materializeColumnar("big"))
    Warehouse.invalidateCached(s"$dir#big#")

    val df = wh.read("big")
    val index = df.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          h: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => h.location
    }.get
    assert(index.isInstanceOf[graft.pipeline.LazyManifestFileIndex],
      "a cold 100k-entry read must plan through the lazy index")
    // the scan's sizeInBytes is the distributed fold's exact total
    assert(index.sizeInBytes === n * 1048576L)
    assert(Warehouse.snapshots.get(wh.currentCacheKey("big", 2L)).isEmpty)

    val attr = df.queryExecution.analyzed.output.find(_.name == "s").get
    val prunes = Warehouse.columnarPrunes.get()
    val parts = index.listFiles(
      Seq(EqualTo(attr,
        Literal(UTF8String.fromString("g7"),
          org.apache.spark.sql.types.StringType))), Nil)
    assert(Warehouse.columnarPrunes.get() === prunes + 1)
    assert(parts.map(_.files.length).sum === n / 50,
      "exactly one partition's files must survive")
    assert(parts.forall(_.files.forall(_.getPath.toString.contains("s=g7"))))
    // and the driver STILL never held the full list
    assert(Warehouse.snapshots.get(wh.currentCacheKey("big", 2L)).isEmpty,
      "the one-partition listFiles must not fold the 100k entries")
  }

  test("a DV-bearing table plans LAZY: the vector filter is fed the " +
    "SURVIVORS' sidecars inside listFiles, results are exact, and the " +
    "driver never folds the entry list") {
    val dir = Files.createTempDirectory("graft-mdv-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    wh.append("t", (1L to 10L).map(i => (i, s"g${i % 2}")).toDF("k", "s"))
    val n = wh.deleteVectored("t", $"k" % 3 === 0) // 3, 6, 9
    assert(n === 3L)
    val v = wh.versions("t").max
    val expect = (1L to 10L).filter(_ % 3 != 0)
      .map(i => (i, s"g${i % 2}")).toSet
    Warehouse.invalidateCached(s"$dir#t#")

    // UNFILTERED cold read: lazy index + growable DV lookup, exact rows
    val df = wh.read("t")
    val index = df.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          h: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => h.location
    }.get
    assert(index.isInstanceOf[graft.pipeline.LazyManifestFileIndex],
      "a cold DV-bearing read must still plan through the lazy index")
    assert(df.as[(Long, String)].collect().toSet === expect)
    assert(Warehouse.snapshots.get(wh.currentCacheKey("t", v)).isEmpty,
      "the DV-bearing lazy read must not fold the list on the driver")

    // FILTERED cold read: the distributed prune + the vector filter
    Warehouse.invalidateCached(s"$dir#t#")
    val prunes = Warehouse.columnarPrunes.get()
    assert(wh.read("t").where($"s" === "g1").as[(Long, String)]
      .collect().toSet === expect.filter(_._2 == "g1"))
    assert(Warehouse.columnarPrunes.get() > prunes)
    assert(Warehouse.snapshots.get(wh.currentCacheKey("t", v)).isEmpty)
    // and the filter's lookup was fed the g1 SURVIVORS only
    val filtered = wh.read("t").where($"k" <= 100L && $"s" === "g1")
    filtered.collect()
    val lookups = filtered.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect {
          case d: graft.plans.DvRowDeleted => d.lookup }
    }.flatten
    val grow = lookups.collectFirst {
      case g: graft.plans.GrowableDvLookup => g }
    assert(grow.isDefined, "the lazy plan must carry a growable lookup")
    assert(grow.get.fedFiles > 0,
      "listFiles must have fed the survivors' vectors")
  }

  test("a 100k-entry DV-bearing manifest cold-plans lazy with " +
    "SURVIVOR-BOUNDED driver state: only the pruned partition's " +
    "sidecars are ever opened") {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft-mdv2-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("big" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1000L
    wh.bootstrap()
    val n = 100000
    // every g7 entry carries a REAL sidecar; every other partition's
    // entry references a MISSING one — if the feed ever resolved a
    // non-survivor, readDvFile would throw
    val dvDir = Paths.get(dir, "big", "_dv")
    Files.createDirectories(dvDir)
    val sidecar = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeBytes("GDV1"); out.writeLong(1L); out.writeLong(0L)
      out.flush(); bos.toByteArray
    }
    val lines = new StringBuilder("graft-manifest 1")
    (0 until n).foreach { i =>
      val dv = if (i % 50 == 7) {
        Files.write(dvDir.resolve(s"dv-$i.gdv"), sidecar)
        s"_dv/dv-$i.gdv"
      } else s"_dv/missing-$i.gdv"
      lines.append(
        s"\ns=g${i % 50}/part-$i.parquet\t1048576\tk=$i:${i + 9}\t100\t$dv\t1")
    }
    Files.write(
      Paths.get(dir, "big", "_manifests", "v000000000002.mf"),
      lines.result().getBytes(StandardCharsets.UTF_8))
    assert(wh.materializeColumnar("big"))
    Warehouse.invalidateCached(s"$dir#big#")

    val df = wh.read("big")
    val (index, lookup) = (
      df.queryExecution.analyzed.collectFirst {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            h: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) => h.location
      }.get,
      df.queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.collect {
            case d: graft.plans.DvRowDeleted => d.lookup }
      }.flatten.collectFirst {
        case g: graft.plans.GrowableDvLookup => g }.get)
    assert(index.isInstanceOf[graft.pipeline.LazyManifestFileIndex])
    val attr = df.queryExecution.analyzed.output.find(_.name == "s").get
    val parts = index.listFiles(
      Seq(EqualTo(attr,
        Literal(UTF8String.fromString("g7"),
          org.apache.spark.sql.types.StringType))), Nil)
    assert(parts.map(_.files.length).sum === n / 50)
    // survivor-bounded: exactly the g7 sidecars were resolved and fed
    assert(lookup.fedFiles === n / 50)
    assert(Warehouse.snapshots.get(wh.currentCacheKey("big", 2L)).isEmpty,
      "the DV feed must never fold the 100k entries on the driver")
  }

  test("a SELF-JOIN of one lazy DV-bearing DataFrame with two different " +
    "partition filters stays exact: both scans share the growable " +
    "lookup, each listFiles feeds its own survivors, the union serves " +
    "both sides") {
    val dir = Files.createTempDirectory("graft-mdvj-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    wh.append("t", (1L to 12L).map(i => (i, s"g${i % 3}")).toDF("k", "s"))
    wh.deleteVectored("t", $"k" % 4 === 0) // 4, 8, 12 — one per partition
    Warehouse.invalidateCached(s"$dir#t#")

    // ONE lazy DataFrame, two differently-filtered scans of it in one
    // query: g1 keys shifted by 1 must meet g2 keys (both sides DV'd)
    val df = wh.read("t")
    val left = df.where($"s" === "g1")
      .select(($"k" + 1L).as("j"), $"k".as("lk"))
    val right = df.where($"s" === "g2").select($"k".as("j"))
    val got = left.join(right, "j").select($"lk", $"j")
      .as[(Long, Long)].collect().toSet
    // g1 live: 1, 7, 10 (4 vectored); g2 live: 2, 5, 11 (8 vectored)
    // matches: 1+1=2, 10+1=11 (7+1=8 is vectored out — must NOT match)
    assert(got === Set((1L, 2L), (10L, 11L)))
    assert(Warehouse.snapshots.get(
      wh.currentCacheKey("t", wh.versions("t").max)).isEmpty,
      "the self-join must plan both sides lazy, never folding")
  }

  test("hidden partitioning prunes DISTRIBUTED: a one-day predicate on " +
    "the BASE timestamp of a date-generated partition column collects " +
    "only that day's entries, cold") {
    val dir = Files.createTempDirectory("graft-mhid-").toString
    val tsSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("k", LongType),
      StructField("day", DateType)))
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("ev" -> Warehouse.TableSpec(tsSchema,
        partitionBy = Seq("day"), statColumns = Seq("k"),
        generated = Map("day" -> "CAST(ts AS DATE)"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    val rows = (0 until 72).map { h =>
      (java.sql.Timestamp.valueOf(f"2024-03-${1 + h / 24}%02d ${h % 24}%02d:30:00"),
        h.toLong)
    }
    wh.append("ev", rows.toDF("ts", "k"))
    val v = wh.versions("ev").max
    Warehouse.invalidateCached(s"$dir#ev#")

    // end-to-end: the base-column predicate prunes through the
    // columnar manifest and the result is exact
    val prunes = Warehouse.columnarPrunes.get()
    val got = wh.read("ev")
      .where($"ts" >= lit(java.sql.Timestamp.valueOf("2024-03-02 00:00:00"))
        && $"ts" < lit(java.sql.Timestamp.valueOf("2024-03-03 00:00:00")))
      .select($"k").as[Long].collect().toSet
    assert(got === (24L until 48L).toSet)
    assert(Warehouse.columnarPrunes.get() > prunes)
    assert(Warehouse.snapshots.get(wh.currentCacheKey("ev", v)).isEmpty,
      "the hidden-partition read must not fold the list on the driver")

    // direct listFiles: only the one day's dirs survive the
    // distributed prune (the derived segment did the cut, not just
    // the exact driver pass)
    import org.apache.spark.sql.catalyst.expressions.{
      GreaterThanOrEqual, LessThan, Literal}
    val df = wh.read("ev")
    val index = df.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          h: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => h.location
    }.get
    assert(index.isInstanceOf[graft.pipeline.LazyManifestFileIndex])
    val ts = df.queryExecution.analyzed.output.find(_.name == "ts").get
    def micros(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000L
    val parts = index.listFiles(Nil, Seq(
      GreaterThanOrEqual(ts, Literal(micros("2024-03-02 00:00:00"),
        TimestampType)),
      LessThan(ts, Literal(micros("2024-03-03 00:00:00"), TimestampType))))
    assert(parts.nonEmpty)
    assert(parts.forall(_.files.forall(
      _.getPath.toString.contains("day=2024-03-02"))),
      "only the predicate's day may survive the distributed prune")
    // a CONTRADICTORY base-column conjunction (lo > hi) derives the
    // empty disjunction: the distributed prune keeps NOTHING
    val none = index.listFiles(Nil, Seq(
      GreaterThanOrEqual(ts, Literal(micros("2024-03-02 00:00:00"),
        TimestampType)),
      LessThan(ts, Literal(micros("2024-03-01 00:00:00"), TimestampType))))
    assert(none.map(_.files.length).sum === 0,
      "a contradictory envelope must prune every file")
  }

  test("timestamp-typed partition values prune DISTRIBUTED under the " +
    "UTC write contract: an equality read renders the writer-exact " +
    "/k=v/ segment") {
    val dir = Files.createTempDirectory("graft-mtsp-").toString
    val tsSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("k", LongType)))
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("tp" -> Warehouse.TableSpec(tsSchema,
        partitionBy = Seq("ts"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    val stamps = Seq("2024-03-01 00:00:00", "2024-03-01 12:34:56.123",
      "2024-03-02 23:59:59")
    wh.append("tp", stamps.zipWithIndex.map { case (s, i) =>
      (java.sql.Timestamp.valueOf(s), i.toLong) }.toDF("ts", "k"))
    val v = wh.versions("tp").max
    Warehouse.invalidateCached(s"$dir#tp#")
    val prunes = Warehouse.columnarPrunes.get()
    val got = wh.read("tp")
      .where($"ts" ===
        lit(java.sql.Timestamp.valueOf("2024-03-01 12:34:56.123")))
      .select($"k").as[Long].collect().toSet
    assert(got === Set(1L))
    assert(Warehouse.columnarPrunes.get() > prunes)
    assert(Warehouse.snapshots.get(wh.currentCacheKey("tp", v)).isEmpty)
    // the sub-second dir survived the round trip; the direct listFiles
    // keeps exactly one file
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    val df = wh.read("tp")
    val index = df.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          h: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => h.location
    }.get
    val ts = df.queryExecution.analyzed.output.find(_.name == "ts").get
    val parts = index.listFiles(Seq(EqualTo(ts,
      Literal(java.sql.Timestamp.valueOf("2024-03-01 12:34:56.123")
        .getTime * 1000L + 0L, TimestampType))), Nil)
    assert(parts.map(_.files.length).sum === 1)
    // the WRITE contract behind the rendering: a non-UTC session must
    // refuse to write a timestamp-partitioned batch (the dirs would be
    // rendered in a zone every reader then misparses)
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val err = intercept[IllegalArgumentException] {
        wh.append("tp", Seq(
          (java.sql.Timestamp.valueOf("2024-03-05 00:00:00"), 9L))
          .toDF("ts", "k"))
      }
      assert(err.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("identical filtered reads of a cold table memoize: one " +
    "distributed prune per DISTINCT filter shape, zero for repeats") {
    val dir = Files.createTempDirectory("graft-mmemo-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    wh.append("t", (1L to 20L).map(i => (i, s"g${i % 4}")).toDF("k", "s"))
    Warehouse.invalidateCached(s"$dir#t#")
    // warm: one snapshot agg + stats folds + one prune
    assert(wh.read("t").where($"s" === "g1").count() === 5L)
    val prunes = Warehouse.columnarPrunes.get()
    (1 to 20).foreach { _ =>
      assert(wh.read("t").where($"s" === "g1").count() === 5L)
    }
    assert(Warehouse.columnarPrunes.get() === prunes,
      "20 repeats of the same filtered read must not re-run any " +
        "distributed prune (memoized survivors + memoized snapshot agg)")
    // a DIFFERENT filter shape pays exactly its own prune
    assert(wh.read("t").where($"s" === "g2").count() === 5L)
    assert(Warehouse.columnarPrunes.get() === prunes + 1)
    assert(Warehouse.snapshots.get(
      wh.currentCacheKey("t", wh.versions("t").max)).isEmpty)
  }

  test("FK parent probe file-skips through the columnar manifest: a " +
    "child append resolves the parent's candidate files distributed " +
    "when the parent snapshot is not driver-cached") {
    // the FK probe is the realistic columnar consumer: an appender
    // holds ITS OWN table's snapshot anyway (the commit needs it), but
    // the PARENT's snapshot it probes may never have been loaded here
    val dir = Files.createTempDirectory("graft-mscale-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map(
        "p" -> Warehouse.TableSpec(schema,
          statColumns = Seq("k"), primaryKey = Seq("k")),
        "c" -> Warehouse.TableSpec(StructType(Seq(
            StructField("cid", LongType), StructField("k", LongType))),
          primaryKey = Seq("cid"),
          foreignKeys = Seq(Warehouse.ForeignKey(Seq("k"), "p", Seq("k"))))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    wh.append("p", (1L to 50L).map(i => (i, s"v$i")).toDF("k", "s"))
    // evict the parent snapshot: the child append's FK probe resolves
    // the parent's candidate files through the columnar checkpoint
    Warehouse.invalidateCached(s"$dir#p#")
    val prunes = Warehouse.columnarPrunes.get()
    wh.append("c", Seq((100L, 7L)).toDF("cid", "k"))
    assert(Warehouse.columnarPrunes.get() > prunes)
    // a dangling key still rejects through the same path
    Warehouse.invalidateCached(s"$dir#p#")
    intercept[Warehouse.ForeignKeyViolation] {
      wh.append("c", Seq((101L, 999L)).toDF("cid", "k"))
    }
    assert(wh.read("c").count() === 1L)
  }

  test("metadata aggregates (rowCount / minMax / partitionStats) fold " +
    "DISTRIBUTED when the snapshot is cold and agree with the driver " +
    "fold exactly, deltas included") {
    val dir = Files.createTempDirectory("graft-magg-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 4,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    (1 to 5).foreach { i =>
      wh.append("t", Seq((i.toLong, s"g${i % 2}")).toDF("k", "s")) }
    wh.delete("t", $"k" === 2L) // a delta remove on top of the v4 .mfp
    // driver-fold answers (the ops above left the snapshot cached)
    val drvCount = wh.metaRowCount("t")
    val drvMm = wh.metaMinMax("t", "k")
    val drvPs = wh.metaPartitionStats("t", Seq("s")).get.toSet
    assert(drvCount === Some(4L))

    Warehouse.invalidateCached(s"$dir#t#")
    val prunes = Warehouse.columnarPrunes.get()
    assert(wh.metaRowCount("t") === drvCount)
    assert(Warehouse.snapshots.get(wh.currentCacheKey("t", 7L)).isEmpty,
      "the distributed rowCount must not fold the list on the driver")
    assert(wh.metaMinMax("t", "k") === drvMm)
    assert(wh.metaPartitionStats("t", Seq("s")).get.toSet === drvPs)
    assert(Warehouse.columnarPrunes.get() > prunes,
      "the cold metadata aggregates must run through the columnar path")
    assert(Warehouse.snapshots.get(wh.currentCacheKey("t", 7L)).isEmpty)
  }

  test("versioned metadata tables (t.files VERSION AS OF) resolve " +
    "through the columnar checkpoint + delta replay, never the driver " +
    "fold") {
    val dir = Files.createTempDirectory("graft-mver-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 2,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        statColumns = Seq("k"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    graft.sql.WarehouseSql.register(spark, wh, "msv_")
    (1 to 3).foreach { i =>
      wh.append("t", Seq((i.toLong, s"v$i")).toDF("k", "s")) }
    // v2 checkpoint (+.mfp), v3 delta, v4 checkpoint (+.mfp)
    Warehouse.invalidateCached(s"$dir#t#")
    val prunes = Warehouse.columnarPrunes.get()
    assert(spark.sql(
        "SELECT count(*) FROM msv_t.files VERSION AS OF 2")
      .head().getLong(0) === 1L)
    assert(spark.sql(
        "SELECT count(*) FROM msv_t.files VERSION AS OF 3")
      .head().getLong(0) === 2L)
    assert(spark.sql(
        "SELECT sum(rows) FROM msv_t.partitions VERSION AS OF 3")
      .head().getLong(0) === 2L)
    assert(Warehouse.columnarPrunes.get() > prunes)
    assert(Warehouse.snapshots.get(wh.currentCacheKey("t", 2L)).isEmpty
      && Warehouse.snapshots.get(wh.currentCacheKey("t", 3L)).isEmpty,
      "versioned metadata tables must not fold entry lists driver-side")
    // head ask unchanged
    assert(spark.sql("SELECT count(*) FROM msv_t.files")
      .head().getLong(0) === 3L)
  }

  test("fresh plans of one confirmed version share BUILT directory " +
    "lists (cross-plan memo) and a memo hit re-feeds the fresh plan's " +
    "DV lookup — vectored rows never resurface") {
    val dir = Files.createTempDirectory("graft-mdm-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    wh.append("t", (1L to 10L).map(i => (i, s"g${i % 2}")).toDF("k", "s"))
    assert(wh.deleteVectored("t", $"k" % 3 === 0) === 3L) // 3, 6, 9
    val expect = (1L to 10L).filter(_ % 3 != 0)
      .map(i => (i, s"g${i % 2}")).toSet
    Warehouse.invalidateCached(s"$dir#t#")
    graft.pipeline.LazyManifestFileIndex.dirMemo.clear()

    // first cold plan BUILDS; every later fresh plan with the same
    // filter text serves the constructed directories from the memo
    assert(wh.read("t").as[(Long, String)].collect().toSet === expect)
    val hits0 = graft.pipeline.LazyManifestFileIndex.dirMemo.hits
    // a FRESH DataFrame = fresh index + fresh (EMPTY) growable lookup:
    // the memo hit must re-feed it, or rows 3/6/9 resurface here
    assert(wh.read("t").as[(Long, String)].collect().toSet === expect)
    assert(graft.pipeline.LazyManifestFileIndex.dirMemo.hits > hits0,
      "the second unfiltered plan must serve from the cross-plan memo")
    assert(Warehouse.snapshots.get(wh.currentCacheKey("t",
      wh.versions("t").max)).isEmpty, "both plans must stay lazy")

    // filtered plans key by (exprId-free) filter text: same filter
    // hits, a different filter builds its own entry
    val f1 = wh.read("t").where($"s" === "g1").as[(Long, String)]
      .collect().toSet
    val hits1 = graft.pipeline.LazyManifestFileIndex.dirMemo.hits
    assert(wh.read("t").where($"s" === "g1").as[(Long, String)]
      .collect().toSet === f1)
    assert(graft.pipeline.LazyManifestFileIndex.dirMemo.hits > hits1)
    assert(wh.read("t").where($"s" === "g0").as[(Long, String)]
      .collect().toSet === expect.filter(_._2 == "g0"))

    // the key is VALUE-exact (internal literal values, not rendered
    // text): near-identical predicates never share an entry
    assert(wh.read("t").where($"k" <= 5L).count() ===
      expect.count(_._1 <= 5L))
    assert(wh.read("t").where($"k" <= 6L).count() ===
      expect.count(_._1 <= 6L))

    // dropping the table releases its memoized directory lists (the
    // other caches' invalidation contract, extended)
    assert(graft.pipeline.LazyManifestFileIndex.dirMemo.held > 0L,
      "the plans above must have memoized directories")
    wh.dropTable("t")
    assert(graft.pipeline.LazyManifestFileIndex.dirMemo.held === 0L,
      "dropTable must purge the table's directory memo")
  }

  test("an UNFILTERED cold list STREAMS in rel-sorted chunks: the slim " +
    "entry list is never driver-resident, directories match the exact " +
    "build, and a fresh plan re-serves from the directory memo") {
    val dir = Files.createTempDirectory("graft-mstream-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("big" -> Warehouse.TableSpec(schema,
        partitionBy = Seq("s"), statColumns = Seq("k"))))
    wh.columnarThreshold = 1000L
    wh.bootstrap()
    val n = 100000
    val lines = new StringBuilder("graft-manifest 1")
    (0 until n).foreach { i =>
      lines.append(
        s"\ns=g${i % 50}/part-$i.parquet\t1048576\tk=$i:${i + 9}\t100\t\t0")
    }
    Files.write(
      Paths.get(dir, "big", "_manifests", "v000000000002.mf"),
      lines.result().getBytes(StandardCharsets.UTF_8))
    assert(wh.materializeColumnar("big"))
    Warehouse.invalidateCached(s"$dir#big#")
    graft.pipeline.LazyManifestFileIndex.dirMemo.clear()
    // 100k fixture entries sit under the default hybrid threshold
    // (small lists collect+memoize — cheaper); force the streamed
    // regime the way a >256k table would take it
    val savedThreshold = Warehouse.streamListThreshold
    Warehouse.streamListThreshold = 50000L
    try {

    val index = wh.read("big").queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          h: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => h.location
    }.get
    val streams0 = Warehouse.streamedLists.get()
    val dirs = index.listFiles(Nil, Nil)
    assert(Warehouse.streamedLists.get() === streams0 + 1,
      "the unfiltered cold list must take the streamed path")
    // the slim list must NOT have been memoized (streaming's point) and
    // the full fold must never have run
    assert(Warehouse.slims.get(wh.currentCacheKey("big", 2L)).isEmpty,
      "the streamed list must leave the slim cache unpopulated")
    assert(Warehouse.snapshots.get(wh.currentCacheKey("big", 2L)).isEmpty)
    // exactness vs the entry-level truth: every file exactly once, each
    // under its own partition-value row, 50 partition dirs
    assert(dirs.map(_.files.length).sum === n)
    assert(dirs.flatMap(_.files).map(_.getPath.getName).distinct.size === n)
    val byValue = dirs.groupBy(_.values.getString(0))
    assert(byValue.keySet === (0 until 50).map(i => s"g$i").toSet)
    assert(byValue.forall { case (g, ds) =>
      ds.map(_.files.length).sum === n / 50 &&
        ds.forall(_.files.forall(_.getPath.toString.contains(s"s=$g/")))
    })

    // a FRESH plan of the same confirmed version re-serves the BUILT
    // directories from the cross-plan memo — no second stream
    val hits0 = graft.pipeline.LazyManifestFileIndex.dirMemo.hits
    val index2 = wh.read("big").queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          h: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => h.location
    }.get
    assert(!(index2 eq index))
    assert(index2.listFiles(Nil, Nil).map(_.files.length).sum === n)
    assert(graft.pipeline.LazyManifestFileIndex.dirMemo.hits > hits0,
      "the fresh unfiltered plan must hit the directory memo")
    assert(Warehouse.streamedLists.get() === streams0 + 1,
      "the memo hit must not re-stream")

    } finally Warehouse.streamListThreshold = savedThreshold
    // BELOW the threshold (fresh caches, default regime) the same ask
    // collects + memoizes the slim list instead — the hybrid's cheap
    // half
    Warehouse.invalidateCached(s"$dir#big#")
    graft.pipeline.LazyManifestFileIndex.dirMemo.clear()
    val streams1 = Warehouse.streamedLists.get()
    assert(wh.read("big").rdd.partitions.length > 0)
    assert(Warehouse.streamedLists.get() === streams1,
      "under the threshold the list must not stream")
    assert(Warehouse.slims.get(wh.currentCacheKey("big", 2L)).isDefined,
      "under the threshold the slim list memoizes")
  }

  test("a WEAKLY-SELECTIVE data filter past the hybrid bound STREAMS " +
    "its survivors chunk-wise (no driver-resident survivor list); a " +
    "selective filter under the same thresholds keeps the collect path") {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    import graft.pipeline.LazyManifestFileIndex
    val dir = Files.createTempDirectory("graft-mscale-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map("big" -> Warehouse.TableSpec(schema,
        statColumns = Seq("k"))))
    wh.columnarThreshold = 1000L
    wh.bootstrap()
    val n = 100000
    val lines = new StringBuilder("graft-manifest 1")
    (0 until n).foreach { i =>
      lines.append(s"\npart-$i.parquet\t1048576\tk=$i:${i + 9}\t100\t\t0")
    }
    Files.write(
      Paths.get(dir, "big", "_manifests", "v000000000002.mf"),
      lines.result().getBytes(StandardCharsets.UTF_8))
    assert(wh.materializeColumnar("big"))
    Warehouse.invalidateCached(s"$dir#big#")

    // the resolved filter + lazy index straight off a real plan, so the
    // listFiles ask is exactly what FileSourceScanExec would issue
    def planParts(cond: org.apache.spark.sql.Column)
        : (Seq[Expression], org.apache.spark.sql.execution.datasources
          .FileIndex) = {
      val qe = wh.read("big").where(cond).queryExecution.optimizedPlan
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case x => Seq(x)
      }
      val c = qe.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          conjuncts(f.condition) }.head
      val loc = qe.collect { case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation].location }.head
      (c, loc)
    }
    val oldThr = Warehouse.streamListThreshold
    try {
      Warehouse.streamListThreshold = 4096L
      LazyManifestFileIndex.dirMemo.clear()
      // k >= 1000 keeps file i when i+9 >= 1000 → i ∈ [991, 99999]:
      // 99009 survivors ≈ 99% — the collect this stream replaces
      val sp0 = Warehouse.streamedPrunes.get()
      val (cond, loc) = planParts($"k" >= 1000L)
      val dirs = loc.listFiles(Nil, cond)
      assert(Warehouse.streamedPrunes.get() === sp0 + 1,
        "the weakly-selective ask must take the streamed prune")
      assert(dirs.map(_.files.length).sum === 99009)
      // the ask never folded the head onto the driver
      assert(Warehouse.snapshots.get(wh.currentCacheKey("big", 2L)).isEmpty)
      assert(Warehouse.slims.get(wh.currentCacheKey("big", 2L)).isEmpty)
      val streamedFiles = dirs.flatMap(_.files.map(_.getPath.getName))
        .sorted

      // equivalence: the same ask on the collect path (threshold lifted)
      // plans the identical file set
      Warehouse.streamListThreshold = Long.MaxValue
      LazyManifestFileIndex.dirMemo.clear()
      val (cond2, loc2) = planParts($"k" >= 1000L)
      val dirs2 = loc2.listFiles(Nil, cond2)
      assert(dirs2.flatMap(_.files.map(_.getPath.getName)).sorted
        === streamedFiles)

      // a SELECTIVE filter under the streaming thresholds still
      // collects: the survivor-count gate inside decides
      Warehouse.streamListThreshold = 4096L
      LazyManifestFileIndex.dirMemo.clear()
      val sp1 = Warehouse.streamedPrunes.get()
      val (cond3, loc3) = planParts($"k" >= 99990L)
      val dirs3 = loc3.listFiles(Nil, cond3)
      assert(Warehouse.streamedPrunes.get() === sp1,
        "19 survivors must stay on the collect+memoize path")
      // i + 9 >= 99990 → i ∈ [99981, 99999]
      assert(dirs3.map(_.files.length).sum === 19)
    } finally {
      Warehouse.streamListThreshold = oldThr
      LazyManifestFileIndex.dirMemo.clear()
    }
  }

  test("a stat column only the delta upserts carry reaches every " +
    "distributed fold: metaMinMax, metaPartitionStats, readRange " +
    "survivors and t.files equal the eager fold") {
    val dir = Files.createTempDirectory("graft-mstat-").toString
    val schema3 = StructType(Seq(StructField("k", LongType),
      StructField("j", LongType), StructField("s", StringType)))
    def open(stats: Seq[String]): Warehouse = {
      val w = new Warehouse(spark, dir, checkpointInterval = 4,
        specs = Map("t" -> Warehouse.TableSpec(schema3,
          partitionBy = Seq("s"), statColumns = stats)))
      w.columnarThreshold = 1L
      w
    }
    val wh = open(Seq("k"))
    wh.bootstrap()
    (1 to 3).foreach { i =>
      wh.append("t", Seq((i.toLong, i * 10L, s"g${i % 2}"))
        .toDF("k", "j", "s")) }
    // the v4 checkpoint's .mfp carries no `j` stat columns at all
    assert(Files.exists(
      Paths.get(dir, "t", "_manifests", "v000000000004.mfp")))
    // a later spec also tracks `j`: only the v5, v6 delta upserts
    // carry it — one in a fresh slice, one beside `j`-less files
    val wh2 = open(Seq("k", "j"))
    wh2.append("t", Seq((4L, 40L, "new")).toDF("k", "j", "s"))
    wh2.append("t", Seq((5L, 50L, "g1")).toDF("k", "j", "s"))
    val v = wh2.versions("t").max
    assert(v === 6L)
    graft.sql.WarehouseSql.register(spark, wh2, "mstat_")
    def answers() = (
      Seq("k", "j").map(c => wh2.metaMinMax("t", c)),
      wh2.metaPartitionStats("t", Seq("s")).map(_.toSet),
      wh2.readRange("t", "j", 45L, 99L).inputFiles.toSet)
    Warehouse.invalidateCached(s"$dir#t#")
    val prunes = Warehouse.columnarPrunes.get()
    val cold = answers()
    val files = spark.sql("SELECT * FROM mstat_t.files").collect()
      .map(_.mkString("|")).toSet
    assert(Warehouse.columnarPrunes.get() > prunes)
    assert(Warehouse.snapshots.get(wh2.currentCacheKey("t", v)).isEmpty,
      "the cold answers must not have folded the list on the driver")
    val entries = wh2.loadAt("t", v) // the eager fold serves from here
    val eager = answers()
    assert(cold === eager)
    assert(files === entries.map(e => Seq(e.rel, e.rel.split('/').init.last,
      e.bytes, e.rows, e.dvRows).mkString("|")).toSet)
    // the upsert-only stat is covered where only upserts live, and
    // prunes the j = 40 upsert while every `j`-less file survives
    assert(cold._1 === Seq(Some((1L, 5L)), None))
    assert(cold._2.get.exists { case (vals, _, st) =>
      vals == Seq("new") && st.get("j").contains((40L, 40L)) })
    assert(cold._3.size === 4 && !cold._3.exists(_.contains("s=new")))
  }
}
