package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.pipeline.Warehouse
import graft.util.FsListing

/** The versioned-manifest commit protocol: a crash inside ANY window of
  * a maintenance op must leave the table readable in a consistent state
  * (old state before the manifest rename, new state after), with
  * leftovers invisible to readers and collectable by vacuum. Plus the
  * manifest-stats file-skipping contract of readRange.
  */
class WarehouseCommitSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  private def mkBase(days: Seq[Int]) = days.flatMap { d =>
    Seq(1, 2).map { n =>
      (n, ts(f"2026-01-${d}%02dT0$n:00:00Z"), ts("2026-02-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, 15.0 + n, 0.1, 100 + n,
        java.sql.Date.valueOf(f"2026-01-$d%02d"))
    }
  }.toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
    "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
    "b_star_drag", "rev_number", "epoch_date")

  private def updatesDf = Seq(
    (1, ts("2026-01-02T01:00:00Z"), ts("2026-03-01T00:00:00Z"),
      1.0, 2.0, 3.0, 4.0, 5.0, 99.0, 0.2, 777,
      java.sql.Date.valueOf("2026-01-02"))
  ).toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
    "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
    "b_star_drag", "rev_number", "epoch_date")

  private def freshTable(): (Warehouse, String) = {
    val dir = Files.createTempDirectory("graft-commit-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase(Seq(1, 2, 3)))
    (wh, dir)
  }

  private def telemetry(wh: Warehouse) = wh.read("fact_telemetry")
    .select($"norad_id", $"epoch_utc", $"mean_motion", $"rev_number")
    .as[(Int, Timestamp, Double, Int)].collect().toSet

  test("deep clone localizes every file: fully independent of the " +
      "source, stats intact, DROP of the source harmless") {
    val (wh, dir) = freshTable() // fact_telemetry, partitioned, days 1-3
    val srcCount = wh.read("fact_telemetry").count()
    wh.deepClone("fact_telemetry", "deep_t")
    // every entry localized: the clone tree holds real data files and
    // the manifest carries no absolute borrowed references
    assert(wh.read("deep_t").count() === srcCount)
    assert(graft.util.FsListing.dataFiles(s"$dir/deep_t").nonEmpty)
    val (_, entries) = wh.loadLatest("deep_t")
    assert(entries.forall(e =>
      !new org.apache.hadoop.fs.Path(e.rel).isAbsolute))
    // footer stats carried byte-identically → manifest skipping works
    assert(entries.forall(_.stats.nonEmpty))
    assert(wh.read("deep_t")
      .where(col("epoch_date") === java.sql.Date.valueOf("2026-01-02"))
      .count() === 2L)
    // drop the SOURCE — a shallow clone would be stranded; deep is not
    wh.dropTable("fact_telemetry")
    assert(wh.read("deep_t").count() === srcCount)
    // SQL route: DEEP CLONE of the deep clone
    wh.registerSql("dcl_")
    spark.sql("CREATE TABLE dcl_deep2 DEEP CLONE dcl_deep_t")
    assert(spark.sql("SELECT count(*) FROM dcl_deep2").head().getLong(0)
      === srcCount)
  }

  test("appendMergeSchema evolves additively: new batch columns join " +
      "the schema, old files read them as null, omitted columns fill") {
    val dir = Files.createTempDirectory("graft-msch-").toString
    import org.apache.spark.sql.types._
    val wh = new Warehouse(spark, dir, specs = Map(
      "t" -> Warehouse.TableSpec(StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", DoubleType))))))
    wh.bootstrap()
    wh.append("t", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    // batch carries an EXTRA column → schema evolves, old rows null
    val (_, n) = wh.appendMergeSchema("t",
      Seq((3L, 3.0, "x3")).toDF("id", "v", "tag"))
    assert(n === 1L)
    assert(wh.tables("t").fieldNames.toSeq === Seq("id", "v", "tag"))
    val got = wh.read("t").orderBy("id")
      .select("id", "tag").as[(Long, Option[String])].collect().toSeq
    assert(got === Seq((1L, None), (2L, None), (3L, Some("x3"))))
    // a later batch OMITTING the evolved column fills it with null
    wh.appendMergeSchema("t", Seq((4L, 4.0)).toDF("id", "v"))
    assert(wh.read("t").where(col("id") === 4 && col("tag").isNull)
      .count() === 1L)
    // reopened warehouse sees the evolved schema (persisted spec)
    val re = Warehouse.open(spark, dir)
    assert(re.tables("t").fieldNames.toSeq === Seq("id", "v", "tag"))
    assert(re.read("t").count() === 4L)
  }

  test("shallow clone: zero-copy read, copy-on-write divergence, " +
      "source files never deleted from the clone") {
    val (wh, dir) = freshTable() // fact_telemetry, partitioned, days 1-3
    val srcCount = wh.read("fact_telemetry").count()
    val srcV = wh.versions("fact_telemetry").max
    wh.shallowClone("fact_telemetry", "clone_t")
    // zero-copy: the clone directory holds no data files
    assert(FsListing.dataFiles(s"$dir/clone_t").isEmpty)
    // reads agree with the cloned version
    assert(wh.read("clone_t").count() === srcCount)
    assert(wh.history("clone_t").head._2("op") === "clone")
    assert(wh.history("clone_t").head._2("sourceVersion") === srcV.toString)
    // partition pruning works through borrowed absolute entries
    val pruned = wh.read("clone_t")
      .where(col("epoch_date") === java.sql.Date.valueOf("2026-01-02"))
    assert(pruned.count() === 2L)
    // DIVERGE the clone: merge rewrites one partition copy-on-write
    wh.merge("clone_t", updatesDf, Seq("norad_id", "epoch_utc"))
    assert(wh.read("clone_t")
      .where(col("rev_number") === 777).count() === 1L)
    // the source never sees it, and not one source file was deleted
    assert(wh.read("fact_telemetry").count() === srcCount)
    assert(wh.read("fact_telemetry")
      .where(col("rev_number") === 777).count() === 0L)
    val srcEntries = wh.loadAt("fact_telemetry", srcV)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    srcEntries.foreach { e =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/fact_telemetry/${e.rel}")), s"source file ${e.rel} deleted")
    }
    // vacuum on the clone touches nothing of the source either
    wh.vacuum("clone_t", keepManifests = 1)
    srcEntries.foreach { e =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/fact_telemetry/${e.rel}")))
    }
    // compaction LOCALIZES: afterwards no borrowed (absolute) entries
    wh.compact("clone_t", clusterBy = Seq(col("norad_id")))
    val after = wh.loadAt("clone_t", wh.versions("clone_t").max)
    assert(after.forall(e => !new org.apache.hadoop.fs.Path(e.rel).isAbsolute),
      after.map(_.rel).mkString(", "))
    assert(wh.read("clone_t").count() === srcCount)
  }

  test("shallow clone of a PAST version is the time-travel fork") {
    val (wh, _) = freshTable()
    val v = wh.versions("fact_telemetry").max // 6 rows (days 1-3)
    wh.append("fact_telemetry", mkBase(Seq(4)))
    wh.shallowClone("fact_telemetry", "clone_v", Some(v))
    assert(wh.read("clone_v").count() === 6L)
    assert(wh.read("fact_telemetry").count() === 8L)
    // unknown version / existing name fail fast
    intercept[IllegalArgumentException] {
      wh.shallowClone("fact_telemetry", "clone_x", Some(999L))
    }
    intercept[IllegalArgumentException] {
      wh.shallowClone("fact_telemetry", "clone_v")
    }
  }

  test("dropTable removes only the table's own files; a clone drop " +
      "leaves the source whole, a source drop fails the clone fast") {
    val (wh, dir) = freshTable()
    val srcCount = wh.read("fact_telemetry").count()
    wh.shallowClone("fact_telemetry", "gone_t")
    wh.append("gone_t", updatesDf) // one LOCAL file in the clone dir
    wh.dropTable("gone_t")
    assert(!wh.tables.contains("gone_t"))
    assert(!java.nio.file.Files.exists(Paths.get(s"$dir/gone_t")))
    // every source file survives; source reads unchanged
    assert(wh.read("fact_telemetry").count() === srcCount)
    // reopening from _meta agrees the table is gone
    assert(!Warehouse.open(spark, dir).tables.contains("gone_t"))
    // unknown drop: fail fast unless ifExists
    intercept[IllegalArgumentException] { wh.dropTable("gone_t") }
    wh.dropTable("gone_t", ifExists = true) // no-op
    // the r7 caveat, now CLOSED: dropping a SOURCE while a clone still
    // borrows its files refuses fast with the borrower named — the
    // clone-guard contract (see WarehouseTxnSpec for the vacuum/gc
    // sides); dropping the clone first unblocks the source drop
    wh.shallowClone("fact_telemetry", "orphan_t")
    val err = intercept[IllegalArgumentException] {
      wh.dropTable("fact_telemetry")
    }
    assert(err.getMessage.contains("orphan_t"))
    wh.dropTable("orphan_t")
    wh.dropTable("fact_telemetry")
    assert(!wh.tables.contains("fact_telemetry"))
  }

  test("dropTable IF EXISTS re-run cleans an orphaned data directory " +
      "left by a crash mid-drop") {
    val (wh, dir) = freshTable()
    wh.shallowClone("fact_telemetry", "crash_t")
    wh.append("crash_t", updatesDf)
    wh.dropTable("crash_t")
    // Simulate the r7-ADVICE crash window: spec already gone but the
    // data directory resurfaced (crash after spec removal in the OLD
    // delete order). The ifExists re-run must attempt the idempotent
    // filesystem deletes instead of returning early on the missing
    // spec — the old code orphaned this directory forever.
    val leftover = Paths.get(s"$dir/crash_t/part-leftover.parquet")
    java.nio.file.Files.createDirectories(leftover.getParent)
    java.nio.file.Files.write(leftover, Array[Byte](1, 2, 3))
    wh.dropTable("crash_t", ifExists = true)
    assert(!java.nio.file.Files.exists(Paths.get(s"$dir/crash_t")))
  }

  test("merge crash BEFORE the manifest commit preserves the old state") {
    val (wh, dir) = freshTable()
    val before = telemetry(wh)
    wh.crashPoint = Some("after-write")
    intercept[IllegalStateException] {
      wh.merge("fact_telemetry", updatesDf, Seq("norad_id", "epoch_utc"))
    }
    wh.crashPoint = None
    // a FRESH handle (the "reopened table"): still the old, full state —
    // the staged new files are orphans no manifest references
    val reopened = new Warehouse(spark, dir)
    assert(telemetry(reopened) === before)
    // vacuum collects the orphaned write (manifest untouched)
    assert(reopened.vacuum("fact_telemetry") >= 1L)
    assert(telemetry(reopened) === before)
    // and the interrupted merge simply re-runs to completion
    reopened.merge("fact_telemetry", updatesDf, Seq("norad_id", "epoch_utc"))
    val after = telemetry(reopened)
    assert(after.size === before.size)
    assert(after.exists(r => r._1 == 1 && r._3 == 99.0 && r._4 == 777))
  }

  test("merge crash AFTER the manifest commit exposes the new state") {
    val (wh, dir) = freshTable()
    val expected = {
      // what a completed merge should produce, computed independently
      val (w2, _) = freshTable()
      w2.merge("fact_telemetry", updatesDf, Seq("norad_id", "epoch_utc"))
      telemetry(w2)
    }
    wh.crashPoint = Some("after-commit")
    intercept[IllegalStateException] {
      wh.merge("fact_telemetry", updatesDf, Seq("norad_id", "epoch_utc"))
    }
    wh.crashPoint = None
    val reopened = new Warehouse(spark, dir)
    // commit landed → new state is what readers see, even though the
    // replaced files still sit on disk un-deleted
    assert(telemetry(reopened) === expected)
    // retention-coherent vacuum: the default horizon keeps the previous
    // version's files live; shrinking it to 1 collects the replaced set
    val orphans = reopened.vacuum("fact_telemetry", keepManifests = 1)
    assert(orphans >= 1L, "replaced files should have survived the crash")
    assert(telemetry(reopened) === expected)
  }

  test("overwrite crash windows: old state before commit, new after") {
    val (wh, dir) = freshTable()
    val before = telemetry(wh)
    val replacement = mkBase(Seq(5))
    // crash between staging the replacement files and the manifest flip
    wh.crashPoint = Some("after-write")
    intercept[IllegalStateException] {
      wh.overwrite("fact_telemetry", replacement)
    }
    wh.crashPoint = None
    val reopened = new Warehouse(spark, dir)
    assert(telemetry(reopened) === before) // old snapshot intact
    assert(reopened.vacuum("fact_telemetry") >= 1L) // staged orphans
    // crash after the flip: replace is visible, leftovers collectable
    reopened.crashPoint = Some("after-commit")
    intercept[IllegalStateException] {
      reopened.overwrite("fact_telemetry", replacement)
    }
    reopened.crashPoint = None
    val again = new Warehouse(spark, dir)
    assert(telemetry(again) ===
      replacement.select($"norad_id", $"epoch_utc", $"mean_motion",
        $"rev_number").as[(Int, Timestamp, Double, Int)].collect().toSet)
    assert(again.vacuum("fact_telemetry", keepManifests = 1) >= 1L)
  }

  test("append crash before commit leaves the table unchanged") {
    val (wh, dir) = freshTable()
    val before = telemetry(wh)
    wh.crashPoint = Some("after-write")
    intercept[IllegalStateException] {
      wh.append("fact_telemetry", mkBase(Seq(9)))
    }
    wh.crashPoint = None
    val reopened = new Warehouse(spark, dir)
    assert(telemetry(reopened) === before)
    reopened.vacuum("fact_telemetry")
    assert(telemetry(reopened) === before)
  }

  test("compact crash before commit preserves state; retry completes") {
    val dir = Files.createTempDirectory("graft-commit-cpt-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    (1 to 4).foreach(_ =>
      wh.append("fact_telemetry", mkBase(Seq(1)).repartition(1)))
    val before = telemetry(wh)
    wh.crashPoint = Some("after-write")
    intercept[IllegalStateException] { wh.compact("fact_telemetry") }
    wh.crashPoint = None
    val reopened = new Warehouse(spark, dir)
    assert(telemetry(reopened) === before)
    reopened.vacuum("fact_telemetry")
    val (n, fb, fa) = reopened.compact("fact_telemetry")
    assert(n === 1 && fb === 4L && fa === 1L)
    assert(telemetry(reopened) === before)
  }

  test("half-written staging files are invisible to readers") {
    val (wh, dir) = freshTable()
    val before = telemetry(wh)
    // simulate a writer that died mid-stage: garbage parquet under
    // _staging and a bare orphan in a partition dir with no manifest row
    val staging = Paths.get(dir, "fact_telemetry", "_staging", "dead-uuid")
    Files.createDirectories(staging)
    Files.writeString(staging.resolve("part-junk.parquet"), "not parquet")
    assert(telemetry(new Warehouse(spark, dir)) === before)
    wh.vacuum("fact_telemetry")
    assert(!Files.exists(staging))
  }

  test("readRange skips files via manifest stats, result unchanged") {
    val dir = Files.createTempDirectory("graft-skip-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    // same partition (one day), three appends with DISJOINT norad + epoch
    // ranges → three files whose stats separate them
    def batch(norad: Int, hour: Int) = Seq(
      (norad, ts(f"2026-01-01T$hour%02d:00:00Z"), ts("2026-02-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, 15.0, 0.1, 100,
        java.sql.Date.valueOf("2026-01-01"))
    ).toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
      "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
      "b_star_drag", "rev_number", "epoch_date")
    wh.append("fact_telemetry", batch(10, 1))
    wh.append("fact_telemetry", batch(20, 8))
    wh.append("fact_telemetry", batch(30, 20))
    val all = wh.read("fact_telemetry")
    assert(all.inputFiles.length === 3)

    // integer-column skip: only the file covering norad 20 is opened
    val byId = wh.readRange("fact_telemetry", "norad_id", 15, 25)
    assert(byId.inputFiles.length === 1)
    assert(byId.where($"norad_id" === 20).count() === 1)

    // timestamp-column skip (micros): epochs after 12:00 → one file
    val cut = Instant.parse("2026-01-01T12:00:00Z")
    val micros = cut.getEpochSecond * 1000000L
    val late = wh.readRange("fact_telemetry", "epoch_utc", micros, Long.MaxValue)
    assert(late.inputFiles.length === 1)
    // the skip is only a hint — exact predicate still applied on top,
    // and the result matches the unskipped plan
    assert(late.where($"epoch_utc" > Timestamp.from(cut)).count() ===
      all.where($"epoch_utc" > Timestamp.from(cut)).count())

    // a column with no recorded stats never skips
    assert(wh.readRange("fact_telemetry", "rev_number", 0, 1)
      .inputFiles.length === 3)
  }

  test("time travel: every committed version readable under retention") {
    val dir = Files.createTempDirectory("graft-tt-").toString
    val wh = new Warehouse(spark, dir, retainReplaced = true)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase(Seq(1, 2)))          // v2
    wh.append("fact_telemetry", mkBase(Seq(3)))             // v3
    val v3 = telemetry(wh)
    wh.merge("fact_telemetry", updatesDf, Seq("norad_id", "epoch_utc")) // v4
    assert(wh.versions("fact_telemetry") === Seq(1L, 2L, 3L, 4L))
    // each version replays its exact committed state
    assert(wh.readVersion("fact_telemetry", 1L).count() === 0)
    assert(wh.readVersion("fact_telemetry", 2L).count() === 4)
    assert(wh.readVersion("fact_telemetry", 3L)
      .select($"norad_id", $"epoch_utc", $"mean_motion", $"rev_number")
      .as[(Int, Timestamp, Double, Int)].collect().toSet === v3)
    assert(telemetry(wh) !== v3) // merge changed the head
    // retention horizon: keep 3 manifests → v2..v4 stay readable, v1 gone
    wh.vacuum("fact_telemetry", keepManifests = 3)
    assert(wh.versions("fact_telemetry") === Seq(2L, 3L, 4L))
    assert(wh.readVersion("fact_telemetry", 3L)
      .select($"norad_id", $"epoch_utc", $"mean_motion", $"rev_number")
      .as[(Int, Timestamp, Double, Int)].collect().toSet === v3)
    intercept[IllegalArgumentException] {
      wh.readVersion("fact_telemetry", 1L)
    }
  }

  test("eager GC fails time travel fast with the retention story") {
    val (wh, _) = freshTable() // default: eager deletion on merge
    val pre = wh.versions("fact_telemetry").last
    wh.merge("fact_telemetry", updatesDf, Seq("norad_id", "epoch_utc"))
    val err = intercept[IllegalArgumentException] {
      wh.readVersion("fact_telemetry", pre).count()
    }
    assert(err.getMessage.contains("retainReplaced"))
  }

  test("readChanges feeds an incremental consumer only the new files") {
    val dir = Files.createTempDirectory("graft-cdc-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase(Seq(1)))   // v2
    val checkpoint = wh.versions("fact_telemetry").last
    wh.append("fact_telemetry", mkBase(Seq(2)))   // v3
    wh.append("fact_telemetry", mkBase(Seq(3)))   // v4
    val changes = wh.readChanges("fact_telemetry", checkpoint)
      .select($"norad_id", $"epoch_utc", $"mean_motion", $"rev_number")
      .as[(Int, Timestamp, Double, Int)].collect().toSet
    // exactly the rows of the two appended batches, not day 1
    assert(changes.map(_._2.toString.take(10)).forall(d =>
      d == "2026-01-02" || d == "2026-01-03"))
    assert(changes.size === 4)
    // a merge's rewritten partition shows up as changed content
    wh.merge("fact_telemetry", updatesDf, Seq("norad_id", "epoch_utc"))
    val afterMerge = wh.readChanges("fact_telemetry", checkpoint)
    assert(afterMerge.where($"rev_number" === 777).count() === 1)
    // nothing changed since head → empty feed
    assert(wh.readChanges("fact_telemetry",
      wh.versions("fact_telemetry").last).count() === 0)
  }

  test("FileIndex skips files automatically for pushed predicates") {
    val dir = Files.createTempDirectory("graft-autoskip-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    def batch(norad: Int, hour: Int) = Seq(
      (norad, ts(f"2026-01-01T$hour%02d:00:00Z"), ts("2026-02-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, 15.0, 0.1, 100,
        java.sql.Date.valueOf("2026-01-01"))
    ).toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
      "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
      "b_star_drag", "rev_number", "epoch_date")
    wh.append("fact_telemetry", batch(10, 1))
    wh.append("fact_telemetry", batch(20, 8))
    wh.append("fact_telemetry", batch(30, 20))

    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // metrics populate on execution
      import org.apache.spark.sql.execution.FileSourceScanExec
      df.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.getOrElse(-1L)
    }
    // an ORDINARY Catalyst predicate on a stat column skips files — no
    // explicit readRange hint needed (the FileIndex reads the manifest
    // stats during scan planning)
    assert(filesRead(wh.read("fact_telemetry")
      .where($"norad_id" === 20)) === 1L)
    assert(filesRead(wh.read("fact_telemetry")
      .where($"epoch_utc" > ts("2026-01-01T12:00:00Z"))) === 1L)
    assert(filesRead(wh.read("fact_telemetry")
      .where($"norad_id" >= 15 && $"norad_id" <= 25)) === 1L)
    // non-stat predicates read everything and still answer correctly
    assert(filesRead(wh.read("fact_telemetry")
      .where($"rev_number" === 100)) === 3L)
    assert(wh.read("fact_telemetry").where($"norad_id" === 20).count() === 1)
  }

  test("dynamic partition pruning composes with the manifest FileIndex") {
    // the scale property of star joins on the partition column: Spark
    // plans the dim side first at runtime and prunes the fact side's
    // PARTITIONS before scanning — this must survive our custom
    // FileIndex, where `selectedPartitions` come from the manifest
    val dir = Files.createTempDirectory("graft-dpp-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase(Seq(1, 2, 3, 4, 5)))
    // Under CBO the manifest-published row counts make the benefit
    // estimator see this 5-ROW fixture as too small to bother pruning —
    // a correct call at 5 rows that would go the other way at real
    // scale. Pin the MECHANISM (DPP composes with ManifestFileIndex) on
    // file-size estimation, as pre-CBO plans did.
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "false")
    try {

    // dim must be FILE-backed: a Seq-backed frame constant-folds its
    // filter into the LocalRelation and the pruning rule sees no
    // selective predicate (real star schemas are file-backed anyway)
    Seq((java.sql.Date.valueOf("2026-01-02"), "hot"),
        (java.sql.Date.valueOf("2026-01-09"), "cold"))
      .toDF("d", "tag").write.parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val joined = wh.read("fact_telemetry")
      .join(dim.where($"tag" === "hot"), $"epoch_date" === $"d")
    assert(joined.collect().length === 2)

    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    // AQE buries executed scans inside materialized query stages —
    // descend through both wrappers
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    val scan = scans(joined.queryExecution.executedPlan)
      .find(_.output.exists(_.name == "norad_id")).get
    // the runtime-pruned partition count lands in this metric; 1 of 5
    // date partitions survives the dim filter
    val pruned = scan.metrics.get("numPartitions").map(_.value)
    assert(scan.metrics("numFiles").value <= 1L ||
      pruned.exists(_ <= 1L),
      s"DPP did not prune: numFiles=${scan.metrics("numFiles").value} " +
        s"numPartitions=$pruned")
    } finally spark.conf.set("spark.sql.cbo.enabled", prevCbo)
  }

  test("delta manifests: per-commit bytes bounded by the batch") {
    val dir = Files.createTempDirectory("graft-delta-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 10)
    wh.bootstrap()
    // many-file fixture: 30 single-row appends → 30 live files by v31
    (1 to 30).foreach { i =>
      wh.append("fact_space_weather",
        Seq((java.sql.Date.valueOf("2026-01-01"), 100.0 + i))
          .toDF("date_utc", "f10_7_flux").coalesce(1))
    }
    val mdir = Paths.get(dir, "fact_space_weather", "_manifests")
    def size(n: String) = Files.size(mdir.resolve(n))
    // v30 is a full checkpoint listing all ~29 files; v31 is a delta
    // carrying ONE add — an order of magnitude apart even at this tiny
    // scale, and the gap grows with the table while deltas stay flat
    assert(Files.exists(mdir.resolve("v000000000030.mf")))
    assert(Files.exists(mdir.resolve("v000000000031.mfd")))
    assert(size("v000000000031.mfd") * 5 < size("v000000000030.mf"),
      s"delta ${size("v000000000031.mfd")}B not bounded vs " +
        s"checkpoint ${size("v000000000030.mf")}B")
    // delta commits reconstruct exactly: every version's file count is
    // its append count, and TIME TRAVEL through delta chains works
    assert(wh.read("fact_space_weather").count() === 30L)
    (2L to 31L by 7L).foreach { v =>
      assert(wh.readVersion("fact_space_weather", v).count() === v - 1,
        s"time travel to delta version $v")
    }
    // history metadata survives in delta manifests
    val h = wh.history("fact_space_weather").toMap
    assert(h(31L)("op") === "append")
    // vacuum past the checkpoints materializes the oldest kept version
    wh.vacuum("fact_space_weather", keepManifests = 3)
    assert(Files.exists(mdir.resolve("v000000000029.mf")),
      "oldest kept delta version must be materialized as a checkpoint")
    assert(wh.readVersion("fact_space_weather", 29L).count() === 28L)
    assert(wh.read("fact_space_weather").count() === 30L)
    // and the next commit after vacuum still chains correctly
    wh.append("fact_space_weather",
      Seq((java.sql.Date.valueOf("2026-01-02"), 200.0))
        .toDF("date_utc", "f10_7_flux"))
    assert(wh.read("fact_space_weather").count() === 31L)
  }

  test("checkpoint interval is PERSISTED: a writer opened with a " +
      "different interval still picks the same manifest extension") {
    val dir = Files.createTempDirectory("graft-ival-").toString
    val a = new Warehouse(spark, dir, checkpointInterval = 10)
    a.bootstrap() // first commit persists interval=10 in _meta
    // a second writer ASKS for checkpoint-every-commit; the persisted
    // value must win, else the two would commit the same version as
    // .mf / .mfd siblings — neither colliding — and readers preferring
    // .mf would silently drop the delta writer's commit
    val b = new Warehouse(spark, dir, checkpointInterval = 1)
    (1 to 3).foreach { i =>
      b.append("fact_space_weather",
        Seq((java.sql.Date.valueOf("2026-01-01"), 100.0 + i))
          .toDF("date_utc", "f10_7_flux"))
    }
    val mdir = Paths.get(dir, "fact_space_weather", "_manifests")
    assert(Files.exists(mdir.resolve("v000000000002.mfd")),
      "persisted interval=10 must make v2 a DELTA despite b's interval=1")
    assert(!Files.exists(mdir.resolve("v000000000002.mf")))
    assert(Files.exists(Paths.get(dir, "_meta", "_warehouse.json")))
    // both handles read the same, complete table
    assert(a.read("fact_space_weather").count() === 3L)
    assert(b.read("fact_space_weather").count() === 3L)
  }

  test("a sibling-extension manifest of the same version conflicts " +
      "instead of being silently shadowed") {
    val dir = Files.createTempDirectory("graft-sib-").toString
    val wh = new Warehouse(spark, dir) // interval 10 → v2 commits as .mfd
    wh.bootstrap()
    val mdir = Paths.get(dir, "fact_space_weather", "_manifests")
    // a legacy/misconfigured writer publishes v2 as a FULL manifest in
    // the window after this append computed its target version — the
    // worst case the create-exclusive publish alone cannot see
    wh.beforeCommit = Some(() => {
      Files.write(mdir.resolve("v000000000002.mf"),
        "graft-manifest 1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    })
    try wh.append("fact_space_weather",
      Seq((java.sql.Date.valueOf("2026-01-01"), 42.0))
        .toDF("date_utc", "f10_7_flux"))
    finally wh.beforeCommit = None
    // the appender must NOT have published v2.mfd alongside the foreign
    // v2.mf; its retry loop re-read the head and committed v3 instead
    assert(!Files.exists(mdir.resolve("v000000000002.mfd")),
      "sibling .mfd published next to a foreign .mf — silent shadow")
    assert(wh.versions("fact_space_weather") === Seq(1L, 2L, 3L))
    assert(wh.readVersion("fact_space_weather", 2L).count() === 0L)
    assert(wh.read("fact_space_weather").count() === 1L)
    // the retry is visible in history; a first-attempt commit records
    // no retry count at all (and none is carried forward)
    assert(wh.history("fact_space_weather").toMap.apply(3L)
      .get("numRetries") === Some("1"))
    wh.append("fact_space_weather",
      Seq((java.sql.Date.valueOf("2026-01-02"), 43.0))
        .toDF("date_utc", "f10_7_flux"))
    assert(!wh.history("fact_space_weather").last._2.contains("numRetries"))
  }

  test("point-lookup pruning covers timestamp and date stat columns") {
    // timestamp: fact_telemetry stats epoch_utc as epoch MICROS
    val (wh, _) = freshTable() // 3 single-day files, days Jan 1-3
    val (_, entries) = wh.loadLatest("fact_telemetry")
    assert(entries.size === 3)
    val probe = ts("2026-01-02T01:00:00Z")
    for (p <- Seq[Any](probe, probe.toInstant,
        probe.toInstant.getEpochSecond * 1000000L)) {
      assert(wh.pointCandidates("fact_telemetry", "epoch_utc", p, entries)
        .size === 1, s"probe ${p.getClass.getSimpleName} did not prune")
    }
    assert(wh.readPoint("fact_telemetry", "epoch_utc", probe)
      .filter($"epoch_utc" === probe).count() === 1L)
    // a mistyped probe (string on a timestamp column) keeps all files
    assert(wh.pointCandidates("fact_telemetry", "epoch_utc",
      "2026-01-02", entries).size === 3)

    // date: a custom table with a DateType stat column (epoch DAYS)
    val dir = Files.createTempDirectory("graft-dpt-").toString
    val wd = new Warehouse(spark, dir, specs = Map("d" ->
      Warehouse.TableSpec(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("day",
            org.apache.spark.sql.types.DateType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.LongType))),
        statColumns = Seq("day"))))
    wd.bootstrap()
    (1 to 3).foreach { d =>
      wd.append("d", Seq((java.sql.Date.valueOf(f"2026-03-0$d"), d.toLong))
        .toDF("day", "v").coalesce(1))
    }
    val (_, de) = wd.loadLatest("d")
    assert(de.size === 3)
    val day = java.sql.Date.valueOf("2026-03-02")
    for (p <- Seq[Any](day, day.toLocalDate, day.toLocalDate.toEpochDay)) {
      assert(wd.pointCandidates("d", "day", p, de).size === 1,
        s"date probe ${p.getClass.getSimpleName} did not prune")
    }
    assert(wd.readPoint("d", "day", day)
      .filter($"day" === day).count() === 1L)
  }

  test("delta manifests are observationally identical to full manifests") {
    // DIFFERENTIAL: the same op sequence against checkpointInterval=10
    // (delta chains) and =1 (the pre-delta full-per-commit behavior)
    // must agree on every observable after every step — contents,
    // versions, history ops, and time travel to every live version.
    import org.apache.spark.sql.functions.col
    val specs = Map("t" -> Warehouse.TableSpec(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))),
      statColumns = Seq("id")))
    val whs = Seq(10, 1).map { interval =>
      val dir = Files.createTempDirectory(s"graft-diff$interval-").toString
      val wh = new Warehouse(spark, dir, retainReplaced = true,
        specs = specs, checkpointInterval = interval)
      wh.bootstrap()
      wh
    }
    import spark.implicits._
    def batch(r: Range) = r.map(i => (i.toLong, i * 1.0)).toDF("id", "v")
    val ops: Seq[Warehouse => Unit] = Seq(
      _.append("t", batch(1 to 20)),
      _.append("t", batch(21 to 40)),
      { w => w.delete("t", col("id") % 7 === 0); () },
      { w => w.update("t", col("id") < 5, Map("v" -> (col("v") + 100))); () },
      _.merge("t", batch(35 to 50), Seq("id")),
      { w => w.compact("t"); () },
      _.append("t", batch(51 to 55)),
      { w => w.mergeInto("t", batch(1 to 10), Seq("id"),
          matchedDelete = Some(col("src_v") > 8),
          matchedUpdate = Some((None, Map("v" -> col("src_v"))))); () },
      _.restore("t", 5L),
      _.append("t", batch(60 to 70)))
    ops.zipWithIndex.foreach { case (op, i) =>
      whs.foreach(op)
      val Seq(a, b) = whs.map(w =>
        w.read("t").as[(Long, Double)].collect().toSet)
      assert(a === b, s"contents diverged after op $i")
      val Seq(va, vb) = whs.map(_.versions("t"))
      assert(va === vb, s"versions diverged after op $i")
      val Seq(ha, hb) = whs.map(_.history("t").map(_._2.get("op")))
      assert(ha === hb, s"history diverged after op $i")
    }
    // time travel to EVERY version agrees (delta chains reconstruct)
    whs.head.versions("t").foreach { v =>
      val Seq(a, b) = whs.map(w =>
        w.readVersion("t", v).as[(Long, Double)].collect().toSet)
      assert(a === b, s"time travel diverged at v$v")
    }
    // vacuum with materialization keeps both readable and equal
    whs.foreach(_.vacuum("t", keepManifests = 2))
    val Seq(fa, fb) = whs.map(w =>
      w.read("t").as[(Long, Double)].collect().toSet)
    assert(fa === fb, "contents diverged after vacuum")
  }

  test("manifest versions advance and vacuum trims old ones") {
    val dir = Files.createTempDirectory("graft-vers-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    (1 to 3).foreach(i => wh.append("fact_space_weather",
      Seq((java.sql.Date.valueOf(f"2026-01-0$i%d"), 100.0 + i))
        .toDF("date_utc", "f10_7_flux")))
    assert(wh.loadLatest("fact_space_weather")._1 === 4L) // bootstrap + 3
    wh.vacuum("fact_space_weather", keepManifests = 1)
    val mdir = Paths.get(dir, "fact_space_weather", "_manifests")
    val kept = Files.list(mdir).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (kept.hasNext) names += kept.next().getFileName.toString
    // local FS leaves .crc siblings and the lifetime marker is not a
    // manifest; only the visible manifests matter
    assert(names.filterNot(n =>
        n.startsWith(".") || n.startsWith("_lifetime-")).toSeq.sorted ===
      Seq("v000000000004.mf"))
    assert(wh.read("fact_space_weather").count() === 3)
  }
}
