package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.types._

import graft.pipeline.Warehouse

/** Snapshot-metadata LIFECYCLE safety — the windows where cached or
  * derived metadata could outlive the commit it describes:
  *
  *   1. A PENDING multi-table-txn member must never leave a columnar
  *      manifest sidecar behind: an aborted slot's `.mfp` would
  *      survive (writeColumnarManifest's exists-guard) and silently
  *      shadow the entry list of whatever a LATER writer commits at
  *      the same version (wrong pruning, wrong `t.files`, phantom
  *      files). Commit skips the sidecar for pending members, and the
  *      abort paths delete any sidecar a pre-fix writer published.
  *   2. Table-LIFETIME identity in the cache keys: a drop+recreate by
  *      a DIFFERENT process restarts version numbering in the same
  *      directory — dir#table#version alone would let a long-lived
  *      first JVM serve a dead lifetime's cached snapshot for a
  *      re-minted version number. The `_lifetime-*` marker (observed
  *      for free by the listing every head resolution already pays
  *      for) re-keys the caches.
  *   3. The snapshot cache bounds by APPROXIMATE BYTES, not entry
  *      count — wide-stats tables must not own gigabytes of driver
  *      heap under a count-only budget.
  */
class SnapshotLifecycleSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("s", StringType)))

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t); () }
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(x => { Files.delete(x); () })

  test("a pending txn member at a checkpoint version writes NO " +
    "columnar sidecar; after the abort a new committer's sidecar " +
    "serves the NEW entry list") {
    val dir = Files.createTempDirectory("graft-lifec-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1,
      specs = Map(
        "a" -> Warehouse.TableSpec(schema, statColumns = Seq("k")),
        "b" -> Warehouse.TableSpec(schema, statColumns = Seq("k"))))
    wh.columnarThreshold = 1L // every checkpoint would write .mfp
    wh.bootstrap()
    wh.crashPoint = Some("before-marker")
    intercept[IllegalStateException] {
      wh.appendAll(Seq(
        ("a", Seq((1L, "pending")).toDF("k", "s"), 0L),
        ("b", Seq((1L, "pending")).toDF("k", "s"), 0L)))
    }
    wh.crashPoint = None
    // the pending v2 member manifests exist, but no .mfp rode them
    val mfpA = Paths.get(dir, "a", "_manifests", "v000000000002.mfp")
    assert(Files.exists(
      Paths.get(dir, "a", "_manifests", "v000000000002.mfd")) ||
      Files.exists(Paths.get(dir, "a", "_manifests", "v000000000002.mf")))
    assert(!Files.exists(mfpA),
      "a pending txn member must not publish a columnar sidecar")

    // simulate a PRE-FIX writer's leftover: plant a bogus sidecar for
    // the pending version, then let a conflicting append abort the
    // stale txn — the abort must take the sidecar with the manifest
    spark.createDataFrame(Seq(
        ("GHOST.parquet", 1L, 1L, "", 0L, 0L, 0L)))
      .toDF("rel", "bytes", "rows", "dv", "dvRows", "__lo_k", "__hi_k")
      .write.parquet(mfpA.toString)
    assert(Files.exists(mfpA))
    wh.txnStaleMs = 0L
    wh.append("a", Seq((7L, "fresh")).toDF("k", "s"))
    // the new v2 commit wrote ITS OWN sidecar (checkpoint, above
    // threshold); force the columnar path and check the ghost is gone
    Warehouse.invalidateCached(s"$dir#a#")
    val prunes = Warehouse.columnarPrunes.get()
    val got = wh.readRange("a", "k", Long.MinValue, Long.MaxValue)
      .as[(Long, String)].collect().toSet
    assert(Warehouse.columnarPrunes.get() === prunes + 1,
      "the probe must have run through the columnar sidecar")
    assert(got === Set((7L, "fresh")))
    assert(!wh.read("a").inputFiles.exists(_.contains("GHOST")))
  }

  test("cross-process drop+recreate cannot serve a dead lifetime's " +
    "cached snapshot: the first instance reads fresh data") {
    val dirA = Files.createTempDirectory("graft-lifeA-").toString
    val wh1 = new Warehouse(spark, dirA, specs = Map("t" ->
      Warehouse.TableSpec(schema, statColumns = Seq("k"))))
    wh1.bootstrap()
    wh1.append("t", Seq((1L, "old"), (2L, "old")).toDF("k", "s"))
    assert(wh1.read("t").count() === 2L) // caches v1..v2 under lifetime 1
    assert(Files.list(Paths.get(dirA, "t", "_manifests")).iterator()
      .hasNext)

    // "another process": build a same-named table with the SAME version
    // numbers but different content in a scratch dir, then swap it in
    // with RAW filesystem ops — no Warehouse code runs, so no local
    // invalidation fires (exactly what a different JVM looks like here)
    val dirB = Files.createTempDirectory("graft-lifeB-").toString
    val wh2 = new Warehouse(spark, dirB, specs = Map("t" ->
      Warehouse.TableSpec(schema, statColumns = Seq("k"))))
    wh2.bootstrap()
    wh2.append("t", Seq((10L, "new"), (20L, "new"), (30L, "new"))
      .toDF("k", "s"))
    deleteTree(Paths.get(dirA, "t"))
    copyTree(Paths.get(dirB, "t"), Paths.get(dirA, "t"))

    // wh1's next read lists the manifest dir (it always does), observes
    // the replacement lifetime's marker, and must NOT serve the cached
    // v2 of the dead lifetime
    assert(wh1.read("t").as[(Long, String)].collect().toSet ===
      Set((10L, "new"), (20L, "new"), (30L, "new")))
  }

  test("vacuum's sidecar sweep runs as a Spark job above the " +
    "threshold, with the same result as the driver loop: orphans die, " +
    "live sidecars survive") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-sweep-").toString
    val wh = new Warehouse(spark, dir, retainReplaced = false,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        statColumns = Seq("k"), bloomColumns = Seq("s"),
        ndvColumns = Seq("s"))))
    wh.bootstrap()
    wh.append("t", (1L to 20L).map(i => (i, s"v$i")).toDF("k", "s"))
    // replace files first (eager GC drops the data files; their
    // bloom/ndv sidecars stay behind as orphans for the sweep) ...
    wh.delete("t", col("k") === 5L)
    // ... then two vectored deletes on the REWRITTEN file: the first
    // sidecar is superseded by the union vector — a `_dv` orphan
    wh.deleteVectored("t", col("k") === 3L)
    wh.deleteVectored("t", col("k") === 4L)
    def names(sub: String): Set[String] = {
      val p = Paths.get(dir, "t", sub)
      if (!Files.exists(p)) Set.empty
      else {
        val b = Set.newBuilder[String]
        Files.list(p).forEach(x => b += x.getFileName.toString)
        b.result().filterNot(_.startsWith("."))
      }
    }
    val dvBefore = names("_dv")
    assert(dvBefore.size === 2)
    val sweeps = Warehouse.distributedSidecarSweeps.get()
    wh.sidecarSweepThreshold = 1 // every doomed set goes distributed
    wh.vacuum("t", keepManifests = 1)
    assert(Warehouse.distributedSidecarSweeps.get() > sweeps,
      "the sweep must have run as a Spark job")
    // superseded DV gone, the live union vector survives, reads exact
    assert(names("_dv").size === 1)
    assert(wh.read("t").count() === 17L)
    // every surviving bloom/ndv sidecar belongs to a live file, and
    // every live file still has both its sidecars (same result the
    // driver loop always produced — liveness is the only criterion)
    val live = wh.loadLatest("t")._2.map(_.rel).toSet
    val liveHashes = live.map(rel =>
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(rel.getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString)
    Seq("_bloomidx", "_ndvidx").foreach { sub =>
      val ns = names(sub)
      assert(ns.nonEmpty)
      assert(ns.forall(n => liveHashes.contains(n.takeWhile(_ != '-'))),
        s"$sub: an orphan sidecar survived the distributed sweep")
      assert(liveHashes.forall(h => ns.exists(_.startsWith(h))),
        s"$sub: a live file's sidecar was wrongly deleted")
    }
  }

  test("the sweep STREAMS its doomed list in bounded chunks: a " +
    "1-name chunk bound flushes per doomed file with the identical " +
    "end state — driver memory is O(chunk), never O(doomed)") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-sweepc-").toString
    val wh = new Warehouse(spark, dir, retainReplaced = false,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        statColumns = Seq("k"), bloomColumns = Seq("s"),
        ndvColumns = Seq("s"))))
    wh.bootstrap()
    wh.append("t", (1L to 20L).map(i => (i, s"v$i")).toDF("k", "s"))
    wh.delete("t", col("k") === 5L)
    // three vectored deletes on the rewritten file: each supersedes
    // the previous union sidecar, leaving TWO `_dv` orphans to sweep
    wh.deleteVectored("t", col("k") === 3L)
    wh.deleteVectored("t", col("k") === 4L)
    wh.deleteVectored("t", col("k") === 2L) // same file as 3 and 4
    def names(sub: String): Set[String] = {
      val p = Paths.get(dir, "t", sub)
      if (!Files.exists(p)) Set.empty
      else {
        val b = Set.newBuilder[String]
        Files.list(p).forEach(x => b += x.getFileName.toString)
        b.result().filterNot(_.startsWith("."))
      }
    }
    assert(names("_dv").size === 3)
    val sweeps = Warehouse.distributedSidecarSweeps.get()
    wh.sidecarSweepChunk = 1 // every doomed name is its own flush
    wh.sidecarSweepThreshold = 1 // and every flush goes distributed
    wh.vacuum("t", keepManifests = 1)
    // two doomed sidecars existed, so the streamed path must have
    // flushed (and job'd) once per doomed name
    assert(Warehouse.distributedSidecarSweeps.get() >= sweeps + 2,
      "chunked flushes must each have run as their own job")
    // identical end state as the one-shot sweep: superseded DVs gone,
    // live union vector survives, liveness is the only criterion
    assert(names("_dv").size === 1)
    assert(wh.read("t").count() === 16L)
    val live = wh.loadLatest("t")._2.map(_.rel).toSet
    val liveHashes = live.map(rel =>
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(rel.getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString)
    Seq("_bloomidx", "_ndvidx").foreach { sub =>
      val ns = names(sub)
      assert(ns.nonEmpty)
      assert(ns.forall(n => liveHashes.contains(n.takeWhile(_ != '-'))),
        s"$sub: an orphan sidecar survived the chunked sweep")
      assert(liveHashes.forall(h => ns.exists(_.startsWith(h))),
        s"$sub: a live file's sidecar was wrongly deleted")
    }
  }

  test("vacuum's DATA-file sweep runs as chunked Spark jobs: orphaned " +
    "data files die with the exact serial-loop count, live files and " +
    "reads survive") {
    val dir = Files.createTempDirectory("graft-dsweep-").toString
    val wh = new Warehouse(spark, dir, retainReplaced = true,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        statColumns = Seq("k"))))
    wh.bootstrap()
    wh.append("t", (1L to 20L).map(i => (i, s"v$i")).toDF("k", "s"))
    // three overwrites: each strands the previous snapshot's data
    // files on disk (retention), far past keepManifests=1
    (1 to 3).foreach { g =>
      wh.overwrite("t", (1L to 10L).map(i =>
        (100L * g + i, s"g$g-$i")).toDF("k", "s"))
    }
    val before = graft.util.FsListing.dataFiles(s"$dir/t").size
    val liveCount = wh.loadLatest("t")._2.size
    assert(before > liveCount, "retention must have stranded old files")
    val sweeps = Warehouse.distributedDataSweeps.get()
    wh.sidecarSweepChunk = 2 // tiny chunks: several flushes
    wh.sidecarSweepThreshold = 1 // every flush goes distributed
    val deleted = wh.vacuum("t", keepManifests = 1)
    assert(deleted === (before - liveCount).toLong,
      "the job path must count successful deletes like the serial loop")
    assert(Warehouse.distributedDataSweeps.get() >= sweeps + 2,
      "the doomed data files must have flushed in multiple jobs")
    // live files intact, reads exact
    assert(graft.util.FsListing.dataFiles(s"$dir/t").size === liveCount)
    assert(wh.read("t").as[(Long, String)].collect().toSet ===
      (1L to 10L).map(i => (300L + i, s"g3-$i")).toSet)
    assert(wh.fsck("t").isEmpty)
  }

  test("eager GC after a full rewrite deletes its doomed files as a " +
    "Spark job above the threshold: replaced data + sidecars die, the " +
    "new snapshot and its sidecars survive") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-gcd-").toString
    val wh = new Warehouse(spark, dir, retainReplaced = false,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        statColumns = Seq("k"), bloomColumns = Seq("s"),
        ndvColumns = Seq("s"))))
    wh.bootstrap()
    wh.sidecarSweepThreshold = 1 // every doomed set goes distributed
    wh.append("t", (1L to 20L).map(i => (i, s"v$i")).toDF("k", "s"))
    wh.deleteVectored("t", col("k") === 3L) // a dv that dies with gc
    val oldRels = graft.util.FsListing.dataFiles(s"$dir/t").map(_._1).toSet
    val sweeps = Warehouse.distributedDataSweeps.get()
    wh.overwrite("t", (1L to 5L).map(i => (100L + i, s"w$i")).toDF("k", "s"))
    assert(Warehouse.distributedDataSweeps.get() > sweeps,
      "the rewrite's GC must have deleted as a Spark job")
    // every replaced data file is gone, the new snapshot is intact
    val after = graft.util.FsListing.dataFiles(s"$dir/t").map(_._1).toSet
    assert(after.intersect(oldRels).isEmpty,
      "the distributed GC must have deleted every replaced file")
    assert(after === wh.loadLatest("t")._2.map(_.rel).toSet)
    assert(wh.read("t").as[(Long, String)].collect().toSet ===
      (1L to 5L).map(i => (100L + i, s"w$i")).toSet)
    // the replaced files' dv and bloom/ndv sidecars died with them;
    // the new files' sidecars survive (fsck is clean)
    assert(!Files.exists(Paths.get(dir, "t", "_dv")) ||
      Files.list(Paths.get(dir, "t", "_dv")).count() === 0L)
    assert(wh.fsck("t").forall(_._1 != "error"))
    val liveHashes = wh.loadLatest("t")._2.map(e =>
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(e.rel.getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString).toSet
    Seq("_bloomidx", "_ndvidx").foreach { sub =>
      val p = Paths.get(dir, "t", sub)
      val b = Set.newBuilder[String]
      Files.list(p).forEach(x => b += x.getFileName.toString)
      val ns = b.result().filterNot(_.startsWith("."))
      assert(ns.nonEmpty)
      assert(ns.forall(n => liveHashes.contains(n.takeWhile(_ != '-'))),
        s"$sub: a replaced file's sidecar survived the distributed GC")
      assert(liveHashes.forall(h => ns.exists(_.startsWith(h))),
        s"$sub: a live file's sidecar was wrongly deleted")
    }
  }

  test("snapshot cache budgets by approximate bytes and evicts LRU " +
    "under pressure") {
    val dir = Files.createTempDirectory("graft-lifeb-").toString
    val wh = new Warehouse(spark, dir, specs = Map(
      "x" -> Warehouse.TableSpec(schema),
      "y" -> Warehouse.TableSpec(schema)))
    wh.bootstrap()
    wh.append("x", Seq((1L, "a")).toDF("k", "s"))
    wh.append("y", Seq((2L, "b")).toDF("k", "s"))
    val saved = Warehouse.snapshots.budget
    try {
      Warehouse.invalidateCached(s"$dir#")
      Warehouse.snapshots.budget = 1L // nothing but the newest survives
      assert(wh.read("x").count() === 1L)
      val kx = wh.currentCacheKey("x", 2L)
      assert(Warehouse.snapshots.get(kx).isDefined,
        "the most recent put always stays, budget notwithstanding")
      assert(wh.read("y").count() === 1L)
      assert(Warehouse.snapshots.get(kx).isEmpty,
        "the 1-byte budget must have evicted x's snapshot")
      assert(Warehouse.snapshots.get(
        wh.currentCacheKey("y", 2L)).isDefined)
    } finally Warehouse.snapshots.budget = saved
  }

  test("dropTable releases the table from every prefix-keyed cache") {
    val dir = Files.createTempDirectory("graft-lifed-").toString
    val wh = new Warehouse(spark, dir, checkpointInterval = 1, specs = Map(
      "t" -> Warehouse.TableSpec(schema, partitionBy = Seq("s"),
        statColumns = Seq("k"), ndvColumns = Seq("k"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    wh.append("t", (1L to 20L).map(i => (i, s"g${i % 2}")).toDF("k", "s"))
    assert(wh.materializeColumnar("t"))
    val prefix = s"$dir#t#"
    Warehouse.invalidateCached(prefix)
    // lazy path: a cold columnar table plans without folding entries
    assert(wh.read("t").count() === 20L)
    assert(wh.read("t").where($"k" <= 5L).count() === 5L)
    assert(Warehouse.snapshots.get(wh.currentCacheKey("t",
      wh.versions("t").max)).isEmpty, "the reads above must stay lazy")
    wh.analyzeColumns("t", Seq("k"))
    assert(wh.read("t").where($"k" > 10L).count() === 10L)
    // eager path: the full fold lands in the snapshot cache
    val entries = wh.loadLatest("t")._2
    assert(Warehouse.snapshots.get(wh.currentCacheKey("t",
      wh.versions("t").max)).isDefined)
    val hits0 = Warehouse.ndvMemo.hits
    val est = wh.ndvEstimates("t", entries)
    assert(est.contains("k"))
    assert(wh.ndvEstimates("t", entries) === est)
    assert(Warehouse.ndvMemo.hits > hits0, "the estimate must be memoized")
    wh.dropTable("t")
    val caches = Seq(Warehouse.snapshots, Warehouse.metas,
      Warehouse.snapshotAggs, Warehouse.hists, Warehouse.slims,
      Warehouse.lazyMinMax, Warehouse.lazyNdv, Warehouse.ndvMemo,
      Warehouse.pruneMemo, graft.pipeline.LazyManifestFileIndex.dirMemo)
    assert(caches.forall(Warehouse.prefixKeyed.contains))
    caches.foreach(c =>
      assert(c.invalidate(prefix) === 0L,
        "dropTable must release the table from every registered cache"))
  }

  /** Launch [[CoherenceChild]] in a genuinely separate JVM with this
    * test JVM's own classpath (Test/fork is on, so java.class.path is
    * the real one) and wait for its CHILD_OK marker.
    */
  private def startChild(dir: String, op: String,
      extra: Seq[String] = Nil): Process = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util",
      "java.util.concurrent", "java.util.concurrent.atomic",
      "sun.nio.ch", "sun.nio.cs", "sun.security.action",
      "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(java) ++ opens ++ Seq("-Xmx2g",
      "-Dspark.ui.enabled=false", "-cp", sys.props("java.class.path"),
      "graft.CoherenceChild", dir, op) ++ extra
    new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
  }

  private def awaitChild(proc: Process, op: String): Unit = {
    val out = new String(proc.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    val code = proc.waitFor()
    assert(code === 0 && out.contains("CHILD_OK"),
      s"child JVM ($op) failed (exit $code):\n${out.takeRight(3000)}")
  }

  private def runChild(dir: String, op: String): Unit =
    awaitChild(startChild(dir, op), op)

  test("TWO-JVM coherence: a foreign process's commit is visible to " +
    "this JVM's warmed caches on the next read, and a foreign " +
    "drop+recreate (real Warehouse code, not an fs swap) never serves " +
    "the dead lifetime's snapshot") {
    val dir = Files.createTempDirectory("graft-2jvm-").toString
    val wh = new Warehouse(spark, dir, specs = Map("t" ->
      Warehouse.TableSpec(schema, statColumns = Seq("k"))))
    wh.bootstrap()
    wh.append("t", Seq((1L, "parent"), (2L, "parent")).toDF("k", "s"))
    // warm every parent-side cache for the current head
    assert(wh.read("t").count() === 2L)
    assert(wh.history("t").nonEmpty)

    // commit-then-read: the child JVM appends v3 with its own caches;
    // the parent's next head resolution must observe it
    runChild(dir, "append")
    assert(wh.read("t").as[(Long, String)].collect().toSet ===
      Set((1L, "parent"), (2L, "parent"), (100L, "child")),
      "the foreign commit must surface on the parent's next read")

    // drop-recreate race through REAL code: the child drops the table
    // (tombstoning the lifetime) and recreates it with re-minted
    // version numbers; the parent must re-key and serve the NEW
    // content, not its cached dead-lifetime snapshot
    assert(wh.read("t").count() === 3L) // re-warm post-append head
    runChild(dir, "dropRecreate")
    assert(wh.read("t").as[(Long, String)].collect().toSet ===
      Set((7L, "recreated"), (8L, "recreated")),
      "the recreated lifetime's content must win over the dead cache")
    // and parent-side writes continue against the new lifetime
    wh.append("t", Seq((9L, "post")).toDF("k", "s"))
    assert(wh.read("t").count() === 3L)
  }

  test("TWO-JVM concurrent APPEND race: two foreign processes burst " +
    "single-row commits against one table at once — every version " +
    "rename has exactly one winner, the loser fences and retries, and " +
    "no row is lost or doubled") {
    val dir = Files.createTempDirectory("graft-2jvmrace-").toString
    val wh = new Warehouse(spark, dir, specs = Map("t" ->
      Warehouse.TableSpec(schema, statColumns = Seq("k"))))
    wh.bootstrap()
    wh.append("t", Seq((1L, "parent")).toDF("k", "s")) // v2

    // 12 commits each, genuinely concurrent (separate JVMs, separate
    // JVM-wide caches) with colliding version slots throughout
    val a = startChild(dir, "appendRace", Seq("1000"))
    val b = startChild(dir, "appendRace", Seq("2000"))
    awaitChild(a, "appendRace a")
    awaitChild(b, "appendRace b")

    // every row exactly once (a lost rename retried without re-basing
    // would drop a batch; a double-committed batch would double a key)
    val got = wh.read("t").as[(Long, String)].collect().toSeq
    assert(got.length === 25, s"expected 25 rows, got ${got.length}")
    assert(got.toSet === (Set((1L, "parent")) ++
      (0L until 12L).map(i => (1000L + i, "child1000")) ++
      (0L until 12L).map(i => (2000L + i, "child2000"))))

    // version chain: 1 bootstrap + 25 appends, contiguous — one winner
    // per slot, no gaps (a gap = a rename that nobody won), and the
    // commit log agrees batch-for-batch
    val versions = wh.history("t")
    assert(versions.size === 26,
      s"expected 26 versions (bootstrap + 25 appends), got ${versions.size}")
    assert(wh.fsck("t").forall(_._1 != "error"))
  }
}
