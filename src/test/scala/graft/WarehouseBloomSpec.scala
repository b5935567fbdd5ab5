package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Warehouse

/** The per-file bloom index: sidecars written per batch, point lookups
  * skipping files min/max stats can't (high-cardinality longs whose
  * ranges interleave, and strings — which footer long-stats can't
  * encode at all), result identity with the plain filter, and sidecar
  * lifecycle across DML + vacuum.
  */
class WarehouseBloomSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("key", StringType),
    StructField("body", StringType)))

  private def spec = Map("docs" -> Warehouse.TableSpec(docSchema,
    statColumns = Seq("doc_id"),
    bloomColumns = Seq("doc_id", "key"),
    bloomExpectedItems = 10000L, bloomFpp = 0.01))

  /** 4 appends of 1 file each; doc_ids INTERLEAVE across batches
    * (i, i+4, i+8, ...) so every file's min/max range overlaps every
    * lookup — stats alone can skip nothing, blooms must do the work.
    */
  private def freshTable(): (Warehouse, String) = {
    val dir = Files.createTempDirectory("graft-bloom-").toString
    val wh = new Warehouse(spark, dir, specs = spec)
    wh.bootstrap()
    (0 until 4).foreach { i =>
      val rows = (0 until 250).map { j =>
        val id = (j * 4 + i).toLong
        (id, s"key-$id", s"body of $id")
      }
      wh.append("docs", rows.toDF("doc_id", "key", "body").coalesce(1))
    }
    (wh, dir)
  }

  test("point lookup on an interleaved long key probes to one file") {
    val (wh, _) = freshTable()
    val entries = wh.loadLatest("docs")._2
    assert(entries.size >= 4)
    // stats can't help: id 42 ∈ [min, max] of every file
    assert(entries.forall(_.stats("doc_id") match {
      case (lo, hi) => lo <= 42L && 42L <= hi
    }))
    val kept = wh.pointCandidates("docs", "doc_id", 42L, entries)
    // exactly the owning file (+ fpp=1% false positives, usually none)
    assert(kept.nonEmpty && kept.size <= 2, s"kept ${kept.size} files")
    assert(wh.readPoint("docs", "doc_id", 42L)
      .where($"doc_id" === 42L).count() === 1L)
  }

  test("above the threshold the sidecar probes run as a SPARK JOB and " +
    "keep exactly what the driver loop keeps") {
    val (wh, _) = freshTable()
    val entries = wh.loadLatest("docs")._2
    val ids = Seq[Any](42L, 107L, 3001L) // two present, one absent
    // driver path (threshold above the candidate count)
    wh.bloomProbeDistributedThreshold = 1000000
    val viaDriver = wh.pointCandidatesMulti("docs", "doc_id", ids, entries)
    // distributed path (threshold below)
    wh.bloomProbeDistributedThreshold = 1
    val before = Warehouse.distributedBloomProbes.get()
    val viaJob = wh.pointCandidatesMulti("docs", "doc_id", ids, entries)
    assert(Warehouse.distributedBloomProbes.get() === before + 1,
      "the probe must have run as a Spark job")
    assert(viaJob.map(_.rel).sorted === viaDriver.map(_.rel).sorted)
    assert(viaJob.size < entries.size, "blooms must skip something")
    // end to end through the same path: exact lookups still answer
    assert(wh.readPoint("docs", "doc_id", 42L)
      .where($"doc_id" === 42L).count() === 1L)
    wh.bloomProbeDistributedThreshold = 2048
  }

  test("point lookup on a string key skips files stats never could") {
    val (wh, _) = freshTable()
    val entries = wh.loadLatest("docs")._2
    val kept = wh.pointCandidates("docs", "key", "key-999", entries)
    assert(kept.nonEmpty && kept.size <= 2, s"kept ${kept.size} files")
    val got = wh.readPoint("docs", "key", "key-999")
      .where($"key" === "key-999").as[(Long, String, String)].collect()
    assert(got.toSeq === Seq((999L, "key-999", "body of 999")))
  }

  test("absent values keep at most fpp-level files; nulls keep all") {
    val (wh, _) = freshTable()
    val entries = wh.loadLatest("docs")._2
    // 5 absent probes: blooms may false-positive a file occasionally
    // but must never keep everything
    val keptCounts = (1 to 5).map(i =>
      wh.pointCandidates("docs", "key", s"nope-$i", entries).size)
    assert(keptCounts.sum <= entries.size, s"absent probes kept $keptCounts")
    assert(wh.readPoint("docs", "key", "absent-key")
      .where($"key" === "absent-key").count() === 0L)
    // blooms never attest nulls — a null probe cannot skip
    assert(wh.pointCandidates("docs", "key", null, entries).size
      === entries.size)
  }

  test("bloom spec validation fails fast on unsupported column types") {
    intercept[IllegalArgumentException] {
      Warehouse.TableSpec(
        StructType(Seq(StructField("ts", TimestampType))),
        bloomColumns = Seq("ts"))
    }
    intercept[IllegalArgumentException] {
      Warehouse.TableSpec(docSchema, partitionBy = Seq("key"),
        bloomColumns = Seq("key"))
    }
  }

  test("type-mismatched probes keep ALL files (never a wrong skip)") {
    val (wh, _) = freshTable()
    val entries = wh.loadLatest("docs")._2
    // Int probe on a StringType bloom column: the caller's coercing
    // predicate col("key") === 999 could still match rows, so the probe
    // must not be long-encoded against a string-encoded bloom (which
    // would skip nearly everything) — it must keep all files.
    assert(wh.pointCandidates("docs", "key", 999, entries).size
      === entries.size)
    // String probe on a LongType column: same rule, keep all.
    assert(wh.pointCandidates("docs", "doc_id", "42", entries).size
      === entries.size)
    // Fractional probe on an integral column: must not truncate to 42
    // and stat-prune/bloom-probe with it — keep all.
    assert(wh.pointCandidates("docs", "doc_id", 42.9, entries).size
      === entries.size)
    // Widening integral probe on a long column still skips normally.
    assert(wh.pointCandidates("docs", "doc_id", 42, entries).size <= 2)
  }

  test("non-bloom columns fall back to stat pruning only") {
    val (wh, _) = freshTable()
    val entries = wh.loadLatest("docs")._2
    assert(wh.pointCandidates("docs", "body", "body of 7", entries).size
      === entries.size)
  }

  test("DML rewrites refresh sidecars; vacuum collects orphans") {
    val (wh, dir) = freshTable()
    // delete rewrites every file containing a multiple of 4 (= all);
    // new files get new sidecars, old sidecars become garbage
    wh.delete("docs", $"doc_id" % 4 === 0)
    val entries = wh.loadLatest("docs")._2
    val kept = wh.pointCandidates("docs", "doc_id", 41L, entries)
    assert(kept.nonEmpty && kept.size <= 2)
    assert(wh.readPoint("docs", "doc_id", 40L)
      .where($"doc_id" === 40L).count() === 0L)
    // reopen from _meta alone: bloom config survives the round-trip
    val re = Warehouse.open(spark, dir)
    assert(re.pointCandidates("docs", "key", "key-41", entries).size <= 2)
    re.vacuum("docs", keepManifests = 1)
    // every surviving sidecar belongs to a live file
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = re.loadLatest("docs")._2.size
    val sidecars = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/docs/_bloomidx")).length
    assert(sidecars === live * 2, s"$sidecars sidecars for $live files")
  }

  test("a sidecar is sized to its file's rows, not the table's, and " +
    "keeps absent-key false positives within bloomFpp") {
    val dir = Files.createTempDirectory("graft-bloom-").toString
    // the default table-wide sizing: 1,000,000 expected items
    val wh = new Warehouse(spark, dir, specs = Map("docs" ->
      Warehouse.TableSpec(docSchema, bloomColumns = Seq("doc_id"),
        bloomFpp = 0.01)))
    wh.bootstrap()
    val n = 300
    wh.append("docs", (0 until n).map(i => (i.toLong, s"key-$i", "b"))
      .toDF("doc_id", "key", "body").coalesce(1))
    val files = wh.loadLatest("docs")._2
    assert(files.map(_.rows) === Seq(n.toLong))
    import org.apache.spark.util.sketch.BloomFilter
    val fileSized = new java.io.ByteArrayOutputStream()
    BloomFilter.create(n.toLong, 0.01 / 2).writeTo(fileSized)
    val path = new org.apache.hadoop.fs.Path(s"$dir/docs/" +
      Warehouse.Sidecars.bloomDirName + "/" +
      Warehouse.Sidecars.bloomName(files.head.rel, "doc_id"))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getFileStatus(path).getLen === fileSized.size.toLong)
    val in = fs.open(path)
    val bloom = try BloomFilter.readFrom(in) finally in.close()
    assert((0 until n).forall(i => bloom.mightContainLong(i.toLong)))
    val absent = 100000
    val hits = (0 until absent).count(i => bloom.mightContainLong(n + i))
    assert(hits.toDouble / absent <= 0.01, s"$hits false positives")
  }
}
