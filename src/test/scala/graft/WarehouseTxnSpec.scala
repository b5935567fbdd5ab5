package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import graft.pipeline.{PipelineConfig, TlePipeline, Warehouse}

/** Multi-table atomic commit ([[Warehouse.appendAll]]): the `_txn`
  * marker protocol must make a crash ANYWHERE between the member
  * manifests and the marker invisible (neither table advances), the
  * marker publish flip every member at once, and a dead transaction's
  * pending manifests reclaimable past the lease. Plus the pipeline's
  * EP1+EP2 pair riding it, and the clone-aware vacuum/gc/drop guards.
  */
class WarehouseTxnSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  private def dimBatch(ids: Int*) =
    ids.map(i => (i, s"SAT-$i", s"2026-00$i"))
      .toDF("norad_id", "sat_name", "intl_designator")

  private def factBatch(day: Int, ids: Int*) = ids.map { i =>
    (i, ts(f"2026-01-$day%02dT0${i % 9}:00:00Z"),
      ts("2026-02-01T00:00:00Z"), 1.0, 2.0, 3.0, 4.0, 5.0, 15.0, 0.1,
      100 + i, java.sql.Date.valueOf(f"2026-01-$day%02d"))
  }.toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
    "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
    "b_star_drag", "rev_number", "epoch_date")

  private def freshPair(): (Warehouse, String) = {
    val dir = Files.createTempDirectory("graft-txn-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    wh.append("dim_satellites", dimBatch(1))
    wh.append("fact_telemetry", factBatch(1, 1))
    (wh, dir)
  }

  test("appendAll: both tables advance together, one txn marker") {
    val (wh, dir) = freshPair()
    wh.appendAll(Seq(
      ("dim_satellites", dimBatch(2, 3), 0L),
      ("fact_telemetry", factBatch(2, 2, 3), 0L)))
    assert(wh.read("dim_satellites").count() === 3)
    assert(wh.read("fact_telemetry").count() === 3)
    // reopened warehouse sees the same confirmed state
    val re = Warehouse.open(spark, dir)
    assert(re.read("dim_satellites").count() === 3)
    assert(re.read("fact_telemetry").count() === 3)
  }

  test("appendAll crash BETWEEN member manifests: neither table " +
      "advances; the dead txn's slot is reclaimed past the lease") {
    val (wh, dir) = freshPair()
    wh.crashPoint = Some("between-manifests")
    intercept[IllegalStateException] {
      wh.appendAll(Seq(
        ("dim_satellites", dimBatch(2), 0L),
        ("fact_telemetry", factBatch(2, 2), 0L)))
    }
    wh.crashPoint = None
    // the first member's manifest IS on disk but pending → invisible,
    // in this instance and in a fresh reopen
    val re = Warehouse.open(spark, dir)
    for (w <- Seq(wh, re)) {
      assert(w.read("dim_satellites").count() === 1)
      assert(w.read("fact_telemetry").count() === 1)
      assert(w.versions("dim_satellites").size ===
        w.versions("fact_telemetry").size)
    }
    // retry on a reopened warehouse: the squatting pending manifest is
    // aborted once stale, and the retried transaction lands whole
    re.txnStaleMs = 0L
    re.appendAll(Seq(
      ("dim_satellites", dimBatch(2), 0L),
      ("fact_telemetry", factBatch(2, 2), 0L)))
    assert(re.read("dim_satellites").count() === 2)
    assert(re.read("fact_telemetry").count() === 2)
  }

  test("appendAll crash BEFORE the marker: all member manifests " +
      "published yet NOTHING is visible; plain append reclaims a slot") {
    val (wh, dir) = freshPair()
    wh.crashPoint = Some("before-marker")
    intercept[IllegalStateException] {
      wh.appendAll(Seq(
        ("dim_satellites", dimBatch(2), 0L),
        ("fact_telemetry", factBatch(2, 2), 0L)))
    }
    wh.crashPoint = None
    val re = Warehouse.open(spark, dir)
    assert(re.read("dim_satellites").count() === 1)
    assert(re.read("fact_telemetry").count() === 1)
    // a later single-table append reclaims the pending slot past the
    // lease and commits normally
    re.txnStaleMs = 0L
    re.append("dim_satellites", dimBatch(5))
    assert(re.read("dim_satellites").count() === 2)
    assert(re.read("fact_telemetry").count() === 1) // untouched
  }

  test("appendAll within the lease: a fresh pending manifest is NOT " +
      "aborted (live writers are safe from conflicting appenders)") {
    val (wh, _) = freshPair()
    wh.crashPoint = Some("before-marker")
    intercept[IllegalStateException] {
      wh.appendAll(Seq(
        ("dim_satellites", dimBatch(2), 0L),
        ("fact_telemetry", factBatch(2, 2), 0L)))
    }
    wh.crashPoint = None
    // default lease (10 min): the pending manifest must survive a
    // conflicting append's retries — the append exhausts them and fails
    // rather than killing a possibly-live transaction
    intercept[Warehouse.CommitConflict] {
      wh.append("dim_satellites", dimBatch(6))
    }
  }

  test("vacuum reclaims a txn marker only once no member retains a " +
      "manifest carrying its id; retained versions read the same") {
    val (wh, dir) = freshPair()
    wh.appendAll(Seq(
      ("dim_satellites", dimBatch(2), 0L),
      ("fact_telemetry", factBatch(2, 2), 0L)))
    val txnDir = java.nio.file.Paths.get(dir, "_meta", "_txn")
    def markers(): Set[String] = {
      val ls = Files.list(txnDir)
      try ls.toArray.map(_.toString).toSet finally ls.close()
    }
    val marker = markers()
    assert(marker.size === 1)
    val tables = Seq("dim_satellites", "fact_telemetry")
    def retained(): Map[(String, Long), Set[String]] = tables.flatMap { t =>
      wh.versions(t).takeRight(2).map(v =>
        (t, v) -> wh.readVersion(t, v).collect().map(_.toString).toSet)
    }.toMap
    // the dim moves past the txn version; the fact still holds it
    wh.append("dim_satellites", dimBatch(3))
    wh.append("dim_satellites", dimBatch(4))
    val before1 = retained()
    wh.vacuum("dim_satellites")
    assert(markers() === marker,
      "the fact's retained txn manifest still needs the marker")
    assert(retained() === before1)
    assert(Warehouse.open(spark, dir).read("fact_telemetry").count() === 2)
    // once the fact is vacuumed past it too, nothing carries the id
    wh.append("fact_telemetry", factBatch(3, 3))
    wh.append("fact_telemetry", factBatch(4, 4))
    val before2 = retained()
    wh.vacuum("fact_telemetry")
    assert(markers().isEmpty)
    assert(retained() === before2)
    val re = Warehouse.open(spark, dir)
    assert(re.read("dim_satellites").count() === 4)
    assert(re.read("fact_telemetry").count() === 4)
  }

  test("pipeline EP1+EP2 crash between the dim and fact writes: " +
      "reopened warehouse shows NEITHER; re-run completes both") {
    val dirA = Files.createTempDirectory("graft-txn-p1").toString
    val tle = Files.createTempDirectory("graft-txn-in").resolve("tle.txt")
    // two valid triples (norad 10001/10002, epochs inside the horizon)
    Files.writeString(tle,
      Seq("SAT-1",
        "1 10001U 26001A   26013.00000000  .00000000  00000-0  16538-3 0  9991",
        "2 10001  51.6400 208.9163 0006317  69.9862 290.2553 15.49185404000000",
        "SAT-2",
        "1 10002U 26001A   26013.00000000  .00000000  00000-0  16538-3 0  9992",
        "2 10002  51.6400 208.9163 0006317  69.9862 290.2553 15.49185404000000"
      ).mkString("\n"))
    val noaa = tle.resolveSibling("noaa.json")
    Files.writeString(noaa,
      """[["time_tag","f10.7"],["2026-01-13 00:00:00","135.2"]]""")
    val now = Timestamp.valueOf("2026-01-15 00:00:00")

    val p1 = new TlePipeline(spark, PipelineConfig(dirA))
    p1.warehouse.crashPoint = Some("between-manifests")
    intercept[IllegalStateException] {
      p1.run(tle.toString, noaa.toString, now)
    }
    p1.warehouse.crashPoint = None
    // weather (its own commit, before the pair) landed; the dim+fact
    // PAIR did not — neither member is visible after reopen
    val reopened = Warehouse.open(spark, dirA)
    assert(reopened.read("fact_space_weather").count() === 1)
    assert(reopened.read("dim_satellites").count() === 0)
    assert(reopened.read("fact_telemetry").count() === 0)
    // re-run on a fresh pipeline (new process): completes both
    val p2 = new TlePipeline(spark, PipelineConfig(dirA))
    p2.warehouse.txnStaleMs = 0L
    val run2 = p2.run(tle.toString, noaa.toString, now)
    assert(run2.satsNew === 2 && run2.telemetryNew === 2)
    assert(p2.warehouse.read("dim_satellites").count() === 2)
    assert(p2.warehouse.read("fact_telemetry").count() === 2)
  }

  test("vacuum/gc clone guard: source rewrite + vacuum past the cloned " +
      "version leaves the clone byte-identical; dropTable refuses") {
    val (wh, _) = freshPair()
    wh.append("fact_telemetry", factBatch(2, 2, 3))
    val snapshot = wh.read("fact_telemetry")
      .select($"norad_id", $"epoch_utc", $"rev_number")
      .as[(Int, Timestamp, Int)].collect().toSet
    wh.shallowClone("fact_telemetry", "clone_t")
    // source-side rewrite: merge replaces day-2 files eager GC would
    // normally delete — the guard must keep them (clone still borrows)
    wh.merge("fact_telemetry",
      factBatch(2, 2).withColumn("rev_number",
        org.apache.spark.sql.functions.lit(999)),
      Seq("norad_id", "epoch_utc"))
    // and vacuum to minimum retention on the source
    wh.vacuum("fact_telemetry", keepManifests = 1)
    // the clone reads its full cloned snapshot, untouched
    val cloneNow = wh.read("clone_t")
      .select($"norad_id", $"epoch_utc", $"rev_number")
      .as[(Int, Timestamp, Int)].collect().toSet
    assert(cloneNow === snapshot)
    // the source sees its own merge
    assert(wh.read("fact_telemetry")
      .where($"rev_number" === 999).count() === 1)
    // dropping the source while the clone borrows is refused, named
    val err = intercept[IllegalArgumentException] {
      wh.dropTable("fact_telemetry")
    }
    assert(err.getMessage.contains("clone_t"))
    // drop the clone → the source becomes droppable, and its lent
    // files are plain orphans the next vacuum collects
    wh.dropTable("clone_t")
    wh.dropTable("fact_telemetry")
  }

  test("SHOW CREATE TABLE round-trips the full spec (partitioning, " +
      "stats, bloom, checks)") {
    val dir = Files.createTempDirectory("graft-txn-sct").toString
    val wh = new Warehouse(spark, dir,
      specs = Map.empty[String, Warehouse.TableSpec])
    wh.registerSql("sct_")
    spark.sql("""CREATE TABLE sct_docs (
        doc_id BIGINT,
        source STRING,
        score DOUBLE,
        day DATE
      ) PARTITIONED BY (day) STATS BY (doc_id)
        BLOOM BY (source) ITEMS 5000 FPP 0.01""")
    spark.sql(
      "ALTER TABLE sct_docs ADD CONSTRAINT score_range CHECK (score >= 0)")
    val stmt = spark.sql("SHOW CREATE TABLE sct_docs")
      .head().getString(0)
    val original = wh.tableSpec("docs")
    spark.sql("DROP TABLE sct_docs")
    // replay the emitted statements verbatim → identical TableSpec
    stmt.split(";\n").foreach(spark.sql(_))
    assert(wh.tableSpec("docs") === original)
    // and SHOW CREATE of the re-created table emits the same DDL
    assert(spark.sql("SHOW CREATE TABLE sct_docs")
      .head().getString(0) === stmt)
    graft.sql.WarehouseSql.unregister(spark)
  }
}
