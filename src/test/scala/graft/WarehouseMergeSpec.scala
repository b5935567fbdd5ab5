package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.pipeline.Warehouse

/** MERGE upsert contract: matched keys replaced, unmatched inserted,
  * and — the scale property — only the partitions the update batch
  * touches are rewritten (untouched partition directories stay
  * byte-identical on disk).
  */
class WarehouseMergeSpec extends SparkSpec {

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

  private def listFiles(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap
  }

  test("merge replaces matched keys, inserts new, leaves others") {
    val dir = Files.createTempDirectory("graft-merge-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase(Seq(1, 2, 3, 4, 5)))

    val before = listFiles(s"$dir/fact_telemetry")
    assert(before.nonEmpty)

    // touch only days 2 and 4: replace (1, day2-01:00) and insert a new
    // norad 9 on day 4
    val updates = Seq(
      (1, ts("2026-01-02T01:00:00Z"), ts("2026-03-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, 99.0, 0.2, 777,
        java.sql.Date.valueOf("2026-01-02")),
      (9, ts("2026-01-04T09:00:00Z"), ts("2026-03-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, 88.0, 0.3, 888,
        java.sql.Date.valueOf("2026-01-04"))
    ).toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
      "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
      "b_star_drag", "rev_number", "epoch_date")
    wh.merge("fact_telemetry", updates, Seq("norad_id", "epoch_utc"))

    val got = wh.read("fact_telemetry")
      .select($"norad_id", $"epoch_utc", $"mean_motion", $"rev_number")
      .as[(Int, Timestamp, Double, Int)].collect()
    assert(got.length === 11) // 10 base + 1 insert
    val byKey = got.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(byKey((1, ts("2026-01-02T01:00:00Z"))) === ((99.0, 777))) // replaced
    assert(byKey((9, ts("2026-01-04T09:00:00Z"))) === ((88.0, 888))) // inserted
    assert(byKey((2, ts("2026-01-02T02:00:00Z"))) === ((17.0, 102))) // same-partition survivor
    assert(byKey((1, ts("2026-01-01T01:00:00Z"))) === ((16.0, 101))) // untouched partition

    // untouched partitions (days 1, 3, 5) keep their exact files;
    // touched ones (2, 4) were rewritten
    val after = listFiles(s"$dir/fact_telemetry")
    Seq(1, 3, 5).foreach { d =>
      val pre = before.filter(_._1.contains(f"epoch_date=2026-01-$d%02d"))
      val post = after.filter(_._1.contains(f"epoch_date=2026-01-$d%02d"))
      assert(pre === post, s"day $d was rewritten")
    }
    Seq(2, 4).foreach { d =>
      val pre = before.filter(_._1.contains(f"epoch_date=2026-01-$d%02d"))
      val post = after.filter(_._1.contains(f"epoch_date=2026-01-$d%02d"))
      assert(pre !== post, s"day $d was not rewritten")
    }
  }

  test("merge on an unpartitioned table rewrites in place") {
    val dir = Files.createTempDirectory("graft-merge-flat-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    wh.append("fact_space_weather",
      Seq(("2026-01-01", 100.0), ("2026-01-02", 101.0))
        .map { case (d, f) => (java.sql.Date.valueOf(d), f) }
        .toDF("date_utc", "f10_7_flux"))
    wh.merge("fact_space_weather",
      Seq(("2026-01-02", 201.0), ("2026-01-03", 102.0))
        .map { case (d, f) => (java.sql.Date.valueOf(d), f) }
        .toDF("date_utc", "f10_7_flux"),
      Seq("date_utc"))
    val got = wh.read("fact_space_weather")
      .as[(java.sql.Date, Double)].collect()
      .map { case (d, f) => d.toString -> f }.toMap
    assert(got === Map(
      "2026-01-01" -> 100.0, "2026-01-02" -> 201.0, "2026-01-03" -> 102.0))
  }

  test("merge with an empty update batch is a no-op") {
    val dir = Files.createTempDirectory("graft-merge-empty-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase(Seq(1)))
    val before = listFiles(s"$dir/fact_telemetry")
    wh.merge("fact_telemetry", mkBase(Seq(1)).limit(0),
      Seq("norad_id", "epoch_utc"))
    assert(listFiles(s"$dir/fact_telemetry") === before)
    assert(wh.read("fact_telemetry").count() === 2)
  }

  test("compact merges a fragmented partition, leaves tidy ones untouched") {
    val dir = Files.createTempDirectory("graft-compact-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    // day 1: five separate appends → five files in one partition dir;
    // day 2: one append → already compact
    (1 to 5).foreach(_ => wh.append("fact_telemetry",
      mkBase(Seq(1)).repartition(1)))
    wh.append("fact_telemetry", mkBase(Seq(2)).repartition(1))
    val before = wh.read("fact_telemetry").collect().toSet
    val tidyBefore = listFiles(s"$dir/fact_telemetry/epoch_date=2026-01-02")
    assert(listFiles(s"$dir/fact_telemetry/epoch_date=2026-01-01").size === 5)

    val (nParts, filesBefore, filesAfter) = wh.compact("fact_telemetry")
    assert(nParts === 1) // only the fragmented day rewrites
    assert(filesBefore === 5L && filesAfter === 1L)
    assert(listFiles(s"$dir/fact_telemetry/epoch_date=2026-01-01").size === 1)
    // tidy partition byte-untouched (same files, same mtimes)
    assert(listFiles(s"$dir/fact_telemetry/epoch_date=2026-01-02") === tidyBefore)
    // content identical
    assert(wh.read("fact_telemetry").collect().toSet === before)
    // re-running is a no-op
    assert(wh.compact("fact_telemetry") === ((0, 0L, 0L)))
  }

  test("change feed folds a stale aggregate to the merged state") {
    val dir = Files.createTempDirectory("graft-feed-").toString
    val wh = new Warehouse(spark, dir, retainReplaced = true)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase(Seq(1, 2, 3, 4, 5)))
    val checkpoint = wh.versions("fact_telemetry").last
    // stale MV materialized before the merge (eager file list)
    val mv0 = wh.read("fact_telemetry").groupBy("norad_id")
      .agg(count(lit(1)).as("n"), sum($"mean_motion").as("s"))
    val updates = Seq(
      (1, ts("2026-01-02T01:00:00Z"), ts("2026-03-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, 99.0, 0.2, 777,
        java.sql.Date.valueOf("2026-01-02")),
      (9, ts("2026-01-04T09:00:00Z"), ts("2026-03-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, 88.0, 0.3, 888,
        java.sql.Date.valueOf("2026-01-04"))
    ).toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
      "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
      "b_star_drag", "rev_number", "epoch_date")
    wh.merge("fact_telemetry", updates, Seq("norad_id", "epoch_utc"))

    val feed = wh.readChangeFeed("fact_telemetry", checkpoint)
    // net row delta is exactly the one unmatched insert
    assert(feed.agg(sum($"_change_delta")).as[Long].head() === 1L)
    // untouched partitions contribute no feed rows at all (file-level diff)
    assert(feed.where(!$"epoch_date".isin(
      java.sql.Date.valueOf("2026-01-02"),
      java.sql.Date.valueOf("2026-01-04"))).count() === 0L)

    val folded = mv0.unionByName(
        feed.groupBy("norad_id").agg(
          sum($"_change_delta").as("n"),
          sum($"mean_motion" * $"_change_delta").as("s")))
      .groupBy("norad_id").agg(sum($"n").as("n"), sum($"s").as("s"))
      .where($"n" > 0)
      .as[(Int, Long, Double)].collect()
      .map { case (id, n, s0) => id -> ((n, s0)) }.toMap
    val full = wh.read("fact_telemetry").groupBy("norad_id")
      .agg(count(lit(1)).as("n"), sum($"mean_motion").as("s"))
      .as[(Int, Long, Double)].collect()
      .map { case (id, n, s0) => id -> ((n, s0)) }.toMap
    assert(folded === full)

    // a compaction-only commit nets to zero everywhere
    val v2 = wh.versions("fact_telemetry").last
    (1 to 4).foreach(_ => wh.append("fact_telemetry",
      mkBase(Seq(1)).repartition(1)))
    val v3 = wh.versions("fact_telemetry").last
    wh.compact("fact_telemetry")
    val compactFeed = wh.readChangeFeed("fact_telemetry", v3)
    assert(compactFeed.groupBy("norad_id", "epoch_utc", "rev_number")
      .agg(sum($"_change_delta").as("d")).where($"d" =!= 0).count() === 0L)
    assert(v2 < v3) // appends really committed between the checkpoints
  }

  test("change feed fails fast when removed files were GC'd") {
    val dir = Files.createTempDirectory("graft-feed-gc-").toString
    val wh = new Warehouse(spark, dir) // eager GC
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase(Seq(1)))
    val checkpoint = wh.versions("fact_telemetry").last
    wh.merge("fact_telemetry", Seq(
      (1, ts("2026-01-01T01:00:00Z"), ts("2026-03-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, 99.0, 0.2, 777,
        java.sql.Date.valueOf("2026-01-01"))
    ).toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
      "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
      "b_star_drag", "rev_number", "epoch_date"),
      Seq("norad_id", "epoch_utc"))
    val e = intercept[IllegalArgumentException] {
      wh.readChangeFeed("fact_telemetry", checkpoint)
    }
    assert(e.getMessage.contains("retainReplaced"))
  }

  test("compact bin-packs an unpartitioned table") {
    val dir = Files.createTempDirectory("graft-compact-flat-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    val rows = Seq(
      (java.sql.Date.valueOf("2026-01-01"), 100.0),
      (java.sql.Date.valueOf("2026-01-02"), 101.0),
      (java.sql.Date.valueOf("2026-01-03"), 102.0))
      .toDF("date_utc", "f10_7_flux")
    (0 until 3).foreach(i =>
      wh.append("fact_space_weather", rows.where(col("f10_7_flux") === 100.0 + i)
        .repartition(1)))
    val before = wh.read("fact_space_weather").collect().toSet
    val (nParts, fb, fa) = wh.compact("fact_space_weather")
    // 3 appends; the bootstrap's zero-row seed never enters the manifest
    assert(nParts === 1 && fb === 3L && fa === 1L)
    assert(wh.read("fact_space_weather").collect().toSet === before)
  }

  test("a fenced merge re-checks its fence on a lost race: a zombie " +
    "epoch never rebases over its own writer's newer epoch") {
    val dir = Files.createTempDirectory("graft-merge-fence-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase(Seq(1, 2, 3)))
    val other = new Warehouse(spark, dir)
    def day(d: Int, rev: Int) = mkBase(Seq(d)).withColumn("rev_number",
      lit(rev))
    val keys = Seq("norad_id", "epoch_utc")
    // the restarted writer lands epoch 2 in day 3 while the zombie's
    // epoch-1 merge of day 1 (a disjoint partition) sits staged
    wh.beforeCommit = Some(() =>
      other.merge("fact_telemetry", day(3, 333), keys, txn = Some(("w", 2L))))
    try wh.merge("fact_telemetry", day(1, 111), keys, txn = Some(("w", 1L)))
    finally wh.beforeCommit = None
    val head = wh.history("fact_telemetry").last._2
    assert(head("txn_w") === "2", "the zombie epoch regressed the watermark")
    val revs = wh.read("fact_telemetry").select("rev_number").as[Int]
      .collect().toSeq
    assert(revs.count(_ == 333) === 2)
    assert(!revs.contains(111), "the zombie epoch landed")
  }
}
