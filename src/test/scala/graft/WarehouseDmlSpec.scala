package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import graft.pipeline.Warehouse

/** Row-level DML through the versioned manifest: predicate DELETE and
  * UPDATE (file-targeted copy-on-write, SQL three-valued predicate
  * semantics, crash-safe in both commit windows), schema evolution via
  * addColumn, and optimistic-concurrency resolution of commuting
  * appends.
  */
class WarehouseDmlSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  /** 3 partitions × 4 rows; b_star_drag null on norad 4 (the null-
    * predicate rows), distinct mean_motion per (day, norad).
    */
  private def mkBase() = (1 to 3).flatMap { d =>
    Seq(1, 2, 3, 4).map { n =>
      (n, ts(f"2026-01-0${d}T0$n:00:00Z"), ts("2026-02-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, d * 10.0 + n,
        if (n == 4) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(0.1 * n),
        100 * d + n, java.sql.Date.valueOf(f"2026-01-0$d"))
    }
  }.toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
    "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
    "b_star_drag", "rev_number", "epoch_date")

  private def freshTable(): (Warehouse, String) = {
    val dir = Files.createTempDirectory("graft-dml-").toString
    val wh = new Warehouse(spark, dir)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase())
    (wh, dir)
  }

  private def state(wh: Warehouse) = wh.read("fact_telemetry")
    .select($"norad_id", $"epoch_utc", $"mean_motion", $"rev_number")
    .as[(Int, Timestamp, Double, Int)].collect().toSet

  test("delete removes exactly the TRUE-predicate rows; null keeps") {
    val (wh, _) = freshTable()
    // b_star_drag > 0.15 is TRUE for norad 2,3, FALSE for 1, NULL for 4:
    // SQL DELETE semantics keep both FALSE and NULL rows
    val n = wh.delete("fact_telemetry",
      col("b_star_drag") > 0.15 && col("epoch_date") === "2026-01-02")
    assert(n === 2L)
    val left = state(wh)
    assert(left.size === 10)
    assert(left.count(_._2.toString.startsWith("2026-01-02")) === 2)
    assert(left.exists(r => r._1 == 1 && r._4 == 201)) // FALSE row kept
    assert(left.exists(r => r._1 == 4 && r._4 == 204)) // NULL row kept
  }

  test("delete rewrites only files containing matches") {
    val (wh, _) = freshTable()
    val before = wh.loadLatest("fact_telemetry")._2
    wh.delete("fact_telemetry", col("epoch_date") === "2026-01-02")
    val after = wh.loadLatest("fact_telemetry")._2
    // untouched partitions keep their EXACT manifest entries (same file
    // names, bytes, stats): no rewrite amplification outside the match
    def others(es: Seq[Warehouse.FileEntry]) =
      es.filterNot(_.rel.contains("epoch_date=2026-01-02")).toSet
    assert(others(after) === others(before))
    // the matched partition's files are gone entirely (all rows matched)
    assert(after.forall(!_.rel.contains("epoch_date=2026-01-02")))
  }

  test("delete with zero matches is a commit-free no-op") {
    val (wh, _) = freshTable()
    val v0 = wh.versions("fact_telemetry").last
    assert(wh.delete("fact_telemetry", col("norad_id") === 999) === 0L)
    assert(wh.versions("fact_telemetry").last === v0)
  }

  test("delete crash in both windows leaves a consistent table") {
    // before the manifest rename: old state intact, rerun completes
    val (wh, dir) = freshTable()
    val before = state(wh)
    wh.crashPoint = Some("after-write")
    intercept[IllegalStateException] {
      wh.delete("fact_telemetry", col("norad_id") === 1)
    }
    wh.crashPoint = None
    val reopened = new Warehouse(spark, dir)
    assert(state(reopened) === before)
    assert(reopened.vacuum("fact_telemetry") >= 1L)
    assert(reopened.delete("fact_telemetry", col("norad_id") === 1) === 3L)
    assert(state(reopened).forall(_._1 != 1))

    // after the rename: new state fully published, orphans collectable
    val (wh2, dir2) = freshTable()
    wh2.crashPoint = Some("after-commit")
    intercept[IllegalStateException] {
      wh2.delete("fact_telemetry", col("norad_id") === 1)
    }
    wh2.crashPoint = None
    val re2 = new Warehouse(spark, dir2)
    assert(state(re2).forall(_._1 != 1))
    assert(re2.vacuum("fact_telemetry", keepManifests = 1) >= 1L)
    assert(state(re2).forall(_._1 != 1))
  }

  test("update rewrites matched rows against their OLD values") {
    val (wh, _) = freshTable()
    val n = wh.update("fact_telemetry",
      col("b_star_drag").isNull,
      Map("rev_number" -> (col("rev_number") + 1000),
        "mean_motion" -> lit(0.0)))
    assert(n === 3L) // norad 4 in each of 3 partitions
    val rows = state(wh)
    assert(rows.size === 12)
    assert(rows.filter(_._1 == 4).map(_._4) === Set(1104, 1204, 1304))
    assert(rows.filter(_._1 == 4).forall(_._3 == 0.0))
    // unmatched rows bit-unchanged
    assert(rows.exists(r => r._1 == 2 && r._3 == 12.0 && r._4 == 102))
  }

  test("update refuses partition columns and unknown columns") {
    val (wh, _) = freshTable()
    intercept[IllegalArgumentException] {
      wh.update("fact_telemetry", lit(true),
        Map("epoch_date" -> lit("2026-02-01")))
    }
    intercept[IllegalArgumentException] {
      wh.update("fact_telemetry", lit(true), Map("nope" -> lit(1)))
    }
  }

  test("update refreshes manifest stats for rewritten files") {
    val (wh, _) = freshTable()
    wh.update("fact_telemetry",
      col("epoch_date") === "2026-01-01",
      Map("norad_id" -> (col("norad_id") + 50)))
    // the rewritten partition's footer stats must reflect the NEW values
    // (51..54), or stat-based skipping would wrongly prune them
    val jan1 = wh.loadLatest("fact_telemetry")._2
      .filter(_.rel.contains("epoch_date=2026-01-01"))
    assert(jan1.nonEmpty)
    val (lo, hi) = jan1.head.stats("norad_id")
    assert(lo === 51L && hi === 54L)
    assert(wh.readRange("fact_telemetry", "norad_id", 51, 54).count() === 4)
  }

  test("addColumn surfaces NULL for old rows, values for new appends") {
    val (wh, dir) = freshTable()
    wh.addColumn("fact_telemetry",
      StructField("data_source", StringType, nullable = true))
    // evolved schema visible through a METADATA reopen (no specs in code)
    val re = Warehouse.open(spark, dir)
    assert(re.tables("fact_telemetry").fieldNames.contains("data_source"))
    assert(re.read("fact_telemetry").where($"data_source".isNull)
      .count() === 12)
    val extra = Seq((9, ts("2026-01-04T00:00:00Z"),
      ts("2026-02-01T00:00:00Z"), 1.0, 2.0, 3.0, 4.0, 5.0, 9.0, 0.9, 9,
      java.sql.Date.valueOf("2026-01-04"), "celestrak"))
      .toDF(re.tables("fact_telemetry").fieldNames.toIndexedSeq: _*)
    re.append("fact_telemetry", extra)
    val byNull = re.read("fact_telemetry")
      .groupBy($"data_source".isNull.as("isOld")).count()
      .as[(Boolean, Long)].collect().toMap
    assert(byNull(true) === 12L && byNull(false) === 1L)
    // non-nullable or duplicate additions fail fast
    intercept[IllegalArgumentException] {
      re.addColumn("fact_telemetry",
        StructField("x", LongType, nullable = false))
    }
    intercept[IllegalArgumentException] {
      re.addColumn("fact_telemetry",
        StructField("data_source", StringType))
    }
  }

  test("concurrent blind appends auto-resolve the manifest race") {
    val (wh, dir) = freshTable()
    val other = new Warehouse(spark, dir)
    val extra1 = mkBase().where($"epoch_date" === "2026-01-01")
      .withColumn("norad_id", $"norad_id" + 10)
    val extra2 = mkBase().where($"epoch_date" === "2026-01-01")
      .withColumn("norad_id", $"norad_id" + 20)
    // interleave: after wh staged its files, `other` commits first —
    // wh's first commit attempt hits the version conflict and must
    // re-attach its files onto the new head
    wh.beforeCommit = Some(() => other.append("fact_telemetry", extra2))
    wh.append("fact_telemetry", extra1)
    wh.beforeCommit = None
    val ids = state(wh).map(_._1)
    assert(Set(11, 12, 13, 14).subsetOf(ids), s"lost wh's batch: $ids")
    assert(Set(21, 22, 23, 24).subsetOf(ids), s"lost other's batch: $ids")
    // both commits are distinct manifest versions
    assert(new Warehouse(spark, dir).versions("fact_telemetry").size === 4)
  }

  test("restore rolls back to a prior version as a new commit") {
    val dir = Files.createTempDirectory("graft-restore-").toString
    val wh = new Warehouse(spark, dir, retainReplaced = true)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase())
    val before = state(wh)
    val preDelete = wh.versions("fact_telemetry").last
    wh.delete("fact_telemetry", col("norad_id") === 1)
    val deleted = wh.versions("fact_telemetry").last
    assert(state(wh).forall(_._1 != 1))
    wh.restore("fact_telemetry", preDelete)
    assert(state(wh) === before)
    // history preserved: the deleted state is still time-travel readable
    assert(wh.readVersion("fact_telemetry", deleted)
      .where($"norad_id" === 1).count() === 0L)
    // restore is a COMMIT, not a history rewrite
    assert(wh.versions("fact_telemetry").last > deleted)
    intercept[IllegalArgumentException] {
      wh.restore("fact_telemetry", 999L)
    }
    // eager-GC mode: the pre-delete files are gone, restore fails fast
    val dir2 = Files.createTempDirectory("graft-restore2-").toString
    val wh2 = new Warehouse(spark, dir2)
    wh2.bootstrap()
    wh2.append("fact_telemetry", mkBase())
    val v2 = wh2.versions("fact_telemetry").last
    wh2.delete("fact_telemetry", col("epoch_date") === "2026-01-02")
    intercept[IllegalArgumentException] {
      wh2.restore("fact_telemetry", v2)
    }
  }

  test("mergeInto applies conditional delete/update/insert clauses") {
    val (wh, _) = freshTable()
    val day2 = java.sql.Date.valueOf("2026-01-02")
    def srcRow(n: Int, mm: Double, rev: Int) =
      (n, ts(f"2026-01-02T$n%02d:00:00Z"), ts("2026-03-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, mm, 0.5, rev, day2)
    val source = Seq(
      srcRow(1, -1.0, 0),    // matched, mm<0  -> DELETE
      srcRow(2, 50.0, 999),  // matched, rev=999 -> UPDATE rev
      srcRow(3, 60.0, 555),  // matched, neither clause -> untouched
      srcRow(9, 9.0, 100),   // unmatched, rev<900 -> INSERT
      srcRow(10, 10.0, 950)  // unmatched, rev>=900 -> dropped
    ).toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
      "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
      "b_star_drag", "rev_number", "epoch_date")
    wh.mergeInto("fact_telemetry", source, Seq("norad_id", "epoch_utc"),
      matchedDelete = Some(col("src_mean_motion") < 0),
      matchedUpdate = Some((Some(col("src_rev_number") === 999),
        Map("rev_number" -> col("src_rev_number")))),
      notMatchedInsert = Some(Some(col("rev_number") < 900)))
    val rows = state(wh)
    assert(rows.size === 12) // 12 - 1 deleted + 1 inserted
    val day2Rows = rows.filter(_._2.toString.startsWith("2026-01-02"))
    assert(!day2Rows.exists(_._1 == 1), "delete clause missed")
    assert(day2Rows.exists(r => r._1 == 2 && r._4 == 999), "update missed")
    assert(day2Rows.exists(r => r._1 == 3 && r._4 == 203 && r._3 == 23.0),
      "conditional update must not touch non-matching rows")
    assert(day2Rows.exists(r => r._1 == 9 && r._4 == 100), "insert missed")
    assert(!rows.exists(_._1 == 10), "insert condition ignored")
    // untouched partitions' rows bit-unchanged
    assert(rows.count(_._2.toString.startsWith("2026-01-01")) === 4)
    assert(wh.history("fact_telemetry").last._2("op") === "mergeInto")
  }

  test("mergeInto NOT MATCHED BY SOURCE: file-targeted delete/update of " +
    "unmatched rows, untouched files keep their manifest entries") {
    val (wh, _) = freshTable()
    val day2 = java.sql.Date.valueOf("2026-01-02")
    // source touches day-2 only (norads 1 and 2 match there)
    val source = Seq(
      (1, ts("2026-01-02T01:00:00Z"), ts("2026-03-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, 50.0, 0.5, 901, day2),
      (2, ts("2026-01-02T02:00:00Z"), ts("2026-03-01T00:00:00Z"),
        1.0, 2.0, 3.0, 4.0, 5.0, 60.0, 0.5, 902, day2)
    ).toDF("norad_id", "epoch_utc", "fetched_at_utc", "inclination",
      "raan", "eccentricity", "arg_perigee", "mean_anomaly", "mean_motion",
      "b_star_drag", "rev_number", "epoch_date")
    val before = wh.loadLatest("fact_telemetry")._2
    // by-source clauses aim at day-3 rows ONLY: day-1 has no candidate
    // row, so its files must survive bit-identical (entry-identical)
    wh.mergeInto("fact_telemetry", source, Seq("norad_id", "epoch_utc"),
      matchedUpdate = Some((None,
        Map("rev_number" -> col("src_rev_number")))),
      bySourceDelete = Some(col("rev_number") === 303),
      bySourceUpdate = Some((Some(col("rev_number") === 301),
        Map("mean_motion" -> (col("mean_motion") + 1000)))))
    val rows = state(wh)
    assert(rows.size === 11) // one by-source delete
    val day2Rows = rows.filter(_._2.toString.startsWith("2026-01-02"))
    assert(day2Rows.exists(r => r._1 == 1 && r._4 == 901), "matched update")
    assert(day2Rows.exists(r => r._1 == 2 && r._4 == 902), "matched update")
    // unmatched day-2 rows fail both by-source conditions -> untouched
    assert(day2Rows.exists(r => r._1 == 3 && r._4 == 203 && r._3 == 23.0))
    val day3Rows = rows.filter(_._2.toString.startsWith("2026-01-03"))
    assert(!day3Rows.exists(_._1 == 3), "by-source delete missed (rev 303)")
    assert(day3Rows.exists(r => r._1 == 1 && r._3 == 1031.0),
      "by-source update missed (rev 301: 31.0 + 1000)")
    assert(day3Rows.exists(r => r._1 == 2 && r._3 == 32.0),
      "by-source clauses must not touch non-matching unmatched rows")
    // day-1 contains no by-source candidate: its manifest entries are
    // EXACTLY the pre-merge ones (no rewrite happened there)
    val after = wh.loadLatest("fact_telemetry")._2
    val day1Before = before.filter(_.rel.contains("2026-01-01")).toSet
    assert(day1Before.nonEmpty)
    assert(day1Before.subsetOf(after.toSet),
      "files without by-source candidates must not be rewritten")
    // empty source + unconditional by-source DELETE clears the table
    // (every row is unmatched) - the Delta anti-sync idiom
    wh.mergeInto("fact_telemetry", source.where(lit(false)),
      Seq("norad_id", "epoch_utc"), bySourceDelete = Some(lit(true)))
    assert(wh.read("fact_telemetry").isEmpty)
  }

  test("registerViews exposes a consistent SQL snapshot") {
    // retention mode: the stale view's files must survive the delete
    // below (eager GC would remove them — the readVersion rule)
    val dir = Files.createTempDirectory("graft-views-").toString
    val wh = new Warehouse(spark, dir, retainReplaced = true)
    wh.bootstrap()
    wh.append("fact_telemetry", mkBase())
    wh.registerViews()
    assert(spark.sql(
      "SELECT count(*) FROM wh_fact_telemetry").head().getLong(0) === 12L)
    // snapshot semantics: a later delete is invisible until re-register
    wh.delete("fact_telemetry", col("norad_id") === 1)
    assert(spark.sql(
      "SELECT count(*) FROM wh_fact_telemetry").head().getLong(0) === 12L)
    wh.registerViews()
    assert(spark.sql(
      "SELECT count(*) FROM wh_fact_telemetry WHERE norad_id = 1")
      .head().getLong(0) === 0L)
  }

  test("history records each commit's operation and counts") {
    val (wh, dir) = freshTable()
    wh.delete("fact_telemetry", col("norad_id") === 1)
    wh.update("fact_telemetry", col("norad_id") === 2,
      Map("rev_number" -> lit(0)))
    val h = wh.history("fact_telemetry").toMap
    assert(h(1L)("op") === "bootstrap")
    assert(h(2L)("op") === "append")
    assert(h(3L)("op") === "delete" && h(3L)("numRowsDeleted") === "3")
    assert(h(4L)("op") === "update" && h(4L)("numRowsUpdated") === "3")
    // the metadata line is part of the committed manifest — a reopened
    // handle reads the identical history
    assert(new Warehouse(spark, dir).history("fact_telemetry").toMap === h)
  }

  test("disjoint-partition merges interleave without caller retry") {
    val (wh, dir) = freshTable()
    val other = new Warehouse(spark, dir)
    // wh merges day 1; mid-flight (files staged, before its commit) a
    // second writer merges day 3 — disjoint partition footprints, so
    // BOTH must commit, wh via automatic rebase
    val day1 = mkBase().where($"epoch_date" === "2026-01-01")
      .withColumn("rev_number", lit(111))
    val day3 = mkBase().where($"epoch_date" === "2026-01-03")
      .withColumn("rev_number", lit(333))
    wh.beforeCommit = Some(() => {
      other.mergeInto("fact_telemetry", day3,
        Seq("norad_id", "epoch_utc"),
        matchedUpdate = Some((None,
          Map("rev_number" -> col("src_rev_number")))))
    })
    wh.mergeInto("fact_telemetry", day1, Seq("norad_id", "epoch_utc"),
      matchedUpdate = Some((None,
        Map("rev_number" -> col("src_rev_number")))))
    wh.beforeCommit = None
    val rows = state(new Warehouse(spark, dir))
    assert(rows.count(_._4 == 111) === 4, "rebased day-1 merge lost")
    assert(rows.count(_._4 == 333) === 4, "interleaved day-3 merge lost")
    assert(rows.count(r => r._2.toString.startsWith("2026-01-02")
      && r._4 < 300) === 4, "untouched partition changed")
    // both commits are in history, merge after merge
    assert(wh.history("fact_telemetry").takeRight(2)
      .map(_._2("op")) === Seq("mergeInto", "mergeInto"))
  }

  test("overlapping-partition merges still fail fast") {
    val (wh, dir) = freshTable()
    val other = new Warehouse(spark, dir)
    val day1a = mkBase().where($"epoch_date" === "2026-01-01")
      .withColumn("rev_number", lit(111))
    val day1b = mkBase().where($"epoch_date" === "2026-01-01")
      .withColumn("rev_number", lit(222))
    wh.beforeCommit = Some(() => {
      other.mergeInto("fact_telemetry", day1b,
        Seq("norad_id", "epoch_utc"),
        matchedUpdate = Some((None,
          Map("rev_number" -> col("src_rev_number")))))
    })
    intercept[Warehouse.CommitConflict] {
      wh.mergeInto("fact_telemetry", day1a, Seq("norad_id", "epoch_utc"),
        matchedUpdate = Some((None,
          Map("rev_number" -> col("src_rev_number")))))
    }
    wh.beforeCommit = None
    // the interleaved writer's state won; the loser left no trace
    assert(state(new Warehouse(spark, dir)).count(_._4 == 222) === 4)
  }

  test("merge rebase rejects a concurrent append INTO its footprint") {
    val (wh, dir) = freshTable()
    val other = new Warehouse(spark, dir)
    // foreign append lands new rows in day 1 — the partition the merge
    // read — so the merge's anti-join/update ran against stale data and
    // must NOT silently rebase over it
    val extra = mkBase().where($"epoch_date" === "2026-01-01")
      .withColumn("norad_id", $"norad_id" + 10)
    wh.beforeCommit = Some(() => other.append("fact_telemetry", extra))
    intercept[Warehouse.CommitConflict] {
      wh.mergeInto("fact_telemetry",
        mkBase().where($"epoch_date" === "2026-01-01")
          .withColumn("rev_number", lit(111)),
        Seq("norad_id", "epoch_utc"),
        matchedUpdate = Some((None,
          Map("rev_number" -> col("src_rev_number")))))
    }
    wh.beforeCommit = None
    assert(state(new Warehouse(spark, dir)).count(_._1 == 11) === 1)
  }

  test("compact rebases over any commit that leaves its files live") {
    val (wh, dir) = freshTable()
    // fragment day 1 so compact has work
    (1 to 3).foreach { i =>
      wh.append("fact_telemetry",
        mkBase().where($"epoch_date" === "2026-01-01")
          .withColumn("norad_id", $"norad_id" + 20 * i))
    }
    val other = new Warehouse(spark, dir)
    val extra = mkBase().where($"epoch_date" === "2026-01-02")
      .withColumn("norad_id", $"norad_id" + 100)
    wh.beforeCommit = Some(() => other.append("fact_telemetry", extra))
    val (rewritten, _, _) = wh.compact("fact_telemetry",
      targetBytes = 1L << 30)
    wh.beforeCommit = None
    assert(rewritten >= 1, "compaction had nothing to do")
    // both the compaction and the interleaved append are present
    val rows = state(new Warehouse(spark, dir))
    assert(rows.count(_._1 > 100) === 4, "interleaved append lost")
    assert(rows.size === 12 + 12 + 4, "compaction dropped rows")
  }

  test("overwrite fails fast on ANY concurrent commit (whole-table footprint)") {
    val (wh, dir) = freshTable()
    val other = new Warehouse(spark, dir)
    val extra = mkBase().where($"epoch_date" === "2026-01-02")
      .withColumn("norad_id", $"norad_id" + 100)
    wh.beforeCommit = Some(() => other.append("fact_telemetry", extra))
    intercept[Warehouse.CommitConflict] {
      wh.overwrite("fact_telemetry",
        mkBase().where($"epoch_date" === "2026-01-01"))
    }
    wh.beforeCommit = None
    // the overwrite never landed; the concurrent append did
    val rows = state(new Warehouse(spark, dir))
    assert(rows.size === 12 + 4)
    assert(rows.count(_._1 > 100) === 4)
    // and it re-runs cleanly against the new head
    wh.overwrite("fact_telemetry",
      mkBase().where($"epoch_date" === "2026-01-01"))
    assert(state(new Warehouse(spark, dir)).size === 4)
  }

  test("read-modify ops fail fast on a concurrent commit") {
    val (wh, dir) = freshTable()
    val other = new Warehouse(spark, dir)
    val extra = mkBase().where($"epoch_date" === "2026-01-01")
      .withColumn("norad_id", $"norad_id" + 10)
    wh.beforeCommit = Some(() => other.append("fact_telemetry", extra))
    intercept[Warehouse.CommitConflict] {
      wh.delete("fact_telemetry", col("norad_id") === 1)
    }
    wh.beforeCommit = None
    // nothing committed by the failed delete; the concurrent append is in
    val reopened = new Warehouse(spark, dir)
    assert(state(reopened).count(_._1 == 1) === 3)
    assert(state(reopened).count(_._1 == 11) === 1)
    // and the delete re-runs cleanly against the new head
    assert(reopened.delete("fact_telemetry", col("norad_id") === 1) === 3L)
  }

  test("a write that ends in CommitConflict reclaims its staged files") {
    val (wh, dir) = freshTable()
    val other = new Warehouse(spark, dir)
    def orphans = wh.fsck("fact_telemetry").filter(_._2 == "orphan-file")
    assert(orphans.isEmpty)
    val day1 = mkBase().where($"epoch_date" === "2026-01-01")
    var n = 0
    // each write races a foreign append into day 1
    wh.beforeCommit = Some(() => {
      n += 1
      other.append("fact_telemetry",
        day1.withColumn("norad_id", $"norad_id" + 10 * n))
    })
    try {
      intercept[Warehouse.CommitConflict] {
        wh.delete("fact_telemetry", col("norad_id") === 1)
      }
      assert(orphans.isEmpty, "the failed delete left its files behind")
      intercept[Warehouse.CommitConflict] {
        wh.merge("fact_telemetry", day1.withColumn("rev_number", lit(111)),
          Seq("norad_id", "epoch_utc"))
      }
      assert(orphans.isEmpty, "the failed merge left its files behind")
    } finally wh.beforeCommit = None
  }

  test("partition-scoped OPTIMIZE compacts only the WHERE-matched " +
      "dirs; a non-partition predicate fails analysis") {
    val (wh, _) = freshTable()
    // fragment every partition: 4 more single-file appends per day
    (1 to 4).foreach { i =>
      wh.append("fact_telemetry",
        mkBase().withColumn("norad_id", $"norad_id" + i * 100).coalesce(1))
    }
    val before = wh.read("fact_telemetry").inputFiles.length
    def filesIn(day: String) = wh.read("fact_telemetry")
      .inputFiles.count(_.contains(s"epoch_date=$day"))
    val f1 = filesIn("2026-01-01")
    assert(f1 >= 5)
    val rowsBefore = wh.read("fact_telemetry").count()
    // scope: only day 1 compacts
    val (nParts, _, _) = wh.compact("fact_telemetry",
      partitionWhere = Some($"epoch_date" === "2026-01-01"))
    assert(nParts === 1)
    assert(filesIn("2026-01-01") === 1)
    assert(filesIn("2026-01-02") === f1) // untouched
    assert(wh.read("fact_telemetry").count() === rowsBefore)
    // SQL route with WHERE + the day-2/3 remainder
    wh.registerSql("opt_")
    val r = spark.sql(
      "OPTIMIZE opt_fact_telemetry WHERE epoch_date >= '2026-01-02'")
      .head()
    assert(r.getLong(0) === 2L)
    assert(filesIn("2026-01-02") === 1 && filesIn("2026-01-03") === 1)
    assert(wh.read("fact_telemetry").count() === rowsBefore)
    assert(wh.read("fact_telemetry").inputFiles.length < before)
    // a row-column predicate cannot scope a content-invariant rewrite
    intercept[org.apache.spark.sql.AnalysisException] {
      wh.compact("fact_telemetry",
        partitionWhere = Some($"mean_motion" > 0))
    }
  }
}
