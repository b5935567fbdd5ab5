package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.schema.Schemas
import graft.streaming.StreamingIngest

/** Streaming semantics (§2.11): bounded-state dedup must match the batch
  * anti-join result for in-watermark data, AvailableNow must drain and
  * stop, and event-time windows must close on watermark.
  */
class StreamingSpec extends SparkSpec {

  private def telemetryRow(norad: Int, epoch: String): Row = Row(
    norad, Timestamp.valueOf(epoch), Timestamp.valueOf("2026-01-15 00:00:00"),
    53.0, 203.0, 0.0001, 85.0, 274.0, 15.06, null, 338)

  private def writeBatch(dir: String, rows: Seq[Row]): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.factTelemetry)
      .coalesce(1).write.mode("append").parquet(dir)

  test("dropDuplicatesWithinWatermark dedups like the batch anti-join") {
    val root = Files.createTempDirectory("graft-stream")
    val (src, tgt, ckp) = (s"$root/src", s"$root/tgt", s"$root/ckp")

    // batch 1: two distinct keys + one intra-batch duplicate
    writeBatch(src, Seq(
      telemetryRow(1, "2026-01-14 00:00:00"),
      telemetryRow(1, "2026-01-14 00:00:00"), // dup within batch
      telemetryRow(2, "2026-01-14 06:00:00")))
    StreamingIngest.telemetryStream(spark, src, tgt, ckp)
      .awaitTermination()
    assert(spark.read.parquet(tgt).count() === 2)

    // batch 2: replay of key (1, 14:00) within watermark + one new key —
    // the replay must be dropped by checkpointed state across restarts
    writeBatch(src, Seq(
      telemetryRow(1, "2026-01-14 00:00:00"), // cross-batch duplicate
      telemetryRow(3, "2026-01-14 12:00:00")))
    StreamingIngest.telemetryStream(spark, src, tgt, ckp)
      .awaitTermination()

    val out = spark.read.parquet(tgt)
    assert(out.count() === 3)
    assert(out.select("norad_id").distinct().count() === 3)

    // equivalence with the batch formulation: anti-join dedup over the
    // full source yields the same key set
    val batchDedup = spark.read.schema(Schemas.factTelemetry).parquet(src)
      .dropDuplicates("norad_id", "epoch_utc")
    assert(batchDedup.count() === 3)
  }

  test("foreachBatch dim upsert is idempotent across stream restarts") {
    val root = Files.createTempDirectory("graft-stream-dim")
    val (src, wh) = (s"$root/src", s"$root/wh")
    import spark.implicits._
    val warehouse = new graft.pipeline.Warehouse(spark, wh)
    warehouse.bootstrap()
    Seq((1, "SAT-1", "19074A"), (1, "SAT-1", "19074A"), (2, "SAT-2", "19074B"))
      .toDF("norad_id", "sat_name", "intl_designator")
      .coalesce(1).write.mode("append").parquet(src)
    StreamingIngest.dimUpsertStream(spark, src, s"$root/ckp", warehouse)
      .awaitTermination()
    assert(warehouse.read("dim_satellites").count() === 2)

    // second file: one known id (skipped by the anti-join) + one new
    Seq((2, "SAT-2b", "x"), (3, "SAT-3", "19074C"))
      .toDF("norad_id", "sat_name", "intl_designator")
      .coalesce(1).write.mode("append").parquet(src)
    StreamingIngest.dimUpsertStream(spark, src, s"$root/ckp", warehouse)
      .awaitTermination()
    val dim = warehouse.read("dim_satellites")
    assert(dim.count() === 3)
    // the original SAT-2 row survived; the replay did not overwrite it
    assert(dim.where("norad_id = 2 AND sat_name = 'SAT-2'").count() === 1)
  }

  test("dedupe-on-arrival stream equals the batch keep-first dedup and " +
      "shares ONE persisted signature index with the batch maintainer") {
    val root = Files.createTempDirectory("graft-stream-cur")
    val src = s"$root/src"
    import spark.implicits._
    import org.apache.spark.sql.types._
    def docs(rows: (Long, String)*) = rows.toSeq
      .toDF("doc_id", "text")
    val schema = docs((0L, "")).schema
    val wh = new graft.pipeline.Warehouse(spark, s"$root/wh",
      specs = Map("acc" -> graft.pipeline.Warehouse.TableSpec(
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))))
    wh.bootstrap()
    def run(): Unit = StreamingIngest.dedupeOnArrivalStream(
      spark, src, schema, wh, "acc", "sig_idx", s"$root/ckp")
      .awaitTermination()

    // batch 1: in-batch duplicates (4 dups 1, 6 dups 2) — keep-first
    docs(1L -> "alpha bravo charlie delta echo",
         2L -> "foxtrot golf hotel india juliet",
         3L -> "kilo lima mike november oscar",
         4L -> "alpha bravo charlie delta echo",
         5L -> "papa quebec romeo sierra tango",
         6L -> "foxtrot golf hotel india juliet")
      .coalesce(1).write.mode("append").parquet(src)
    run()
    assert(wh.read("acc").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 2L, 3L, 5L))

    // batch 2 (restart from checkpoint): cross-batch dups (7 dups 3,
    // 9 dups 1) are dropped by the persisted index; new docs pass
    docs(7L -> "kilo lima mike november oscar",
         8L -> "uniform victor whiskey xray yankee",
         9L -> "alpha bravo charlie delta echo",
         10L -> "zulu one two three four")
      .coalesce(1).write.mode("append").parquet(src)
    run()
    val streamed = wh.read("acc").select("doc_id").as[Long]
      .collect().sorted
    assert(streamed === Array(1L, 2L, 3L, 5L, 8L, 10L))

    // equality with the BATCH form of the same ladder: exact dedup
    // keep-first by doc_id over the full corpus
    val all = spark.read.parquet(src)
    val batchKept = graft.ext.NearDup.exact(all, "text", Seq(col("doc_id")))
      .select("doc_id").as[Long].collect().sorted
    assert(streamed === batchKept)
    // ONE shared index: one signature row per accepted doc, bit-equal
    // to what the batch maintainer would derive from the accepted table
    val idxSigs = wh.read("sig_idx").select("doc_id", "sig")
      .as[(Long, Seq[Long])].collect().toMap
    assert(idxSigs.keySet === streamed.toSet)
    val batchSigs = graft.pipeline.IndexStore.minhashRows(
        wh.read("acc"), "doc_id", "text", 3, 16, 16)
      .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(idxSigs === batchSigs)
    // the streamed epochs stamped refreshMinhash's own watermark
    // ledger: a batch refresh right after is a WATERMARK NO-OP (no new
    // index commit — nothing is re-signed)
    val nIdxVersions = wh.versions("sig_idx").size
    graft.pipeline.IndexStore.refreshMinhash(wh, "acc", "sig_idx",
      "doc_id", "text", n = 3, numHashes = 16, nParts = 16)
    assert(wh.versions("sig_idx").size === nIdxVersions,
      "batch refresh after streaming must be a watermark no-op")
    // and the probe surface works off the shared index
    val pairs = graft.pipeline.IndexStore.minhashProbePairs(wh, "acc",
      "sig_idx", "doc_id", "text", n = 3, numHashes = 16, numBands = 4,
      minJaccard = 1.0)
    assert(pairs.count() === 0L) // accepted set is dup-free by construction
  }

  test("streaming dedupe auto-compaction bounds the index's " +
      "one-file-per-epoch accumulation; dedup semantics and the " +
      "bloom-skipped probe survive the fold") {
    val root = Files.createTempDirectory("graft-stream-cmp")
    val src = s"$root/src"
    import spark.implicits._
    import org.apache.spark.sql.types._
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val schema = docs((0L, "")).schema
    val wh = new graft.pipeline.Warehouse(spark, s"$root/wh",
      specs = Map("acc" -> graft.pipeline.Warehouse.TableSpec(
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))))
    wh.bootstrap()
    // nParts = 2 so epochs actually share partition dirs — compaction
    // folds WITHIN partitions (the hash layout is the merge key's home)
    def run(): Unit = StreamingIngest.dedupeOnArrivalStream(
      spark, src, schema, wh, "acc", "sig_idx", s"$root/ckp",
      nParts = 2, compactAfterFiles = 3).awaitTermination()
    // 6 epochs, one new doc each (plus one cross-epoch duplicate at
    // the end) — without compaction the index would accumulate ~one
    // file per epoch
    (1 to 6).foreach { i =>
      docs(i.toLong -> s"epoch $i words alpha beta $i gamma delta")
        .coalesce(1).write.mode("append").parquet(src)
      run()
    }
    assert(wh.read("acc").count() === 6L)
    val files = wh.loadLatest("sig_idx")._2
    assert(files.size <= 4,
      s"auto-compaction must bound index files, got ${files.size}")
    // dedup across the compaction: a duplicate of epoch 2 still drops
    docs(100L -> "epoch 2 words alpha beta 2 gamma delta")
      .coalesce(1).write.mode("append").parquet(src)
    run()
    assert(wh.read("acc").count() === 6L,
      "cross-epoch duplicate must still be rejected after compaction")
    // the strict-subset probe property survives: compacted files carry
    // fresh bloom sidecars, so probeKeys still serves (and admits the
    // signature of the duplicate it just rejected)
    val sig = graft.pipeline.IndexStore.minhashRows(
      docs(100L -> "epoch 2 words alpha beta 2 gamma delta"),
      "doc_id", "text", 3, 16, 2).select("sigkey")
    val probe = wh.probeKeys("sig_idx", Seq("sigkey"), sig)
    assert(probe.isDefined, "bloom sidecars must exist after compaction")
    assert(probe.get.join(sig, Seq("sigkey"), "left_semi").count() >= 1L)
  }

  /** A fresh warehouse with a plain `acc(doc_id, text)` table and a
    * dedupe-on-arrival runner over `root/src` into `acc` + `sig_idx`.
    */
  private def dedupeFixture(prefix: String)
      : (graft.pipeline.Warehouse, Seq[(Long, String)] => Unit, () => Unit) = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory(prefix)
    val wh = new graft.pipeline.Warehouse(spark, s"$root/wh",
      specs = Map("acc" -> graft.pipeline.Warehouse.TableSpec(
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))))
    wh.bootstrap()
    def land(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$root/src")
    def run(): Unit = StreamingIngest.dedupeOnArrivalStream(spark,
      s"$root/src", wh.tables("acc"), wh, "acc", "sig_idx", s"$root/ckp",
      compactAfterFiles = 0).awaitTermination()
    (wh, land, () => run())
  }

  private def ids(wh: graft.pipeline.Warehouse, t: String): Seq[Long] = {
    import spark.implicits._
    wh.read(t).select("doc_id").as[Long].collect().toSeq.sorted
  }

  test("dedupe-on-arrival: a plain append to the accepted table between " +
      "stream runs is signed by the next batch refresh") {
    val (wh, land, run) = dedupeFixture("graft-stream-stamp")
    land(Seq(1L -> "alpha bravo charlie delta", 2L -> "echo golf hotel"))
    run()
    // a writer outside the stream: the index never sees these rows
    import spark.implicits._
    wh.append("acc", Seq(50L -> "kilo lima mike november").toDF(
      "doc_id", "text"))
    land(Seq(3L -> "oscar papa quebec romeo"))
    run()
    // the epoch after the foreign append must not stamp past it, or
    // this refresh would be a watermark no-op that never signs doc 50
    graft.pipeline.IndexStore.refreshMinhash(wh, "acc", "sig_idx",
      "doc_id", "text", n = 3, numHashes = 16, nParts = 16)
    assert(ids(wh, "sig_idx") === ids(wh, "acc"))
    assert(ids(wh, "acc") === Seq(1L, 2L, 3L, 50L))
  }

  // one dedupe epoch crashed at each commit point of its transaction,
  // then replayed from the stream checkpoint
  Seq("after-write", "between-manifests", "before-marker", "after-commit")
    .foreach { point =>
    test(s"dedupe-on-arrival epoch crashed at $point: readers see both " +
        "tables or neither; the replay converges exactly once") {
      val (wh, land, run) = dedupeFixture("graft-stream-crash")
      // 3 repeats 1: the keep-first set is {1, 2}
      land(Seq(1L -> "alpha bravo charlie delta",
        2L -> "echo golf hotel india", 3L -> "alpha bravo charlie delta"))
      graft.pipeline.IndexStore.ensureMinhashTable(wh, "acc", "sig_idx",
        "doc_id")
      wh.crashPoint = Some(point)
      val e = try intercept[org.apache.spark.sql.streaming
        .StreamingQueryException](run()) finally wh.crashPoint = None
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage)
          .contains(s"injected crash at $point")))
      val visible = if (point == "after-commit") Seq(1L, 2L) else Nil
      assert(ids(wh, "acc") === visible)
      assert(ids(wh, "sig_idx") === visible)

      run()
      assert(ids(wh, "acc") === Seq(1L, 2L))
      assert(ids(wh, "sig_idx") === Seq(1L, 2L)) // one row per doc
      // both members of the epoch's one transaction
      val mtxn = Seq("acc", "sig_idx").map(t => wh.history(t).last._2("mtxn"))
      assert(mtxn.distinct.size === 1)
      Seq("acc", "sig_idx").foreach { t =>
        val bad = wh.fsck(t).filterNot(_._1 == "info")
        assert(bad.isEmpty, s"$t: $bad")
      }
      val nIdx = wh.versions("sig_idx").size
      graft.pipeline.IndexStore.refreshMinhash(wh, "acc", "sig_idx",
        "doc_id", "text", n = 3, numHashes = 16, nParts = 16)
      assert(wh.versions("sig_idx").size === nIdx,
        "batch refresh after the replay must be a watermark no-op")
    }
  }

  test("flatMapGroupsWithState sessionization equals the batch q14 form") {
    val root = Files.createTempDirectory("graft-stream-sess")
    val (src, ckp) = (s"$root/src", s"$root/ckp")
    import spark.implicits._

    // file 1: the real events table (converted ns→timestamp by Tables);
    // file 2 (later mtime): one far-future sentinel event that pushes
    // the watermark past every real session so all of them seal.
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select($"user_id", $"ts", $"value")
    ev.coalesce(1).write.parquet(src)
    val maxTs = ev.agg(max($"ts")).as[Timestamp].head()
    Thread.sleep(1100) // distinct mtime → deterministic file order
    Seq((-1L, new Timestamp(maxTs.getTime + 200L * 86400 * 1000), 0.0))
      .toDF("user_id", "ts", "value").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema("user_id long, ts timestamp, value double")
      .option("maxFilesPerTrigger", 1) // two ordered micro-batches
      .parquet(src).as[graft.streaming.SessionEvent]
    val q = StreamingIngest
      .sessionize(stream, gapMs = 6L * 3600 * 1000, watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("sessions")
      .option("checkpointLocation", ckp)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("sessions")
      .where($"user_id" >= 0)
      .select($"user_id", $"session_start_ms", $"n_events",
        round($"total_value", 2).as("total_value"))
      .as[(Long, Long, Long, Double)].collect().toSet

    val want = SparkEntry.queries("q14_events_sessions")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("stream-stream interval join equals the batch range join") {
    val root = Files.createTempDirectory("graft-stream-ssj")
    import spark.implicits._
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val clicks = ev.where($"event_type" =!= "error")
      .select($"event_id", $"user_id", $"ts")
    val errors = ev.where($"event_type" === "error")
      .select($"user_id".as("e_user_id"), $"ts".as("e_ts"),
        $"value".as("e_value"))
    clicks.coalesce(1).write.parquet(s"$root/clicks")
    errors.coalesce(1).write.parquet(s"$root/errors")

    val cs = spark.readStream
      .schema("event_id long, user_id long, ts timestamp")
      .parquet(s"$root/clicks")
    val es = spark.readStream
      .schema("e_user_id long, e_ts timestamp, e_value double")
      .parquet(s"$root/errors")
    val q = StreamingIngest.intervalJoinStream(cs, es,
        "user_id", "e_user_id", "ts", "e_ts",
        lookback = "1 HOUR", watermark = "10 minutes")
      .select($"event_id", $"e_ts", $"e_value")
      .writeStream.format("memory").queryName("ssjoin")
      .option("checkpointLocation", s"$root/ckp")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("ssjoin")
      .as[(Long, Timestamp, Double)].collect().toSet
    val want = clicks.join(errors,
        $"user_id" === $"e_user_id" &&
          $"e_ts" >= $"ts" - expr("INTERVAL 1 HOUR") && $"e_ts" <= $"ts")
      .select($"event_id", $"e_ts", $"e_value")
      .as[(Long, Timestamp, Double)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming windowed counts close on watermark (event-time agg)") {
    val root = Files.createTempDirectory("graft-stream-w")
    val (src, ckp) = (s"$root/src", s"$root/ckp")
    import spark.implicits._
    Seq(
      ("2026-01-14 00:10:00", "click"), ("2026-01-14 00:20:00", "click"),
      ("2026-01-14 01:10:00", "click"), ("2026-01-14 09:00:00", "view"))
      .map { case (t, k) => (Timestamp.valueOf(t), k) }
      .toDF("ts", "event_type").coalesce(1)
      .write.parquet(src)

    val stream = spark.readStream
      .schema("ts timestamp, event_type string").parquet(src)
    val q = StreamingIngest.windowedCounts(
        stream, "ts", "event_type", "1 hour", "2 hours")
      .writeStream.format("memory").queryName("wincounts")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // windows more than the watermark behind the max event time (09:00)
    // are closed and emitted; the 09:00 window stays open (not emitted)
    val rows = spark.table("wincounts")
      .orderBy("window_start", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(rows.toSeq === Seq(
      ("2026-01-14 00:00:00.0", "click", 2L),
      ("2026-01-14 01:00:00.0", "click", 1L)))
  }

  test("maintained append stream keeps a materialized view fresh " +
      "across micro-batches and restarts") {
    import org.apache.spark.sql.types._
    import graft.pipeline.{MaterializedView => MV, Warehouse}
    import spark.implicits._
    val root = Files.createTempDirectory("graft-mvstream")
    val (src, ckp) = (s"$root/src", s"$root/ckp")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("grp", StringType),
      StructField("val", DoubleType)))
    val wh = new Warehouse(spark, s"$root/wh",
      specs = Map("t" -> Warehouse.TableSpec(schema)))
    wh.bootstrap()
    val vd = MV.ViewDef("t", "mv", Seq("grp"),
      Seq(MV.Count("n"), MV.Sum("val", "total"), MV.Max("val", "hi")),
      nParts = 4)
    MV.define(wh, vd)

    def rows(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"g${i % 3}", i * 0.5))
        .toDF("id", "grp", "val")
    def drain(): Unit = StreamingIngest.maintainedAppendStream(
      spark.readStream.schema(schema).parquet(src),
      ckp, "mvs", wh, "t", Seq(vd)).awaitTermination()
    def viewOk(): Unit = {
      val got = MV.read(wh, vd).select($"grp", $"n", $"total", $"hi")
        .as[(String, Long, Double, Double)].collect().toSet
      val want = wh.read("t").groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("val").as("total"),
          max("val").as("hi"))
        .as[(String, Long, Double, Double)].collect().toSet
      assert(got === want && got.nonEmpty)
    }

    rows(0, 60).coalesce(1).write.mode("append").parquet(src)
    drain()
    viewOk()
    assert(wh.read("t").count() === 60)
    // restart with more data: a new run on the same checkpoint picks up
    // only the new files; the view follows
    rows(60, 100).coalesce(1).write.mode("append").parquet(src)
    drain()
    viewOk()
    assert(wh.read("t").count() === 100)
    // replayed drain with nothing new: txn fence + watermark no-op
    val vBefore = (wh.versions("t").max, wh.versions("mv").max)
    drain()
    assert((wh.versions("t").max, wh.versions("mv").max) === vBefore)
    viewOk()
  }
}
