package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{PipelineConfig, TlePipeline, Warehouse}
import graft.streaming.StreamingIngest

/** One workload of the benchmark. The engine sees only the generated
  * inputs; the workload keeps its own model of what every output must be
  * and checks each one through [[Tracer.check]].
  */
trait Workload {
  /** Build the seeded inputs shared by every set-up (untimed). */
  def generate(spark: SparkSession, dir: String): Unit
  /** Fresh state on a fresh session: bootstrap, base load, model reset. */
  def setup(spark: SparkSession, tr: Tracer, dir: String): Unit
  /** One closed-loop step: the operation and its interleaved reads. */
  def step(i: Long, tr: Tracer): Unit
  def finalCheck(tr: Tracer): Unit
  /** Sum of the head versions of every warehouse table the workload owns. */
  def commits(): Long
  def warehouseDirs: Seq[String]
  def liveRows(): Long
  def teardown(): Unit = ()
  /** Steps after which the mix of operations repeats. The timed loop runs
    * whole cycles, so every run times the same mix whatever the phase it
    * starts at, and a traced run flips its traced phase every cycle.
    */
  def cycleSteps: Int = 1
}

object Workloads {
  val names: Seq[String] = Seq("tle_etl", "docs_stream", "wh_dml")

  def apply(name: String, seed: Long, size: String, wrong: Boolean): Workload = {
    val tiny = size == "tiny"
    // --wrong-expect shifts every expected count by one, so each check
    // must fail: the smoke test uses it to prove failures are reported
    val bias = if (wrong) 1L else 0L
    name match {
      case "tle_etl" => new TleEtl(seed, if (tiny) 300 else 10000, bias)
      case "docs_stream" => new DocsStream(seed, if (tiny) 30 else 200, bias)
      case "wh_dml" => new WhDml(seed, if (tiny) 100 else 800, bias)
    }
  }

  private[perfbench] def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 1000003L)

  private[perfbench] def versionSum(wh: Warehouse, tables: Seq[String]): Long =
    tables.map(t => wh.versions(t).lastOption.getOrElse(0L)).sum

  private[perfbench] def rowSum(wh: Warehouse, tables: Seq[String]): Long =
    tables.map(t => wh.metaRowCount(t).getOrElse(0L)).sum

  private[perfbench] def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }
}

// ====================================================================
// tle_etl: the paper's own traffic, one TlePipeline.run per 8-hour cycle
// ====================================================================

/** Each cycle lands a single-file TLE payload for the whole catalog plus a
  * NOAA JSON document. Two thirds of the satellites repeat the previous
  * cycle's epoch, 1% of the records are malformed, and a few satellites
  * are new each cycle. The model is the set of (norad_id, epoch) keys the
  * warehouse must hold.
  */
final class TleEtl(seed: Long, sats: Int, bias: Long) extends Workload {
  private val yearStartMicros = 1767225600000000L // 2026-01-01T00:00:00Z
  private val baseMicros = yearStartMicros + 59L * 86400000000L // Mar 1
  private val cycleMicros = 8L * 3600000000L
  private var dir: String = _
  private var inputs: String = _
  private var pipeline: TlePipeline = _
  private var wh: Warehouse = _
  // model
  private var cycle = 0
  private val catalog = mutable.ArrayBuffer[Int]()
  private val lastEpoch = mutable.HashMap[Int, Long]() // norad → epoch units
  private val keys = mutable.HashSet[(Int, Long)]()
  private val dims = mutable.HashSet[Int]()
  private val days = mutable.HashSet[Int]()
  private var last: Option[(String, String, Timestamp, Long)] = None
  private val tables = Seq("dim_satellites", "fact_telemetry", "fact_space_weather")

  def generate(s: SparkSession, d: String): Unit = inputs = d

  def setup(s: SparkSession, tr: Tracer, d: String): Unit = {
    dir = d
    cycle = 0; catalog.clear(); lastEpoch.clear(); keys.clear(); dims.clear()
    days.clear(); last = None
    catalog ++= (0 until sats).map(k => 40000 + k)
    pipeline = new TlePipeline(s, PipelineConfig(s"$d/wh"))
    wh = pipeline.warehouse
  }

  /** Epoch units are 1e-8 day since Jan 1 (the TLE day-of-year field). */
  private def epochString(u: Long): String =
    f"26${u / 100000000L + 1}%03d.${u % 100000000L}%08d"
  private def epochMicros(u: Long): Long = yearStartMicros +
    math.floor((epochString(u).substring(2).toDouble - 1) * 86400000000.0).toLong

  /** Write cycle `c`'s payloads; returns paths, expected counts and bytes. */
  private def land(c: Int): (String, String, Timestamp, Array[Long]) = {
    val r = Workloads.rng(seed, c)
    val fetched = baseMicros + c * cycleMicros
    val newSats = if (c == 0) 0 else math.max(1, sats / 200)
    val next = catalog.lastOption.getOrElse(39999) + 1
    catalog ++= (0 until newSats).map(next + _)
    val sb = new StringBuilder
    var records, parsed, fresh, satsNew = 0L
    val batchDims = mutable.HashSet[Int]()
    catalog.foreach { norad =>
      val u = lastEpoch.get(norad) match {
        case Some(prev) if c > 0 && r.nextInt(3) < 2 => prev
        case _ => (fetched - yearStartMicros - r.nextLong(6L * 3600000000L)) / 864L
      }
      lastEpoch(norad) = u
      val bad = r.nextInt(100) == 0
      val id = if (bad) "XXXXX" else f"$norad%05d"
      sb.append(f"STARLINK-$norad\n")
      sb.append(f"1 ${id}U 26${norad % 1000}%03dA   ${epochString(u)}  .00000000  00000-0  ${10000 + norad % 89999}%05d-4 0  9991\n")
      sb.append(f"2 $id ${53 + norad % 40}%3d.${norad % 10000}%04d ${norad % 360}%3d.0000 ${norad * 101 % 10000000}%07d ${norad % 360}%3d.0000 ${norad * 7 % 360}%3d.0000 15.${norad * 2654435761L % 100000000L}%08d${c % 100000}%05d\n")
      records += 1
      if (!bad) {
        parsed += 1
        if (keys.add((norad, u))) fresh += 1
        if (!dims.contains(norad) && batchDims.add(norad)) satsNew += 1
      }
    }
    dims ++= batchDims
    val fetchedDay = ((fetched - yearStartMicros) / 86400000000L).toInt
    val weather = (fetchedDay - 29 to fetchedDay).map { d =>
      val date = java.time.LocalDate.of(2026, 1, 1).plusDays(d.toLong)
      (d, s"""["$date 00:00","${100 + (d * 37 + seed) % 150}.5"]""")
    }
    val weatherNew = weather.count { case (d, _) => days.add(d) }
    val tle = s"$inputs/tle-$cycle.txt"
    val noaa = s"$inputs/noaa-$cycle.json"
    new File(inputs).mkdirs()
    Files.writeString(Paths.get(tle), sb.toString)
    Files.writeString(Paths.get(noaa), weather.map(_._2)
      .mkString("""[["time_tag","f10.7"],""", ",", "]"))
    val bytes = new File(tle).length + new File(noaa).length
    (tle, noaa, new Timestamp(fetched / 1000L),
      Array(records, parsed, fresh, satsNew, weatherNew.toLong, bytes))
  }

  /** Newest state per satellite over the last 24 h, joined to the
    * satellite dimension: (rows, sum of latest epoch micros).
    */
  private def newestState(now: Timestamp) = {
    val cutoff = new Timestamp(now.getTime - 86400000L)
    wh.read("fact_telemetry")
      .where(col("epoch_date") >= to_date(lit(cutoff)) &&
        col("epoch_utc") > lit(cutoff))
      .groupBy("norad_id").agg(max("epoch_utc").as("latest"),
        max_by(col("mean_motion"), col("epoch_utc")).as("mean_motion"))
      .join(wh.read("dim_satellites"), "norad_id")
      .agg(count(lit(1)), coalesce(sum(unix_micros(col("latest"))), lit(0L)))
  }

  private def expectedNewest(now: Timestamp): (Long, Long) = {
    val cutoff = now.getTime * 1000L - 86400000000L
    val latest = mutable.HashMap[Int, Long]()
    keys.foreach { case (n, u) =>
      val m = epochMicros(u)
      if (m > cutoff && dims.contains(n)) latest(n) = math.max(latest.getOrElse(n, m), m)
    }
    (latest.size.toLong, latest.values.sum)
  }

  def step(i: Long, tr: Tracer): Unit = {
    val (tle, noaa, fetched, e) = land(cycle)
    cycle += 1
    last = Some((tle, noaa, fetched, e(0)))
    val run = tr.op(i, "tle_etl.cycle") {
      tr.call("TlePipeline.run")(pipeline.run(tle, noaa, fetched))
    }
    tr.rows += e(0)
    tr.note("fs.input_bytes", e(5).toDouble)
    tr.note("ingest.records_per_cycle", run.tleParsed.toDouble)
    tr.note("ingest.drop_frac", 1.0 - run.tleParsed.toDouble / e(0))
    tr.note("dedup.fresh_frac", run.telemetryNew.toDouble / math.max(1L, run.tleParsed))
    tr.check(run.tleParsed == e(1) + bias, s"cycle $i parsed ${run.tleParsed}, expected ${e(1) + bias}")
    tr.check(run.telemetryNew == e(2) + bias, s"cycle $i telemetry ${run.telemetryNew}, expected ${e(2) + bias}")
    tr.check(run.satsNew == e(3), s"cycle $i satellites ${run.satsNew}, expected ${e(3)}")
    tr.check(run.weatherNew == e(4), s"cycle $i weather ${run.weatherNew}, expected ${e(4)}")
    val row = tr.readOp(i, "tle_etl.newest_state") {
      tr.collect("Warehouse.read", "wh.read_s", newestState(fetched))
    }.head
    val (n, s) = expectedNewest(fetched)
    tr.check(row.getLong(0) == n + bias && row.getLong(1) == s,
      s"cycle $i newest state (${row.getLong(0)}, ${row.getLong(1)}), expected (${n + bias}, $s)")
  }

  def finalCheck(tr: Tracer): Unit = {
    val total = wh.read("fact_telemetry").count()
    tr.check(total == keys.size + bias, s"telemetry rows $total, expected ${keys.size + bias}")
    // replaying the last payload is the idempotency fixpoint: zero rows
    last.foreach { case (tle, noaa, fetched, _) =>
      val again = pipeline.run(tle, noaa, fetched)
      tr.check(again.telemetryNew == bias && again.satsNew == 0 &&
        again.weatherNew == 0, s"replay added rows: $again")
    }
  }

  def commits(): Long = Workloads.versionSum(wh, tables)
  def warehouseDirs: Seq[String] = Seq(s"$dir/wh")
  def liveRows(): Long = Workloads.rowSum(wh, tables)
}

// ====================================================================
// docs_stream: one small landed file per epoch, deduped on arrival
// ====================================================================

/** Each operation lands one parquet file of `perFile` documents and
  * drains it with one AvailableNow run of the streaming dedupe into one
  * long-lived warehouse and signature index. A document's text is a
  * function of its group alone and distinct groups share no shingle, so
  * signature dedup equals group dedup: the model is the set of groups
  * seen and the first (smallest) doc id of each.
  */
final class DocsStream(seed: Long, perFile: Int, bias: Long) extends Workload {
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("grp", IntegerType), StructField("text", StringType)))
  private var spark: SparkSession = _
  private var dir: String = _
  private var wh: Warehouse = _
  private var nextDoc = 0L
  private val firstDoc = mutable.LinkedHashMap[Int, Long]()

  def generate(s: SparkSession, d: String): Unit = ()

  /** Every epoch adds one file per index partition (16), and the index is
    * compacted once it holds 64 (the `dedupeOnArrivalStream` defaults), so
    * one epoch in four also pays for a compaction.
    */
  override def cycleSteps: Int = 4

  def setup(s: SparkSession, tr: Tracer, d: String): Unit = {
    spark = s; dir = d
    nextDoc = 0L; firstDoc.clear()
    wh = new Warehouse(s, s"$d/wh", specs = Map("acc" -> Warehouse.TableSpec(schema)))
    wh.bootstrap()
    new File(s"$d/landing").mkdirs()
  }

  /** Write epoch `i`'s file to staging; returns (file, rows, accepted).
    * A doc repeats a group accepted in an earlier epoch (30%), repeats a
    * group first seen earlier in this file (30%), or opens a new group.
    */
  private def stage(i: Long): (File, Int, Int) = {
    val r = Workloads.rng(seed, 100 + i)
    val seen = firstDoc.keys.toIndexedSeq
    val inFile = mutable.ArrayBuffer[Int]()
    val rows = (0 until perFile).map { _ =>
      val u = r.nextInt(10)
      val g =
        if (u < 3 && seen.nonEmpty) seen(r.nextInt(seen.size))
        else if (u < 6 && inFile.nonEmpty) inFile(r.nextInt(inFile.size))
        else { inFile += firstDoc.size + inFile.size; inFile.last }
      nextDoc += 1
      Row(nextDoc, g, (1 to 6).map(k => s"w${k}g$g").mkString(" "))
    }
    inFile.foreach(g => firstDoc(g) = rows.find(_.getInt(1) == g).get.getLong(0))
    val out = s"$dir/staging-$i"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(out)
    val part = new File(out).listFiles.filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).head
    (part, rows.size, inFile.size)
  }

  def step(i: Long, tr: Tracer): Unit = {
    val (file, n, fresh) = stage(i)
    val bytes = file.length
    val q = tr.op(i, "docs_stream.epoch") {
      Files.move(file.toPath, Paths.get(s"$dir/landing/epoch-$i.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      tr.call("StreamingIngest.dedupeOnArrivalStream") {
        val q = StreamingIngest.dedupeOnArrivalStream(spark, s"$dir/landing",
          schema, wh, "acc", "sig_idx", s"$dir/ckpt")
        q.awaitTermination()
        q
      }
    }
    Workloads.deleteTree(new File(s"$dir/staging-$i"))
    tr.check(q.exception.isEmpty, s"epoch $i stream failed: ${q.exception}")
    tr.rows += n
    tr.note("fs.input_bytes", bytes.toDouble)
    tr.note("stream.accepted_frac", fresh.toDouble / n)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    def d(k: String) = progress.map(p => Option(p.durationMs.get(k))
      .map(_.longValue).getOrElse(0L)).sum.toDouble
    tr.note("stream.trigger_ms", d("triggerExecution"))
    tr.note("stream.add_batch_ms", d("addBatch"))
    tr.note("stream.wal_commit_ms", d("walCommit"))
    tr.note("stream.latest_offset_ms", d("latestOffset"))
    tr.note("stream.planning_ms", d("queryPlanning"))
    val accepted = wh.metaRowCount("acc").getOrElse(-1L)
    tr.check(accepted == firstDoc.size + bias,
      s"epoch $i accepted $accepted docs, expected ${firstDoc.size + bias}")
    // three point reads per epoch: the newest accepted doc and two
    // earlier ones, so the read median rests on enough samples
    val groups = firstDoc.keys.toIndexedSeq
    val r = Workloads.rng(seed, 200 + i)
    Seq(groups.last, groups(r.nextInt(groups.size)), groups(r.nextInt(groups.size)))
      .foreach { g =>
        val id = firstDoc(g)
        val rows = tr.readOp(i, "docs_stream.point_read") {
          tr.collect("Warehouse.readPoint", "wh.point_read_s",
            wh.readPoint("acc", "doc_id", id).where(col("doc_id") === id))
        }
        tr.check(rows.length == 1 && rows.head.getInt(1) == g,
          s"epoch $i point read of doc $id: ${rows.mkString(",")}")
      }
  }

  def finalCheck(tr: Tracer): Unit = {
    val acc = wh.read("acc")
    val r = acc.agg(count(lit(1)), countDistinct("grp"), sum("doc_id")).head
    val want = (firstDoc.size.toLong + bias, firstDoc.size.toLong, firstDoc.values.sum)
    tr.check((r.getLong(0), r.getLong(1), r.getLong(2)) == want,
      s"accepted (rows, groups, id sum) = ${(r.getLong(0), r.getLong(1), r.getLong(2))}, expected $want")
  }

  def commits(): Long = Workloads.versionSum(wh, Seq("acc", "sig_idx"))
  def warehouseDirs: Seq[String] = Seq(s"$dir/wh")
  def liveRows(): Long = Workloads.rowSum(wh, Seq("acc", "sig_idx"))
}

// ====================================================================
// wh_dml: one SQL statement per op against a constrained star schema
// ====================================================================

/** A star schema that declares PK (norad_id, epoch_utc), FK norad_id →
  * dim_satellites and a CHECK, driven through the SQL surface. The mix
  * holds MERGE correction batches that favour the newest days, UPDATE,
  * retention DELETE as the clock advances, INSERT batches with one planted
  * PK collision (must be rejected whole), periodic OPTIMIZE and VACUUM,
  * and reads: point lookups by norad_id and VERSION AS OF time travel.
  * The model holds every live row; mean_motion values are multiples of
  * 1/16, so sums are exact in double arithmetic.
  */
final class WhDml(seed: Long, sats: Int, bias: Long) extends Workload {
  private val days = 8
  private val day0 = 1772323200000000L // 2026-03-01T00:00:00Z in micros
  private val dayMicros = 86400000000L
  private var spark: SparkSession = _
  private var dir: String = _
  private var wh: Warehouse = _
  // model: (norad, epoch micros) → (rev, mean motion in 1/16)
  private val live = mutable.HashMap[(Int, Long), (Int, Long)]()
  private val snapshots = mutable.LinkedHashMap[Long, (Long, Long)]()
  private var today = 0
  private var seq = 0L
  private var rejections = 0L
  private val factSchema = StructType(Seq(
    StructField("norad_id", IntegerType, nullable = false),
    StructField("epoch_utc", TimestampType, nullable = false),
    StructField("fetched_at_utc", TimestampType),
    StructField("inclination", DoubleType), StructField("raan", DoubleType),
    StructField("eccentricity", DoubleType), StructField("arg_perigee", DoubleType),
    StructField("mean_anomaly", DoubleType), StructField("mean_motion", DoubleType),
    StructField("b_star_drag", DoubleType), StructField("rev_number", IntegerType),
    StructField("epoch_date", DateType)))
  private val dimSchema = StructType(Seq(
    StructField("norad_id", IntegerType, nullable = false),
    StructField("sat_name", StringType), StructField("intl_designator", StringType)))

  def generate(s: SparkSession, d: String): Unit = ()

  private def row(norad: Int, epoch: Long, rev: Int, mm16: Long): Row = {
    val ts = new Timestamp(epoch / 1000L)
    Row(norad, ts, ts, 53.0, 0.0, 0.0001, 0.0, 0.0, mm16 / 16.0, null, rev,
      java.sql.Date.valueOf(ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate))
  }
  private def df(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), factSchema)

  def setup(s: SparkSession, tr: Tracer, d: String): Unit = {
    spark = s; dir = d
    live.clear(); snapshots.clear(); today = days - 1; seq = 0L; rejections = 0L
    wh = new Warehouse(s, s"$d/wh", retainReplaced = true, specs = Map(
      "dim_satellites" -> Warehouse.TableSpec(dimSchema,
        statColumns = Seq("norad_id"), primaryKey = Seq("norad_id")),
      "fact_telemetry" -> Warehouse.TableSpec(factSchema,
        partitionBy = Seq("epoch_date"), statColumns = Seq("norad_id", "epoch_utc"),
        primaryKey = Seq("norad_id", "epoch_utc"),
        foreignKeys = Seq(Warehouse.ForeignKey(Seq("norad_id"), "dim_satellites",
          Seq("norad_id"))),
        checks = Map("mean_motion_positive" -> "mean_motion > 0"))))
    wh.bootstrap()
    wh.append("dim_satellites", s.createDataFrame(s.sparkContext.parallelize(
      (0 until sats).map(k => Row(40000 + k, s"STARLINK-$k", s"26${k % 1000}A")), 2),
      dimSchema))
    val base = for (dd <- 0 until days; k <- 0 until sats) yield {
      val key = (40000 + k, day0 + dd * dayMicros + k * 7000000L)
      val v = (k % 1000 + dd, 240L + k % 32)
      live(key) = v
      row(key._1, key._2, v._1, v._2)
    }
    wh.append("fact_telemetry", df(base))
    wh.registerSql("wh_")
    snapshot()
  }

  private def snapshot(): Unit = {
    val v = wh.versions("fact_telemetry").max
    if (!snapshots.contains(v))
      snapshots(v) = (live.size.toLong, live.values.map(_._1.toLong).sum)
  }

  private def recentKeys(r: SplittableRandom, n: Int): Seq[(Int, Long)] = {
    val lo = day0 + (today - 1) * dayMicros
    val recent = live.keys.filter(_._2 >= lo).toIndexedSeq.sortBy(k => (k._2, k._1))
    (0 until n).map(_ => recent(r.nextInt(recent.size))).distinct
  }
  private def freshKey(r: SplittableRandom): (Int, Long) = {
    seq += 1
    (40000 + r.nextInt(sats), day0 + today * dayMicros + dayMicros / 2 + seq * 1000L)
  }
  private def dateLit(dd: Int): String =
    java.time.LocalDate.of(2026, 3, 1).plusDays(dd.toLong).toString

  /** One step is one DML or maintenance statement followed by reads.
    * Statements follow a fixed 8-step cycle: six MERGE batches, one UPDATE
    * or INSERT with a planted collision (alternating), and one maintenance
    * statement that rotates through retention DELETE, OPTIMIZE and VACUUM.
    * Every step then reads two point lookups, and every second step one
    * time-travel read. A fixed mix gives every run the same share of each
    * kind (the seed picks keys and values), and the majority kind sets each
    * median: a MERGE for `op_p50_s`, a point lookup for `read_p50_s`.
    */
  private val ops = Vector("merge", "merge", "merge", "write", "merge",
    "merge", "merge", "maintenance")
  private val maintenance = Vector("delete", "optimize", "vacuum")
  override def cycleSteps: Int = ops.size

  def step(i: Long, tr: Tracer): Unit = {
    val r = Workloads.rng(seed, 7 + i)
    val cycle = i / ops.size
    val kind = ops((i % ops.size).toInt) match {
      case "maintenance" => maintenance((cycle % maintenance.size).toInt)
      case "write" => if (cycle % 2 == 0) "update" else "insert"
      case k => k
    }
    def exec(sql: String) = tr.op(i, s"wh_dml.$kind") {
      tr.call(s"sql.$kind", s"wh.${kind}_s")(spark.sql(sql).collect())
    }
    if (kind == "delete") {
      today += 1
      val cut = today - days + 1
      exec(s"DELETE FROM wh_fact_telemetry WHERE epoch_date < DATE'${dateLit(cut)}'")
      live.keys.filter(_._2 < day0 + cut * dayMicros).toSeq.foreach(live.remove)
    } else if (kind == "optimize") {
      exec("OPTIMIZE wh_fact_telemetry")
    } else if (kind == "vacuum") {
      exec("VACUUM wh_fact_telemetry RETAIN 20 VERSIONS")
    } else if (kind == "merge") {
      val upd = recentKeys(r, 120)
      val ins = (0 until 30).map(_ => freshKey(r))
      val batch = upd.map(k => (k, (live(k)._1 + 1, 200L + r.nextInt(64)))) ++
        ins.map(k => (k, (r.nextInt(1000), 200L + r.nextInt(64))))
      df(batch.map { case (k, v) => row(k._1, k._2, v._1, v._2) })
        .createOrReplaceTempView("src_merge")
      tr.rows += batch.size
      tr.note("fs.input_bytes", batch.size * 100.0)
      exec("""MERGE INTO wh_fact_telemetry t USING src_merge s
        ON t.norad_id = s.norad_id AND t.epoch_utc = s.epoch_utc
        WHEN MATCHED THEN UPDATE SET mean_motion = s.mean_motion, rev_number = s.rev_number
        WHEN NOT MATCHED THEN INSERT *""")
      batch.foreach { case (k, v) => live(k) = v }
    } else if (kind == "update") {
      val norad = 40000 + r.nextInt(sats)
      val from = today - 2
      exec(s"UPDATE wh_fact_telemetry SET rev_number = rev_number + 1 " +
        s"WHERE norad_id = $norad AND epoch_date >= DATE'${dateLit(from)}'")
      live.keys.filter(k => k._1 == norad && k._2 >= day0 + from * dayMicros)
        .toSeq.foreach(k => live(k) = (live(k)._1 + 1, live(k)._2))
    } else if (kind == "insert") {
      val fresh = (0 until 40).map(_ => freshKey(r))
      val clash = recentKeys(r, 1).head
      df((fresh :+ clash).map(k => row(k._1, k._2, 1, 240L)))
        .createOrReplaceTempView("src_insert")
      tr.rows += fresh.size + 1
      tr.note("fs.input_bytes", (fresh.size + 1) * 100.0)
      val before = wh.versions("fact_telemetry").max
      val err = tr.op(i, "wh_dml.insert") {
        tr.call("sql.insert", "wh.insert_s") {
          try { spark.sql("INSERT INTO wh_fact_telemetry SELECT * FROM src_insert").collect(); None }
          catch { case e: Throwable => Some(e) }
        }
      }
      def isPk(t: Throwable): Boolean = t != null &&
        (t.isInstanceOf[Warehouse.PrimaryKeyViolation] || isPk(t.getCause))
      tr.check(err.exists(isPk), s"op $i planted PK collision was not rejected: $err")
      tr.check(wh.versions("fact_telemetry").max == before,
        s"op $i rejected insert committed a version")
      if (err.exists(isPk)) rejections += 1
    }
    snapshot()
    read(i, "point_read", r, tr)
    read(i, "point_read", r, tr)
    if (i % 2 == 1) read(i, "time_travel", r, tr)
  }

  private def read(i: Long, kind: String, r: SplittableRandom, tr: Tracer): Unit =
    if (kind == "point_read") {
      val norad = 40000 + r.nextInt(sats)
      val got = tr.readOp(i, "wh_dml.point_read") {
        tr.collect("sql.point_read", "wh.point_read_s", spark.sql(
          s"SELECT count(*), coalesce(sum(rev_number), 0), coalesce(sum(mean_motion), 0) " +
          s"FROM wh_fact_telemetry WHERE norad_id = $norad"))
      }.head
      val mine = live.filter(_._1._1 == norad).values
      val want = (mine.size.toLong + bias, mine.map(_._1.toLong).sum, mine.map(_._2).sum / 16.0)
      tr.check((got.getLong(0), got.getLong(1), got.getDouble(2)) == want,
        s"op $i point read of $norad: $got, expected $want")
    } else {
      val vs = snapshots.keys.toIndexedSeq.takeRight(10)
      val v = vs(r.nextInt(vs.size))
      val got = tr.readOp(i, "wh_dml.time_travel") {
        tr.collect("sql.time_travel", "wh.time_travel_s", spark.sql(
          s"SELECT count(*), coalesce(sum(rev_number), 0) FROM wh_fact_telemetry VERSION AS OF $v"))
      }.head
      val want = snapshots(v)
      tr.check((got.getLong(0), got.getLong(1)) == (want._1 + bias, want._2),
        s"op $i VERSION AS OF $v: $got, expected $want")
    }

  def finalCheck(tr: Tracer): Unit = {
    val got = spark.sql("SELECT count(*), sum(rev_number), sum(mean_motion), " +
      "sum(norad_id) FROM wh_fact_telemetry").head
    val want = (live.size.toLong + bias, live.values.map(_._1.toLong).sum,
      live.values.map(_._2).sum / 16.0, live.keysIterator.map(_._1.toLong).sum)
    tr.check((got.getLong(0), got.getLong(1), got.getDouble(2), got.getLong(3)) == want,
      s"final fact table $got, expected $want")
  }

  def commits(): Long = Workloads.versionSum(wh, Seq("dim_satellites", "fact_telemetry"))
  def warehouseDirs: Seq[String] = Seq(s"$dir/wh")
  def liveRows(): Long = Workloads.rowSum(wh, Seq("dim_satellites", "fact_telemetry"))
  override def teardown(): Unit = graft.sql.WarehouseSql.unregister(spark)
}
