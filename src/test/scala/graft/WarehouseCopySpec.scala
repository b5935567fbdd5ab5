package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Warehouse

/** COPY INTO ([[Warehouse.copyInto]] + the routed statement): the
  * idempotent bulk file ingest — each source file loads AT MOST once
  * across re-runs, new files load incrementally, the ledger survives
  * unrelated commits (it rides every manifest forward), PATTERN
  * globs the source-relative path, FORCE bypasses the ledger.
  */
class WarehouseCopySpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", StringType),
    StructField("val", DoubleType)))

  private def fresh(): (Warehouse, String) = {
    val dir = Files.createTempDirectory("graft-copywh-").toString
    val wh = new Warehouse(spark, dir, retainReplaced = false,
      specs = Map("t" -> Warehouse.TableSpec(schema,
        statColumns = Seq("id"))))
    wh.bootstrap()
    (wh, dir)
  }

  private def rows(from: Int, until: Int): DataFrame =
    (from until until).map(i => (i.toLong, s"g${i % 3}", i * 1.0))
      .toDF("id", "grp", "val")

  private def wave(srcDir: String, sub: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/$sub")

  test("re-runs are no-ops; new files load incrementally") {
    val (wh, _) = fresh()
    val src = Files.createTempDirectory("graft-copysrc-").toString
    wave(src, "w1", rows(0, 100))
    assert(wh.copyInto("t", src) === ((1L, 100L)))
    assert(wh.copyInto("t", src) === ((0L, 0L)))
    wave(src, "w2", rows(100, 150))
    assert(wh.copyInto("t", src) === ((1L, 50L)))
    assert(wh.read("t").count() === 150L)
    // the ledger survives an unrelated commit in between (carried
    // forward on every manifest, the txn-watermark shape)
    wh.append("t", rows(1000, 1010))
    assert(wh.copyInto("t", src) === ((0L, 0L)))
    assert(wh.read("t").count() === 160L)
  }

  test("FORCE reloads; PATTERN globs the source-relative path") {
    val (wh, _) = fresh()
    val src = Files.createTempDirectory("graft-copysrc-").toString
    wave(src, "w1", rows(0, 40))
    // a non-parquet stray that PATTERN must exclude
    java.nio.file.Files.write(
      java.nio.file.Paths.get(src, "notes.txt"),
      "not data".getBytes("UTF-8"))
    assert(wh.copyInto("t", src, pattern = "*.parquet") === ((1L, 40L)))
    assert(wh.copyInto("t", src, pattern = "*.parquet") === ((0L, 0L)))
    assert(wh.copyInto("t", src, pattern = "*.parquet", force = true)
      === ((1L, 40L)))
    assert(wh.read("t").count() === 80L)
    // Delta PATTERN semantics: the glob matches the path RELATIVE TO
    // the source dir, so a subdirectory prefix selects one wave — the
    // shape 'w2/*.parquet' that leaf-name-only matching silently missed
    val (wh2, _) = fresh()
    wave(src, "w2", rows(100, 130))
    assert(wh2.copyInto("t", src, pattern = "w2/*.parquet")
      === ((1L, 30L)))
    assert(wh2.read("t").count() === 30L)
    assert(wh2.copyInto("t", src, pattern = "w1/*.parquet")
      === ((1L, 40L)))
    assert(wh2.read("t").count() === 70L)
  }

  test("statement route: COPY INTO ... FROM ... PATTERN ... and history") {
    val (wh, _) = fresh()
    wh.registerSql("cpy_")
    val src = Files.createTempDirectory("graft-copysrc-").toString
    wave(src, "w1", rows(0, 60))
    val r = spark.sql(
      s"COPY INTO cpy_t FROM '$src' FILEFORMAT = PARQUET " +
        "PATTERN = '*.parquet'").head()
    assert(r.getLong(0) === 1L && r.getLong(1) === 60L)
    val r2 = spark.sql(s"COPY INTO cpy_t FROM '$src'").head()
    assert(r2.getLong(0) === 0L && r2.getLong(1) === 0L)
    assert(wh.history("t").last._2("op") === "copy_into")
    assert(spark.sql("SELECT count(*) FROM cpy_t").head().getLong(0) === 60L)
  }

  test("a crash between ledger write and commit re-loads cleanly") {
    val (wh, _) = fresh()
    val src = Files.createTempDirectory("graft-copysrc-").toString
    wave(src, "w1", rows(0, 30))
    wh.crashPoint = Some("after-write")
    intercept[IllegalStateException] { wh.copyInto("t", src) }
    wh.crashPoint = None
    // nothing committed; the orphaned ledger sidecar is unreferenced,
    // so the re-run loads the wave exactly once
    assert(wh.read("t").count() === 0L)
    assert(wh.copyInto("t", src) === ((1L, 30L)))
    assert(wh.read("t").count() === 30L)
    assert(wh.copyInto("t", src) === ((0L, 0L)))
  }

  test("FILEFORMAT = JSON and AVRO load with the same idempotent " +
    "ledger (avro routes to the graft-avro source)") {
    val (wh, whDir) = fresh()
    // JSON lines wave
    val srcJ = Files.createTempDirectory("graft-copyjson-").toString
    rows(0, 25).coalesce(1).write.mode("overwrite").json(s"$srcJ/w1")
    assert(wh.copyInto("t", srcJ, format = "json") === ((1L, 25L)))
    assert(wh.copyInto("t", srcJ, format = "json") === ((0L, 0L)))
    assert(wh.read("t").count() === 25L)
    // Avro container wave, written with avro-core (writer types match
    // the table schema, so coercion is identity)
    val srcA = Files.createTempDirectory("graft-copyavro-").toString
    val avroSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},{"name":"grp","type":"string"},
        |{"name":"val","type":"double"}]}""".stripMargin)
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](avroSchema))
    w.create(avroSchema, new java.io.File(srcA, "w1.avro"))
    (100 until 140).foreach { i =>
      val r = new org.apache.avro.generic.GenericData.Record(avroSchema)
      r.put("id", i.toLong); r.put("grp", s"g${i % 3}")
      r.put("val", i * 1.0)
      w.append(r)
    }
    w.close()
    assert(wh.copyInto("t", srcA, format = "avro") === ((1L, 40L)))
    assert(wh.copyInto("t", srcA, format = "avro") === ((0L, 0L)),
      "the avro ledger must be idempotent too")
    assert(wh.read("t").count() === 65L)
    assert(wh.read("t").where($"id" >= 100L).count() === 40L)
    // and through the statement surface
    wh.registerSql("cpa_")
    val r2 = spark.sql(
      s"COPY INTO cpa_t FROM '$srcA' FILEFORMAT = AVRO").head()
    assert(r2.getLong(0) === 0L, "statement re-run is a no-op")
  }

  test("AVRO into an IDENTITY table: a racing assigner forces a " +
    "reassign that re-reads through the same source, ids stay distinct") {
    val dir = Files.createTempDirectory("graft-copyid-").toString
    val spec = Warehouse.TableSpec(StructType(Seq(
      StructField("rid", LongType),
      StructField("id", LongType, nullable = false),
      StructField("grp", StringType),
      StructField("val", DoubleType))),
      identity = Some(Warehouse.Identity("rid", orderBy = Seq("id"))))
    val wh = new Warehouse(spark, dir, specs = Map("t" -> spec))
    wh.bootstrap()
    val src = Files.createTempDirectory("graft-copyavro-").toString
    val avroSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},{"name":"grp","type":"string"},
        |{"name":"val","type":"double"}]}""".stripMargin)
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](avroSchema))
    w.create(avroSchema, new java.io.File(src, "w1.avro"))
    (1 to 10).foreach { i =>
      val r = new org.apache.avro.generic.GenericData.Record(avroSchema)
      r.put("id", i.toLong); r.put("grp", s"g${i % 3}"); r.put("val", i * 1.0)
      w.append(r)
    }
    w.close()
    // a second writer appends (and assigns ids) after this copy staged
    // its rows, before its first commit attempt
    val other = Warehouse.open(spark, dir)
    var injected = false
    wh.beforeCommit = Some(() => if (!injected) {
      injected = true
      other.append("t", rows(100, 102))
    })
    try assert(wh.copyInto("t", src, format = "avro") === ((1L, 10L)))
    finally wh.beforeCommit = None
    val ids = wh.read("t").select("rid").as[Long].collect().sorted.toSeq
    assert(ids === (1L to 12L))
  }
}
