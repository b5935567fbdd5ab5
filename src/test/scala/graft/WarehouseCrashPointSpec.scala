package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Warehouse

/** Every op routed through the warehouse's one commit path (bar
  * `repairTable`, which only acknowledges external damage), crashed at
  * both of its windows:
  *   - `after-write` (files staged, manifest not published): the table
  *     reads the BEFORE state and `fsck` finds nothing worse than info
  *     (the staged files are invisible orphans);
  *   - `after-commit` (manifest published, post-commit GC not run): the
  *     table reads the AFTER state.
  * After either crash a re-run from a reopened handle converges to the
  * after state, which is what a clean run from the before state yields.
  * Appends that would double-load on a re-run carry a txn fence (the
  * streaming-sink contract); COPY INTO has its ledger.
  */
class WarehouseCrashPointSpec extends SparkSpec {
  import spark.implicits._

  private val specs = Map(
    // partitioned: merges have a footprint, compaction a per-dir target
    "t" -> Warehouse.TableSpec(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("grp", StringType),
      StructField("v", DoubleType))),
      partitionBy = Seq("grp"), statColumns = Seq("id")),
    "u" -> Warehouse.TableSpec(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType)))),
    "s" -> Warehouse.TableSpec(StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("attr", StringType),
      StructField("valid_from", TimestampType),
      StructField("valid_to", TimestampType),
      StructField("is_current", BooleanType)))))

  private def rows(ids: Seq[Int]): DataFrame =
    ids.map(i => (i.toLong, s"g${i % 2}", i * 1.0)).toDF("id", "grp", "v")

  private val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2026-02-01 00:00:00")

  private def scd(attrs: (Long, String)*): DataFrame = attrs.toDF("k", "attr")

  /** ids 1-6 over two partitions, two files per partition dir. */
  private def fresh(): (Warehouse, String) = {
    val dir = Files.createTempDirectory("graft-crashpt-").toString
    val wh = new Warehouse(spark, dir, specs = specs)
    wh.bootstrap()
    wh.append("t", rows(1 to 3))
    wh.append("t", rows(4 to 6))
    (wh, dir)
  }

  /** Per table: its rows, and the shape (rows, vectored rows) of each
    * live file — compaction and vector purges change only the latter. */
  private def state(dir: String)
      : Map[String, (Seq[String], Seq[(Long, Long)])] = {
    val wh = Warehouse.open(spark, dir)
    specs.keys.toSeq.map { t =>
      val live = wh.loadLatest(t)._2
      t -> ((if (live.isEmpty) Nil
        else wh.read(t).collect().map(_.toString).toSeq.sorted,
        live.map(e => (e.rows, e.dvRows)).sorted))
    }.toMap
  }

  private lazy val copySrc: String = {
    val src = Files.createTempDirectory("graft-crashpt-src-").toString
    rows(20 to 22).coalesce(1).write.parquet(s"$src/w1")
    src
  }

  private val fence = Some(("crash-spec", 1L))

  /** (op, extra set-up before the op's before state is taken) */
  private val cases: Seq[(String, Warehouse => Any, Warehouse => Any)] = Seq(
    ("append", _.append("t", rows(Seq(7, 8)), txn = fence), _ => ()),
    ("copyInto", _.copyInto("t", copySrc), _ => ()),
    ("appendAll", _.appendAll(Seq(("t", rows(Seq(9, 10)), 0L),
      ("u", Seq((1L, 1.0)).toDF("id", "v"), 0L)), txn = fence), _ => ()),
    ("overwrite", _.overwrite("t", rows(Seq(30, 31))), _ => ()),
    ("truncate", _.truncate("t"), _ => ()),
    ("merge", _.merge("t", rows(Seq(1, 7)).withColumn("v", lit(9.0)),
      Seq("id")), _ => ()),
    ("mergeInto", _.mergeInto("t", rows(Seq(2, 8)).withColumn("v", lit(8.0)),
      Seq("id"), matchedUpdate = Some((None, Map("v" -> col("src_v")))),
      notMatchedInsert = Some(None)), _ => ()),
    ("scdMerge", _.scdMerge("s", scd((1L, "b"), (3L, "c")), Seq("k"),
      lit(t1)), _.scdMerge("s", scd((1L, "a"), (2L, "a")), Seq("k"),
      lit(t0))),
    ("delete", _.delete("t", col("id") === 2), _ => ()),
    ("deleteKeys", _.deleteKeys("t", Seq(3L).toDF("id"), Seq("id")),
      _ => ()),
    ("update", _.update("t", col("id") === 1, Map("v" -> lit(-1.0))),
      _ => ()),
    ("deleteVectored", _.deleteVectored("t", col("id") === 4), _ => ()),
    ("updateVectored", _.updateVectored("t",
      col("id") === 5 && col("v") =!= -5.0, Map("v" -> lit(-5.0))), _ => ()),
    ("compact", _.compact("t"), _ => ()),
    ("purgeVectors", _.purgeVectors("t"),
      _.deleteVectored("t", col("id") === 6)),
    ("repartitionTable", _.repartitionTable("t", Nil), _ => ()),
    ("restore", _.restore("t", 2L), _ => ()))

  private def crashAt(wh: Warehouse, point: String,
      op: Warehouse => Any): Unit = {
    wh.crashPoint = Some(point)
    try {
      val e = intercept[IllegalStateException](op(wh))
      assert(e.getMessage === s"injected crash at $point")
    } finally wh.crashPoint = None
  }

  cases.foreach { case (label, op, prep) =>
    test(s"$label: crash after-write reads before, after-commit reads " +
        "after; re-runs converge") {
      val (wh, dir) = fresh()
      prep(wh)
      val before = state(dir)
      crashAt(wh, "after-write", op)
      assert(state(dir) === before, "after-write crash changed the table")
      specs.keys.foreach { t =>
        val bad = wh.fsck(t).filterNot(_._1 == "info")
        assert(bad.isEmpty, s"$t: $bad")
      }
      op(Warehouse.open(spark, dir))
      val after = state(dir)
      assert(after !== before, "the op changed nothing")

      val (wh2, dir2) = fresh()
      prep(wh2)
      assert(state(dir2) === before)
      crashAt(wh2, "after-commit", op)
      assert(state(dir2) === after, "after-commit crash lost the commit")
      op(Warehouse.open(spark, dir2))
      assert(state(dir2) === after, "re-run after the commit diverged")
    }
  }
}
