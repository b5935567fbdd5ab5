package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Warehouse

/** Which exception wins when one write breaks several constraints at
  * once. An op's constraint probes run concurrently, so the winner is
  * fixed by their order alone: table order (appendAll), then constraint
  * family (UNIQUE of a mergeInto's inserts, CHECK, PRIMARY KEY, UNIQUE,
  * FOREIGN KEY, RESTRICT), then declaration order, then batch check
  * before live probe. Every case below fails, so the shared tables keep
  * their seed rows throughout.
  */
class WarehouseViolationOrderSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: Warehouse = {
    val dir = Files.createTempDirectory("graft-winner-").toString
    val w = new Warehouse(spark, dir, specs = Map(
      "p" -> Warehouse.TableSpec(
        StructType(Seq(StructField("pid", LongType),
          StructField("pname", StringType))),
        statColumns = Seq("pid"), primaryKey = Seq("pid"),
        checks = Map("short_name" -> "length(pname) <= 8")),
      "q" -> Warehouse.TableSpec(
        StructType(Seq(StructField("qid", LongType))),
        primaryKey = Seq("qid")),
      "c" -> Warehouse.TableSpec(
        StructType(Seq(StructField("cid", LongType),
          StructField("pid", LongType), StructField("qid", LongType),
          StructField("u1", StringType), StructField("u2", StringType),
          StructField("v", LongType))),
        statColumns = Seq("cid"), primaryKey = Seq("cid"),
        checks = Map("v_nonneg" -> "v >= 0"),
        unique = Seq(Seq("u1"), Seq("u2")),
        foreignKeys = Seq(
          Warehouse.ForeignKey(Seq("pid"), "p", Seq("pid")),
          Warehouse.ForeignKey(Seq("qid"), "q", Seq("qid"))))))
    w.bootstrap()
    w.append("p", Seq((1L, "a"), (2L, "b")).toDF("pid", "pname"))
    w.append("q", Seq(1L).toDF("qid"))
    w.append("c", Seq((10L, 1L, 1L, "x", "y", 0L)).toDF(cCols: _*))
    w
  }

  private val cCols = Seq("cid", "pid", "qid", "u1", "u2", "v")
  private def c(rows: (Long, Long, Long, String, String, Long)*): DataFrame =
    rows.toDF(cCols: _*)

  private val cases: Seq[(String, () => Unit,
      PartialFunction[Throwable, Boolean])] = Seq(
    ("CHECK + PRIMARY KEY + FOREIGN KEY together: the CHECK", () =>
      wh.append("c", c((11L, 999L, 1L, "a1", "b1", -1L),
        (11L, 999L, 1L, "a2", "b2", -1L))),
      { case e: Warehouse.CheckViolation => e.check == "v_nonneg" }),
    ("PRIMARY KEY batch duplicate + live collision: the batch diagnosis",
      () => wh.append("c", c((10L, 1L, 1L, "a3", "b3", 0L),
        (10L, 1L, 1L, "a4", "b4", 0L))),
      { case e: Warehouse.PrimaryKeyViolation =>
        e.reason.startsWith("duplicate key within batch") }),
    ("two dangling FOREIGN KEYs: the first declared", () =>
      wh.append("c", c((12L, 998L, 997L, "a5", "b5", 0L))),
      { case e: Warehouse.ForeignKeyViolation => e.fk.parent == "p" }),
    ("two UNIQUE groups: the first declared", () =>
      wh.append("c", c((13L, 1L, 1L, "x", "y", 0L))),
      { case e: Warehouse.UniqueViolation => e.cols == Seq("u1") }),
    ("appendAll parent + child: the parent table's, though the child's " +
      "family comes first", () =>
      wh.appendAll(Seq(
        ("p", Seq((3L, "c"), (3L, "d")).toDF("pid", "pname"), 0L),
        ("c", c((14L, 3L, 1L, "a6", "b6", -1L)), 0L))),
      { case e: Warehouse.PrimaryKeyViolation => e.table == "p" }),
    ("mergeInto with a RESTRICT'd delete and a CHECK failure: the CHECK",
      () => wh.mergeInto("p",
        Seq((1L, "zz", "del"), (2L, "much-too-long", "upd"))
          .toDF("pid", "pname", "op"), Seq("pid"),
        matchedDelete = Some(col("src_op") === "del"),
        matchedUpdate = Some((Some(col("src_op") === "upd"),
          Map("pname" -> col("src_pname"))))),
      { case e: Warehouse.CheckViolation => e.check == "short_name" }))

  cases.foreach { case (label, op, won) =>
    test(s"winner: $label") {
      val before = Seq("p", "q", "c").map(t => wh.versions(t).max)
      val e = intercept[Throwable](op())
      assert(won.applyOrElse(e, (_: Throwable) => false), s"raised $e")
      assert(Seq("p", "q", "c").map(t => wh.versions(t).max) === before)
    }
  }
}
