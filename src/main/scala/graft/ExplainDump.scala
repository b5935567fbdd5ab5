package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Measurement tooling for the optimization rounds (guide §1.1/§7.2):
  * dumps `.explain("formatted")` for each declared query to
  * `<outDir>/<name>_<suffix>.txt` so plan shapes (Exchange count, join
  * strategy, PushedFilters/ReadSchema) can be diffed before/after a
  * change without re-running the bench.
  *
  * Usage: graft.ExplainDump <sfDir> <outDir> <suffix> [q1,q2,...]
  *
  * NOTE: building a query's DataFrame runs its FIXTURE work (warehouse
  * appends, stream drains) — only the final frame's plan is dumped.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = GraftSession.cpus
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-explain"),
      cpus).getOrCreate()
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          println(s"[explain] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
