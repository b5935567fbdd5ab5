package graft.util

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The one place that decides what counts as a DATA file under a root:
  * recursive listing, excluding hidden/temp components (`_`/`.` prefix)
  * at ANY depth — a crashed writer's `_temporary/...` leftovers and
  * checksum `.crc` files must never be data (same rule as Spark's
  * InMemoryFileIndex). Shared by the DSv2 TLE source and the warehouse
  * maintenance ops so the two can't drift.
  */
object FsListing {

  /** (relative path, byte size) of every data file under `root`, sorted
    * by relative path; empty if the root does not exist. Listed with the
    * active session's Hadoop configuration. The first directory level
    * fans out over [[DriverPool]] — a date-partitioned write leaves
    * hundreds of one-file directories, and serial per-directory listing
    * was the dominant cost of the warehouse's staged commit (measured
    * 2.7 s for 366 dirs, ~60 ms parallel).
    */
  def dataFiles(root: String): Seq[(String, Long)] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (!fs.exists(rootPath)) return Seq.empty
    val rootUri = fs.makeQualified(rootPath).toUri
    def hiddenName(n: String) = n.startsWith("_") || n.startsWith(".")
    def list(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .filterNot(st => hiddenName(st.getPath.getName))
    def walk(sts: Seq[FileStatus]): Seq[(String, Long)] = sts.flatMap { st =>
      if (st.isDirectory) walk(list(st.getPath))
      else Seq(rootUri.relativize(
        fs.makeQualified(st.getPath).toUri).getPath -> st.getLen)
    }
    val (dirs, files) = list(rootPath).partition(_.isDirectory)
    (walk(files) ++ DriverPool.map(dirs)(d => walk(Seq(d))).flatten)
      .sortBy(_._1)
  }
}
