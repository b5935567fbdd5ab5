package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * One place to pin the configs that matter for both correctness (UTC
  * session time zone — the reference treats all timestamps as naive UTC,
  * /root/reference/script.py:29,120) and scale (AQE, shuffle-partition
  * sizing). Tests, Verify, Bench and the pipeline all build sessions here
  * so plans are comparable across entry points.
  */
object GraftSession {

  /** Default parallelism: the driver exports SPARK_GRAFT_CPUS; fall back
    * to the host's core count (local mode = one JVM, N task threads).
    * Also sizes [[graft.util.DriverPool]].
    */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** [[cpus]] from the variable's value: a positive integer, or fail
    * naming the variable — a typo must not reach `local[...]`.
    */
  private[graft] def cpusFrom(env: Option[String]): Int = env match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** The core (SparkContext) confs of [[configure]]: read once when the
    * context starts, so a cached getOrCreate keeps the running values.
    */
  private def coreConfs: Map[String, String] = Map(
    // Serialized (Tungsten) shuffle writer for ALL shuffles (r16,
    // guide §2.1/§7): with shuffle partitions sized to the executor
    // slots, every shuffle here has R < 200 and Spark's bypass-merge
    // writer kicks in — which creates R temp FILES per map task and
    // channel-concatenates them. Executor sampling showed
    // BypassMergeSortShuffleWriter.writePartitionedDataWithChannel as
    // the single hottest frame across the bench; forcing the
    // UnsafeShuffleWriter (one spill file + in-memory partition-id
    // sort) cut the 186-query suite from 1076 s to 763 s process-CPU
    // (−29%) with no per-query regression. Scale-neutral: clusters run
    // R ≫ 200 where bypass never fires anyway — this only changes the
    // small-R regime, where the file-per-partition cost is pure
    // overhead.
    "spark.shuffle.sort.bypassMergeThreshold" ->
      sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "0"),
    // Fork-free `file:` writes (r16): without libhadoop,
    // RawLocalFileSystem.setPermission forks a `chmod` PROCESS per
    // created file/dir — the r16 baseline event log shows partitioned
    // warehouse appends whose 32 write tasks sit 3-7 s each at <3%
    // CPU, thread-dumped in Shell.runCommand under setPermission.
    // GraftLocalFileSystem overrides that one choke point with NIO
    // (fchmodat, no fork); all other local-fs behavior is inherited.
    // Scheme-scoped: HDFS/S3 untouched, and clusters with libhadoop
    // never reached the forking fallback anyway (see graft.fs docs).
    "spark.hadoop.fs.file.impl" -> "graft.fs.GraftLocalFileSystem")

  /** The [[coreConfs]] keys whose value in a running context's conf
    * differs from graft's. */
  private[graft] def ignoredCoreConfs(running: SparkConf): Seq[String] =
    coreConfs.collect {
      case (k, v) if !running.getOption(k).contains(v) => k
    }.toSeq.sorted

  /** Apply graft's standard configuration to any builder. */
  def configure(b: SparkSession.Builder, nCpus: Int): SparkSession.Builder = b
    // SQL surface for the domain pack (tle_bstar/tle_parse/vec_dot)
    .withExtensions(new GraftExtensions)
    // Shuffle partitions sized to the executor slots, not Spark's default 200:
    // at local[32] a 200-way shuffle just adds scheduling overhead; on a
    // real cluster AQE coalesces post-shuffle partitions anyway. The env
    // override exists for headroom checks (e.g. 4× cores verifies no plan
    // is quietly relying on single-partition execution).
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", nCpus.toString))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // AQE coalesce floor (r16, guide §2.5/§2.1): the stock 1 MB
    // minPartitionSize collapses any post-shuffle stage under
    // cores × 1 MB to a handful of tasks — and for CPU-DENSE-per-byte
    // operators (self-join wedge closure, array intersections, window
    // interpolation) that serialized whole stages onto one core
    // (q112: one 2.3 s single-task stage; q161: four 1.1 s ones,
    // measured in the r16 baseline event log). Bytes are the wrong
    // currency for those stages; a lower floor lets AQE keep the
    // parallelism the cores can use. Scale-neutral by construction:
    // the floor only binds when per-partition data is tiny (at
    // warehouse scale partitions sit far above either floor), so this
    // is not a local[32] tune — it is "don't serialize small-byte
    // CPU-heavy stages" at any cluster size.
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"))
    // Oracle parity: DuckDB evaluates date/timestamp functions in UTC.
    .config("spark.sql.session.timeZone", "UTC")
    // Reference semantics: every parse failure is per-record null-then-drop
    // (/root/reference/script.py:19-20,57-59 — bare `except: return None`),
    // never a job failure. Spark 4 defaults to ANSI mode where CAST of
    // garbage throws; non-ANSI CAST yields null, which is exactly the
    // domain's contract (SURVEY.md §2.3 T5, §2.8 C1-C2, §2.9 X1-X2).
    .config("spark.sql.ansi.enabled", "false")
    // Cost-based optimization ON: warehouse relations publish their
    // manifest row counts as CatalogStatistics (Warehouse.dfFor), so
    // registered tables get rowCount-driven join sizing/reordering at
    // parity with ANALYZE'd tables — without ever running ANALYZE (the
    // counts are already in the manifest). Non-warehouse scans carry no
    // rowCount and fall back to size-only estimation, as stock.
    .config("spark.sql.cbo.enabled",
      sys.env.getOrElse("SPARK_GRAFT_CBO", "true"))
    .config("spark.sql.cbo.joinReorder.enabled",
      sys.env.getOrElse("SPARK_GRAFT_CBO", "true"))
    // Whole-stage-codegen compile cache (r15): the default
    // spark.sql.codegen.cache.maxEntries=100 is sized for a handful of
    // hot queries; this engine's declared surface is 186 queries ×
    // dozens of codegen units each, so the cache churned completely
    // between passes and EVERY execution re-paid Janino compilation —
    // thread dumps showed whole 32-task stages parked behind
    // CodeGenerator.compile's KeyLock with near-zero CPU. The entries
    // are compiled classes (~10-100 KB each); 10k bounds the cache at
    // a few hundred MB driver-side while letting a full bench/verify
    // run keep its generated code hot. Static conf: takes effect at
    // session construction only.
    .config("spark.sql.codegen.cache.maxEntries",
      sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
    // Scheme-adaptive streaming-checkpoint I/O (r15): file:// checkpoints
    // use pure-NIO atomic renames instead of Hadoop FileContext, whose
    // local-fs route forks a `readlink` process PER RENAME without the
    // native Hadoop library — measured 2× wall / 2.7× CPU on the
    // stateful streaming queries. Non-local schemes delegate to Spark's
    // own manager selection unchanged (see LocalCheckpointFileManager).
    .config("spark.sql.streaming.checkpointFileManagerClass",
      "graft.streaming.LocalCheckpointFileManager")
    .config(coreConfs)
    .config("spark.ui.enabled", "false")
    // managed tables (bucketed-join layout) land outside the repo
    .config("spark.sql.warehouse.dir",
      s"${sys.props("java.io.tmpdir")}/graft-spark-warehouse")
    // Standard INT64-micros timestamps instead of Spark's legacy INT96
    // default: INT96 is deprecated in the parquet spec and writes NO
    // usable footer min/max, which would silence the warehouse
    // manifest's epoch_utc file-skipping stats (Warehouse.footerStats).
    // Logical values are identical; DuckDB reads both.
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // events.parquet stores timestamp[ns], which the vectorized reader
    // rejects ([PARQUET_TYPE_ILLEGAL]). Read it as long (nanos since
    // epoch); Tables.load converts to TimestampType via integer division
    // (floor to micros), matching DuckDB's ns->us truncation.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def local(appName: String = "graft", nCpus: Int = cpus): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$nCpus]").appName(appName), nCpus
    ).getOrCreate()
    // withExtensions above only fires if the builder CREATED the session;
    // a cached getOrCreate hit needs the pack registered directly.
    GraftExtensions.register(s)
    // a cached hit also keeps the running context's core confs; Spark
    // warns "Using an existing Spark session" but lists the ignored
    // keys only at DEBUG, so name them here
    val ignored = ignoredCoreConfs(s.sparkContext.getConf)
    if (ignored.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "existing SparkContext keeps its own value of " +
          ignored.mkString(", "))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
