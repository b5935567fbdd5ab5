package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.{BinaryType, BooleanType, ByteType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.schema.Schemas
import graft.util.{BoundedCache, DriverPool, FsListing}

/** Parquet-backed warehouse — the sandbox stand-in for the reference's
  * PostgreSQL star schema (SURVEY.md §2.2; JDBC writer options live in
  * `graft.sink.JdbcSink` and are exercised against embedded Derby in
  * tests). Append-only at the surface, like the reference's
  * `if_exists='append'` sinks, plus the two maintenance ops Postgres
  * gets for free (MERGE upsert, small-file compaction).
  *
  * == Crash-safe versioned-manifest commits ==
  *
  * The reference's Postgres sink is transactional per insert
  * (`/root/reference/script.py:92,148,171`); a naive parquet
  * `mode("overwrite")` is not — dynamic partition overwrite deletes the
  * old files of touched partitions at job commit, so a crash inside
  * that window loses data. This warehouse closes the window with a
  * Delta/Iceberg-style (much reduced) commit protocol:
  *
  *  1. every mutation writes NEW files only, under `_staging/<uuid>`,
  *     then moves them into the table tree under fresh unique names —
  *     no live file is ever modified or deleted by a data write;
  *  2. the table state is a versioned MANIFEST
  *     (`_manifests/v<N>.mf`: the list of live data files, with sizes
  *     and per-file column stats); publishing `v<N+1>` via an atomic
  *     rename IS the commit point;
  *  3. files replaced by a merge/compact are deleted only AFTER the
  *     commit (and any crash leftovers later, via [[vacuum]]).
  *
  * A crash before the rename leaves the previous manifest as the
  * latest: readers see the old, consistent state and the half-written
  * files are invisible orphans. A crash after the rename leaves the new
  * state fully published and only un-collected garbage behind.
  * Concurrency is optimistic, Delta-style, and every versioned write
  * commits through ONE routine ([[commitWrites]]) whose per-op
  * [[Warehouse.Rebase]] policy decides a lost race: blind appends and
  * compactions rebase whenever the files they replace are still live
  * (`Always` — they commute), the merge family rebases when the
  * conflicting commit's footprint is provably disjoint from the
  * partitions it read (`Disjoint`), and everything else fails fast
  * with [[Warehouse.CommitConflict]] (`Never`).
  *
  * Readers resolve through the manifest: [[read]] hands Spark the
  * explicit live-file list (with `basePath` so hive-style partition
  * pruning still works on it). At real scale the listing is O(live
  * files) driver memory — the standard table-format trade, amortized by
  * [[compact]] keeping file counts near bytes/targetBytes.
  *
  * == File-skipping statistics ==
  *
  * At write time the parquet FOOTERS of new files are read (metadata
  * only, no data scan) and min/max for [[statColumns]] are recorded in
  * the manifest. [[readRange]] uses them to skip whole files inside hot
  * partitions — e.g. the 3-day recent-keys scan prunes to ~horizon
  * partitions via `epoch_date` AND then skips files whose `epoch_utc`
  * range ends before the horizon.
  *
  * @param retainReplaced when true, merge/compact DEFER deletion of the
  *   files they replace to [[Warehouse!.vacuum]] instead of deleting them
  *   right after the commit — the retention mode that keeps every
  *   committed version readable ([[Warehouse!.readVersion]] time travel)
  *   until vacuum's manifest-retention horizon passes it. The default
  *   (eager) keeps the steady-state directory exactly one version big.
  *
  * @param specs the table layout this warehouse manages — name →
  *   (schema, partition columns, stat columns). Defaults to the TLE
  *   star schema ([[Warehouse.starSchema]]); any application schema
  *   works (the curation tables, say). [[bootstrap]] persists the
  *   specs under `_meta/`, and [[Warehouse.open]] reopens a directory
  *   from that metadata alone — the path the `graft-warehouse` read
  *   formats use, so readers never need the specs in code.
  *
  * @param checkpointInterval how often a commit writes a FULL manifest
  *   (`.mf` checkpoint) instead of a DELTA (`.mfd`: this commit's adds
  *   and removes only). Full-per-commit is O(live files) write I/O per
  *   commit — quadratic history bytes as the table grows to 10⁷ files;
  *   deltas bound the per-commit manifest bytes by the BATCH, with one
  *   amortized checkpoint every `checkpointInterval` commits (the Delta
  *   `_last_checkpoint` shape). Readers reconstruct any version from
  *   the nearest checkpoint at or below it plus ≤ interval−1 deltas.
  *   `1` = checkpoint every commit (the pre-delta behavior).
  */
class Warehouse(spark: SparkSession, dir: String,
    retainReplaced: Boolean = false,
    specs: Map[String, Warehouse.TableSpec] = Warehouse.starSchema,
    checkpointInterval: Int = 10) {
  require(checkpointInterval >= 1,
    s"checkpointInterval must be >= 1, got $checkpointInterval")

  import Warehouse.{FileEntry, Probes}

  /** Current table layouts — a `var` because [[addColumn]] evolves a
    * schema in place (the only mutation; partitioning never changes).
    * `@volatile` because readers run off-thread (the bounded write
    * pools, streaming sources calling [[dfFor]]) and must see a
    * published evolution rather than a stale schema indefinitely.
    */
  @volatile private var specsNow: Map[String, Warehouse.TableSpec] = specs

  /** Serializes specsNow read-modify-writes (addColumn / addCheck /
    * dropCheck / createTable): DDL is single-writer by contract, but a
    * concurrent APPEND is documented safe, and an unsynchronized RMW
    * could lose a concurrent DDL's update. Reads stay lock-free
    * (volatile).
    */
  private val specsLock = new Object

  def tables: Map[String, StructType] =
    specsNow.view.mapValues(_.schema).toMap

  /** The full current spec of one table (DESCRIBE DETAIL's source). */
  def tableSpec(name: String): Warehouse.TableSpec =
    specsNow.getOrElse(name,
      throw new IllegalArgumentException(s"tableSpec: no table $name"))

  /** Partition-column layout per table (empty = unpartitioned). */
  def partitioning: Map[String, Seq[String]] =
    specsNow.view.mapValues(_.partitionBy).toMap

  /** Columns whose per-file min/max land in the manifest for
    * [[readRange]] file skipping. Restricted to types whose parquet
    * footer stats encode losslessly as longs (int/long/timestamp-µs):
    * a column missing here — or a file whose footer lacks stats — is
    * simply never skipped, which is always safe.
    */
  def statColumns: Map[String, Seq[String]] =
    specsNow.view.mapValues(_.statColumns).toMap

  private def path(name: String) = s"$dir/$name"

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def fileSystem: FileSystem =
    new Path(dir).getFileSystem(hadoopConf)

  /** Test-only crash injection for the commit-protocol spec: set to
    * "after-write" (files staged+moved, manifest NOT published) or
    * "after-commit" (manifest published, replaced files NOT yet
    * deleted) to abort a mutation inside the corresponding window.
    */
  private[graft] var crashPoint: Option[String] = None
  private def maybeCrash(p: String): Unit =
    if (crashPoint.contains(p))
      throw new IllegalStateException(s"injected crash at $p")

  /** Test-only interleaving hook: runs after a mutation's files are
    * staged+moved but before its first commit attempt — the window a
    * concurrent writer's commit creates an optimistic conflict in.
    */
  private[graft] var beforeCommit: Option[() => Unit] = None

  // ------------------------------------------------------------------
  // manifest machinery
  // ------------------------------------------------------------------

  private val ManifestHeader = "graft-manifest 1"
  private val DeltaHeader = "graft-manifest-delta 1"
  private val ManifestName = """v(\d{12})\.mfd?""".r
  /** Marker file (in `_manifests/`) naming the table LIFETIME — see
    * [[cacheKey]]. Lives with the manifests so [[rawVersions]]'
    * existing listing observes it for free and [[dropTable]]'s
    * directory delete retires it atomically with the lifetime. */
  private val LifetimePrefix = "_lifetime-"

  private def manifestDir(name: String) = new Path(path(name), "_manifests")

  /** A version commits as a FULL checkpoint when this is true; deltas
    * otherwise. Purely a function of the version number and the
    * PERSISTED interval, so two racing committers of the same version
    * always pick the same file name — the create-exclusive publish
    * stays a valid conflict detector. (Vacuum additionally MATERIALIZES
    * checkpoints at non-checkpoint versions before trimming their
    * ancestors; readers prefer `.mf`.)
    */
  private def isCheckpointVersion(version: Long): Boolean = {
    // Force the lazy interval BEFORE the v1 short-circuit: the first
    // commit is always a checkpoint, but it must still PERSIST the
    // winner's interval — otherwise the second writer's (possibly
    // different) request would win the _warehouse.json race.
    val interval = ckptInterval
    version == 1L || version % interval == 0L
  }

  /** EFFECTIVE checkpoint cadence: the constructor's value is only a
    * REQUEST — the first writer persists it to `_meta/_warehouse.json`
    * (create-exclusive, losers read the winner's value back) and every
    * later instance reads it from there, whatever its own constructor
    * asked for. Without this, two writers opened with different
    * intervals could commit the SAME version as `.mf` and `.mfd`
    * siblings — neither publish collides, and the `.mfd` writer's
    * commit is silently shadowed (readers prefer `.mf`). The sibling
    * re-check in [[publishManifest]] backstops legacy directories that
    * predate the persisted value.
    */
  private lazy val ckptInterval: Int = {
    val fs = fileSystem
    val p = new Path(new Path(dir, "_meta"), "_warehouse.json")
    def readBack(): Option[Int] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text = try {
          new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
        if (node.has("checkpointInterval"))
          Some(node.get("checkpointInterval").asInt()) else None
      }
    readBack().getOrElse {
      val won = publishExclusive(p,
        s"""{"checkpointInterval":$checkpointInterval}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (won) checkpointInterval
      else readBack().getOrElse(checkpointInterval)
    }
  }

  /** Resolve a version's manifest file, preferring a full `.mf` (a
    * scheduled checkpoint or a vacuum-materialized one) over `.mfd`.
    */
  private def manifestPathOf(name: String, version: Long): Path = {
    val full = new Path(manifestDir(name), f"v$version%012d.mf")
    if (fileSystem.exists(full)) full
    else new Path(manifestDir(name), f"v$version%012d.mfd")
  }

  /** All CONFIRMED manifest versions, ascending (empty = no manifest).
    * A version published as a member of a multi-table transaction
    * ([[appendAll]]) carries `mtxn=<id>` metadata and is visible only
    * once the transaction's marker file exists — before that it is a
    * PENDING manifest every read path here skips, so a crash between a
    * transaction's per-table commits can never surface a partial
    * publish. Single-table commits carry no `mtxn` and are visible at
    * manifest-publish time, exactly as before.
    */
  def versions(name: String): Seq[Long] =
    rawVersions(name).filter(isVisible(name, _))

  /** Every manifest version ON DISK, pending members of unconfirmed
    * transactions included — the maintenance view ([[vacuum]] must see
    * what it may need to clean; readers use [[versions]]).
    */
  private def rawVersions(name: String): Seq[Long] = {
    val fs = fileSystem
    val mdir = manifestDir(name)
    if (!fs.exists(mdir)) {
      Warehouse.lifetimeObserved(s"$dir#$name", "")
      return Nil
    }
    val listed = fs.listStatus(mdir).toSeq.map(_.getPath.getName)
    // observe the TABLE-LIFETIME id riding the listing this call pays
    // for anyway: the snapshot/meta caches fold it into their keys
    // ([[cacheKey]]), so a drop+recreate by ANOTHER process — which
    // restarts version numbering in the same directory, invisible to
    // this JVM's dropTable/createTable invalidation — re-keys every
    // lookup here at the next directory listing instead of serving the
    // dead lifetime's cached snapshots for re-minted version numbers.
    Warehouse.lifetimeObserved(s"$dir#$name",
      listed.filter(_.startsWith(LifetimePrefix)).sorted.lastOption
        .map(_.stripPrefix(LifetimePrefix)).getOrElse(""))
    listed.flatMap {
      case ManifestName(v) => Some(v.toLong)
      case _ => None
    }.distinct.sorted
  }

  // ------------------------------------------------------------------
  // multi-table transactions
  // ------------------------------------------------------------------

  /** Marker directory for multi-table transactions: the create-exclusive
    * publish of `_meta/_txn/<id>` AFTER every member table's manifest is
    * the cross-table commit point. Markers are tiny (`name\tcount` per
    * member) and live exactly as long as a manifest carrying their
    * `mtxn=<id>`: a confirmed version's visibility must never expire,
    * so [[vacuum]] reclaims a marker only once no member table retains
    * such a manifest ([[reclaimTxnMarkers]]).
    */
  private def txnDir = new Path(new Path(dir, "_meta"), "_txn")

  private def txnConfirmed(id: String): Boolean =
    fileSystem.exists(new Path(txnDir, id))

  /** Visible = not a pending member of an unconfirmed transaction.
    * A meta-cache hit alone proves visibility — only CONFIRMED
    * versions are ever cached — so the hot path ([[versions]] checks
    * every on-disk version per call) costs zero filesystem operations
    * once warm. */
  private def isVisible(name: String, version: Long): Boolean =
    Warehouse.metas.get(cacheKey(name, version)).isDefined ||
      commitMeta(name, version).get("mtxn").forall(txnConfirmed)

  /** How long a pending transaction manifest may block its version slot
    * before a conflicting writer (or vacuum) may ABORT it — the lease
    * that lets the warehouse self-heal after a writer dies between a
    * transaction's manifest publishes and its marker. Large enough that
    * a LIVE writer (which publishes its marker milliseconds after the
    * last manifest) can never be aborted mid-flight; tests shrink it.
    */
  private[graft] var txnStaleMs: Long = 10L * 60 * 1000

  /** If `version`'s slot is occupied by an ABORTABLE pending transaction
    * manifest, delete it (abort the dead transaction) and return true.
    * Abortable means STALE — pending past the [[txnStaleMs]] lease — or
    * left by a previous attempt of OUR OWN fenced epoch `own` (its
    * metadata carries exactly that watermark). The own case needs no
    * lease wait: the fence makes the epoch idempotent (any live writer
    * of the same fence writes the same logical batch), so reclaiming
    * converges either way.
    *
    * The abort re-checks the marker after the delete: if the transaction
    * confirmed inside the check-delete window (a writer stalled past the
    * lease, then published), the manifest bytes are restored — the
    * marker, not the manifest, is the commit point, so a confirmed
    * member must never stay deleted.
    */
  private def abortPending(name: String, version: Long,
      own: Option[(String, Long)] = None): Boolean = {
    val fs = fileSystem
    val paths = Seq("mf", "mfd")
      .map(e => new Path(manifestDir(name), f"v$version%012d.$e"))
      .filter(fs.exists)
    if (paths.isEmpty) return false
    val meta = commitMeta(name, version)
    def abortable = own.exists { case (q, e) =>
      meta.get(s"txn_$q").contains(e.toString) } ||
      System.currentTimeMillis() - paths.map(p =>
        fs.getFileStatus(p).getModificationTime).max >= txnStaleMs
    meta.get("mtxn") match {
      case Some(id) if !txnConfirmed(id) && abortable =>
        val saved = paths.map(p => p -> {
          val in = fs.open(p)
          try in.readAllBytes() finally in.close()
        })
        paths.foreach(fs.delete(_, false))
        if (txnConfirmed(id)) { // lost the race: restore, don't abort
          // the restore MUST land: if a third writer claimed the slot
          // between our delete and this publish, a CONFIRMED txn's
          // member manifest would be silently lost — that is corruption,
          // not a retryable race, so fail loudly rather than return
          saved.foreach { case (p, bytes) =>
            if (!publishExclusive(p, bytes))
              throw new IllegalStateException(
                s"abortPending $name v$version: lost restore race for " +
                  s"$p — confirmed transaction $id's member manifest was " +
                  "displaced by a concurrent writer")
          }
          false
        } else {
          // any columnar sidecar dies with the aborted manifest
          // (pre-fix writers published one for pending members; the
          // exists-guard in writeColumnarManifest would otherwise
          // keep it alive to shadow a NEW committer's entry list)
          fs.delete(mfpPath(name, version), true)
          true
        }
      case _ => false
    }
  }

  private def readManifestLines(name: String, p: Path): Seq[String] = {
    Warehouse.manifestReads.incrementAndGet()
    val in = fileSystem.open(p)
    val text = try {
      new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    text.split('\n').toSeq
  }

  /** Cache key of one (table, version) snapshot — dir-qualified so
    * same-named tables of different warehouses never collide in the
    * JVM-wide caches, and LIFETIME-qualified so versions re-minted by
    * a drop+recreate (even one performed by a different process —
    * see [[rawVersions]]' observation) never collide with a dead
    * lifetime's cached snapshots. Pre-lifetime-marker tables key with
    * an empty id — exactly the old key shape.
    */
  private def cacheKey(name: String, version: Long): String =
    lifetimeKey(name) + version

  /** The `dir#table#lifetime#` prefix every JVM-wide memo key of this
    * table starts with. */
  private def lifetimeKey(name: String): String =
    s"$dir#$name#${Warehouse.lifetimeOf(s"$dir#$name")}#"

  /** The current cache key of (table, version) — spec observability
    * for the lifetime-qualified key shape (never compute it by hand
    * in tests). */
  private[graft] def currentCacheKey(name: String, version: Long): String =
    cacheKey(name, version)

  /** Whether `version`'s full entry list is already in the snapshot
    * cache — then the driver-side fold is free and wins over the lazy,
    * distributed route. */
  private def eagerlyCached(name: String, version: Long): Boolean =
    Warehouse.snapshots.get(cacheKey(name, version)).isDefined

  private def parseEntry(line: String): FileEntry = {
    // 4th field (row count) and 5th/6th (deletion vector ref + count)
    // are absent in earlier manifests → unknown / none
    val Array(rel, bytes, stats, rows, dv, dvRows) =
      line.split('\t').padTo(6, "")
    val parsed = stats.split(';').filter(_.nonEmpty).map { s =>
      val Array(c, mm) = s.split('=')
      val Array(lo, hi) = mm.split(':')
      c -> ((lo.toLong, hi.toLong))
    }.toMap
    FileEntry(rel, bytes.toLong, parsed,
      if (rows.isEmpty) -1L else rows.toLong,
      dv, if (dvRows.isEmpty) 0L else dvRows.toLong)
  }

  /** The file list committed as manifest `version`: walk BACK from
    * `version` collecting deltas until the nearest full checkpoint,
    * then replay the deltas forward — ≤ checkpointInterval−1 small
    * files plus one checkpoint, regardless of table size.
    *
    * MEMOIZED per confirmed version in the JVM-wide snapshot cache
    * (versions are immutable once visible — see the companion's cache
    * doc): the recursive walk stops at the FIRST cached ancestor, so a
    * steady-state append chain parses only its own delta and a table's
    * second open in this JVM parses nothing at all.
    */
  private[graft] def loadAt(name: String, version: Long): Seq[FileEntry] = {
    require(version >= 1L, s"$name: cannot reconstruct manifest " +
      "(no checkpoint at or below it — vacuumed?)")
    val key = cacheKey(name, version)
    Warehouse.snapshots.get(key) match {
      case Some(hit) => return hit
      case None =>
    }
    val lines = readManifestLines(name, manifestPathOf(name, version))
    val entries = lines.headOption match {
      case Some(ManifestHeader) =>
        lines.tail.filter(l => l.nonEmpty && !l.startsWith("#"))
          .map(parseEntry)
      case Some(DeltaHeader) =>
        val base = loadAt(name, version - 1)
        val state = scala.collection.mutable.LinkedHashMap
          .from(base.map(e => e.rel -> e))
        lines.tail.filter(l => l.nonEmpty && !l.startsWith("#"))
          .foreach { line =>
            if (line.startsWith("+\t")) {
              val e = parseEntry(line.drop(2))
              state(e.rel) = e
              ()
            } else if (line.startsWith("-\t")) {
              state.remove(line.drop(2))
              ()
            } else throw new IllegalArgumentException(
              s"$name delta manifest: unrecognized line $line")
          }
        state.values.toSeq.sortBy(_.rel)
      case other =>
        throw new IllegalArgumentException(
          s"$name manifest v$version: unrecognized header $other")
    }
    // Cacheability is decided from the SAME read as the parse: the
    // meta line is already in hand, so visibility (mtxn confirmed?)
    // cannot race an abort-and-rewrite of the slot between two opens
    // of the file — re-reading here (isVisible → commitMeta) could
    // cache the OLD entries under the NEW commit's key, permanently
    // poisoning the JVM-wide snapshot cache.
    val meta = parseMetaLine(lines.drop(1).headOption)
    if (meta.get("mtxn").forall(txnConfirmed)) {
      Warehouse.snapshots.put(key, entries)
      Warehouse.metas.put(key, meta)
    }
    entries
  }

  /** The commit-metadata map from a manifest's (optional) '#'-line —
    * shared by [[commitMeta]]'s bounded head read and [[loadAt]]'s
    * already-in-hand full read, so both parse identically.
    */
  private def parseMetaLine(second: Option[String]): Map[String, String] =
    second.filter(_.startsWith("#")).map { line =>
      line.drop(1).split('\t').filter(_.contains('=')).map { kv =>
        val i = kv.indexOf('=')
        kv.take(i) -> kv.drop(i + 1)
      }.toMap
    }.getOrElse(Map.empty[String, String])

  /** DESCRIBE HISTORY: every committed version with its commit metadata
    * (operation + counts), ascending. Metadata is the '#'-line of the
    * manifest itself, so it is exactly as atomic and crash-safe as the
    * commit; versions without one (pre-metadata manifests, directory
    * adoption) yield an empty map.
    */
  def history(name: String): Seq[(Long, Map[String, String])] =
    versions(name).map(v => v -> commitMeta(name, v))

  /** One committed version's metadata map (empty for version 0 / pre-
    * metadata manifests). The meta line is always line 2 of the
    * manifest when present ([[commit]]'s layout), so this is a bounded
    * HEAD READ — never the full entry list (a checkpoint's list is
    * O(|files|) bytes; the visibility check walks every version, so
    * reading whole checkpoints here would make `versions()` O(table)).
    * Memoized per confirmed version, like [[loadAt]].
    */
  private def commitMeta(name: String, version: Long): Map[String, String] = {
    if (version == 0L) return Map.empty
    val key = cacheKey(name, version)
    Warehouse.metas.get(key) match {
      case Some(hit) => return hit
      case None =>
    }
    Warehouse.manifestReads.incrementAndGet()
    val in = fileSystem.open(manifestPathOf(name, version))
    val second = try {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(
        in, java.nio.charset.StandardCharsets.UTF_8))
      r.readLine() // header
      Option(r.readLine())
    } finally in.close()
    val meta = parseMetaLine(second)
    if (meta.get("mtxn").forall(txnConfirmed))
      Warehouse.metas.put(key, meta)
    meta
  }

  /** The txn watermarks (streaming-writer idempotence ledger) as of
    * `version`: `txn_<queryId>` → highest epoch that query has
    * committed. Every commit CARRIES THE FULL MAP FORWARD (the Delta
    * setTransaction shape), so the LATEST manifest alone answers "was
    * this epoch already written?" — vacuuming old manifests never
    * forgets a watermark.
    */
  private def txnWatermarks(name: String, version: Long): Map[String, String] =
    commitMeta(name, version).view.filterKeys(_.startsWith("txn_")).toMap

  /** (version, live files); (0, Nil) when the table has no manifest. */
  private[graft] def loadLatest(name: String): (Long, Seq[FileEntry]) =
    versions(name) match {
      case Nil => (0L, Nil)
      case vs => (vs.last, loadAt(name, vs.last))
    }

  // ------------------------------------------------------------------
  // metadata-only statistics (the Delta OptimizeMetadataOnlyQuery /
  // Iceberg manifest-aggregate surface): answers that never open a
  // data file. At 100 TB, `count(*)` over the table is a sum over the
  // manifest the driver already holds — milliseconds, zero scan.
  // ------------------------------------------------------------------

  /** EXACT head row count from manifest footer counts, or None when any
    * live file predates row-count manifests (adopted files, pre-upgrade
    * commits) — absence of metadata must never change an answer, so
    * callers fall back to a scan. Copy-on-write DML keeps this exact:
    * DELETE/UPDATE/MERGE rewrite files, and rewritten files re-enter
    * the manifest with fresh footer counts.
    */
  def metaRowCount(name: String, versionAsOf: Option[Long] = None)
      : Option[Long] = {
    versionAsOf.orElse(versions(name).lastOption) match {
      case None => Some(0L)
      case Some(v) =>
        // cold + columnar → the memoized distributed fold
        // ([[lazySnapshotAgg]] — the same facts the lazy read plans
        // with); a cached snapshot or a small table folds driver-side
        if (!eagerlyCached(name, v))
          lazySnapshotAgg(name, v) match {
            case Some(agg) =>
              return if (agg.rows < 0L) None else Some(agg.rows)
            case None =>
          }
        val entries = loadAt(name, v)
        if (entries.exists(_.rows < 0L)) None
        else Some(entries.map(e => e.rows - e.dvRows).sum)
    }
  }

  /** EXACT head min/max for a stat-tracked column, long-encoded exactly
    * as the manifest stores it (raw int/long value; epoch micros for
    * timestamps, epoch days for dates). None unless EVERY live file
    * carries the stat — a file whose footer lacked usable stats for the
    * column (all-null, or written before the column joined `statsBy`)
    * makes the manifest answer unknowable, and only a scan is correct.
    * Empty table → None (SQL min/max of nothing is NULL, which the
    * caller distinguishes from "don't know" via [[metaRowCount]]).
    */
  def metaMinMax(name: String, col: String,
      versionAsOf: Option[Long] = None): Option[(Long, Long)] = {
    val v = versionAsOf.orElse(versions(name).lastOption)
      .getOrElse(return None)
    // cold + columnar → the two memoized distributed folds: an empty
    // table is SQL NULL, and a deletion vector may have removed the very
    // row a footer extremum came from
    if (!eagerlyCached(name, v))
      lazySnapshotAgg(name, v).foreach { agg =>
        return if (agg.files == 0L || agg.anyDv) None
          else lazyColMinMax(name, v).get(col)
      }
    val entries = loadAt(name, v)
    // a deletion vector may have removed the very row a footer extremum
    // came from — a vectored file makes the fold unknowable
    if (entries.isEmpty || entries.exists(_.dvRows > 0L) ||
        !entries.forall(_.stats.contains(col))) None
    else Some((entries.map(_.stats(col)._1).min,
      entries.map(_.stats(col)._2).max))
  }

  /** Manifest-only PER-PARTITION-SLICE statistics: live head entries
    * grouped by the hive-decoded values of `cols` (any subset of the
    * table's partition columns), each slice carrying its exact row
    * count and the fold of per-file footer stats for every stat column
    * covered by ALL of the slice's files. `count(*) GROUP BY day` over
    * 100 TB becomes a manifest walk — the partition-grouped twin of
    * [[metaRowCount]]. Values are the RAW partition-path strings
    * (unescaped; the `__HIVE_DEFAULT_PARTITION__` null marker → null) —
    * exactly what the read path feeds Spark's string→type cast, so a
    * caller casting them reproduces scan semantics. None when `cols`
    * isn't a non-empty subset of the partition columns, any live file
    * predates row-count manifests, or a file's path lacks a partition
    * segment (foreign-layout adoption) — fall back to a scan.
    */
  def metaPartitionStats(name: String, cols: Seq[String],
      versionAsOf: Option[Long] = None)
      : Option[Seq[(Seq[String], Long, Map[String, (Long, Long)])]] = {
    val parts = partitioning(name)
    if (cols.isEmpty || !cols.forall(parts.contains)) return None
    val v = versionAsOf.orElse(versions(name).lastOption)
      .getOrElse(return Some(Nil))
    if (!eagerlyCached(name, v))
      distributedPartitionStats(name, v, cols, parts.size)
        .foreach(answer => return answer)
    val entries = loadAt(name, v)
    if (entries.exists(_.rows < 0L)) return None
    val decoded = entries.map { e =>
      val segs = dirOf(name, e.rel).split('/').filter(_.nonEmpty).toSeq
      (partitionValues(segs, cols).getOrElse(return None), e)
    }
    Some(decoded.groupBy(_._1).toSeq.map { case (vals, slice) =>
      val es = slice.map(_._2)
      // per-slice min/max folds are unknowable once any of the slice's
      // files carries a deletion vector (the extremum may be deleted);
      // counts stay exact — they just subtract the vector sizes
      val covered =
        if (es.exists(_.dvRows > 0L)) Set.empty[String]
        else es.map(_.stats.keySet).reduce(_ intersect _)
      val stats = covered.map(c => c -> ((es.map(_.stats(c)._1).min,
        es.map(_.stats(c)._2).max))).toMap
      (vals, es.map(e => e.rows - e.dvRows).sum, stats)
      // a slice whose every row is vectored away yields NO group in a
      // scan — mirror that (live == 0 ⇒ drop the slice)
    }.filter(_._2 > 0L))
  }

  /** `k=v` partition-dir segments (ESCAPED, as paths carry them) →
    * `cols`' DECODED values (the `__HIVE_DEFAULT_PARTITION__` null
    * marker → null); None on a malformed segment or a missing column.
    */
  private def partitionValues(segs: Seq[String],
      cols: Seq[String]): Option[Seq[String]] = {
    val kv = segs.map { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) return None
      seg.take(i) -> seg.drop(i + 1)
    }.toMap
    Some(cols.map { c =>
      kv.get(c) match {
        case None => return None
        case Some(ExternalCatalogUtils.DEFAULT_PARTITION_NAME) => null
        case Some(raw) => ExternalCatalogUtils.unescapePathName(raw)
      }
    })
  }

  /** [[metaPartitionStats]]' DISTRIBUTED route: the snapshot relation
    * ([[entriesRelationAt]]) groups by its trailing partition-dir
    * components INSIDE one scan (group count is bounded by the
    * partition count, so the collect is slice-sized, never
    * |files|-sized); the driver then re-groups by the REQUESTED column
    * subset, unescapes values, and applies exactly the driver rules
    * (unknown row counts / malformed paths → None; per-slice stats
    * covered only when every file carries them and none is
    * deletion-vectored; live == 0 slices drop). Outer None = no
    * columnar checkpoint serves the version.
    */
  private def distributedPartitionStats(name: String, version: Long,
      cols: Seq[String], np: Int)
      : Option[Option[Seq[(Seq[String], Long, Map[String, (Long, Long)])]]] = {
    import org.apache.spark.sql.functions.{
      lit, max, min, size, slice, split, sum, when, col => f}
    val rel = entriesRelationAt(name, version).getOrElse(return None)
    val statCols = statColumnsOf(rel)
    // trailing np DIR components (the file name excluded); too-shallow
    // paths (foreign-layout adoption) group under null and fail the
    // driver-side validation below, like the driver fold's return None
    val arr = split(f("rel"), "/")
    val dirs = when(size(arr) >= np + 1,
      slice(arr, size(arr) - np, lit(np))).otherwise(lit(null))
    val aggs = Seq(
      min(f("rows")).as("__minrows"),
      sum(f("rows") - f("dvRows")).as("__live"),
      max(when(f("dvRows") > lit(0L), 1).otherwise(0)).as("__anydv")) ++
      statCols.flatMap(c => Seq(
        sum(when(f(s"__lo_$c").isNull, 1L).otherwise(0L)).as(s"__miss_$c"),
        min(f(s"__lo_$c")).as(s"__min_$c"),
        max(f(s"__hi_$c")).as(s"__max_$c")))
    val grouped = rel.groupBy(dirs.as("__dirs"))
      .agg(aggs.head, aggs.tail: _*).collect().toSeq
    // a too-shallow path, an unknown row count or a malformed segment
    // anywhere makes the whole answer a scan's
    val decoded = grouped.map { r =>
      if (r.isNullAt(0) || r.getAs[Long]("__minrows") < 0L)
        return Some(None)
      (partitionValues(r.getSeq[String](0), cols)
        .getOrElse(return Some(None)), r)
    }
    Some(Some(decoded.groupBy(_._1).toSeq.map { case (vals, slice) =>
      val rs = slice.map(_._2)
      val stats =
        if (rs.exists(_.getAs[Int]("__anydv") > 0))
          Map.empty[String, (Long, Long)]
        else statCols.filter(c =>
            rs.forall(_.getAs[Long](s"__miss_$c") == 0L))
          .map(c => c -> ((rs.map(_.getAs[Long](s"__min_$c")).min,
            rs.map(_.getAs[Long](s"__max_$c")).max))).toMap
      (vals, rs.map(_.getAs[Long]("__live")).sum, stats)
    }.filter(_._2 > 0L)))
  }

  /** Publish manifest `version` atomically (tmp write + atomic
    * publish). The publish is the COMMIT POINT: it either lands whole
    * or not at all, and it fails with [[Warehouse.CommitConflict]] if
    * the version already exists — optimistic conflict detection;
    * [[commitWrites]] resolves or surfaces the conflict per op.
    *
    * Atomicity of the conflict check itself is store-dependent, so the
    * publish picks the primitive that IS atomic on each store: on local
    * filesystems `rename(2)` silently replaces an existing destination
    * (check-then-rename has a window two same-version committers can
    * both pass, silently dropping the first writer's files), so local
    * commits publish via `link(2)` — hard-link creation is
    * create-exclusive at the kernel level, exactly one of two racing
    * committers gets EEXIST. HDFS-style stores reject a rename onto an
    * existing destination atomically in the NameNode, so rename remains
    * the commit point there (object stores without atomic rename would
    * need a coordination service — out of scope, like Delta's LogStore
    * matrix).
    */
  private def commit(name: String, version: Long,
      entries: Seq[FileEntry], meta: Map[String, String] = Map.empty): Unit = {
    val fs = fileSystem
    val mdir = manifestDir(name)
    fs.mkdirs(mdir)
    if (version == 1L) {
      // stamp a fresh TABLE-LIFETIME id before the first manifest
      // lands: cache keys embed it ([[cacheKey]]), so version numbers
      // re-minted by a later drop+recreate — by this or any other
      // process — can never resolve a dead lifetime's cached
      // snapshots. Create-exclusive: racing v1 committers share
      // whichever marker landed first; a loser's local observation
      // corrects at its next directory listing.
      val id = java.util.UUID.randomUUID().toString
      if (publishExclusive(new Path(mdir, s"$LifetimePrefix$id"),
          Array.emptyByteArray))
        Warehouse.lifetimeObserved(s"$dir#$name", id)
    }
    // commit metadata rides the manifest as one '#'-prefixed line — the
    // DESCRIBE HISTORY record (operation, counts), atomic with the
    // commit itself because it IS part of the committed file. The
    // previous head's txn watermarks AND copy-ledger list are carried
    // into EVERY commit so the latest manifest alone holds the complete
    // idempotence state even after vacuum prunes old manifests (new
    // values in `meta` win — that's the epoch/ledger advancing).
    val carried = commitMeta(name, version - 1).view
      .filterKeys(k => k.startsWith("txn_") || k == "copyLedgers" ||
        k == "identityHwm" || k == "partitionBy").toMap
    val fullMeta = carried ++ meta
    val metaLine =
      if (fullMeta.isEmpty) Nil
      else Seq("#" + fullMeta.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString("\t"))
    def entryLine(e: FileEntry): String = Warehouse.formatEntry(e)
    // checkpoint versions write the full file list; every other commit
    // writes only its DELTA vs the previous version — manifest bytes
    // bounded by the batch, not the table (see class checkpointInterval
    // doc). The diff is an in-memory rel-keyed compare of lists the
    // commit already holds. Data files never change under a rel
    // (rewrites mint fresh names), but an entry's METADATA can — a
    // vectored delete swaps the deletion-vector ref in place — so an
    // entry differing from its predecessor under the same rel re-emits
    // as `+` (delta replay overwrites by rel).
    val body =
      if (isCheckpointVersion(version))
        (ManifestHeader +: metaLine ++: entries.sortBy(_.rel).map(entryLine))
          .mkString("\n")
      else {
        val prev = loadAt(name, version - 1)
        val prevByRel = prev.map(e => e.rel -> e).toMap
        val curSet = entries.map(_.rel).toSet
        val adds = entries.filterNot(e => prevByRel.get(e.rel).contains(e))
          .sortBy(_.rel)
        val removes = prev.map(_.rel).filterNot(curSet).sorted
        (DeltaHeader +: metaLine ++:
          (adds.map(e => s"+\t${entryLine(e)}") ++
            removes.map(r => s"-\t$r"))).mkString("\n")
      }
    publishManifest(name, f"v$version%012d." +
      (if (isCheckpointVersion(version)) "mf" else "mfd"), body)
    // big checkpoints ALSO materialize as a COLUMNAR (parquet) manifest
    // sidecar — the Delta-checkpoint/Iceberg-manifest answer to "don't
    // parse O(|files|) text on one node": probes push their stat-range
    // filters into a distributed parquet scan and collect only
    // surviving entries ([[prunedEntries]]). Purely derived from the
    // committed text manifest (the source of truth), so the write is
    // best-effort: a crash here just means readers fall back to the
    // text parse until the next checkpoint (or [[materializeColumnar]]).
    // PENDING transaction members never write one: their manifest can
    // still be ABORTED, and an aborted slot's sidecar would survive
    // (writeColumnarManifest's exists-guard) to silently shadow the
    // entry list of whatever different content a later writer commits
    // at the same version. Confirmed members backfill via
    // [[materializeColumnar]] or simply wait for the next checkpoint.
    if (isCheckpointVersion(version) && entries.size >= columnarThreshold &&
        !fullMeta.contains("mtxn"))
      try writeColumnarManifest(name, version, entries)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Entry count at or above which a checkpoint commit also writes the
    * columnar manifest sidecar. `var` so specs exercise the columnar
    * path on small tables; production default keeps small tables on
    * the (cheaper at that size) pure-text path.
    */
  private[graft] var columnarThreshold: Long = 32768L

  private def mfpPath(name: String, version: Long): Path =
    new Path(manifestDir(name), f"v$version%012d.mfp")

  /** The fixed (non-stat) columns of a columnar manifest; per-table
    * stat columns ride as `__lo_<c>` / `__hi_<c>` long pairs (null =
    * the file has no stats for `c`, which every probe treats as
    * keep — absence is always safe).
    */
  private val mfpFixed = StructType(Seq(
    StructField("rel", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("dv", StringType, nullable = false),
    StructField("dvRows", LongType, nullable = false)))

  /** The columnar manifest's schema: [[mfpFixed]], a `__lo_/__hi_<c>`
    * pair per stat column, a `__hll_<c>` sketch per embedded NDV
    * column. Rows are [[Warehouse.columnarRow]]. */
  private def columnarSchema(statCols: Seq[String],
      ndvCols: Seq[String]): StructType =
    StructType(mfpFixed.fields ++ statCols.flatMap(c => Seq(
      StructField(s"__lo_$c", LongType, nullable = true),
      StructField(s"__hi_$c", LongType, nullable = true))) ++
      ndvCols.map(c =>
        StructField(s"__hll_$c", BinaryType, nullable = true)))

  /** The stat columns a columnar relation carries `__lo_/__hi_` pairs
    * for. */
  private def statColumnsOf(df: DataFrame): Seq[String] =
    df.columns.toSeq.collect {
      case n if n.startsWith("__lo_") => n.stripPrefix("__lo_") }

  /** A columnar-manifest row back as an entry carrying its `statCols`
    * stats (Nil = a slim entry: rel and counters, no stats map). Rows
    * lead with [[mfpFixed]]'s columns in order, as every checkpoint and
    * [[entriesRelationAt]] lay them out. */
  private def entryOf(r: Row, statCols: Seq[String]): FileEntry =
    FileEntry(r.getString(0), r.getLong(1),
      statCols.flatMap { c =>
        val lo = r.fieldIndex(s"__lo_$c")
        if (r.isNullAt(lo)) None
        else Some(c -> ((r.getLong(lo), r.getAs[Long](s"__hi_$c"))))
      }.toMap,
      r.getLong(2), r.getString(3), r.getLong(4))

  private def writeColumnarManifest(name: String, version: Long,
      entries: Seq[FileEntry]): Unit = {
    val fs = fileSystem
    val dest = mfpPath(name, version)
    if (fs.exists(dest)) return // racing committer already wrote it
    val statCols = entries.iterator.flatMap(_.stats.keysIterator)
      .toSeq.distinct.sorted
    // NDV sketch EMBEDDING: the per-file HLL sidecar bytes ride the
    // checkpoint as `__hll_<c>` binary columns, read DISTRIBUTED here
    // (once per checkpoint) so [[lazyNdv]] can union them inside one
    // parquet scan instead of opening |files| sidecars per cold
    // version. A missing sidecar writes null (readers withhold the
    // column — never undercount). ~1.5 KB per sketch: at 800k entries
    // a one-column embed adds ~1.2 GB spread over the checkpoint's
    // parquet parts — the price of never walking the sidecar dir at
    // plan time.
    val ndvCols = specsNow.get(name).map(_.ndvColumns).getOrElse(Nil)
    // a few hundred k entries per task: parallel enough to read
    // distributed, few enough files to stay listing-cheap
    val parts = math.max(1, math.min(32, (entries.size / 262144) + 1))
    val ndir = ndvDir(name).toString
    val conf = new org.apache.spark.util.SerializableConfiguration(
      hadoopConf)
    val rows = spark.sparkContext.parallelize(entries, parts)
      .mapPartitions { it =>
        val tfs = new Path(ndir).getFileSystem(conf.value)
        it.map(e => Warehouse.columnarRow(e, statCols,
          ndvCols.map(Warehouse.Sidecars.readNdv(tfs, ndir, e.rel, _))))
      }
    val tmp = new Path(manifestDir(name),
      s".tmp-mfp-${java.util.UUID.randomUUID}")
    spark.createDataFrame(rows, columnarSchema(statCols, ndvCols))
      .write.mode("overwrite").parquet(tmp.toString)
    // directory rename is the atomic publish; a loser (concurrent
    // committer of the same checkpoint writes identical content) just
    // discards its temp
    if (fs.exists(dest) || !fs.rename(tmp, dest)) fs.delete(tmp, true)
  }

  /** Backfill the columnar manifest for the newest checkpoint at or
    * below the current head (idempotent maintenance — the commit-time
    * write is best-effort). @return true if one was written or already
    * present, false when the table has no checkpoint yet or sits below
    * [[columnarThreshold]].
    */
  def materializeColumnar(name: String): Boolean =
    versions(name).lastOption.flatMap(checkpointBelow(name, _)) match {
      case None => false
      case Some(ck) =>
        if (fileSystem.exists(mfpPath(name, ck))) true
        else {
          val entries = loadAt(name, ck)
          if (entries.size < columnarThreshold) false
          else { writeColumnarManifest(name, ck, entries); true }
        }
    }

  /** Newest version ≤ `version` committed (or vacuum-materialized) as a
    * FULL `.mf` checkpoint — ≤ checkpointInterval−1 existence probes.
    */
  private def checkpointBelow(name: String, version: Long): Option[Long] = {
    var v = version
    while (v >= 1L) {
      if (fileSystem.exists(new Path(manifestDir(name), f"v$v%012d.mf")))
        return Some(v)
      v -= 1
    }
    None
  }

  /** Replay the delta manifests in `(ckpt, version]` into batch-bounded
    * driver state: later versions win per rel; a re-add clears a prior
    * remove. Each delta is bounded by its commit's batch — the whole
    * replay holds ≤ (interval−1) × batch entries, never the table.
    */
  private def deltaState(name: String, ckpt: Long, version: Long)
      : (scala.collection.mutable.HashSet[String],
         scala.collection.mutable.LinkedHashMap[String, FileEntry]) = {
    val removed = scala.collection.mutable.HashSet.empty[String]
    val upserts = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    ((ckpt + 1) to version).foreach { v =>
      val lines = readManifestLines(name, manifestPathOf(name, v))
      require(lines.headOption.contains(DeltaHeader),
        s"$name v$v: expected a delta manifest above checkpoint v$ckpt")
      lines.tail.filter(l => l.nonEmpty && !l.startsWith("#")).foreach {
        line =>
          if (line.startsWith("+\t")) {
            val e = parseEntry(line.drop(2))
            upserts(e.rel) = e
            removed -= e.rel
            ()
          } else if (line.startsWith("-\t")) {
            removed += line.drop(2)
            upserts.remove(line.drop(2))
            ()
          } else throw new IllegalArgumentException(
            s"$name delta manifest: unrecognized line $line")
      }
    }
    (removed, upserts)
  }

  /** The head snapshot's entry list AS A DISTRIBUTED RELATION — see
    * [[entriesRelationAt]]. Metadata relations (`t.files` /
    * `t.partitions`) plan over this, so `SELECT count(*) FROM t.files`
    * at 800k files never materializes the entry list on one node.
    */
  private[graft] def entriesRelation(name: String): Option[DataFrame] =
    versions(name).lastOption
      .flatMap(v => entriesRelationAt(name, v))

  /** THE snapshot relation: `version`'s live entries as a distributed
    * relation with every column the columnar checkpoint has — the fixed
    * columns, the `__lo_/__hi_<c>` stat pairs and the `__hll_<c>`
    * sketches. The only code that knows how a version's entries come
    * from the checkpoint at-or-below it plus the ≤ interval−1 deltas
    * above: checkpoint rows a delta touched anti-join out via a
    * broadcast of the batch-bounded touched set, and the delta upserts
    * union in as local rows with their own stats
    * ([[Warehouse.columnarRow]]; a stat column only upserts carry
    * reads null on checkpoint rows, an upsert's sketch reads null).
    * Every distributed metadata fold — row counts, min/max, partition
    * stats, NDV, file prunes, slim lists, time-traveled `t.files` — is
    * one query over it, so a versioned fold at 800k entries plans as
    * distributed as the head's. Each build counts one
    * [[Warehouse.columnarPrunes]]. None when no columnar checkpoint
    * serves the version — at that size the driver fold is the cheaper
    * path and callers fall back to it.
    */
  private[graft] def entriesRelationAt(name: String,
      version: Long): Option[DataFrame] = {
    import org.apache.spark.sql.functions.broadcast
    import scala.jdk.CollectionConverters._
    val fs = fileSystem
    val ckpt = checkpointBelow(name, version)
      .filter(x => fs.exists(mfpPath(name, x)))
      .getOrElse(return None)
    val (removed, upserts) = deltaState(name, ckpt, version)
    val base = spark.read.parquet(mfpPath(name, ckpt).toString)
    val touched = (removed ++ upserts.keysIterator).toSeq.sorted
    val kept =
      if (touched.isEmpty) base
      else base.join(
        broadcast(spark.createDataFrame(touched.map(Tuple1(_)))
          .toDF("rel")),
        Seq("rel"), "left_anti")
    Warehouse.columnarPrunes.incrementAndGet()
    Some(if (upserts.isEmpty) kept
      else {
        val ups = upserts.valuesIterator.toSeq
        val statCols = ups.iterator.flatMap(_.stats.keysIterator)
          .toSeq.distinct.sorted
        kept.unionByName(spark.createDataFrame(
          ups.map(Warehouse.columnarRow(_, statCols, Nil)).asJava,
          columnarSchema(statCols, Nil)), allowMissingColumns = true)
      })
  }

  /** `version`'s live entries WITHOUT their stats maps — the bounded
    * driver representation for scans that need every file but no
    * skipping: the lazy path's UNFILTERED cold scans and `inputFiles`,
    * which previously fell back to the full [[loadAt]] fold (~0.3 GB of
    * FileEntry state at 800k entries, dominated by the per-entry stats
    * maps). Collected DISTRIBUTED from the snapshot relation at
    * ~150 B/entry (rel + counters only — the stats maps, the heavy
    * term, are never built), memoized per confirmed version under an
    * entry-count budget ([[Warehouse.slims]]). Sound wherever no stat
    * skipping is possible: a scan with NO translatable data filter
    * treats absent stats as keep-everything, which here is exactly
    * right. None when no columnar checkpoint serves the version.
    */
  private[graft] def slimEntriesAt(name: String,
      version: Long): Option[Seq[FileEntry]] = {
    val key = cacheKey(name, version)
    Warehouse.slims.get(key) match {
      case Some(hit) => return Some(hit)
      case None =>
    }
    // cacheability decided BEFORE the read, like [[loadAt]]'s same-read
    // rule: visibility is one-way (a confirmed slot is immutable
    // forever), so visible-now ⇒ whatever we read next is the final
    // content; a PENDING version ([[entriesLight]] on vacuum's raw
    // versions) computes uncached — an abort-and-rewrite of its slot
    // must not serve stale entries under the new commit's key
    val cacheable = isVisible(name, version)
    val rel = entriesRelationAt(name, version).getOrElse(return None)
    val slim = rel.select("rel", "bytes", "rows", "dv", "dvRows")
      .collect().toSeq.map(entryOf(_, Nil)).sortBy(_.rel)
    if (cacheable) Warehouse.slims.put(key, slim)
    Some(slim)
  }

  /** `rel`'s slim entries as a CHUNKED rel-sorted stream: driver entry
    * state bounded by a CONSTANT chunk instead of the row count
    * (112 MiB at 800k slim entries; ~1.1 GiB at the 8M design point).
    * The relation is HASH-repartitioned on `rel` into ~64k-entry
    * chunks (~10 MiB each; hash, not range — a range exchange costs an
    * extra sampling scan), sorted within each chunk, and drained
    * partition-at-a-time via `toLocalIterator`. Rel order holds within
    * a chunk, which is what lets the streamed `PartitionDirectory`
    * build fold same-dir runs in one pass; a dir whose files hash
    * across chunks simply emits one directory per chunk-run with equal
    * value rows — exactly what FileSourceScanExec's concatenation
    * expects. Streamed entries carry EMPTY stats maps by design — the
    * safe direction, since a downstream re-check against empty stats
    * can only prune LESS, never more.
    * @param rows the relation's row count, sizing the repartition
    */
  private def chunkedStream(rel: DataFrame, rows: Long): Iterator[FileEntry] = {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    rel.select("rel", "bytes", "rows", "dv", "dvRows")
      .repartition(math.max(1L, (rows + 65535L) / 65536L).toInt, col("rel"))
      .sortWithinPartitions("rel")
      .toLocalIterator().asScala
      .map(entryOf(_, Nil))
  }

  /** [[slimEntriesAt]] as a [[chunkedStream]] — the unfiltered
    * cold-scan feed. A slim-cache hit serves the memo's iterator for
    * free. The stream never memoizes (the point is not to hold the
    * list); warm-path economics live in the cross-plan directory memo,
    * which caches the BUILT directories under its own file budget.
    * @param files the snapshot's entry count (from [[lazySnapshotAgg]])
    */
  private[graft] def slimEntriesStream(name: String, version: Long,
      files: Long): Option[Iterator[FileEntry]] = {
    Warehouse.slims.get(cacheKey(name, version)) match {
      case Some(hit) => return Some(hit.iterator)
      case None =>
    }
    entriesRelationAt(name, version).map { rel =>
      Warehouse.streamedLists.incrementAndGet()
      chunkedStream(rel, files)
    }
  }

  /** The filtered prune as ONE DataFrame: the snapshot relation
    * restricted to the stat-range + rel-segment condition, evaluated
    * inside the distributed scan (the predicates push through the
    * overlay's anti-join and union into the checkpoint's parquet scan),
    * sketch columns dropped so they never ride a survivor collect.
    * `ranges` are long-encoded [lo, hi] per column: an entry without
    * stats for a column always survives it, so does every entry when no
    * entry has stats for it. None when no columnar checkpoint serves
    * the version (callers fall back to the eager fold).
    *
    * @param relConjuncts CNF of `/k=v/` path-segment constraints from
    *   partition-filter translation ([[ManifestFileIndex.partitionSegments]]):
    *   every outer element must match (some alternative substring of
    *   `'/' + rel`) for an entry to survive — so a one-partition read
    *   of an 800k-entry table collects only that partition's entries.
    */
  private def pruneScan(name: String, version: Long,
      ranges: Map[String, (Long, Long)],
      relConjuncts: Seq[Seq[String]]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    entriesRelationAt(name, version).map { rel =>
      val statCond = ranges.foldLeft(lit(true)) { case (acc, (c, (lo, hi))) =>
        if (!rel.columns.contains(s"__lo_$c")) acc
        else acc && (col(s"__lo_$c").isNull ||
          (col(s"__hi_$c") >= lit(lo) && col(s"__lo_$c") <= lit(hi)))
      }
      val slashRel = concat(lit("/"), col("rel"))
      val cond = relConjuncts.foldLeft(statCond) { (acc, alts) =>
        // an EMPTY disjunction (a derived constraint whose enumerable
        // value set is empty — contradictory pushed ranges) keeps nothing
        if (alts.isEmpty) acc && lit(false)
        else acc && alts.map(s => slashRel.contains(lit(s))).reduce(_ || _)
      }
      rel.where(cond)
        .drop(rel.columns.filter(_.startsWith("__hll_")).toSeq: _*)
    }
  }

  /** DISTRIBUTED stat-range file pruning: `version`'s live entries
    * restricted to `ranges` / `relConjuncts` ([[pruneScan]]) WITHOUT
    * folding the full manifest on the driver — only the survivors are
    * collected, with their stats, rel-sorted.
    *
    * None = no columnar checkpoint serves this version (small table,
    * pre-columnar history, or a crashed sidecar write) — callers fall
    * back to the [[loadAt]] fold, which the snapshot cache amortizes.
    */
  private[graft] def prunedEntries(name: String, version: Long,
      ranges: Map[String, (Long, Long)],
      relConjuncts: Seq[Seq[String]] = Nil): Option[Seq[FileEntry]] = {
    // identical (version, filter-shape) asks memoize: 100 sequential
    // filtered reads of one cold table run ONE distributed prune per
    // distinct filter, not one per query. Only CONFIRMED versions are
    // immutable (same one-way rule as [[slimEntriesAt]], checked
    // BEFORE the read) — a pending version's slot can be aborted and
    // re-committed with different content, so it never memoizes.
    val memoKey = cacheKey(name, version) + "#" +
      ranges.toSeq.sortBy(_._1).mkString(";") + "#" +
      relConjuncts.map(_.mkString("|")).mkString("&")
    Warehouse.pruneMemo.get(memoKey) match {
      case Some(hit) => return Some(hit)
      case None =>
    }
    val memoizable = isVisible(name, version)
    val filtered =
      pruneScan(name, version, ranges, relConjuncts).getOrElse(return None)
    val statCols = statColumnsOf(filtered)
    val result = filtered.collect().toSeq.map(entryOf(_, statCols))
      .sortBy(_.rel)
    // unselective probes stay uncached — re-pruning is no worse
    if (memoizable && result.size <= Warehouse.pruneMemoMaxSurvivors)
      Warehouse.pruneMemo.put(memoKey, result)
    Some(result)
  }

  /** The filtered prune as a [[chunkedStream]] — [[slimEntriesStream]]'s
    * driver-residency contract extended to WEAKLY-SELECTIVE filters:
    * a 90%-survivor stat-range filter at the 8M-file design point
    * would hold ~O(|files|) entries through [[prunedEntries]]'
    * collect; here survivors drain partition-at-a-time. Returns None
    * when no checkpoint serves the version OR the survivor count — one
    * exact, distributed aggregate, paid only on asks already past the
    * caller's table-size gate — is at/below `threshold`: the
    * collect+memoize path is cheaper there and serves repeated asks for
    * free. Never memoizes — the point is not holding the list;
    * warm-path economics live in the cross-plan directory memo.
    */
  private[graft] def prunedEntriesStream(name: String, version: Long,
      ranges: Map[String, (Long, Long)],
      relConjuncts: Seq[Seq[String]],
      threshold: Long): Option[Iterator[FileEntry]] = {
    val filtered =
      pruneScan(name, version, ranges, relConjuncts).getOrElse(return None)
    val cnt = filtered.count()
    if (cnt <= threshold) return None
    Warehouse.streamedPrunes.incrementAndGet()
    Some(chunkedStream(filtered, cnt))
  }

  /** `version`'s entries restricted to `ranges`, picking the cheapest
    * correct path: a cached snapshot filters on the driver for free;
    * otherwise the columnar checkpoint prunes DISTRIBUTED (the 100 TB
    * shape — the driver never materializes the full list); otherwise
    * the text fold (which then populates the cache for next time).
    */
  private def plannedRange(name: String, version: Long,
      ranges: Map[String, (Long, Long)]): Seq[FileEntry] = {
    def driverFilter(entries: Seq[FileEntry]): Seq[FileEntry] =
      if (ranges.isEmpty) entries
      else entries.filter(e => ranges.forall { case (c, (lo, hi)) =>
        e.stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi } })
    Warehouse.snapshots.get(cacheKey(name, version)) match {
      case Some(entries) => driverFilter(entries)
      case None if ranges.nonEmpty =>
        prunedEntries(name, version, ranges)
          .getOrElse(driverFilter(loadAt(name, version)))
      case None => loadAt(name, version)
    }
  }

  /** Atomically publish a manifest body under `fileName`; throws
    * [[Warehouse.CommitConflict]] if the destination already exists —
    * OR if the SIBLING extension of the same version exists (`.mf` vs
    * `.mfd`): a writer whose checkpoint-interval view disagrees with a
    * concurrent committer's (a legacy directory predating the persisted
    * interval) would otherwise publish version N under the OTHER
    * extension without colliding, and readers preferring `.mf` would
    * silently drop one commit. The sibling is checked before the write
    * (cheap fail-fast) and re-checked after the publish; in the
    * re-check race both writers may abort — safe (neither version
    * lands; appends retry), never lossy.
    *
    * @param allowSibling vacuum's checkpoint MATERIALIZATION publishes
    *   a `.mf` at a version that legitimately already has a `.mfd`
    */
  private def publishManifest(name: String, fileName: String,
      body: String, allowSibling: Boolean = false): Unit = {
    val fs = fileSystem
    val mdir = manifestDir(name)
    val sibling = new Path(mdir,
      if (fileName.endsWith(".mfd")) fileName.dropRight(1) else fileName + "d")
    def siblingConflict(): Unit =
      throw new Warehouse.CommitConflict(
        s"$name: version ${fileName.takeWhile(_ != '.')} already " +
          s"committed under the sibling extension (${sibling.getName}) " +
          "— concurrent writer with a different checkpoint interval")
    if (!allowSibling && fs.exists(sibling)) siblingConflict()
    val dest = new Path(mdir, fileName)
    val committed = publishExclusive(dest,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (!committed)
      throw new Warehouse.CommitConflict(
        s"$name: manifest $fileName commit lost a race (concurrent writer)")
    if (!allowSibling && fs.exists(sibling)) {
      // sibling appeared inside the publish window: yield — delete our
      // manifest (data files become vacuumable orphans) and conflict
      fs.delete(dest, false)
      siblingConflict()
    }
  }

  /** Create-exclusive publish of `bytes` at `dest`: returns true iff
    * THIS call created the file. Atomicity picks the primitive that IS
    * atomic per store: local filesystems publish via `link(2)` (hard-
    * link creation is create-exclusive at the kernel level — exactly
    * one of two racers gets EEXIST; `rename(2)` would silently replace),
    * HDFS-style stores via rename (the NameNode rejects an existing
    * destination atomically).
    */
  private def publishExclusive(dest: Path, bytes: Array[Byte]): Boolean = {
    val fs = fileSystem
    fs.mkdirs(dest.getParent)
    val tmp = new Path(dest.getParent, s".tmp-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try {
      out.write(bytes)
      out.hsync()
    } finally out.close()
    val committed =
      if ("file" == fs.getUri.getScheme) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else !fs.exists(dest) && fs.rename(tmp, dest)
    // local link leaves tmp behind; a successful rename already moved it
    // (delete is then a harmless no-op)
    fs.delete(tmp, false)
    committed
  }

  /** Per-file (rowCount, min/max for `cols`), read from the parquet
    * FOOTER (no data scan). A column is dropped whenever any row group
    * lacks usable stats — absence of stats must never enable a skip.
    * The row count lets [[writeBatch]] suppress ZERO-ROW files (an
    * unpartitioned rewrite emits one part file per task, empty tasks
    * included): an empty file carries no stats and no bloom sidecar,
    * so it would be kept by every skip-read forever — pure overhead in
    * the manifest.
    */
  private def footerInfo(file: Path,
      cols: Seq[String]): (Long, Map[String, (Long, Long)]) = {
    import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, hadoopConf))
    try {
      val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      val dropped = scala.collection.mutable.Set.empty[String]
      var rows = 0L
      reader.getFooter.getBlocks.forEach { block =>
        rows += block.getRowCount
        block.getColumns.forEach { cc =>
          val n = cc.getPath.toDotString
          if (cols.contains(n) && !dropped(n)) {
            val mm = cc.getStatistics match {
              case s: IntStatistics if s.hasNonNullValue =>
                Some((s.getMin.toLong, s.getMax.toLong))
              case s: LongStatistics if s.hasNonNullValue =>
                Some((s.getMin, s.getMax))
              case _ => None
            }
            mm match {
              case Some((lo, hi)) =>
                val cur = acc.getOrElse(n, (Long.MaxValue, Long.MinValue))
                acc(n) = (math.min(cur._1, lo), math.max(cur._2, hi))
              case None =>
                // all-null or absent stats in this row group: unsafe to
                // skip on this column for this file
                dropped += n
                acc.remove(n)
            }
          }
        }
      }
      (rows, acc.toMap)
    } finally reader.close()
  }

  /** Write `df` as NEW files for `name`: cluster by the partition
    * columns (one task per touched partition dir), write under a fresh
    * `_staging/<uuid>`, then move each data file into the table tree.
    * Returns the new entries (with footer stats); nothing is committed
    * and no live file is touched.
    */
  private def writeBatch(name: String, df0: DataFrame, rowsPerFile: Long = 0,
      flatFiles: Int = 0,
      sortCols: Seq[org.apache.spark.sql.Column] = Nil): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.col
    val parts = partitioning(name)
    // TIMESTAMP-typed partition values render through the SESSION
    // timezone (Spark's dynamic-partition write), and every reader of
    // this engine parses those dirs as UTC — the interpreted pass
    // ([[ManifestFileIndex.partitionValues]]' hardcoded UTC cast) and
    // the distributed segment prune alike. A non-UTC session would
    // write dirs the engine then silently misreads, so refuse up
    // front (GraftSession pins UTC; NTZ renders timezone-free and
    // needs no guard).
    if (parts.exists(p => tables(name)(p).dataType == TimestampType))
      require(
        spark.conf.get("spark.sql.session.timeZone", "") == "UTC",
        s"$name: TimestampType partition columns require " +
          "spark.sql.session.timeZone=UTC — the engine renders and " +
          "parses timestamp partition dirs under the UTC contract")
    // column mapping: stage files under PHYSICAL names (restricted
    // columns keep logical == physical, so partition/bucket/stat logic
    // below is unaffected); exact no-op when mapping is inactive
    val df = if (!mappingActive(name)) df0
      else df0.select(tables(name).fields.toSeq.map(f =>
        col(f.name).as(Warehouse.physicalName(f))): _*)
    val bucketed = specsNow.get(name).filter(_.numBuckets > 0)
    val clustered = bucketed match {
      case Some(s) =>
        // BUCKETED layout: hash-place every row into its bucket, so the
        // write task index IS the bucket id and the move below can
        // stamp it into the `_NNNNN` file-name slot the scan parses.
        //
        // NOT a plain `repartition(n, bucketBy)`: when the input df
        // itself reads this (or a same-layout) bucketed table — every
        // compact/merge/purge rewrite does — the scan CLAIMS
        // HashPartitioning(bucketBy, n), the planner elides the
        // repartition as redundant, and then DisableUnnecessaryBucketedScan
        // may STILL disable the bucketed read, leaving arbitrary
        // file-bin partitions whose task indices are NOT bucket ids
        // (observed: a compact of 66 files rewrote 8 buckets into 4
        // mis-stamped files). Repartitioning on a per-bucket
        // REPRESENTATIVE value — chosen so pmod(murmur3(rep_b), n) == b
        // — places identically, stays whole-stage-codegen, and can
        // never be elided (no child ever claims partitioning on it).
        import org.apache.spark.sql.functions.{element_at, hash, lit, pmod}
        val reps = Warehouse.bucketRepresentatives(s.numBuckets)
        val bucketId = pmod(hash(s.bucketBy.map(col): _*), lit(s.numBuckets))
        val key = element_at(lit(reps), bucketId + lit(1))
        val b = df.repartition(s.numBuckets, key)
        val sorts = parts.map(col) ++ sortCols
        if (sorts.nonEmpty) b.sortWithinPartitions(sorts: _*) else b
      case None => parts match {
        case Nil =>
          // flat layout: range-partition on the cluster key so each
          // output file covers a disjoint key range (coalesce alone
          // would leave arbitrary row placement)
          if (sortCols.nonEmpty && flatFiles > 0)
            df.repartitionByRange(flatFiles, sortCols: _*)
              .sortWithinPartitions(sortCols: _*)
          else if (flatFiles > 0) df.coalesce(flatFiles) else df
        case cols =>
          // one task per partition dir (the 11k-small-files fix, r3);
          // maxRecordsPerFile still splits oversized ones — and when a
          // cluster key is given, splits a SORTED stream, so each split
          // file covers a contiguous key range (tight footer stats)
          val re = df.repartition(cols.map(col): _*)
          if (sortCols.isEmpty) re
          else re.sortWithinPartitions(cols.map(col) ++ sortCols: _*)
      }
    }
    val fs = fileSystem
    val staging = new Path(path(name),
      s"_staging/${java.util.UUID.randomUUID}")
    val w0 = clustered.write.mode("overwrite")
    val w1 = if (rowsPerFile > 0) w0.option("maxRecordsPerFile", rowsPerFile)
             else w0
    (parts match {
      case Nil => w1
      case cols => w1.partitionBy(cols: _*)
    }).parquet(staging.toString)
    // part file names embed the write job's UUID — already unique in the
    // destination dirs. Listing, the per-file metadata rename, and the
    // footer-stat read are all independent I/O: a date-partitioned
    // append lands hundreds of one-file directories, and the serial
    // forms of these loops taxed the pipeline measurably (q46 +80%:
    // 2.7 s listing + 1.3 s moves + ~2 s footer opens at 366 files) —
    // all three run on the driver pool now.
    val staged = FsListing.dataFiles(staging.toString)
    val cols = statColumns(name)
    val moved = DriverPool.map(staged) { case (rel, bytes) =>
      val destRel =
        if (bucketed.isDefined) bucketStampedRel(name, rel) else rel
      val dest = new Path(path(name), destRel)
      fs.mkdirs(dest.getParent)
      require(fs.rename(new Path(staging, rel), dest),
        s"$name: staging move failed for $rel")
      val (rows, stats) = footerInfo(dest, cols)
      (rows, FileEntry(destRel, bytes, stats, rows))
    }
    // zero-row part files (empty tasks of an unpartitioned rewrite, the
    // bootstrap empty write) never enter the manifest — delete in place;
    // they are uncommitted, so this is not a data deletion
    val entries = moved.collect { case (rows, e) if rows > 0 => e }
    moved.collect { case (0, e) => e }
      .foreach(e => fs.delete(new Path(path(name), e.rel), false))
    fs.delete(staging, true)
    writeBloomSidecars(name, entries)
    entries
  }

  /** Stamp a staged part file's TASK index — the bucket id, by the
    * [[writeBatch]] bucketed-repartition invariant — into the `_NNNNN`
    * file-name slot Spark's bucketed scan parses
    * (`BucketingUtils.getBucketId`): `part-00003-<uuid>-c000.snappy
    * .parquet` → `part-00003-<uuid>-c000_00003.snappy.parquet`. Names
    * stay unique (the stamp is injective per name), and a partitioned
    * table's dir prefix rides along untouched.
    */
  private def bucketStampedRel(name: String, rel: String): String = {
    val slash = rel.lastIndexOf('/')
    val base = rel.substring(slash + 1)
    val m = java.util.regex.Pattern.compile("^part-(\\d+)-").matcher(base)
    require(m.find(),
      s"$name: bucketed write cannot parse a task id from $base")
    val id = m.group(1).toInt
    val dot = base.indexOf('.')
    val stamped =
      if (dot < 0) base + f"_$id%05d"
      else base.substring(0, dot) + f"_$id%05d" + base.substring(dot)
    rel.substring(0, slash + 1) + stamped
  }

  // ------------------------------------------------------------------
  // bloom file index
  // ------------------------------------------------------------------

  private def bloomDir(name: String) =
    new Path(path(name), Warehouse.Sidecars.bloomDirName)

  /** Sidecar name/dir contract: see [[Warehouse.Sidecars]] (the shared
    * source of truth with every task-side closure). */
  private def relHash(rel: String): String = Warehouse.Sidecars.sha1(rel)

  private def bloomFileName(rel: String, column: String): String =
    Warehouse.Sidecars.bloomName(rel, column)

  /** Absolute filesystem path (scheme-stripped) → manifest entry, the
    * join key between `input_file_name()` and the manifest.
    */
  private def byAbsPath(name: String,
      entries: Seq[FileEntry]): Map[String, FileEntry] = {
    val fs = fileSystem
    entries.map(e =>
      fs.makeQualified(new Path(path(name), e.rel)).toUri.getPath -> e).toMap
  }

  private val instanceId = Warehouse.instanceIds.incrementAndGet()

  private def ndvDir(name: String) =
    new Path(path(name), Warehouse.Sidecars.ndvDirName)

  private def ndvFileName(rel: String, column: String): String =
    Warehouse.Sidecars.ndvName(rel, column)

  /** One distributed pass building the PER-FILE sidecars for every new
    * file: bloom filters for [[TableSpec.bloomColumns]] and HLL
    * distinct-count sketches (Spark's own DataSketches `hll_sketch_agg`,
    * lgK 12 ≈ ±2%) for [[TableSpec.ndvColumns]], all in ONE
    * `groupBy(input_file_name)` read-back of the batch. Per-file
    * sketches are the Iceberg-puffin design: copy-on-write DML composes
    * exactly (a rewritten file gets a fresh sketch over its actual
    * rows; survivors keep theirs), so the snapshot NDV is always the
    * union over LIVE files — no decrement problem. Sidecars land BEFORE
    * the manifest commit; a crash strands orphans that vacuum collects.
    * A file without a sidecar simply contributes no bloom skip and
    * withholds the NDV estimate — absence never corrupts an answer.
    */
  private def writeBloomSidecars(name: String, fresh: Seq[FileEntry]): Unit = {
    import org.apache.spark.sql.functions.{col, hll_sketch_agg, input_file_name}
    val spec = specsNow(name)
    if ((spec.bloomColumns.isEmpty && spec.ndvColumns.isEmpty) ||
      fresh.isEmpty) return
    val schema = tables(name)
    // a filter holds ONE file's values: size it for the largest fresh
    // file, not the table (at the spec's 262,144 a 77-row signature
    // index wrote 239 KB sidecars). One geometry per aggregate keeps
    // BloomAgg's buffers mergeable; a serialized filter carries its own
    // size, so old sidecars stay readable. Unknown footer counts (legacy
    // / adopted entries) keep the spec's figure. Built for HALF bloomFpp:
    // filled to its design count a filter realizes that rate ±15%
    // (measured 0.97-1.17% for 1%), and bloomFpp is a ceiling
    val expected =
      if (fresh.exists(_.rows < 0)) spec.bloomExpectedItems
      else math.max(1L, math.min(spec.bloomExpectedItems,
        fresh.map(_.rows).max))
    val bloomAggs = spec.bloomColumns.map(c => graft.plans.BloomAgg.bloom(
      col(c), expected, spec.bloomFpp / 2).as(s"_bf_$c"))
    // hll_sketch_agg accepts int/long/string/binary — temporals get the
    // manifest's injective long encodings (days / micros), so the
    // distinct count is exact for the original values
    def hllInput(c: String): org.apache.spark.sql.Column =
      schema(c).dataType match {
        case ByteType | ShortType | IntegerType => col(c).cast("long")
        case DateType => org.apache.spark.sql.functions.datediff(
          col(c), org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.lit("1970-01-01"))).cast("long")
        case TimestampType =>
          org.apache.spark.sql.functions.unix_micros(col(c))
        case TimestampNTZType => org.apache.spark.sql.functions.unix_micros(
          col(c).cast(TimestampType)) // UTC session: identity on micros
        case _ => col(c)
      }
    val ndvAggs = spec.ndvColumns.map(c =>
      hll_sketch_agg(hllInput(c)).as(s"_hll_$c"))
    val aggs = bloomAggs ++ ndvAggs
    val rows = dfFor(name, fresh)
      .groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val relOf = byAbsPath(name, fresh)
    val fs = fileSystem
    if (spec.bloomColumns.nonEmpty) fs.mkdirs(bloomDir(name))
    if (spec.ndvColumns.nonEmpty) fs.mkdirs(ndvDir(name))
    rows.foreach { r =>
      relOf.get(new Path(r.getString(0)).toUri.getPath).foreach { e =>
        spec.bloomColumns.foreach { c =>
          val out = fs.create(
            new Path(bloomDir(name), bloomFileName(e.rel, c)), true)
          try out.write(r.getAs[Array[Byte]](s"_bf_$c"))
          finally out.close()
        }
        spec.ndvColumns.foreach { c =>
          val out = fs.create(
            new Path(ndvDir(name), ndvFileName(e.rel, c)), true)
          try out.write(r.getAs[Array[Byte]](s"_hll_$c"))
          finally out.close()
        }
      }
    }
  }

  /** APPROXIMATE DISTINCT COUNTS for the planned entry subset: the
    * union of the entries' per-file HLL sketches, one estimate per ndv
    * column that EVERY planned file carries a sidecar for (a missing
    * sketch withholds the column — an estimate must never silently
    * undercount). Driver cost: |files|×|cols| reads of ~1.5 KB
    * sidecars, memoized per (rel-set, col-set). Exact under append/
    * compact/copy-on-write DML; an UPPER bound on files carrying
    * deletion vectors (the vectored rows are still sketched) until
    * REORG materializes them.
    */
  def ndvEstimates(name: String,
      entries: Seq[FileEntry]): Map[String, Long] = {
    val cols = specsNow.get(name).map(_.ndvColumns).getOrElse(Nil)
    if (cols.isEmpty || entries.isEmpty) return Map.empty
    val key = lifetimeKey(name) + instanceId + "#" + cols.mkString(",") +
      "#" + entries.map(_.rel).sorted.mkString("|").hashCode
    Warehouse.ndvMemo.get(key).getOrElse {
      val fs = fileSystem
      // above the threshold the per-file sketch union runs as a SPARK
      // JOB (HLL unions are associative — each task folds its
      // partition's sidecars into one partial, the driver folds ~64
      // partials): at 800k files the driver otherwise opens 800k
      // ~1.5 KB sidecars serially per estimate, the same shape the
      // distributed bloom probe removed from the point-lookup path.
      // A missing sidecar anywhere withholds the column (never
      // undercount), exactly like the loop below.
      val computed: Map[String, Long] =
        if (entries.size >= bloomProbeDistributedThreshold) {
          val ndir = ndvDir(name).toString
          val conf = new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration)
          val colsB = spark.sparkContext.broadcast(cols)
          val parts = math.max(1, math.min(256, entries.size / 1024 + 1))
          val partials = spark.sparkContext
            .parallelize(entries.map(e =>
              cols.map(c => ndvFileName(e.rel, c))), parts)
            .mapPartitions { it =>
              val base = new Path(ndir)
              val tfs = base.getFileSystem(conf.value)
              val cs = colsB.value
              val unions = cs.map(_ =>
                new org.apache.datasketches.hll.Union(12))
              val missing = Array.fill(cs.size)(false)
              it.foreach { fns =>
                fns.zipWithIndex.foreach { case (fn, i) =>
                  if (!missing(i)) {
                    val p = new Path(base, fn)
                    if (!tfs.exists(p)) missing(i) = true
                    else {
                      val in = tfs.open(p)
                      val bytes = try in.readAllBytes() finally in.close()
                      unions(i).update(org.apache.datasketches.hll
                        .HllSketch.heapify(bytes))
                    }
                  }
                }
              }
              Iterator.single(cs.indices.map(i =>
                (i, missing(i),
                  unions(i).getResult.toCompactByteArray)).toSeq)
            }.collect()
          colsB.destroy()
          cols.zipWithIndex.flatMap { case (c, i) =>
            if (partials.exists(_(i)._2)) None // a sidecar is missing
            else {
              val u = new org.apache.datasketches.hll.Union(12)
              partials.foreach(p => u.update(
                org.apache.datasketches.hll.HllSketch.heapify(p(i)._3)))
              Some(c -> math.round(u.getEstimate))
            }
          }.toMap
        } else cols.flatMap { c =>
        val union = new org.apache.datasketches.hll.Union(12)
        var complete = true
        entries.foreach { e =>
          if (complete) {
            val p = new Path(ndvDir(name), ndvFileName(e.rel, c))
            if (!fs.exists(p)) complete = false
            else {
              val in = fs.open(p)
              val bytes = try in.readAllBytes() finally in.close()
              union.update(
                org.apache.datasketches.hll.HllSketch.heapify(bytes))
            }
          }
        }
        if (complete) Some(c -> math.round(union.getEstimate))
        else None
      }.toMap
      // memoize ONLY complete answers: writeBatch's own read-back of
      // just-written files plans this path BEFORE their sidecars land,
      // and caching that transient miss would pin the rel set to "no
      // estimate" forever
      if (computed.size == cols.size) Warehouse.ndvMemo.put(key, computed)
      computed
    }
  }

  /** POINT-LOOKUP read: [[read]] restricted to files that might contain
    * `column = value` — manifest min/max stats prune first (free), then
    * each survivor's bloom sidecar is probed. Purely a file skip (the
    * caller still applies the exact predicate); files without stats or
    * sidecar are always kept, and a null probe keeps everything (blooms
    * never attest nulls).
    */
  def readPoint(name: String, column: String, value: Any): DataFrame = {
    val (v, entries) = loadLatest(name)
    if (v == 0L) return read(name)
    dfFor(name, pointCandidates(name, column, value, entries))
  }

  /** The minimal scan of `name` that can contain any of `keys` — the
    * PK/FK probe's file-skipping ([[keyProbeScope]]: footer-stat ranges
    * from the key extrema, bloom sidecars from the distinct keys, the
    * columnar-manifest prune when the snapshot is not driver-cached)
    * exposed as a public surface for membership probes against big
    * indexed tables: `batch.join(probeKeys(t, cols, batchKeys), cols,
    * "left_anti")` reads only key-overlapping files of `t` instead of
    * the whole table — the streaming dedupe's per-epoch shape. `keys`
    * must carry the probe columns under `name`'s own column names.
    * None = NO row of the table can match any key (empty table, empty
    * key set, or every file skipped) — for an anti-join caller that
    * means "everything is fresh".
    */
  def probeKeys(name: String, cols: Seq[String],
      keys: DataFrame): Option[DataFrame] = {
    require(cols.nonEmpty, s"probeKeys $name: no probe columns")
    cols.foreach(c => require(tables(name).fieldNames.contains(c),
      s"probeKeys $name: no column $c"))
    keyProbeScope(name, cols, keys)
  }

  private[graft] def pointCandidates(name: String, column: String,
      value: Any, entries: Seq[FileEntry]): Seq[FileEntry] =
    pointCandidatesMulti(name, column, Seq(value), entries)

  /** [[pointCandidates]] for a SET of probe values: a file survives if
    * it might contain ANY of them. Stat ranges and each file's bloom
    * sidecar are tested against all values with the sidecar loaded
    * ONCE per file — the batched form the PRIMARY KEY collision probe
    * needs (per-value calls would reload every bloom |values| times).
    */
  private[graft] def pointCandidatesMulti(name: String, column: String,
      values: Seq[Any], entries: Seq[FileEntry]): Seq[FileEntry] = {
    val colType = specsNow(name).schema.fields
      .find(_.name == column).map(_.dataType)
    // any unencodable value disables skipping wholesale (keep-all can
    // never change a result; a partial prune could)
    val probes = values.map(v => encodeProbe(name, colType, v))
    if (probes.isEmpty || probes.exists(_.isEmpty)) return entries
    val ps = probes.map(_.get)
    val longs = ps.collect { case l: Long => l }
    val statKept =
      if (longs.size == ps.size)
        entries.filter(_.stats.get(column).forall { case (lo, hi) =>
          longs.exists(l => l >= lo && l <= hi) })
      else entries
    if (!specsNow(name).bloomColumns.contains(column)) return statKept
    // Above the threshold the sidecar probes run as a SPARK JOB — each
    // task opens its partition's sidecars and tests the broadcast
    // probe set, and only surviving rels return to the driver. Below
    // it, the driver loop is cheaper than a job launch. This removes
    // the last per-file driver-side loop from the probe path: at 800k
    // candidate files the driver otherwise opens 800k ~KB sidecars
    // serially, the exact shape the columnar manifest removed for
    // footer stats.
    if (statKept.size >= bloomProbeDistributedThreshold) {
      Warehouse.distributedBloomProbes.incrementAndGet()
      val bdir = bloomDir(name).toString
      val work = statKept.map(e => (e.rel, bloomFileName(e.rel, column)))
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val psB = spark.sparkContext.broadcast(ps)
      val parts = math.max(1, math.min(256, work.size / 1024 + 1))
      val kept = spark.sparkContext.parallelize(work, parts)
        .mapPartitions { it =>
          val base = new Path(bdir)
          val tfs = base.getFileSystem(conf.value)
          it.filter { case (_, fn) =>
            val p = new Path(base, fn)
            if (!tfs.exists(p)) true // no sidecar → never skip
            else {
              val in = tfs.open(p)
              val bf =
                try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
                finally in.close()
              psB.value.exists(graft.plans.BloomAgg.mightContain(bf, _))
            }
          }.map(_._1)
        }.collect().toSet
      psB.destroy()
      return statKept.filter(e => kept(e.rel))
    }
    val fs = fileSystem
    statKept.filter { e =>
      val p = new Path(bloomDir(name), bloomFileName(e.rel, column))
      if (!fs.exists(p)) true
      else {
        val in = fs.open(p)
        val bf = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
                 finally in.close()
        ps.exists(graft.plans.BloomAgg.mightContain(bf, _))
      }
    }
  }

  /** Candidate-file count at or above which [[pointCandidatesMulti]]'s
    * bloom sidecar probes run distributed. `var` so specs exercise the
    * distributed path on small tables.
    */
  private[graft] var bloomProbeDistributedThreshold: Int = 2048

  /** Normalize a probe value against the column's DECLARED type before
    * any skipping: manifest stats and bloom sidecars are encoded per
    * column type (widened longs for integrals, bytes for strings/
    * binary), so a probe whose runtime class mismatches the column —
    * readPoint("t", "key", 42) on a StringType key, a fractional
    * Double on an integral column — must never be encoded and tested:
    * it would skip files that DO contain rows matching the caller's
    * coercing predicate. Any mismatch keeps ALL files (skipping is
    * purely an optimization; keep-all can never change a result).
    */
  private def encodeProbe(name: String,
      colType: Option[org.apache.spark.sql.types.DataType],
      value: Any): Option[Any] = {
    import org.apache.spark.sql.types._
    (colType, value) match {
      case (Some(ByteType | ShortType | IntegerType | LongType),
            n @ (_: Byte | _: Short | _: Int | _: Long)) =>
        Some(n.asInstanceOf[Number].longValue())
      case (Some(StringType), s: String) => Some(s)
      case (Some(BinaryType), b: Array[Byte]) => Some(b)
      // temporal columns: stats and blooms are long-encoded off the
      // Catalyst internal representation (timestamps = epoch MICROS,
      // dates = epoch DAYS) — accept the typed probes by converting to
      // that encoding, and integral probes as ALREADY encoded (the
      // documented manifest encoding, same as readRange's contract)
      case (Some(TimestampType), t: java.sql.Timestamp) =>
        Some(t.getTime * 1000L + (t.getNanos % 1000000) / 1000L)
      case (Some(TimestampType), i: java.time.Instant) =>
        Some(Math.addExact(
          Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L))
      case (Some(TimestampType), n @ (_: Int | _: Long)) =>
        Some(n.asInstanceOf[Number].longValue())
      // NTZ timestamps: same epoch-micros manifest encoding (parquet
      // stores NTZ as INT64 micros with isAdjustedToUTC=false, so
      // footerInfo's LongStatistics already cover them); the EXTERNAL
      // probe type is LocalDateTime, interpreted as naive-UTC — the
      // same reading Catalyst's internal NTZ micros use
      case (Some(TimestampNTZType), ldt: java.time.LocalDateTime) =>
        val i = ldt.toInstant(java.time.ZoneOffset.UTC)
        Some(Math.addExact(
          Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L))
      case (Some(TimestampNTZType), n @ (_: Int | _: Long)) =>
        Some(n.asInstanceOf[Number].longValue())
      case (Some(DateType), d: java.sql.Date) =>
        Some(d.toLocalDate.toEpochDay)
      case (Some(DateType), d: java.time.LocalDate) => Some(d.toEpochDay)
      case (Some(DateType), n @ (_: Byte | _: Short | _: Int | _: Long)) =>
        Some(n.asInstanceOf[Number].longValue())
      case _ => None
    }
  }

  // ------------------------------------------------------------------
  // public surface
  // ------------------------------------------------------------------

  /** K1 — idempotent bootstrap, the `CREATE TABLE IF NOT EXISTS` analog
    * (`/root/reference/script.py:77-83`). Unlike the reference (which
    * bootstraps only `fact_space_weather` and assumes the other two
    * pre-exist — §2.12.6), ALL tables are created. A pre-manifest
    * (legacy) directory is adopted by committing a manifest over its
    * current listing.
    */
  def bootstrap(): Unit =
    tables.keys.foreach(bootstrapTable(_, Map.empty))

  private def bootstrapTable(name: String,
      extraMeta: Map[String, String],
      initial: Option[DataFrame] = None): Unit =
    if (loadLatest(name)._1 == 0L) {
      val p = new Path(path(name))
      val fs = fileSystem
      val entries = initial match {
        // CTAS: the first load IS the v1 commit — a crash before the
        // publish leaves NO committed table (staged files become
        // vacuumable orphans), never an empty table an IF NOT EXISTS
        // re-run would silently skip the load of. Pre-existing stray
        // files are NOT adopted on this path (fresh names don't clash).
        case Some(df) =>
          // the table is empty, so batch-internal NOT NULL/uniqueness
          // is the whole PK story for an initial load
          runProbes(primaryKeyProbes(name, df, probeLive = false))
          writeBatch(name, df)
        case None =>
          if (fs.exists(p)) {
            val adopted = FsListing.dataFiles(path(name))
              .map { case (rel, bytes) =>
                FileEntry(rel, bytes, Map.empty[String, (Long, Long)]) }
            // a PK-declared spec must not adopt a legacy directory's
            // violations silently — DESCRIBE DETAIL would advertise an
            // invariant the data breaks from v1
            if (specsNow(name).primaryKey.nonEmpty && adopted.nonEmpty)
              runProbes(primaryKeyProbes(name, dfFor(name, adopted),
                probeLive = false))
            adopted
          }
          else {
            val empty = spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], tables(name))
            writeBatch(name, empty)
          }
      }
      maybeCrash("after-write")
      commit(name, 1L, entries,
        Map("op" -> (if (initial.isDefined) "ctas" else "bootstrap"),
          "numFiles" -> entries.size.toString) ++ extraMeta)
      persistSpec(name)
    }

  /** SHALLOW CLONE (the Delta zero-copy fork): create table `dst`
    * whose first commit REFERENCES `src`'s files as of `versionAsOf`
    * (default: the head) without copying a byte — the dev/test/
    * what-if primitive: experiment with DML, schema evolution, or
    * compaction on a clone of a huge table instantly, then drop it.
    *
    * Borrowed entries carry ABSOLUTE paths into the source table;
    * every read path resolves them transparently (Hadoop's
    * child-absolute Path rule) and partition matching counts only the
    * trailing partition components. Divergence is copy-on-write: a
    * clone rewrite (merge/delete/update/compact) writes NEW local
    * files and merely drops borrowed references from the clone's
    * manifest — [[gc]]/vacuum never delete outside-table files, so
    * the source is untouchable from the clone. Compaction localizes a
    * clone fully. The reverse direction is guarded too (stronger than
    * Delta's documented caveat): source-side [[gc]] and [[vacuum]]
    * treat files other tables still borrow as live
    * ([[borrowedFromBy]]), and [[dropTable]] refuses while borrowers
    * exist — a source rewrite or vacuum can no longer strand a clone.
    *
    * The clone copies src's TableSpec (schema, partitioning, stat and
    * bloom columns, CHECK constraints). Its commit metadata records
    * the provenance (`op=clone`, source table + version).
    */
  def shallowClone(src: String, dst: String,
      versionAsOf: Option[Long] = None): Unit = {
    require(tables.contains(src), s"shallowClone: unknown source $src")
    require(!specsNow.contains(dst),
      s"shallowClone: table $dst already exists")
    val v = versionAsOf.getOrElse {
      val vs = versions(src)
      require(vs.nonEmpty, s"shallowClone: $src has no committed version")
      vs.max
    }
    require(versions(src).contains(v),
      s"shallowClone: $src has no manifest v$v")
    val entries = loadAt(src, v)
    val gone = goneEntries(src, entries)
    require(gone.isEmpty,
      s"shallowClone: $src v$v is not clonable: ${gone.size} file(s) " +
        s"GC'd (e.g. ${gone.headOption.map(_.rel).getOrElse("")})")
    val borrowed = entries.map(e =>
      e.copy(rel = new Path(path(src), e.rel).toString,
        dv = if (e.dv.isEmpty || new Path(e.dv).isAbsolute) e.dv
          else new Path(path(src), e.dv).toString))
    // Existence check + insert in ONE critical section: two concurrent
    // clones (or clone vs createTable) to the same dst must not both
    // pass the check — and because only the guarded winner inserts, the
    // catch-block rollback below can only ever remove its OWN spec,
    // never a concurrent winner's.
    specsLock.synchronized {
      require(!specsNow.contains(dst),
        s"shallowClone: table $dst already exists")
      specsNow = specsNow + (dst -> specsNow(src))
    }
    try {
      // the IDENTITY high-water mark is data the clone just inherited
      // (the ids live in the referenced rows) — stamp it, or the
      // clone's first append re-mints ids the source already assigned
      commit(dst, 1L, borrowed,
        Map("op" -> "clone", "sourceTable" -> src,
          "sourceVersion" -> v.toString,
          "numFiles" -> borrowed.size.toString) ++
          specsNow(src).identity.map(_ =>
            "identityHwm" -> identityHwm(src, v).toString))
      persistSpec(dst)
    } catch { case t: Throwable =>
      specsLock.synchronized { specsNow = specsNow - dst }
      throw t
    }
  }

  /** DEEP CLONE (Delta's independent fork): [[shallowClone]] followed
    * by LOCALIZING every borrowed reference as a byte-for-byte file
    * copy into the clone's own tree — footer stats, row counts and
    * bloom/ndv sidecars carry over unchanged (the bytes are identical),
    * and deletion vectors copy as local sidecars, so the clone is
    * immediately independent: vacuuming or dropping the source can
    * never strand it. The copy is a per-file loop (driver-orchestrated
    * filesystem copies — IO-bound, no compute; Delta's deep clone is
    * the same shape); the localized entry list commits as v2, so a
    * crash mid-copy leaves a valid SHALLOW clone whose next deepClone
    * call resumes (already-copied files are content-identical and
    * re-copy idempotently).
    */
  def deepClone(src: String, dst: String,
      versionAsOf: Option[Long] = None): Unit = {
    require(tables.contains(src), s"deepClone: unknown source $src")
    require(!specsNow.contains(dst), s"deepClone: table $dst already exists")
    val v = versionAsOf.getOrElse {
      val vs = versions(src)
      require(vs.nonEmpty, s"deepClone: $src has no committed version")
      vs.max
    }
    require(versions(src).contains(v), s"deepClone: $src has no manifest v$v")
    val entries = loadAt(src, v)
    val fs = fileSystem
    val spec = specsNow(src)
    val nParts = spec.partitionBy.size
    // COPY FIRST, COMMIT ONCE: unlike a shallow-then-localize sequence,
    // no manifest version of the clone ever references the source's
    // files, so the source stays droppable/vacuumable from the instant
    // the clone exists. A crash mid-copy leaves orphan files under an
    // uncreated table — the re-run overwrite-copies them idempotently.
    val localized = entries.map { e =>
      // a borrowed absolute rel (source itself a shallow clone) keeps
      // its trailing table-relative layout: partition dirs + file name
      val rel =
        if (!new Path(e.rel).isAbsolute) e.rel
        else e.rel.split('/').takeRight(nParts + 1).mkString("/")
      val from = if (new Path(e.rel).isAbsolute) new Path(e.rel)
        else new Path(path(src), e.rel)
      require(fs.exists(from),
        s"deepClone: $src v$v is not clonable: ${e.rel} GC'd")
      val dest = new Path(path(dst), rel)
      fs.mkdirs(dest.getParent)
      org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, dest,
        false, true, hadoopConf)
      val dv2 =
        if (e.dv.isEmpty) e.dv
        else {
          val dvSrc = if (new Path(e.dv).isAbsolute) new Path(e.dv)
            else new Path(path(src), e.dv)
          val dvRel = "_dv/" + dvSrc.getName
          val dvDest = new Path(path(dst), dvRel)
          fs.mkdirs(dvDest.getParent)
          org.apache.hadoop.fs.FileUtil.copy(fs, dvSrc, fs, dvDest,
            false, true, hadoopConf)
          dvRel
        }
      // sidecars (bloom/ndv) are keyed by rel hash — same rel on both
      // sides for table-local entries, so the sidecar names carry over
      (spec.bloomColumns.map(c =>
        (new Path(bloomDir(src), bloomFileName(e.rel, c)),
          new Path(bloomDir(dst), bloomFileName(rel, c)))) ++
        spec.ndvColumns.map(c =>
          (new Path(ndvDir(src), ndvFileName(e.rel, c)),
            new Path(ndvDir(dst), ndvFileName(rel, c)))))
        .foreach { case (s0, d0) =>
          if (fs.exists(s0)) {
            fs.mkdirs(d0.getParent)
            org.apache.hadoop.fs.FileUtil.copy(fs, s0, fs, d0,
              false, true, hadoopConf)
          }
        }
      e.copy(rel = rel, dv = dv2)
    }
    specsLock.synchronized {
      require(!specsNow.contains(dst),
        s"deepClone: table $dst already exists")
      specsNow = specsNow + (dst -> spec)
    }
    try {
      commit(dst, 1L, localized,
        Map("op" -> "deep_clone", "sourceTable" -> src,
          "sourceVersion" -> v.toString,
          "numFilesCopied" -> localized.size.toString) ++
          spec.identity.map(_ => // inherited ids → inherited hwm
            "identityHwm" -> identityHwm(src, v).toString))
      persistSpec(dst)
    } catch { case t: Throwable =>
      specsLock.synchronized { specsNow = specsNow - dst }
      throw t
    }
  }

  /** WRITE-AUDIT-PUBLISH: atomically fast-forward `dst` to the state
    * of `staging`, a shallow (or deep) clone of `dst` that was
    * audited after arbitrary DML — the Iceberg WAP pattern on the
    * clone machinery already here. The cycle:
    *
    *   1. `shallowClone(dst, staging)`        — zero-copy fork;
    *   2. DML on `staging` (loads, deletes, fixes) + audits (quality
    *      gates, [[fsck]], expectations) — `dst` readers see nothing;
    *   3. `publish(dst, staging)`             — ONE manifest commit
    *      flips `dst` to the audited state.
    *
    * The publish commit references staging-local files by ABSOLUTE
    * path (the borrow mechanism clones already use, in reverse) and
    * maps files staging still borrows from `dst` back to their local
    * rels — no byte moves, metadata only. The borrow guard then keeps
    * everything sound: dropping `staging` is refused while `dst`
    * borrows its files, vacuum/gc never delete outside-table paths,
    * and compacting `dst` localizes the borrows so `staging` can be
    * dropped (same operational flow as any clone).
    *
    * Stale-audit protection: the staging clone records its base
    * version; if `dst` has advanced past it the publish FAILS —
    * re-clone and re-audit (the WAP contract: an audit certifies one
    * exact base). A commit racing the publish into the same slot
    * fails it the same way via slot exclusivity.
    *
    * == Rebase over interim blind appends ==
    *
    * `rebase = true` relaxes the exact-base requirement the way
    * Iceberg's WAP cherry-pick does: if every `dst` commit since the
    * audit base only ADDED files (blind appends — the common shape:
    * steady ingest continuing while a long audit runs), the publish
    * lands `staging`'s state PLUS the interim additions in one commit.
    * Soundness is checked, not assumed:
    *
    *   - every BASE file must be byte-identical at `dst`'s head (an
    *     interim delete/update/compaction/restore touching a file the
    *     audit certified → [[Warehouse.CommitConflict]] naming the
    *     file and the version that touched it — re-clone and
    *     re-audit). Interim commits may freely mutate their OWN
    *     post-base files (e.g. delete rows they themselves ingested);
    *     the head-state entries carry those edits into the result.
    *   - PRIMARY KEY / UNIQUE stay enforced across the merge: interim
    *     keys were validated against the base (so they are disjoint
    *     from every key the audit saw), and staging's keys were
    *     validated inside staging — the only unchecked pairs are
    *     (staging-NEW rows) × (interim rows), re-probed here with the
    *     same bounded semi-join the append path uses. Both sides are
    *     batch-sized, never the table.
    *   - GENERATED IDENTITY refuses when BOTH sides minted ids (each
    *     side ratcheted the same base high-water mark — the assigned
    *     ids may overlap, and rewriting committed ids would falsify
    *     the audit). One-sided growth publishes fine, with the
    *     high-water mark carried as the max of the two chains.
    *
    * CHECK constraints need no re-probe (row-local, each side already
    * enforced its rows); FOREIGN KEYs keep the baseline-publish
    * contract (cross-TABLE audits are the auditor's responsibility —
    * rebase adds only rows `dst` itself already validated).
    *
    * @return the published `dst` version
    */
  def publish(dst: String, staging: String, rebase: Boolean = false)
      : Long = {
    require(specsNow.contains(dst), s"publish: unknown table $dst")
    require(specsNow.contains(staging),
      s"publish: unknown staging table $staging")
    val meta1 = commitMeta(staging, 1L)
    require(meta1.get("op").exists(o => o == "clone" || o == "deep_clone")
        && meta1.get("sourceTable").contains(dst),
      s"publish: $staging is not a clone of $dst (WAP stages on a " +
        "clone so the audit certifies an exact base version)")
    require(tables(staging) == tables(dst) &&
        partitioning(staging) == partitioning(dst) &&
        specsNow(staging).bucketBy == specsNow(dst).bucketBy &&
        specsNow(staging).numBuckets == specsNow(dst).numBuckets,
      s"publish: $staging's schema/layout diverged from $dst's " +
        "(evolve the target first, then re-clone)")
    val auditBase = meta1("sourceVersion").toLong
    val (dv, _) = loadLatest(dst)
    require(dv == auditBase || rebase,
      s"publish: $dst advanced to v$dv since the staging clone " +
        s"(base v$auditBase) — re-clone and re-audit, or rebase over " +
        "blind appends (publish(..., rebase = true) / PUBLISH TABLE " +
        "... WITH REBASE)")
    val (sv, sEntries) = loadLatest(staging)
    val dstPrefix = new Path(path(dst)).toString + "/"
    def toDst(p: String): String =
      if (p.startsWith(dstPrefix)) p.stripPrefix(dstPrefix) // back home
      else if (new Path(p).isAbsolute) p // borrowed from elsewhere
      else new Path(path(staging), p).toString // staging-local: borrow
    val mapped = sEntries.map { e =>
      e.copy(rel = toDst(e.rel),
        dv = if (e.dv.isEmpty) e.dv else toDst(e.dv))
    }
    // ---- rebase analysis (empty when dst never advanced) ----
    // `baseRels` rides out of the same fold that builds `base`: the
    // identity/key re-probe below needs only the audited rel SET, and
    // a second loadAt fold here would re-materialize exactly the large
    // tables the lazy paths keep off the driver
    val (interim: Seq[FileEntry], baseRels: Set[String]) =
      if (dv == auditBase) (Nil, Set.empty[String]) else {
      val base = loadAt(dst, auditBase).map(e => e.rel -> e).toMap
      val head = loadAt(dst, dv)
      val headByRel = head.map(e => e.rel -> e).toMap
      // every audited file must be untouched at head — an interim
      // remove OR metadata change (rewrite, deletion vector, restore
      // round-trip) means the audit no longer certifies what dst holds
      base.collectFirst {
        case (rel, e) if !headByRel.get(rel).contains(e) => rel
      }.foreach { rel =>
        // error path only: name the version that touched it
        val toucher = ((auditBase + 1) to dv).find { v =>
          !loadAt(dst, v).exists(_ == base(rel))
        }
        val op = toucher.map(v =>
          s" (v$v, op=${commitMeta(dst, v).getOrElse("op", "?")})")
          .getOrElse("")
        throw new Warehouse.CommitConflict(
          s"publish rebase: $dst's interim commits touched audited " +
            s"file $rel$op — only blind appends rebase; re-clone and " +
            "re-audit")
      }
      (head.filterNot(e => base.contains(e.rel)), base.keySet)
    }
    val spec = specsNow(dst)
    if (interim.nonEmpty) {
      // staging's NEW files (local writes / rewrites; an audited base
      // file that only gained a deletion vector maps back to its base
      // rel — rows only SHRANK, no new keys to probe)
      val stagingNew = mapped.filterNot(e => baseRels.contains(e.rel))
      // the high-water mark RATCHETS exactly when a side assigned ids,
      // so "both > base hwm" is a precise both-sides-minted detector
      // (a CoW rewrite carries its ids through and moves nothing)
      if (spec.identity.nonEmpty) {
        // the detector TRUSTS the hwm chain, and the chain starts at
        // the clone commit's stamp: a staging clone minted by a
        // pre-stamping build carries none, its first append re-minted
        // from the start-1 fallback, and its chain hwm can sit at or
        // below the base hwm while overlapping ids — refuse rather
        // than trust the fallback
        if (!meta1.contains("identityHwm"))
          throw new Warehouse.CommitConflict(
            s"publish rebase: $staging's clone commit carries no " +
              "identityHwm stamp (pre-stamping clone) — the minted-id " +
              "detector cannot trust its high-water chain; re-clone " +
              "and re-audit")
        val baseHwm = identityHwm(dst, auditBase)
        if (identityHwm(dst, dv) > baseHwm &&
            identityHwm(staging, sv) > baseHwm)
          throw new Warehouse.CommitConflict(
            s"publish rebase: $dst declares GENERATED IDENTITY and " +
              "both chains minted ids from the same high-water mark " +
              s"(base v$auditBase) — the id ranges may overlap; " +
              "re-clone and re-audit")
      }
      // the one unchecked key surface: staging-NEW rows × interim rows
      // (each side validated its own writes; interim keys are disjoint
      // from the audited base by append-time probes)
      if (stagingNew.nonEmpty) {
        import org.apache.spark.sql.functions.col
        lazy val interimDf = dfFor(dst, interim)
        lazy val stagingDf = dfFor(dst, stagingNew)
        spec.primaryKey match {
          case pk if pk.nonEmpty =>
            val hit = interimDf.select(pk.map(col): _*)
              .join(stagingDf.select(pk.map(col): _*), pk, "left_semi")
              .limit(1).collect()
            if (hit.nonEmpty) {
              val r = hit.head
              throw Warehouse.PrimaryKeyViolation(dst, pk,
                "publish rebase would merge a duplicate key (staged " +
                  "and interim writes collide): " +
                  pk.map(c => s"$c=${r.get(r.fieldIndex(c))}")
                    .mkString(", "))
            }
          case _ =>
        }
        spec.unique.foreach { u =>
          val nn = u.map(c => col(c).isNotNull).reduce(_ && _)
          val hit = interimDf.where(nn).select(u.map(col): _*)
            .join(stagingDf.where(nn).select(u.map(col): _*), u,
              "left_semi")
            .limit(1).collect()
          if (hit.nonEmpty) {
            val r = hit.head
            throw Warehouse.UniqueViolation(dst, u,
              "publish rebase would merge a duplicate value (staged " +
                "and interim writes collide): " +
                u.map(c => s"$c=${r.get(r.fieldIndex(c))}").mkString(", "))
          }
        }
      }
    }
    // IDENTITY high-water mark: the published state contains ids from
    // BOTH chains — carry the max so post-publish appends never
    // re-mint an id staging (or an interim append) already assigned.
    // (commit() carries dst's own hwm by default, which loses
    // staging's ratchet even in the exact-base publish.)
    val hwmMeta = spec.identity.map { _ =>
      "identityHwm" -> math.max(identityHwm(dst, dv),
        identityHwm(staging, sv)).toString }
    commit(dst, dv + 1, mapped ++ interim,
      Map("op" -> (if (interim.isEmpty) "publish" else "publish_rebase"),
        "sourceTable" -> staging,
        "sourceVersion" -> sv.toString,
        "numFiles" -> (mapped.size + interim.size).toString) ++
        (if (interim.isEmpty) Map.empty
         else Map("rebasedOnto" -> dv.toString,
           "interimFiles" -> interim.size.toString)) ++ hwmMeta)
    // no eager gc: files leaving dst's live set are still referenced
    // by its previous version and typically borrowed by staging —
    // vacuum retention collects them like any replaced snapshot
    dv + 1
  }

  /** DROP TABLE: remove `name` from the warehouse — manifests first
    * (the commit point in reverse: with them gone the table is
    * unreadable and re-creation starts from a clean slate), then the
    * persisted spec, the in-memory spec, and the data directory.
    * LOCAL files only: a shallow clone's borrowed absolute references
    * live OUTSIDE the directory, so dropping a clone never touches its
    * source — and dropping a SOURCE breaks clones still referencing
    * it, the same operational caveat as vacuuming past a clone (the
    * Delta contract: clones are bounded experiments). A crash mid-drop
    * leaves only unreadable leftovers; re-running with `ifExists`
    * completes the removal.
    *
    * Crash-ordering: every filesystem delete happens BEFORE the spec
    * is removed, and an IF EXISTS re-run re-attempts the (idempotent)
    * deletes even when the spec is already gone — so a crash at ANY
    * point leaves a state the re-run fully cleans. (The previous order
    * — spec removal before the data-dir delete — let an `ifExists`
    * re-run return early on the missing spec and orphan the directory
    * forever.)
    */
  def dropTable(name: String, ifExists: Boolean = false): Unit = {
    if (!specsNow.contains(name) && !ifExists)
      throw new IllegalArgumentException(s"dropTable: unknown table $name")
    // clone guard (same hazard as vacuum's): dropping a table whose
    // files other tables still borrow would strand every clone at scan
    // time — fail fast with the borrowers named instead
    if (specsNow.contains(name)) {
      val borrowers = borrowedFromBy(name).values.flatten.toSet
      require(borrowers.isEmpty,
        s"dropTable $name: table(s) ${borrowers.toSeq.sorted.mkString(", ")} " +
          "still borrow its files (shallow clones) — drop or compact " +
          "(localize) the clones first")
      val referers = childForeignKeys(name).map(_._1).filterNot(_ == name)
      require(referers.isEmpty,
        s"dropTable $name: table(s) ${referers.distinct.sorted.mkString(", ")} " +
          "declare FOREIGN KEYs referencing it — drop the children first")
    }
    val fs = fileSystem
    fs.delete(manifestDir(name), true)
    fs.delete(new Path(new Path(dir, "_meta"), s"$name.json"), false)
    fs.delete(tagsDir(name), true) // tags die with their table
    fs.delete(histDir(name), true) // so do histogram bases
    fs.delete(new Path(path(name)), true)
    specsLock.synchronized { specsNow = specsNow - name }
    // a re-created table restarts version numbering in this directory —
    // the immutability premise behind the JVM-wide snapshot cache holds
    // only within one table lifetime
    Warehouse.invalidateCached(s"$dir#$name#")
    ()
  }

  /** DDL: add a NEW table to this warehouse at runtime (the
    * `CREATE TABLE` statement's engine half — [[bootstrap]] covers the
    * declared-in-code layout; this covers schemas that arrive as DDL,
    * like the reference's `CREATE TABLE IF NOT EXISTS` strings,
    * script.py:77-83). Commits the empty v1 manifest and persists the
    * spec like any bootstrapped table. Single-writer contract, like
    * [[addColumn]].
    *
    * @param extraMeta recorded on the bootstrap commit (e.g. the
    *   `pk=` a PRIMARY KEY clause declares — surfaced by DESCRIBE
    *   HISTORY; enforcement itself lives in the spec's
    *   [[Warehouse.TableSpec.primaryKey]], checked on every
    *   row-adding write)
    * @param initial CTAS data: when present, the v1 manifest commits
    *   the CREATE and the first load ATOMICALLY (one manifest, op
    *   `ctas`) — no window where an empty table is committed but the
    *   load is not
    * @return true if created; false if it already existed and
    *   `ifNotExists` allowed that
    */
  def createTable(name: String, spec: Warehouse.TableSpec,
      ifNotExists: Boolean = false,
      extraMeta: Map[String, String] = Map.empty,
      initial: Option[DataFrame] = None): Boolean =
    if (specsNow.contains(name)) {
      if (!ifNotExists) throw new IllegalArgumentException(
        s"createTable: table $name already exists (CREATE TABLE IF NOT " +
          "EXISTS makes this a no-op)")
      false
    } else {
      // FK targets validate here, where the other specs are visible: the
      // parent must exist (self-reference allowed), the referenced
      // columns must be EXACTLY its enforced PRIMARY KEY (order
      // included — what makes delete-side RESTRICT exact), and the key
      // types must line up component-wise
      spec.foreignKeys.foreach { fk =>
        def fail(msg: String) = throw new IllegalArgumentException(
          s"createTable $name: $fk: $msg")
        val parentSpec =
          if (fk.parent == name) spec
          else specsNow.getOrElse(fk.parent,
            fail(s"parent table ${fk.parent} does not exist"))
        if (parentSpec.primaryKey != fk.parentCols)
          fail(s"referenced columns must be exactly ${fk.parent}'s " +
            s"PRIMARY KEY (${parentSpec.primaryKey.mkString(", ")})")
        fk.cols.zip(fk.parentCols).foreach { case (c, p) =>
          if (spec.schema(c).dataType != parentSpec.schema(p).dataType)
            fail(s"$c (${spec.schema(c).dataType.simpleString}) vs " +
              s"${fk.parent}.$p " +
              s"(${parentSpec.schema(p).dataType.simpleString}): " +
              "key types must match")
        }
      }
      // DEFAULTs must be self-contained constants (column-dependent
      // fills are what GENERATED columns are for) — evaluate now so a
      // typo fails the CREATE, not the first append
      spec.defaults.foreach { case (c, e) =>
        try {
          spark.range(1).select(org.apache.spark.sql.functions.expr(e)
            .cast(spec.schema(c).dataType)).collect()
          ()
        } catch { case ex: Exception =>
          throw new IllegalArgumentException(
            s"createTable $name: DEFAULT for $c ('$e') does not " +
              s"evaluate as a constant: ${ex.getMessage}")
        }
      }
      specsLock.synchronized { specsNow = specsNow + (name -> spec) }
      // a prior DROP (possibly by another instance) may have left
      // cached snapshots of this directory+name — new lifetime, new v1
      Warehouse.invalidateCached(s"$dir#$name#")
      try bootstrapTable(name, extraMeta, initial)
      catch { case t: Throwable =>
        // no manifest committed → roll the in-memory spec back so a
        // retry (or an IF NOT EXISTS re-run) re-attempts the create
        // instead of seeing a phantom empty table
        specsLock.synchronized { specsNow = specsNow - name }
        throw t
      }
      true
    }

  /** Write the table's spec to `_meta/<name>.json` (tmp + rename) so
    * [[Warehouse.open]] and the `graft-warehouse` read formats can
    * reopen the directory without the specs in code.
    */
  private def persistSpec(name: String): Unit = {
    val fs = fileSystem
    val metaDir = new Path(dir, "_meta")
    fs.mkdirs(metaDir)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("schema", tables(name).json)
    val pb = node.putArray("partitionBy")
    partitioning(name).foreach(pb.add)
    val sc = node.putArray("statColumns")
    statColumns(name).foreach(sc.add)
    val spec = specsNow(name)
    if (spec.bloomColumns.nonEmpty) {
      val bc = node.putArray("bloomColumns")
      spec.bloomColumns.foreach(bc.add)
      node.put("bloomExpectedItems", spec.bloomExpectedItems)
      node.put("bloomFpp", spec.bloomFpp)
    }
    if (spec.checks.nonEmpty) {
      val ck = node.putObject("checks")
      spec.checks.toSeq.sortBy(_._1).foreach { case (n, e) => ck.put(n, e) }
    }
    if (spec.numBuckets > 0) {
      val bb = node.putArray("bucketBy")
      spec.bucketBy.foreach(bb.add)
      node.put("numBuckets", spec.numBuckets)
    }
    if (spec.retiredPhysical.nonEmpty) {
      val rp = node.putArray("retiredPhysical")
      spec.retiredPhysical.foreach(rp.add)
    }
    if (spec.generated.nonEmpty) {
      val gn = node.putObject("generated")
      spec.generated.toSeq.sortBy(_._1).foreach { case (c, e) =>
        gn.put(c, e) }
    }
    if (spec.ndvColumns.nonEmpty) {
      val nv = node.putArray("ndvColumns")
      spec.ndvColumns.foreach(nv.add)
    }
    if (spec.primaryKey.nonEmpty) {
      val pkn = node.putArray("primaryKey")
      spec.primaryKey.foreach(pkn.add)
    }
    if (spec.foreignKeys.nonEmpty) {
      val fks = node.putArray("foreignKeys")
      spec.foreignKeys.foreach { fk =>
        val o = fks.addObject()
        val cn = o.putArray("cols"); fk.cols.foreach(cn.add)
        o.put("parent", fk.parent)
        val pn = o.putArray("parentCols"); fk.parentCols.foreach(pn.add)
      }
    }
    spec.identity.foreach { idn =>
      val o = node.putObject("identity")
      o.put("column", idn.column)
      val ob = o.putArray("orderBy"); idn.orderBy.foreach(ob.add)
      o.put("start", idn.start)
    }
    if (spec.unique.nonEmpty) {
      val uq = node.putArray("unique")
      spec.unique.foreach { u =>
        val g = uq.addArray(); u.foreach(g.add)
      }
    }
    if (spec.defaults.nonEmpty) {
      val dfl = node.putObject("defaults")
      spec.defaults.toSeq.sortBy(_._1).foreach { case (c, e) =>
        dfl.put(c, e) }
    }
    val tmp = new Path(metaDir, s".tmp-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(m.writeValueAsString(node)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(metaDir, s"$name.json")
    fs.delete(dest, false)
    require(fs.rename(tmp, dest), s"spec publish failed for $name")
  }

  /** Current table contents: the latest manifest's files, read with
    * `basePath` so hive-style partition pruning applies to the explicit
    * list. Falls back to a plain directory read for tables that were
    * never bootstrapped through this class.
    */
  def read(name: String): DataFrame = {
    versions(name) match {
      case Nil => spark.read.schema(tables(name)).parquet(path(name))
      case vs =>
        val v = vs.last
        // The 100 TB shape: a COLD open of a columnar-checkpointed
        // table plans LAZY — the driver never folds the entry list;
        // the scan's own partition/data filters prune DISTRIBUTED at
        // listFiles time ([[LazyManifestFileIndex]]), deletion vectors
        // and per-column statistics included. A cached snapshot is
        // already free driver-side, so it wins when present.
        if (!eagerlyCached(name, v))
          lazyRead(name, v) match {
            case Some(df) => return df
            case None =>
          }
        dfFor(name, loadAt(name, v), histVersion = Some(v))
    }
  }

  /** One snapshot's (bytes, live rows, file count, any-DV) aggregate
    * computed DISTRIBUTED over [[entriesRelationAt]] and memoized per
    * confirmed version — the planning facts ([[lazyRead]]'s
    * CatalogStatistics, `sizeInBytes`, the DV gate) at O(1) driver
    * cost. None when no columnar checkpoint serves the version.
    */
  private def lazySnapshotAgg(name: String,
      version: Long): Option[Warehouse.SnapshotAgg] = {
    val key = cacheKey(name, version)
    Warehouse.snapshotAggs.get(key) match {
      case Some(hit) => return Some(hit)
      case None =>
    }
    val rel = entriesRelationAt(name, version).getOrElse(return None)
    import org.apache.spark.sql.functions.{
      coalesce, count, lit, max, min, sum, when, col}
    val r = rel.agg(
      coalesce(sum(col("bytes")), lit(0L)),
      coalesce(sum(col("rows") - col("dvRows")), lit(0L)),
      coalesce(min(col("rows")), lit(0L)),
      count(lit(1)),
      coalesce(max(when(col("dvRows") > lit(0L), 1).otherwise(0)), lit(0)),
      coalesce(sum(col("rows")), lit(0L)),
      coalesce(sum(col("dvRows")), lit(0L)))
      .head()
    val rowsKnown = r.getLong(2) >= 0L
    val agg = Warehouse.SnapshotAgg(
      bytes = r.getLong(0),
      rows = if (!rowsKnown) -1L else r.getLong(1),
      files = r.getLong(3),
      anyDv = r.getInt(4) > 0,
      physRows = if (!rowsKnown) -1L else r.getLong(5),
      dvSum = r.getLong(6))
    Warehouse.snapshotAggs.put(key, agg)
    Some(agg)
  }

  /** Per-column [min, max] extrema over `version`'s live entries — one
    * metadata-sized aggregate over the snapshot relation
    * ([[entriesRelationAt]]); the lazy path's half of
    * [[statsRelation]]'s min/max publication and [[metaMinMax]]'s cold
    * answer. A column qualifies only when EVERY live entry carries its
    * stat (a missing stat anywhere withholds the column — never a wrong
    * envelope). Memoized per confirmed version; empty when no columnar
    * checkpoint serves it.
    */
  private def lazyColMinMax(name: String,
      version: Long): Map[String, (Long, Long)] = {
    val key = cacheKey(name, version)
    Warehouse.lazyMinMax.get(key) match {
      case Some(hit) => return hit
      case None =>
    }
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    val rel = entriesRelationAt(name, version).getOrElse(return Map.empty)
    val statCols = statColumnsOf(rel)
    val out: Map[String, (Long, Long)] =
      if (statCols.isEmpty) Map.empty
      else {
        val r = rel.agg(count(lit(1)), statCols.flatMap(c => Seq(
          min(col(s"__lo_$c")), max(col(s"__hi_$c")),
          sum(when(col(s"__lo_$c").isNull, 1L).otherwise(0L)))): _*).head()
        statCols.zipWithIndex.collect {
          case (c, i) if r.getLong(0) > 0L && r.getLong(3 + 3 * i) == 0L =>
            c -> ((r.getLong(1 + 3 * i), r.getLong(2 + 3 * i)))
        }.toMap
      }
    Warehouse.lazyMinMax.put(key, out)
    out
  }

  /** NDV estimates over `version`'s live entries — the lazy
    * counterpart of [[ndvEstimates]]: ONE sketch-union pass over the
    * snapshot relation ([[entriesRelationAt]]). Per row and column it
    * unions the sketch EMBEDDED in the columnar checkpoint
    * (`__hll_<c>`, written by [[writeColumnarManifest]]) when present
    * and non-null — zero per-file sidecar opens at plan time — and
    * otherwise opens the file's sidecar task-side (delta upserts,
    * checkpoints that predate embedding), so the driver never sees a
    * rel. A missing sketch anywhere withholds the column (never
    * undercount). Memoized per confirmed version — complete answers
    * only, like [[ndvEstimates]]' memo.
    */
  private def lazyNdv(name: String, version: Long): Map[String, Long] = {
    val cols = specsNow.get(name).map(_.ndvColumns).getOrElse(Nil)
    if (cols.isEmpty) return Map.empty
    val key = cacheKey(name, version) + "#" + cols.mkString(",")
    Warehouse.lazyNdv.get(key) match {
      case Some(hit) => return hit
      case None =>
    }
    val out = lazyNdvCompute(name, version, cols)
    if (out.size == cols.size) Warehouse.lazyNdv.put(key, out)
    out
  }

  private def lazyNdvCompute(name: String, version: Long,
      cols: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.datasketches.hll.{HllSketch, Union}
    val rel = entriesRelationAt(name, version).getOrElse(return Map.empty)
    val embedded = rel.select(col("rel") +: cols.map(c =>
      if (rel.columns.contains(s"__hll_$c")) col(s"__hll_$c")
      else lit(null).cast(BinaryType)): _*)
    val ndir = ndvDir(name).toString
    val conf = new org.apache.spark.util.SerializableConfiguration(
      hadoopConf)
    val cs = cols.toArray
    val partials = embedded.rdd.mapPartitions { it =>
      val tfs = new Path(ndir).getFileSystem(conf.value)
      val unions = cs.map(_ => new Union(12))
      val missing = Array.fill(cs.length)(false)
      it.foreach { r =>
        var i = 0
        while (i < cs.length) {
          if (!missing(i)) {
            val bytes =
              if (!r.isNullAt(i + 1)) r.getAs[Array[Byte]](i + 1)
              else Warehouse.Sidecars.readNdv(tfs, ndir, r.getString(0), cs(i))
            if (bytes == null) missing(i) = true
            else unions(i).update(HllSketch.heapify(bytes))
          }
          i += 1
        }
      }
      Iterator.single(cs.indices.map(i =>
        (missing(i), unions(i).getResult.toCompactByteArray)))
    }.collect()
    cols.zipWithIndex.flatMap { case (c, i) =>
      if (partials.isEmpty || partials.exists(_(i)._1)) None
      else {
        val u = new Union(12)
        partials.foreach(p => u.update(HllSketch.heapify(p(i)._2)))
        Some(c -> math.round(u.getEstimate))
      }
    }.toMap
  }

  /** Plan the head WITHOUT materializing the entry list on the driver:
    * a [[LazyManifestFileIndex]] whose `listFiles` translates the
    * query's own partition filters (→ `/k=v/` rel-segment conditions)
    * and data filters (→ stat-range envelopes) into
    * [[prunedEntries]]' distributed columnar-manifest scan, collecting
    * only the surviving entries — a one-partition read of an
    * 800k-entry table holds one partition's entries, ever. The
    * optimizer sees exact table-level statistics (bytes + live rows
    * from [[lazySnapshotAgg]]'s distributed fold) AND per-column
    * NDV/min-max at eager parity ([[lazyNdv]]/[[lazyColMinMax]], both
    * distributed and memoized per version).
    *
    * DELETION VECTORS compose with the lazy plan: the merge-on-read
    * filter's lookup ([[graft.plans.GrowableDvLookup]]) starts EMPTY and
    * is fed each SURVIVING entry's sidecar REF inside the prune — by
    * the time any task closure serializes (stage submission),
    * `listFiles` has already run on the driver, so the filter ships
    * exactly the survivors' refs. The vector BYTES load executor-side
    * on first touch of each file: planning performs zero sidecar I/O,
    * driver state is survivor-bounded strings, and the MoR-heavy
    * tables DVs exist for no longer fall back to the eager fold.
    *
    * None (fall back to the eager fold) when: no columnar checkpoint
    * serves the version, or the table is empty (the eager
    * empty-relation special case is cheaper and exact).
    */
  private def lazyRead(name: String, version: Long): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics,
      CatalogStorageFormat, CatalogTable, CatalogTableType}
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val agg = lazySnapshotAgg(name, version).getOrElse(return None)
    if (agg.files == 0L) return None
    val schema = tables(name)
    val parts = partitioning(name)
    val partitionSchema = StructType(parts.map(p => schema(p)))
    val pruners = genPartitionPruners(name)
    // timestamp partition dirs render reproducibly only under the UTC
    // write contract (GraftSession pins spark.sql.session.timeZone)
    val utcRender =
      spark.conf.get("spark.sql.session.timeZone", "") == "UTC"
    val dvLookup =
      if (agg.anyDv)
        Some(new graft.plans.GrowableDvLookup(
          new org.apache.spark.util.SerializableConfiguration(hadoopConf)))
      else None
    val prune: (Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        => Seq[FileEntry] = (pf, dfilt) => {
      val ranges = ManifestFileIndex.envelopeRanges(dfilt)
      // direct partition predicates + HIDDEN-partitioning constraints
      // derived from data filters on generated columns' bases — both
      // evaluate inside the distributed scan as `/k=v/` rel segments
      val conjs =
        ManifestFileIndex.partitionSegments(pf, partitionSchema,
          utcRender) ++
        ManifestFileIndex.derivedSegments(dfilt, pruners,
          partitionSchema, utcRender)
      if (ranges.isEmpty && conjs.isEmpty)
        // unfiltered scan needs every entry anyway — but only their
        // paths/sizes, never the stats maps: slim keeps the driver
        // fold ~150 B/entry instead of the full FileEntry state
        slimEntriesAt(name, version).getOrElse(loadAt(name, version))
      else prunedEntries(name, version, ranges, conjs)
        .getOrElse(loadAt(name, version))
    }
    // the DV feed pairs ride with the index so its cross-plan
    // directory memo can re-feed a FRESH plan's (empty) lookup — refs
    // only, sidecar bytes still load executor-side on first touch
    val dvRef: FileEntry => Option[(String, String)] = e =>
      if (e.dv.nonEmpty && e.dvRows > 0L)
        Some((if (e.rel.startsWith("/")) e.rel else "/" + e.rel,
          if (new Path(e.dv).isAbsolute) e.dv
          else new Path(path(name), e.dv).toString))
      else None
    val index = new LazyManifestFileIndex(spark, new Path(path(name)),
      partitionSchema, pruners, agg.bytes, prune,
      () => slimEntriesAt(name, version).getOrElse(loadAt(name, version)),
      // cross-plan directory memo: confirmed (immutable) versions only
      memoKey = if (isVisible(name, version))
        Some(cacheKey(name, version)) else None,
      dvRef = dvRef,
      dvFeed = (k, p) => dvLookup.foreach(_.add(k, p)),
      // HYBRID: below the threshold the slim collect is cheap, MEMOIZES
      // (budgeted), and beats the chunked drain's multi-job latency —
      // returning None here routes the unfiltered ask through prune()'s
      // slimEntriesAt path; past it, driver residency is the hazard and
      // the ask streams
      streamAll = () =>
        if (agg.files > Warehouse.streamListThreshold)
          slimEntriesStream(name, version, agg.files)
        else None,
      // data-only filtered asks on tables past the hybrid bound may
      // stream their survivors too (a weakly-selective filter keeps
      // ~O(|files|)); the survivor count inside decides — at/below the
      // bound it returns None and the collect+memoize path serves
      streamFiltered = (pf, dfilt) =>
        if (agg.files <= Warehouse.streamListThreshold) None
        else {
          val ranges = ManifestFileIndex.envelopeRanges(dfilt)
          val conjs =
            ManifestFileIndex.partitionSegments(pf, partitionSchema,
              utcRender) ++
            ManifestFileIndex.derivedSegments(dfilt, pruners,
              partitionSchema, utcRender)
          if (ranges.isEmpty && conjs.isEmpty) None // streamAll's case
          else prunedEntriesStream(name, version, ranges, conjs,
            Warehouse.streamListThreshold)
        })
    val relation = relationWithIndex(name, index, partitionSchema)
    // COLUMN-LEVEL statistics at [[statsRelation]] parity, folded
    // distributed (NDV from the HLL sidecars via [[lazyNdv]], min/max
    // from the columnar checkpoint via [[lazyColMinMax]]) — cold CBO
    // join reordering no longer degrades on exactly the tables too big
    // to plan eager. Same publication rules as the eager path: min/max
    // for integrals/dates/timestamps ([[manifestStatExternal]]) and
    // withheld under live DVs; NDV gets the uniform-deletion live
    // correction; column-mapped names skip.
    val ndv = lazyNdv(name, version)
    // min/max surfaces only through NDV-bearing columns (eager parity:
    // statsRelation's colStats are keyed by ndvEstimates too) — skip
    // the distributed min/max fold entirely when no column has NDV
    val mm: Map[String, (Long, Long)] =
      if (ndv.nonEmpty && agg.dvSum == 0L) lazyColMinMax(name, version)
      else Map.empty
    val colStats: Map[String,
        org.apache.spark.sql.catalyst.catalog.CatalogColumnStat] =
      ndv.flatMap { case (c, est) =>
        val f = schema(c)
        if (Warehouse.physicalName(f) != f.name) None
        else {
          val mmc = f.dataType match {
            case ByteType | ShortType | IntegerType | LongType |
                 DateType | TimestampType | TimestampNTZType
                if agg.dvSum == 0L => mm.get(c)
            case _ => None
          }
          def liveNdv(e: Long): Long =
            if (agg.dvSum > 0L && agg.physRows > 0L && e > 0L) {
              val dvFrac = agg.dvSum.toDouble / agg.physRows
              val m = agg.physRows.toDouble / e
              math.max(1L, math.round(e * (1.0 - math.pow(dvFrac, m))))
            } else e
          Some(c -> org.apache.spark.sql.catalyst.catalog.CatalogColumnStat(
            distinctCount = Some(BigInt(liveNdv(est))),
            min = mmc.flatMap(v => manifestStatExternal(f, v._1)),
            max = mmc.flatMap(v => manifestStatExternal(f, v._2))))
        }
      }
    val ct = CatalogTable(
      identifier = TableIdentifier(name),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = relation.schema,
      provider = Some("parquet"),
      stats = Some(CatalogStatistics(BigInt(agg.bytes).max(1),
        if (agg.rows >= 0L) Some(BigInt(agg.rows)) else None,
        withHistograms(name, colStats, Some(version),
          if (agg.rows >= 0L) Some(agg.rows) else None))))
    val base = org.apache.spark.sql.GraftBridge.ofRows(spark,
      LogicalRelation(relation,
        DataTypeUtils.toAttributes(relation.schema), Some(ct),
        false, None))
    val df = dvLookup match {
      case None => base
      case Some(g) =>
        // the same filter shape [[applyDv]] builds, with the growable
        // lookup in place of the plan-build-time one
        import org.apache.spark.sql.functions.{col, not}
        val cols = base.columns.toSeq.map(col)
        base.select(cols :+ col("_metadata.file_path").as("__gf_dv_path")
            :+ col("_metadata.row_index").as("__gf_dv_idx"): _*)
          .where(not(org.apache.spark.sql.GraftBridge.toColumn(
            graft.plans.DvRowDeleted(
              org.apache.spark.sql.GraftBridge.toExpr(col("__gf_dv_path")),
              org.apache.spark.sql.GraftBridge.toExpr(col("__gf_dv_idx")),
              g))))
          .select(cols: _*)
    }
    Some(logicalView(name, df))
  }

  /** [[read]] restricted to files whose manifest stats for `column` can
    * overlap `[lo, hi]` (long-encoded: raw value for int/long columns,
    * epoch MICROS for timestamps — `unix_micros`). Files without stats
    * are always kept. PURELY a file-skip: the caller still applies its
    * exact predicate; dropping a non-overlapping file can never change
    * that predicate's result.
    */
  def readRange(name: String, column: String, lo: Long, hi: Long): DataFrame = {
    versions(name).lastOption match {
      case None => read(name)
      case Some(v) =>
        dfFor(name, plannedRange(name, v, Map(column -> ((lo, hi)))))
    }
  }

  /** TIME TRAVEL: the table exactly as committed at manifest `version`.
    * Readable as long as that version's files survive — always true for
    * append-only history; for merge/compact history it requires
    * `retainReplaced` (or simply not having vacuumed past the version):
    * eager GC deletes replaced files right after the NEXT commit.
    * Missing files fail fast here with the retention story, not later
    * with a FileNotFound mid-job.
    */
  def readVersion(name: String, version: Long): DataFrame = {
    require(versions(name).contains(version),
      s"$name has no manifest v$version (vacuumed or never committed)")
    // a pre-migration snapshot reads under ITS OWN era's directory
    // layout ([[layoutAtVersion]]); only migrations that predate the
    // partitionByOld stamp still refuse — except when the stamps prove
    // the layouts EQUAL anyway (a pre-stamp round-trip migration), in
    // which case the current layout is the right one
    val layout = layoutAtVersion(name, version).getOrElse {
      requireLayoutReadable(name, version, "readVersion")
      partitioning(name) // stamps equal ⇒ same layout as the head
    }
    val entries = loadAt(name, version)
    val gone = goneEntries(name, entries)
    require(gone.isEmpty,
      s"$name v$version is no longer readable: ${gone.size} file(s) GC'd " +
        s"(e.g. ${gone.head.rel}); use retainReplaced=true and vacuum " +
        "retention to keep versions readable")
    dfFor(name, entries, layout = Some(layout), histVersion = Some(version))
  }

  /** TIMESTAMP AS OF resolution (the classic Delta rule): the newest
    * committed version whose manifest file's MODIFICATION TIME is
    * <= `tsMillis`. The commit time is read from the filesystem, not
    * commit metadata, so it works for every table ever committed; per
    * version the MINIMUM modtime across the extensions present is used
    * (`.mfd` original vs a vacuum-MATERIALIZED `.mf` sibling published
    * much later — the materialization must not make an old version
    * look newly committed). Assumes the writer clock is monotonic
    * across commits, the same assumption Delta's timestamp travel
    * makes.
    *
    * DELIBERATE divergence from Delta: a timestamp LATER than the
    * newest commit resolves to the head version instead of erroring
    * (Delta raises "timestamp after the latest commit"). The as-of-NOW
    * read (`readTimestamp(t, System.currentTimeMillis)`) is the most
    * common call shape and must mean "the current snapshot, pinned";
    * the cost is that a mistyped future timestamp silently reads the
    * head rather than failing — callers that want Delta's strictness
    * can compare against `history(name).last` first.
    */
  def versionAt(name: String, tsMillis: Long): Long = {
    val fs = fileSystem
    def commitMillis(v: Long): Long = {
      val exts = Seq("mf", "mfd")
        .map(e => new Path(manifestDir(name), f"v$v%012d.$e"))
        .filter(fs.exists)
      exts.map(p => fs.getFileStatus(p).getModificationTime).min
    }
    val at = versions(name).filter(commitMillis(_) <= tsMillis)
    require(at.nonEmpty,
      s"$name: no version committed at or before epoch-ms $tsMillis " +
        "(before the table's first commit, or earlier history vacuumed)")
    at.max
  }

  /** TIME TRAVEL by wall clock: [[readVersion]] of [[versionAt]]. */
  def readTimestamp(name: String, tsMillis: Long): DataFrame =
    readVersion(name, versionAt(name, tsMillis))

  /** A committed version's wall-clock commit time (the [[versionAt]]
    * clock: min manifest modtime across the extensions present).
    */
  def commitTimeMillis(name: String, version: Long): Long = {
    val fs = fileSystem
    val exts = Seq("mf", "mfd")
      .map(e => new Path(manifestDir(name), f"v$version%012d.$e"))
      .filter(fs.exists)
    require(exts.nonEmpty, s"$name has no manifest v$version")
    exts.map(p => fs.getFileStatus(p).getModificationTime).min
  }

  /** INCREMENTAL read: rows of files ADDED after manifest
    * `sinceVersion` — appended batches plus the rewritten output of any
    * merge/compact (i.e. current versions of upserted partitions). The
    * files-added diff is the manifest-native change feed: an
    * incremental consumer checkpoints a version, reads forward, and
    * never rescans history.
    */
  def readChanges(name: String, sinceVersion: Long): DataFrame = {
    require(versions(name).contains(sinceVersion),
      s"$name has no manifest v$sinceVersion to diff from")
    val before = loadAt(name, sinceVersion).map(_.rel).toSet
    dfFor(name, loadLatest(name)._2.filterNot(e => before(e.rel)))
  }

  /** CHANGE FEED with retractions: every row that entered or left the
    * table between manifest `sinceVersion` and the latest, tagged with
    * `_change_delta` = +1 (row in a file ADDED since) or -1 (row in a
    * file REMOVED since). [[readChanges]] alone is enough for
    * append-only consumers; this form additionally makes MERGE/COMPACT
    * history consumable incrementally: a downstream aggregate is
    * maintained exactly by folding the feed weighted by the delta
    * (sum += x*δ, count += δ) — no rescan of table history.
    *
    * A rewrite re-emits untouched rows of touched partitions as -1/+1
    * pairs; they cancel in any delta-weighted fold, so the feed is
    * correct (not minimal — minimality would need row-level diffing,
    * which is exactly the rescan this avoids). Compaction-only commits
    * net to zero everywhere.
    *
    * Reading removed files requires them to still exist: run with
    * `retainReplaced=true` (or consume before vacuuming past
    * `sinceVersion`); missing files fail fast here like [[readVersion]].
    */
  def readChangeFeed(name: String, sinceVersion: Long): DataFrame =
    readChangeFeed(name, sinceVersion, loadLatest(name)._1)

  /** [[readChangeFeed]] PINNED to an explicit end version — the form a
    * watermark-keeping consumer needs under concurrent writers: compute
    * the target version FIRST, fold the feed to exactly it, store the
    * same number as the new watermark. Folding "to latest" instead
    * races any commit landing between the watermark read and the feed's
    * own snapshot (the delta would be folded now AND re-folded on the
    * next refresh).
    */
  def readChangeFeed(name: String, sinceVersion: Long,
      toVersion: Long): DataFrame = {
    require(versions(name).contains(sinceVersion),
      s"$name has no manifest v$sinceVersion to diff from")
    require(versions(name).contains(toVersion),
      s"$name has no manifest v$toVersion to diff to")
    // a partition-layout migration inside the window: RE-ANCHOR like
    // the streaming source ([[streamSlice]]) — per-era feeds under each
    // era's own layout, the migration itself netting zero (it is a
    // content-identity rewrite). Incremental consumers (materialized
    // views, fingerprint stores, signature indexes) therefore survive
    // a migration WITHOUT a full recompute. Pre-stamp migrations still
    // refuse inside streamSlice.
    if (layoutStamp(name, sinceVersion) != layoutStamp(name, toVersion))
      return streamSlice(name, Some(sinceVersion), toVersion,
        cdf = true, isStreaming = false)
    val before = loadAt(name, sinceVersion)
    val after = loadAt(name, toVersion)
    val afterSet = after.map(_.rel).toSet
    val gone = goneEntries(name, before.filterNot(e => afterSet(e.rel)))
    require(gone.isEmpty,
      s"$name change feed since v$sinceVersion unreadable: ${gone.size} " +
        s"removed file(s) already GC'd (e.g. ${gone.head.rel}); open the " +
        "warehouse with retainReplaced=true to keep feeds consumable")
    // same era end to end — but the era itself may be pre-migration
    // (both offsets behind the boundary): read under ITS layout
    val lay = layoutAtVersion(name, toVersion)
    require(lay.isDefined,
      s"readChangeFeed $name v$toVersion: a later layout migration " +
        "predates the partitionByOld stamp — feed unreadable")
    changeFeedDf(name, before, after, isStreaming = false, lay)
  }

  /** [[readChangeFeed]] with PER-COMMIT ATTRIBUTION — Delta CDF's
    * `_commit_version` / `_commit_timestamp` columns: the feed between
    * `sinceVersion` and head as a union of per-commit diffs, each row
    * tagged with the manifest version whose commit added (+1) or
    * removed (-1) it, and that commit's wall-clock time
    * ([[commitTimeMillis]]). Attribution is inherently per-commit, so
    * the cost is one bounded two-snapshot diff per commit in the range
    * (each diff reads only that commit's touched files); δ-fold
    * consumers that don't need attribution should keep using
    * [[readChangeFeed]]'s single end-to-end diff. Same retained-file
    * requirement, checked per hop.
    */
  def readChangeFeedVersioned(name: String,
      sinceVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{lit, timestamp_millis}
    require(versions(name).contains(sinceVersion),
      s"$name has no manifest v$sinceVersion to diff from")
    val vs = versions(name).filter(_ >= sinceVersion).sorted
    val hops = vs.zip(vs.drop(1))
    if (hops.isEmpty) {
      val latest = loadLatest(name)._2
      return changeFeedDf(name, latest, latest, isStreaming = false)
        .withColumn("_commit_version", lit(null).cast("long"))
        .withColumn("_commit_timestamp",
          lit(null).cast("timestamp"))
        .where(lit(false))
    }
    val fs = fileSystem
    hops.map { case (a, b) =>
      // a REPARTITION commit is a content-identity rewrite: its
      // attributed diff is EMPTY by definition (the same re-anchor rule
      // as [[streamSlice]] — the rewrite is not a data change), and
      // diffing it rel-wise would mix two directory layouts in one
      // scan. A cross-layout RESTORE commit is a REAL content change:
      // its hop diffs with each side under its own era's layout. Every
      // other hop stays within one era ([[layoutAtVersion]]).
      if (contentIdentityFlip(name, b))
        changeFeedDf(name, Nil, Nil, isStreaming = false)
          .withColumn("_commit_version", lit(b))
          .withColumn("_commit_timestamp",
            timestamp_millis(lit(commitTimeMillis(name, b))))
      else {
        val lay = layoutAtVersion(name, b)
        val layBefore = layoutAtVersion(name, a)
        require(lay.isDefined && layBefore.isDefined,
          s"readChangeFeedVersioned $name v$b: a later layout " +
            "migration predates the partitionByOld stamp — feed " +
            "unreadable")
        val beforeE = loadAt(name, a)
        val afterE = loadAt(name, b)
        val afterSet = afterE.map(_.rel).toSet
        val gone = goneEntries(name, beforeE.filterNot(e => afterSet(e.rel)))
        require(gone.isEmpty,
          s"$name change feed v$a→v$b unreadable: ${gone.size} removed " +
            s"file(s) already GC'd (e.g. ${gone.head.rel}); open the " +
            "warehouse with retainReplaced=true to keep feeds consumable")
        changeFeedDf(name, beforeE, afterE, isStreaming = false,
          lay, layBefore)
          .withColumn("_commit_version", lit(b))
          .withColumn("_commit_timestamp",
            timestamp_millis(lit(commitTimeMillis(name, b))))
      }
    }.reduce(_ unionByName _)
  }

  /** Whether [[readChangeFeed]] since `sinceVersion` would succeed —
    * the known base version exists and every since-removed file is
    * still on disk. Consumers that can fall back to a rebuild
    * (MaterializedView's retraction repair) probe this instead of
    * catching the feed's fail-fast. Metadata-only (one manifest diff +
    * existence checks on the removed set).
    */
  def changeFeedReadable(name: String, sinceVersion: Long): Boolean = {
    if (!versions(name).contains(sinceVersion)) return false
    if (layoutAtVersion(name, sinceVersion).isEmpty) return false
    val head = versions(name).last
    val fs = fileSystem
    val latestSet = loadAt(name, head).map(_.rel).toSet
    if (layoutStamp(name, sinceVersion) == layoutStamp(name, head)) {
      val before = loadAt(name, sinceVersion)
      return before.filterNot(e => latestSet(e.rel))
        .forall(e => fs.exists(new Path(path(name), e.rel)))
    }
    // migration(s) inside the window: the era-split feed additionally
    // reads each era-boundary snapshot, so EVERY file of every era
    // anchor/end must still exist (retainReplaced) and every era's
    // layout must resolve ([[layoutAtVersion]]). Cross-layout RESTORE
    // commits are era boundaries too — their anchors/ends are checked
    // the same way, which also covers their content-carrying hop.
    val migs = versions(name)
      .filter(v => v > sinceVersion && v <= head)
      .filter(v => layoutFlip(name, v))
      .sorted
    // restore-boundary hops read BOTH their endpoint snapshots even
    // when the eras around them are empty (adjacent flips) — include
    // them in the probe explicitly
    val hopEnds = migs.filterNot(m => contentIdentityFlip(name, m))
      .flatMap(m => Seq(m - 1, m))
    ((sinceVersion +: migs).zip(migs.map(_ - 1) :+ head)
      .filter { case (a, b) => a < b } // empty eras read nothing
      .flatMap { case (a, b) => Seq(a, b) } ++ hopEnds).distinct
      .forall { v =>
        layoutAtVersion(name, v).isDefined &&
          loadAt(name, v).filterNot(e => latestSet(e.rel))
            .forall(e => fs.exists(new Path(path(name), e.rel)))
      }
  }

  /** The CHANGE FEED between two entry snapshots — the shared core of
    * [[readChangeFeed]] and the streaming CDF source:
    *   +1  rows of rels ADDED since `before` (each entry's own vector
    *       applied — rows both added and vectored away inside the window
    *       net out by never appearing);
    *   −1  rows of rels REMOVED since (the BEFORE entry's vector
    *       applied — rows already deleted then must not retract again);
    *   −1  rows a GROWN DELETION VECTOR removed from a file present on
    *       both sides (the merge-on-read delete's retractions: exactly
    *       the positions in dvNow ∖ dvThen, read back from the live
    *       file);
    *   +1  rows a SHRUNK vector RESURRECTED (dvThen ∖ dvNow — the
    *       [[restore]]-past-a-vectored-delete case: a rollback's
    *       resurrections are inserts to any fold, and omitting them
    *       would silently corrupt every incremental consumer).
    * Delta-weighted folds stay exact across copy-on-write DML,
    * compaction, vectored deletes, and restores alike.
    *
    * @param layoutBefore directory layout of the BEFORE side, when it
    *   differs from `layout` — exactly one case produces that: a
    *   [[restore]] across a layout-migration boundary, whose commit
    *   removes files written under one layout and re-adds files
    *   written under another. Defaults to `layout` (same-era diffs).
    *   Files present on BOTH sides always share one era (a cross-
    *   layout commit's sides are rel-disjoint — every file carries its
    *   era's directory prefix), so the DV-delta arms stay on `layout`.
    */
  private[graft] def changeFeedDf(name: String, before: Seq[FileEntry],
      latest: Seq[FileEntry], isStreaming: Boolean,
      layout: Option[Seq[String]] = None,
      layoutBefore: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val layB = layoutBefore.orElse(layout)
    val beforeByRel = before.map(e => e.rel -> e).toMap
    val latestSet = latest.map(_.rel).toSet
    val added = latest.filterNot(e => beforeByRel.contains(e.rel))
    val removed = before.filterNot(e => latestSet(e.rel))
    val dvChanged = latest.flatMap { e =>
      beforeByRel.get(e.rel) match {
        case Some(b) if e.dv != b.dv || e.dvRows != b.dvRows =>
          val now = if (e.dv.isEmpty) Array.empty[Long]
            else readDvFile(name, e.dv)
          val prev = if (b.dv.isEmpty) Array.empty[Long]
            else readDvFile(name, b.dv)
          val nowSet = now.toSet
          val prevSet = prev.toSet
          Some((e, now.filterNot(prevSet), prev.filterNot(nowSet)))
        case _ => None
      }
    }
    val dvGrown = dvChanged.collect { case (e, g, _) if g.nonEmpty => (e, g) }
    val dvShrunk = dvChanged.collect { case (e, _, s) if s.nonEmpty => (e, s) }
    dfFor(name, added, isStreaming, layout)
      .withColumn("_change_delta", lit(1))
      .unionByName(dfFor(name, removed, isStreaming, layB)
        .withColumn("_change_delta", lit(-1)))
      .unionByName(dfForPositions(name, dvGrown, isStreaming, layout)
        .withColumn("_change_delta", lit(-1)))
      .unionByName(dfForPositions(name, dvShrunk, isStreaming, layout)
        .withColumn("_change_delta", lit(1)))
  }

  /** The streaming source's batch between two offsets, RE-ANCHORING
    * across partition-layout migrations ([[repartitionTable]]) instead
    * of erroring. A migration commit is a content-identity rewrite, so
    * its re-added files contribute ZERO rows; the range splits into
    * ERAS at each migration commit in `(startV, endV]` and each era's
    * slice reads under its own directory layout ([[layoutAtVersion]]):
    *
    *   - follow (`cdf = false`): per era `(a, b]`, rows of rels in
    *     `b`'s snapshot but not `a`'s — the era's genuine appends; a
    *     pre-migration era's files must still exist (retainReplaced,
    *     or a caught-up stream whose pre-migration era is empty —
    *     checked upfront with the retention hint, not mid-job);
    *   - CDF (`cdf = true`): per era, [[changeFeedDf]] over that era's
    *     two snapshots — the migration itself nets zero, matching its
    *     content identity, and no −all/+all noise is emitted.
    *
    * `startV = None` is the initial snapshot: content AT `endV`, one
    * unit, under `endV`'s own era layout (no splitting needed — the
    * content is the content). Migrations that predate the
    * `partitionByOld` stamp still refuse, as every reader did before.
    */
  private[graft] def streamSlice(name: String, startV: Option[Long],
      endV: Long, cdf: Boolean, isStreaming: Boolean = true): DataFrame = {
    def layoutOf(v: Long): Seq[String] =
      layoutAtVersion(name, v).getOrElse {
        throw new IllegalArgumentException(
          s"warehouse stream $name: offset v$v predates a partition " +
            "layout migration older than the partitionByOld stamp — " +
            "restart the stream from a post-migration checkpoint")
      }
    startV match {
      case None =>
        val entries = loadAt(name, endV)
        val lay = Some(layoutOf(endV))
        if (cdf) changeFeedDf(name, Nil, entries, isStreaming, lay)
        else dfFor(name, entries, isStreaming, lay)
      case Some(s0) =>
        val migs = versions(name)
          .filter(v => v > s0 && v <= endV)
          .filter(v => layoutFlip(name, v))
          .sorted
        // crossEra: a migration replaced files an earlier era's slice
        // still needs — verify they exist upfront (fail fast with the
        // retention story, not FileNotFound mid-job). A caught-up
        // stream's pre-migration eras are EMPTY, so it never needs
        // retention to cross the boundary.
        def era(a: Long, b: Long, crossEra: Boolean): DataFrame = {
          if (a >= b) return { // empty era — schema must match the mode
            if (cdf) changeFeedDf(name, Nil, Nil, isStreaming)
            else dfFor(name, Nil, isStreaming)
          }
          val lay = Some(layoutOf(b))
          val slice =
            if (cdf) (loadAt(name, a) ++ loadAt(name, b)).distinct
            else {
              val before = loadAt(name, a).map(_.rel).toSet
              loadAt(name, b).filterNot(e => before(e.rel))
            }
          if (crossEra) {
            val fs = fileSystem
            val gone = slice.filterNot(e =>
              fs.exists(new Path(path(name), e.rel)))
            require(gone.isEmpty,
              s"warehouse stream $name: a layout migration replaced " +
                s"files the lagging stream still needs (${gone.size} " +
                s"GC'd, e.g. ${gone.headOption.map(_.rel).getOrElse("")})" +
                "; open with retainReplaced=true, or restart from a " +
                "post-migration checkpoint")
          }
          if (cdf)
            changeFeedDf(name, loadAt(name, a), loadAt(name, b),
              isStreaming, lay)
          else {
            val before = loadAt(name, a).map(_.rel).toSet
            dfFor(name,
              loadAt(name, b).filterNot(e => before(e.rel)),
              isStreaming, lay)
          }
        }
        // a REPARTITION boundary is content-identity — its hop emits
        // nothing; a cross-layout RESTORE boundary is a real content
        // change (a rollback) — its hop emits the exact diff, each
        // side read under ITS OWN era's layout (the only place two
        // layouts meet in one feed)
        def boundaryHop(m: Long): DataFrame = {
          val before = loadAt(name, m - 1)
          val after = loadAt(name, m)
          val beforeSet = before.map(_.rel).toSet
          val added = after.filterNot(e => beforeSet(e.rel))
          val slice = if (cdf) (before ++ after).distinct else added
          val fs = fileSystem
          val gone = slice.filterNot(e =>
            fs.exists(new Path(path(name), e.rel)))
          require(gone.isEmpty,
            s"warehouse stream $name: the v$m restore boundary needs " +
              s"${gone.size} file(s) already GC'd (e.g. " +
              s"${gone.headOption.map(_.rel).getOrElse("")}); open with " +
              "retainReplaced=true, or restart from a post-restore " +
              "checkpoint")
          if (cdf)
            changeFeedDf(name, before, after, isStreaming,
              Some(layoutOf(m)), Some(layoutOf(m - 1)))
          else dfFor(name, added, isStreaming, Some(layoutOf(m)))
        }
        if (migs.isEmpty) era(s0, endV, crossEra = false)
        else {
          val anchors = s0 +: migs
          val ends = migs.map(_ - 1) :+ endV
          val eras = anchors.zip(ends).zipWithIndex.map { case ((a, b), i) =>
            era(a, b, crossEra = i < migs.size)
          }
          val hops = migs.filterNot(m => contentIdentityFlip(name, m))
            .map(boundaryHop)
          (eras ++ hops).reduce(_ unionByName _)
        }
    }
  }

  /** Rows of `picks`' files at exactly the given physical positions —
    * the POSITIVE selection twin of [[applyDv]], used to read back the
    * rows a grown deletion vector removed.
    */
  private def dfForPositions(name: String,
      picks: Seq[(FileEntry, Array[Long])],
      isStreaming: Boolean,
      layout: Option[Seq[String]] = None): DataFrame = {
    if (picks.isEmpty) return dfFor(name, Nil, isStreaming)
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.functions.col
    // strip the entries' own vectors: selection is explicit here
    val base = org.apache.spark.sql.GraftBridge.ofRows(spark,
      LogicalRelation(relationFor(name,
        picks.map(_._1.copy(dv = "", dvRows = 0L)), layout), isStreaming))
    val cols = base.columns.toSeq.map(col)
    val keys = picks.map { case (e, _) =>
      if (e.rel.startsWith("/")) e.rel else "/" + e.rel }.toArray
    val lookup = new graft.plans.DvLookup(keys, picks.map(_._2).toArray)
    logicalView(name,
      base.select(cols :+ col("_metadata.file_path").as("__gf_dv_path")
        :+ col("_metadata.row_index").as("__gf_dv_idx"): _*)
        .where(org.apache.spark.sql.GraftBridge.toColumn(
          graft.plans.DvRowDeleted(
            org.apache.spark.sql.GraftBridge.toExpr(col("__gf_dv_path")),
            org.apache.spark.sql.GraftBridge.toExpr(col("__gf_dv_idx")),
            lookup)))
        .select(cols: _*))
  }

  /** Manifest entries → DataFrame through [[ManifestFileIndex]]: scan
    * planning asks the manifest for files (zero filesystem listings),
    * partition pruning works as with a listed directory, and manifest
    * footer stats skip files for any Catalyst-pushed comparison — the
    * explicit [[readRange]] hint made automatic. `isStreaming` marks
    * the relation as a streaming batch — the form a v1 streaming
    * Source's getBatch must return (see
    * [[graft.sources.WarehouseChangeSource]]).
    */
  private[graft] def dfFor(name: String, entries: Seq[FileEntry],
      isStreaming: Boolean = false,
      layout: Option[Seq[String]] = None,
      histVersion: Option[Long] = None): DataFrame = {
    if (entries.isEmpty) {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        tables(name))
      // an empty streaming batch still needs the streaming flag; an
      // empty LocalRelation carries it
      return if (!isStreaming) empty
      else org.apache.spark.sql.GraftBridge.ofRows(spark,
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          org.apache.spark.sql.GraftBridge.analyzed(empty).output,
          Seq.empty, isStreaming = true))
    }
    logicalView(name,
      applyDv(name, entries, org.apache.spark.sql.GraftBridge.ofRows(spark,
        statsRelation(name, entries, isStreaming, layout, histVersion))))
  }

  /** [[relationFor]] wrapped in a LogicalRelation that PUBLISHES the
    * manifest's statistics to the optimizer as `CatalogStatistics` —
    * exact byte size plus the exact row count for the PLANNED ENTRY
    * SUBSET (entry-subset reads — readRange/readPoint/time travel —
    * report their subset's counts; predicate pruning below the relation
    * does not re-derive them, the standard ANALYZE behavior). Under CBO
    * (on in GraftSession) this is what ANALYZE
    * TABLE would provide, for free: rowCount-driven join sizing and
    * join reordering for every warehouse scan. rowCount is omitted when
    * any planned file predates row-count manifests (unknown ≠ 0) and
    * physical counts are reported for deletion-vectored files net of
    * their vectored rows (the live-row estimate). The CatalogTable is
    * plan-local metadata — nothing registers in the session catalog.
    */
  private def statsRelation(name: String, entries: Seq[FileEntry],
      isStreaming: Boolean, layout: Option[Seq[String]] = None,
      histVersion: Option[Long] = None)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics,
      CatalogStorageFormat, CatalogTable, CatalogTableType}
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
    val relation = relationFor(name, entries, layout)
    val rows =
      if (entries.forall(_.rows >= 0L))
        Some(BigInt(entries.map(e => e.rows - e.dvRows).sum))
      else None
    // COLUMN-LEVEL statistics from the per-file HLL sidecars
    // ([[ndvEstimates]]) + the manifest's min/max fold — join
    // selectivity estimation at ANALYZE parity, maintained by the write
    // path. Min/max publish for integrals PLUS dates/timestamps (the
    // manifest's days/micros encoding externalizes in the reading
    // session — [[manifestStatExternal]] — so zone-formatted forms
    // round-trip by construction); a column is skipped entirely when
    // mapping renamed it (colStats key by output attribute name) or a
    // planned file lacks its sketch.
    val schema = tables(name)
    // DELETION-VECTOR correction for the published NDV: the sketches
    // cover PHYSICAL rows (vectored rows included), so on MoR-heavy
    // tables the raw union over-counts live distincts and CBO join
    // sizing drifts. Model deletions as uniform over rows: a value
    // with average multiplicity m = phys/ndv survives with probability
    // 1 − dvFrac^m, so ndv_live ≈ ndv · (1 − dvFrac^m) — exact at the
    // two poles (unique column → ndv·liveFrac; high-multiplicity →
    // ~ndv) and within estimator noise between. dv = 0 is the identity,
    // so CoW-only tables publish the raw (coupon-exact) estimate.
    val physRows = if (entries.forall(_.rows >= 0L))
      Some(entries.map(_.rows).sum) else None
    val dvSum = entries.map(_.dvRows).sum
    def liveNdv(est: Long): Long = physRows match {
      case Some(phys) if dvSum > 0L && phys > 0L && est > 0L =>
        val dvFrac = dvSum.toDouble / phys
        val m = phys.toDouble / est
        math.max(1L, math.round(est * (1.0 - math.pow(dvFrac, m))))
      case _ => est
    }
    val colStats: Map[String, CatalogColumnStat] =
      ndvEstimates(name, entries).flatMap { case (c, est) =>
        val f = schema(c)
        if (Warehouse.physicalName(f) != f.name) None
        else {
          val mm = f.dataType match {
            case ByteType | ShortType | IntegerType | LongType |
                 DateType | TimestampType | TimestampNTZType
                if entries.nonEmpty && entries.forall(_.stats.contains(c)) &&
                  entries.forall(e => e.dvRows == 0L) =>
              Some((entries.map(_.stats(c)._1).min,
                entries.map(_.stats(c)._2).max))
            case _ => None
          }
          Some(c -> CatalogColumnStat(
            distinctCount = Some(BigInt(liveNdv(est))),
            min = mm.flatMap(v => manifestStatExternal(f, v._1)),
            max = mm.flatMap(v => manifestStatExternal(f, v._2))))
        }
      }
    val ct = CatalogTable(
      identifier = TableIdentifier(name),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = relation.schema,
      provider = Some("parquet"),
      stats = Some(CatalogStatistics(
        BigInt(entries.map(_.bytes).sum).max(1), rows,
        withHistograms(name, colStats, histVersion,
          rows.map(_.toLong)))))
    LogicalRelation(relation, DataTypeUtils.toAttributes(relation.schema),
      Some(ct), isStreaming, None)
  }

  // ------------------------------------------------------------------
  // deletion vectors (merge-on-read DELETE)
  // ------------------------------------------------------------------

  /** Filter the entries' DELETION VECTORS out of a manifest-planned
    * scan: rows whose `(_metadata.file_path, _metadata.row_index)` a
    * sidecar marks deleted never surface. A no-op (the unmodified plan)
    * when no entry carries a vector — the common case pays nothing.
    * Runs inside whole-stage codegen ([[graft.plans.DvRowDeleted]]);
    * every entry applies ITS OWN vector, so time travel, change feeds
    * and clones all see the snapshot their manifest describes.
    */
  private def applyDv(name: String, entries: Seq[FileEntry],
      base: DataFrame): DataFrame = {
    if (!entries.exists(e => e.dv.nonEmpty && e.dvRows > 0)) return base
    import org.apache.spark.sql.functions.col
    val cols = base.columns.toSeq.map(col)
    scanWithDvMeta(name, entries, base).select(cols: _*)
  }

  /** The DV-filtered scan WITH the file-position columns still exposed
    * (`__gf_dv_path`, `__gf_dv_idx`) — metadata attributes must be
    * projected before anything else drops them. [[deleteVectored]]
    * builds its position sets from this form.
    */
  private def scanWithDvMeta(name: String, entries: Seq[FileEntry],
      base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    val cols = base.columns.toSeq.map(col)
    val withMeta = base.select(
      cols :+ col("_metadata.file_path").as("__gf_dv_path")
        :+ col("_metadata.row_index").as("__gf_dv_idx"): _*)
    val dved = entries.filter(e => e.dv.nonEmpty && e.dvRows > 0)
    if (dved.isEmpty) withMeta
    else withMeta.where(not(org.apache.spark.sql.GraftBridge.toColumn(
      graft.plans.DvRowDeleted(
        org.apache.spark.sql.GraftBridge.toExpr(col("__gf_dv_path")),
        org.apache.spark.sql.GraftBridge.toExpr(col("__gf_dv_idx")),
        dvLookup(name, dved)))))
  }

  /** Load the entries' sidecars into the executor-side lookup. Keys are
    * leading-slash path suffixes of the data files (unique within one
    * manifest; absolute borrowed rels are already full paths).
    */
  private def dvLookup(name: String,
      dved: Seq[FileEntry]): graft.plans.DvLookup = {
    val keys = dved.map(e =>
      if (e.rel.startsWith("/")) e.rel else "/" + e.rel).toArray
    val arrs = dved.map(e => readDvFile(name, e.dv)).toArray
    new graft.plans.DvLookup(keys, arrs)
  }

  /** A deletion-vector sidecar: "GDV1" magic, big-endian count, then
    * `count` big-endian long row positions, sorted ascending. Sidecars
    * are IMMUTABLE — growth writes a fresh file with the union — and
    * live under the owning table's `_dv/` dir (entry refs are
    * table-relative, absolute once borrowed by a clone, like data
    * rels).
    */
  private def readDvFile(name: String, dv: String): Array[Long] = {
    val p = if (new Path(dv).isAbsolute) new Path(dv)
      else new Path(path(name), dv)
    // sidecars are IMMUTABLE (growth writes a fresh file) and their
    // UUID names never recur, so the parse memoizes safely — repeated
    // plans of one DV-bearing snapshot (each listFiles feed, each
    // eager dvLookup) read each sidecar once per JVM, not once per plan
    val key = p.toString
    Warehouse.dvBytes.get(key) match {
      case Some(hit) => return hit
      case None =>
    }
    val out0 = readDvFileUncached(name, p, dv)
    Warehouse.dvBytes.put(key, out0)
    out0
  }

  private def readDvFileUncached(name: String, p: Path,
      dv: String): Array[Long] = {
    val in0 = fileSystem.open(p)
    try graft.plans.DvFormat.read(in0, s"$name: $dv")
    finally in0.close()
  }

  private def writeDvFile(name: String, positions: Array[Long]): String = {
    val rel = s"_dv/${java.util.UUID.randomUUID}.dv"
    val p = new Path(path(name), rel)
    fileSystem.mkdirs(p.getParent)
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fileSystem.create(p, false)))
    try {
      out.write("GDV1".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.writeLong(positions.length.toLong)
      positions.foreach(out.writeLong)
    } finally out.close()
    rel
  }

  /** Merge-on-read DELETE: mark matching rows deleted in per-file
    * DELETION VECTORS instead of rewriting the files — the thin-delete
    * path ([[delete]] is the wide-delete path). At 100 TB, removing a
    * 0.01% slice under copy-on-write rewrites every touched file;
    * here it writes sidecars proportional to the DELETED rows and one
    * manifest delta. Reads apply vectors inside the scan (codegen
    * filter), DML rewrites materialize them automatically (they read
    * through the same plan), and [[compact]] purges them.
    *
    * The matched positions pass through the driver (grouped into
    * per-file sorted arrays — the same driver-state shape Delta's DV
    * writer uses), so the thin-delete contract is enforced:
    * `maxRows` (default 10M) caps the collected positions and the call
    * fails fast past it, naming [[delete]] as the wide-delete tool.
    *
    * @return number of rows newly deleted
    */
  def deleteVectored(name: String, cond: org.apache.spark.sql.Column,
      maxRows: Long = 10000000L): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val (v, entries) = loadLatest(name)
    require(v > 0L, s"deleteVectored $name: table not bootstrapped")
    val candidates = touchedFiles(name, entries, _.where(cond))
    if (candidates.isEmpty) return 0L
    // RESTRICT sees the same doomed set (dfFor applies existing
    // vectors, so only still-live matches count as deletions)
    runProbes(restrictProbes(name, dfFor(name, candidates)
      .where(coalesce(cond, lit(false)))
      .select(specsNow(name).primaryKey.map(col): _*)))
    // the scan applies EXISTING vectors, so already-deleted rows can't
    // match again; row_index is the physical position either way
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val matched = logicalView(name, scanWithDvMeta(name, candidates,
        org.apache.spark.sql.GraftBridge.ofRows(spark,
          LogicalRelation(relationFor(name, candidates), false))),
        keep = Seq("__gf_dv_path", "__gf_dv_idx"))
      .where(coalesce(cond, lit(false)))
      .select(col("__gf_dv_path").as("p"), col("__gf_dv_idx").as("i"))
    val n = matched.count()
    if (n == 0L) return 0L
    require(n <= maxRows,
      s"deleteVectored $name: $n matching rows exceed maxRows=$maxRows — " +
        "use delete() (copy-on-write) for wide deletes")
    val updated = growVectors(name, candidates, matched)
    // superseded sidecars are invisible orphans; vacuum collects them
    commitWrites(Seq(Warehouse.Write(name,
      (v, entries.map(e => updated.getOrElse(e, e))), Nil, Nil,
      Map("op" -> "delete", "mode" -> "merge-on-read",
        "numRowsDeleted" -> n.toString,
        "numDeletionVectors" -> updated.size.toString),
      Warehouse.Rebase.Never)))
    n
  }

  /** Grow the deletion vectors of `candidates` by the `(file path, row
    * position)` pairs `positions` collects — each grown vector is a
    * fresh immutable sidecar holding the union.
    *
    * @return replaced entry → the same file under its grown vector
    */
  private def growVectors(name: String, candidates: Seq[FileEntry],
      positions: DataFrame): Map[FileEntry, FileEntry] = {
    val byPath = positions.collect().groupBy(_.getString(0))
      .map { case (p, rows) => p -> rows.map(_.getLong(1)) }
    candidates.flatMap { e =>
      val key = if (e.rel.startsWith("/")) e.rel else "/" + e.rel
      byPath.collectFirst { case (p, idxs) if p.endsWith(key) => idxs }
        .map { idxs =>
          val old =
            if (e.dv.isEmpty) Array.empty[Long] else readDvFile(name, e.dv)
          val union = (old ++ idxs).distinct.sorted
          e -> e.copy(dv = writeDvFile(name, union),
            dvRows = union.length.toLong)
        }
    }.toMap
  }

  /** Merge-on-read UPDATE: vector the OLD versions of matching rows
    * out of their files and append the NEW versions as fresh files —
    * one commit, no rewrite of untouched rows. The thin-update twin of
    * [[deleteVectored]] (same `maxRows` guard; [[update]] is the wide
    * path): at 100 TB, bumping one column on a 0.01% slice writes
    * sidecars + a slice-sized batch instead of rewriting every touched
    * file. The change feed needs nothing new — fresh files are +1,
    * grown vectors are −1, exactly the add/retract pair an exact
    * delta-weighted fold wants. Same contract as [[update]] otherwise:
    * SET evaluates against the OLD row, partition columns are not
    * updatable, CHECK constraints validate the new values before
    * anything commits.
    *
    * @return number of rows updated
    */
  def updateVectored(name: String, cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      maxRows: Long = 10000000L): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val schema = tables(name)
    requireUpdatable("updateVectored", name, set.keys)
    val (v, entries) = loadLatest(name)
    require(v > 0L, s"updateVectored $name: table not bootstrapped")
    val candidates = touchedFiles(name, entries, _.where(cond))
    if (candidates.isEmpty) return 0L
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val matched = logicalView(name, scanWithDvMeta(name, candidates,
        org.apache.spark.sql.GraftBridge.ofRows(spark,
          LogicalRelation(relationFor(name, candidates), false))),
        keep = Seq("__gf_dv_path", "__gf_dv_idx"))
      .where(coalesce(cond, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = matched.count()
      if (n == 0L) return 0L
      require(n <= maxRows,
        s"updateVectored $name: $n matching rows exceed maxRows=$maxRows" +
          " — use update() (copy-on-write) for wide updates")
      val rewritten = matched.select(schema.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(e) => e.cast(f.dataType).as(f.name)
          case None => col(f.name)
        }
      }: _*)
      // checks run before any sidecar hits disk; here `rewritten` is
      // EXACTLY the touched rows (matched already filtered on old
      // values), so the FK probe batch is tight
      runProbes(checkProbes(name, rewritten)
        ++ (if (specsNow(name).foreignKeys
              .exists(_.cols.exists(set.keySet.contains)))
            foreignKeyProbes(name, rewritten)
          else Probes(Nil)))
      val updatedEntries = growVectors(name, candidates, matched.select(
        col("__gf_dv_path").as("p"), col("__gf_dv_idx").as("i")))
      val fresh = writeBatch(name, rewritten)
      commitWrites(Seq(Warehouse.Write(name,
        (v, entries.map(e => updatedEntries.getOrElse(e, e))), Nil, fresh,
        Map("op" -> "update", "mode" -> "merge-on-read",
          "numRowsUpdated" -> n.toString,
          "numDeletionVectors" -> updatedEntries.size.toString,
          "numFilesAdded" -> fresh.size.toString),
        Warehouse.Rebase.Never)))
      n
    } finally { matched.unpersist(); () }
  }

  /** Monotone base→partition value maps derived from GENERATED
    * partition columns — the hidden-partitioning pruners
    * [[ManifestFileIndex]] applies so a predicate on the BASE column
    * (`WHERE ts >= …` on a table partitioned by the generated
    * `day = CAST(ts AS DATE)`) prunes partition dirs without the
    * caller ever naming `day` (Iceberg's partition-transform pruning).
    * Whitelisted shapes, all monotone non-decreasing over the
    * manifest's long encodings:
    *
    *   - `CAST(b AS DATE)` / `to_date(b)`: timestamp micros → epoch
    *     days; date base → identity
    *   - `year(b)`: date days / timestamp micros → calendar year
    *   - `b DIV k` (k > 0 literal): integral truncating divide
    *
    * Anything else yields no pruner (never wrong, just unpruned —
    * `month`/`day` alone are cyclic, NOT monotone, and must not be
    * added here).
    */
  private def genPartitionPruners(
      name: String): Map[String, (String, Long => Long)] = {
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{
      Cast => CCast, Expression, IntegralDivide, Literal => CLit}
    val spec = specsNow(name)
    val parts = partitioning(name).toSet
    val schema = tables(name)
    def baseName(e: Expression): Option[String] = e match {
      case UnresolvedAttribute(Seq(n)) => Some(n)
      case _ => None
    }
    def baseType(n: String) =
      schema.fields.find(_.name == n).map(_.dataType)
    def toDays(n: String): Option[(String, Long => Long)] =
      baseType(n).collect {
        case TimestampType | TimestampNTZType =>
          n -> ((x: Long) => Math.floorDiv(x, 86400000000L))
        case DateType => n -> ((x: Long) => x)
      }
    def toYear(n: String): Option[(String, Long => Long)] =
      baseType(n).collect {
        case DateType =>
          n -> ((x: Long) => java.time.LocalDate.ofEpochDay(x).getYear.toLong)
        case TimestampType | TimestampNTZType =>
          n -> ((x: Long) => java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(x, 1000000L), 0, java.time.ZoneOffset.UTC)
            .getYear.toLong)
      }
    spec.generated.flatMap { case (p, sql) =>
      if (!parts(p)) None
      else {
        val parsed =
          try Some(org.apache.spark.sql.GraftBridge
            .parseExpression(spark, sql))
          catch { case _: Exception => None }
        val pruner = parsed.flatMap {
          case CCast(b, DateType, _, _) => baseName(b).flatMap(toDays)
          case f: UnresolvedFunction
              if f.nameParts.map(_.toLowerCase) == Seq("to_date") &&
                f.arguments.size == 1 =>
            baseName(f.arguments.head).flatMap(toDays)
          case f: UnresolvedFunction
              if f.nameParts.map(_.toLowerCase) == Seq("year") &&
                f.arguments.size == 1 =>
            baseName(f.arguments.head).flatMap(toYear)
          // date_trunc(unit, b): every unit is a monotone floor. The
          // partition column is a timestamp whose dir value long-encodes
          // as micros, so f maps base micros → truncated micros.
          case f: UnresolvedFunction
              if f.nameParts.map(_.toLowerCase) == Seq("date_trunc") &&
                f.arguments.size == 2 =>
            (f.arguments.head, baseName(f.arguments(1))) match {
              case (CLit(u, StringType), Some(n)) if u != null =>
                val unit = u.toString.toUpperCase
                def trunc(micros: Long): Long = {
                  val ldt = java.time.LocalDateTime.ofEpochSecond(
                    Math.floorDiv(micros, 1000000L),
                    (Math.floorMod(micros, 1000000L) * 1000L).toInt,
                    java.time.ZoneOffset.UTC)
                  val t = unit match {
                    case "YEAR" | "YYYY" | "YY" =>
                      ldt.withDayOfYear(1).toLocalDate.atStartOfDay
                    case "QUARTER" =>
                      ldt.withMonth((ldt.getMonthValue - 1) / 3 * 3 + 1)
                        .withDayOfMonth(1).toLocalDate.atStartOfDay
                    case "MONTH" | "MON" | "MM" =>
                      ldt.withDayOfMonth(1).toLocalDate.atStartOfDay
                    case "WEEK" =>
                      ldt.toLocalDate.`with`(java.time.DayOfWeek.MONDAY)
                        .atStartOfDay
                    case "DAY" | "DD" => ldt.toLocalDate.atStartOfDay
                    case "HOUR" => ldt.truncatedTo(
                      java.time.temporal.ChronoUnit.HOURS)
                    case "MINUTE" => ldt.truncatedTo(
                      java.time.temporal.ChronoUnit.MINUTES)
                    case _ => ldt // unknown unit: identity (still sound)
                  }
                  t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond *
                    1000000L + t.getNano / 1000L
                }
                val known = Set("YEAR", "YYYY", "YY", "QUARTER", "MONTH",
                  "MON", "MM", "WEEK", "DAY", "DD", "HOUR", "MINUTE")
                if (!known(unit)) None
                else baseType(n).collect {
                  case TimestampType | TimestampNTZType =>
                    n -> ((x: Long) => trunc(x))
                }
              case _ => None
            }
          case IntegralDivide(b, CLit(k: Long, LongType), _)
              if k > 0 =>
            baseName(b).flatMap(n => baseType(n).collect {
              case ByteType | ShortType | IntegerType | LongType =>
                n -> ((x: Long) => x / k)
            })
          case IntegralDivide(b, CLit(k: Int, IntegerType), _)
              if k > 0 =>
            baseName(b).flatMap(n => baseType(n).collect {
              case ByteType | ShortType | IntegerType | LongType =>
                n -> ((x: Long) => x / k)
            })
          case _ => None
        }
        pruner.map(p -> _)
      }
    }
  }

  /** The manifest-planned `HadoopFsRelation` itself — the BaseRelation
    * handed to `spark.read.format("graft-warehouse")`'s RelationProvider
    * (see [[graft.sources.WarehouseSourceProvider]]).
    *
    * @param layout partition-column override for reading entries
    *   written under a PRE-MIGRATION directory layout
    *   ([[layoutAtVersion]]); None = the current spec's layout.
    */
  private[graft] def relationFor(name: String, entries: Seq[FileEntry],
      layout: Option[Seq[String]] = None)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val schema = tables(name)
    val parts = layout.getOrElse(partitioning(name))
    val partitionSchema = StructType(parts.map(p => schema(p)))
    relationWithIndex(name, new ManifestFileIndex(spark,
      new Path(path(name)), entries, partitionSchema,
      genPartitionPruners(name)), partitionSchema)
  }

  /** The HadoopFsRelation around ANY manifest-backed FileIndex —
    * shared by the eager ([[ManifestFileIndex]]) and lazy
    * ([[LazyManifestFileIndex]]) planning paths.
    */
  private def relationWithIndex(name: String,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      partitionSchema: StructType)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val schema = tables(name)
    // column mapping: the scan reads PHYSICAL names (what the files
    // contain); dfFor aliases back to logical — identical when inactive
    val dataSchema = StructType(
      schema.filterNot(f => partitionSchema.fieldNames.contains(f.name))
        .map(f => StructField(Warehouse.physicalName(f), f.dataType,
          f.nullable)))
    // bucketed layout → the scan reports HashPartitioning(bucketBy, n)
    // and equi-joins/aggregations on the bucket key elide their
    // exchanges. Every committed file carries the `_NNNNN` bucket stamp
    // ([[bucketStampedRel]]); borrowed clone files come from a
    // same-spec source, so the invariant holds across clones too.
    val buckets = specsNow.get(name).filter(_.numBuckets > 0).map(s =>
      org.apache.spark.sql.catalyst.catalog.BucketSpec(
        s.numBuckets, s.bucketBy, Nil))
    HadoopFsRelation(index, partitionSchema, dataSchema,
      buckets, new ParquetFileFormat(), Map.empty)(spark)
  }

  /** [[append]] with AUTOMATIC SCHEMA EVOLUTION (Delta's mergeSchema):
    * columns the batch carries beyond the table schema are first added
    * to the spec via [[addColumn]] (nullable — existing files read
    * them as null), then the widened batch appends normally. Only
    * ADDITIVE evolution: a batch column whose name exists with a
    * DIFFERENT type still fails in writeBatch's select cast, and
    * nothing is ever dropped. Single-writer DDL contract for the
    * evolution step, like addColumn itself.
    *
    * @return (committed version, rows appended), as [[append]]
    */
  def appendMergeSchema(name: String, df: DataFrame,
      rowsPerFile: Long = 0,
      txn: Option[(String, Long)] = None): (Long, Long) = {
    val have = tables(name).fieldNames.toSet
    df.schema.fields.filterNot(f => have(f.name)).foreach { f =>
      addColumn(name, f.copy(nullable = true))
    }
    // a batch arriving WIDER than the schema widens the column first
    // (metadata-only — see alterColumnType); narrower batches cast up
    // to the spec below
    df.schema.fields.filter(f => have(f.name)).foreach { f =>
      if (widens(tables(name)(f.name).dataType, f.dataType))
        alterColumnType(name, f.name, f.dataType)
    }
    // older columns the batch omits surface as nulls (select order is
    // the spec's; missing columns fill with typed nulls) — except an
    // IDENTITY column, which must stay absent for append to assign
    import org.apache.spark.sql.functions.{col, lit}
    val idCol = specsNow(name).identity.map(_.column)
    val full = tables(name).fields.toSeq
      .filterNot(f => idCol.contains(f.name) && !df.columns.contains(f.name))
      .map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
    append(name, df.select(full: _*), rowsPerFile, txn)
  }

  /** K2-K4 — append insert. Parquet has no JDBC-style `batchsize`, so
    * chunking maps to output-partition sizing: rows-per-file caps the
    * unit of write the way `chunksize=1000` caps the reference's insert
    * batches (`script.py:171`). Commit adds the new files; nothing is
    * ever replaced, so there is no delete at any point.
    *
    * @param txn optional idempotence fence `(writerId, epoch)` — the
    *   exactly-once contract for streaming sinks: if the table's txn
    *   ledger already records `epoch` (or later) for `writerId`, the
    *   append is a NO-OP — a replayed micro-batch (sink committed, then
    *   crash before the checkpoint advanced) writes nothing twice. A
    *   successful commit records the new watermark atomically WITH the
    *   data (it rides the manifest's metadata line), so fence and files
    *   can never disagree.
    *
    * @return (committed manifest version, rows appended) — (head, 0)
    *   when the txn fence made the call a replay no-op. The row count
    *   comes from the committed entries' own parquet footers, so it is
    *   exact for THIS append regardless of concurrent writers (unlike
    *   a before/after head-count delta).
    */
  def append(name: String, df: DataFrame, rowsPerFile: Long = 0,
      txn: Option[(String, Long)] = None): (Long, Long) = {
    val base @ (v, _) = loadLatest(name)
    require(v > 0L, s"append into $name: table not bootstrapped")
    if (fenceMet(name, v, txn)) return (v, 0L)
    val batch = prepareBatch(name, df, v)
    runProbes(appendProbes(name, batch._1))
    commitWrites(Seq(appendWrite(name, base, () => df, batch, rowsPerFile,
      (_, fresh) => appendMeta(fresh))), txn) match {
      case Some(Seq((w, committed))) => (committed, w.fresh.map(_.rows).sum)
      case _ => (loadLatest(name)._1, 0L)
    }
  }

  /** A row-adding batch's preparation (the append family, overwrite):
    * identity ids extending `head`'s high-water mark, then generated
    * columns.
    */
  private def prepareBatch(name: String, src: DataFrame,
      head: Long): (DataFrame, Option[Long]) = {
    val (withId, hwm) = applyIdentity(name, src, head)
    (applyGenerated(name, withId), hwm)
  }

  /** The four constraint families an appended batch must pass, IN THIS
    * ORDER — the order [[runProbes]] rethrows in on multi-family
    * violations.
    */
  private def appendProbes(name: String, df: DataFrame,
      pendingParents: Map[String, DataFrame] = Map.empty): Probes =
    checkProbes(name, df) ++ primaryKeyProbes(name, df) ++
      uniqueProbes(name, df) ++ foreignKeyProbes(name, df, pendingParents)

  private def appendMeta(fresh: Seq[FileEntry]): Map[String, String] =
    Map("op" -> "append", "numFilesAdded" -> fresh.size.toString,
      "numRowsAdded" -> fresh.map(_.rows).sum.toString)

  /** Stage an append-family batch (prepared and probed) as a blind
    * write: it only adds files, so it COMMUTES with any concurrent
    * commit and a lost race re-attaches the same files to the new head.
    * Its re-validate step against that head:
    *   - a racing assigner may have advanced the identity hwm, so our
    *     written ids would duplicate its: reassign from the new head
    *     and REWRITE (the one append race that cannot re-attach). `src`
    *     is a thunk so the rewrite reads the source the way the first
    *     pass did;
    *   - a commit slipped in between our probes and this attempt:
    *     re-probe PRIMARY KEY and UNIQUE against the new head so
    *     concurrent same-key appends cannot both land (single-slot
    *     protocol — see [[probePrimaryKey]]). A failed re-probe GCs the
    *     staged files.
    *
    * @param meta the op's commit metadata over (head version, staged
    *   files); the identity hwm is added here
    */
  private def appendWrite(name: String, base: (Long, Seq[FileEntry]),
      src: () => DataFrame, batch: (DataFrame, Option[Long]),
      rowsPerFile: Long, meta: (Long, Seq[FileEntry]) => Map[String, String])
      : Warehouse.Write = {
    var (df, hwm) = batch
    var fresh = writeBatch(name, df, rowsPerFile)
    def metaAt(head: Long) =
      meta(head, fresh) ++ hwm.map("identityHwm" -> _.toString)
    Warehouse.Write(name, base, Nil, fresh, metaAt(base._1),
      Warehouse.Rebase.Always, Some { head =>
        if (hwm.exists(_ != identityHwm(name, head) + fresh.map(_.rows).sum)) {
          gc(name, fresh)
          val (reDf, reHwm) = prepareBatch(name, src(), head)
          df = reDf
          hwm = reHwm
          fresh = writeBatch(name, df, rowsPerFile)
        }
        val pkLive =
          if (specsNow(name).primaryKey.isEmpty) Nil
          else Seq(() => probePrimaryKey(name, df))
        try runProbes(Probes(pkLive) ++ uniqueProbes(name, df))
        catch { case scala.util.control.NonFatal(e) =>
          gc(name, fresh); throw e }
        (fresh, metaAt(head))
      })
  }

  /** COPY INTO (Delta's idempotent bulk file ingest): append the files
    * under `srcDir` that no previous copyInto of this table has loaded,
    * and remember them — re-running the same statement after new files
    * land loads ONLY the new files; re-running with nothing new is a
    * no-op. The memory is a fingerprint set (`relPath:bytes` per source
    * file) persisted as immutable ledger sidecars under
    * `_meta/_copy/<table>/`, each referenced by its data commit's
    * `copyLedger` metadata — so ledger and rows are exactly as atomic
    * as the commit (a crash between sidecar and commit leaves an
    * orphaned, never-referenced ledger, and the re-run loads the batch
    * again from scratch). `force=true` bypasses the ledger (reloads
    * everything matched). Loaded data flows through [[writeBatch]], so
    * checks, stats, blooms and a bucketed layout all apply.
    *
    * Scale shape: listing + fingerprint diff are driver-side metadata
    * work proportional to the SOURCE DIRECTORY, never the table; the
    * data move is one distributed read of only the new files. Ledger
    * growth is bounded by total files ever copied (the same contract as
    * Delta's COPY INTO state).
    *
    * Concurrency: a lost commit race rebases like any blind append
    * ([[appendWrite]]). Two copyInto calls racing over the SAME source
    * files may load them twice — idempotence is per committed ledger,
    * not a cross-writer lock (Delta's contract as well).
    *
    * @param pattern optional glob over source FILE NAMES (`*.parquet`)
    * @return (source files loaded, rows loaded)
    */
  def copyInto(name: String, srcDir: String, format: String = "parquet",
      pattern: String = "", force: Boolean = false,
      options: Map[String, String] = Map.empty): (Long, Long) = {
    val base @ (v0, _) = loadLatest(name)
    require(v0 > 0L, s"copyInto $name: table not bootstrapped")
    val listed = FsListing.dataFiles(srcDir)
    val matched =
      if (pattern.isEmpty) listed
      else {
        val rx = java.util.regex.Pattern.compile(
          pattern.flatMap {
            case '*' => ".*"
            case '?' => "."
            case c if "\\.[]{}()+-^$|".contains(c) => s"\\$c"
            case c => c.toString
          })
        // Delta's PATTERN semantics: the glob matches the SOURCE-
        // RELATIVE PATH (so 'w1/*.parquet' selects a subdirectory);
        // a bare file glob like '*.parquet' still matches at any depth
        // because `*` here crosses '/' (documented, glob-over-path)
        listed.filter { case (rel, _) => rx.matcher(rel).matches }
      }
    val loaded: Set[String] = if (force) Set.empty else copyLedger(name)
    val fresh = matched.filterNot { case (rel, b) => loaded(s"$rel:$b") }
    if (fresh.isEmpty) return (0L, 0L)
    import org.apache.spark.sql.functions.col
    val schema = tables(name)
    // GENERATED columns never come from the source files — the read
    // schema excludes them and the engine derives canonical values
    val gen = specsNow(name).generated
    val idColCi = specsNow(name).identity.map(_.column)
    val readSchema = StructType(
      schema.filterNot(f => gen.contains(f.name) ||
        idColCi.contains(f.name)))
    // FILEFORMAT = AVRO routes to the in-repo graft-avro DSv2 source
    // (the spark-avro connector does not ship in this environment)
    val fmt =
      if (format.equalsIgnoreCase("avro")) "graft-avro" else format
    val src = () => spark.read.format(fmt).schema(readSchema).options(options)
      .load(fresh.map { case (rel, _) => s"$srcDir/$rel" }: _*)
      .select(readSchema.fieldNames.map(col): _*)
    val batch = prepareBatch(name, src(), v0)
    runProbes(appendProbes(name, batch._1))
    val ledgerRel = writeCopyLedger(name,
      fresh.map { case (rel, b) => s"$rel:$b" })
    // the carried-forward ledger LIST is recomputed against the head
    // each attempt commits over — a racing copy's ledger must not be
    // dropped from the list (commit() re-carries it too, but `meta`
    // wins, so the list here must already include it)
    def ledgersAt(head: Long) = commitMeta(name, head)
      .get("copyLedgers").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    // unfenced, so never a replay
    val (w, _) = commitWrites(Seq(appendWrite(name, base, src, batch, 0L,
      (head, staged) => Map("op" -> "copy_into",
        "copyLedgers" -> (ledgersAt(head) :+ ledgerRel).mkString(","),
        "numSourceFiles" -> fresh.size.toString,
        "numFilesAdded" -> staged.size.toString)))).get.head
    (fresh.size.toLong, w.fresh.map(_.rows).sum)
  }

  /** EXPECTATIONS WITH QUARANTINE (the "expect or quarantine" pipeline
    * shape): split `df` by the TARGET table's CHECK constraints —
    * passing rows append to `name`, violating rows append to
    * `quarantine` with a `violation` column naming the FIRST failed
    * check (name order, the [[graft.ext.QualityRules]] first-fail
    * attribution) — in ONE atomic multi-table commit ([[appendAll]]'s
    * `_txn` marker): a reader observes both sides or neither, so
    * "rows in = rows kept + rows quarantined" holds at every snapshot.
    * The alternative to [[append]]'s fail-the-batch contract when bad
    * rows are expected and must be auditable rather than fatal.
    *
    * The quarantine table is auto-created (IF NOT EXISTS) with the
    * target's schema plus `violation STRING` and NO checks of its own
    * (everything it receives violates something by construction).
    * SQL three-valued semantics as everywhere: a NULL check result
    * PASSES. `df` is evaluated once per side (two staged writes, the
    * [[appendAll]] shape) — cache upstream if the batch is expensive.
    *
    * @param txn optional (writerId, epoch) fence — EXACTLY-ONCE across
    *   the atomic pair (the streaming-sink contract; see [[appendAll]])
    * @return (rows kept, rows quarantined) — (0, 0) for a replay
    */
  def appendQuarantine(name: String, quarantine: String, df: DataFrame,
      rowsPerFile: Long = 0L,
      txn: Option[(String, Long)] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, not, when}
    val checks = specsNow(name).checks.toSeq.sortBy(_._1)
    val pk = specsNow(name).primaryKey
    val fks = specsNow(name).foreignKeys
    require(checks.nonEmpty || pk.nonEmpty || fks.nonEmpty ||
        specsNow(name).unique.nonEmpty,
      s"appendQuarantine $name: the table declares no constraints " +
        "(CHECK/PRIMARY KEY/UNIQUE/FOREIGN KEY) — use append")
    require(name != quarantine,
      s"appendQuarantine: target and quarantine must differ")
    require(specsNow(name).identity.isEmpty,
      s"appendQuarantine $name: IDENTITY tables quarantine-split " +
        "upstream and append the clean side (the atomic two-table " +
        "commit cannot reassign ids on conflict)")
    val schema = tables(name)
    createTable(quarantine, Warehouse.TableSpec(
      schema.add(StructField("violation", StringType, nullable = false)),
      generated = specsNow(name).generated),
      ifNotExists = true)
    require(tables(quarantine).fieldNames.toSeq ==
        schema.fieldNames.toSeq :+ "violation",
      s"appendQuarantine: $quarantine exists with an incompatible schema")
    val firstFail = checks.reverse.foldLeft(lit(null).cast("string")) {
      case (acc, (n, e)) =>
        when(not(coalesce(expr(e), lit(true))), lit(n)).otherwise(acc)
    }
    // derive GENERATED columns BEFORE evaluating the checks: a CHECK
    // referencing a generated column the batch omits must tag its rows
    // into quarantine, not explode the whole batch with an unresolved-
    // column AnalysisException (the poison-batch contract)
    val checkTagged =
      applyGenerated(name, df).withColumn("violation", firstFail)
    // PRIMARY KEY violations route to quarantine too (violation name
    // `primary_key`, after every named CHECK): NULL keys, batch-internal
    // duplicates (ALL members — no arbitrary survivor pick), and keys
    // already live in the table. Collisions minted by a CONCURRENT
    // writer between this read and the commit still fail the batch via
    // the append-path re-probe — quarantine handles data quality, the
    // serializable probe handles races.
    val tagged =
      if (pk.isEmpty) checkTagged
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pk.map(col): _*)
        val dupOrNull = pk.map(c => col(c).isNull).reduce(_ || _) ||
          (count(lit(1)).over(w) > 1)
        // collision scope is file-skipped like the append probe —
        // quarantine tagging costs batch-overlapping files, not the
        // table (None = nothing live can collide)
        val existing = pkProbeScope(name, checkTagged)
          .map(_.select(pk.map(col): _*).distinct()
            .withColumn("__gf_pk_hit", lit(true)))
        existing.map(checkTagged.join(_, pk, "left"))
          .getOrElse(checkTagged.withColumn("__gf_pk_hit",
            lit(null).cast("boolean")))
          .withColumn("violation",
            when(col("violation").isNotNull, col("violation"))
              .when(dupOrNull || col("__gf_pk_hit"), lit("primary_key")))
          .drop("__gf_pk_hit")
          .select(checkTagged.columns.map(col): _*)
      }
    // UNIQUE violations route as `unique` (after primary_key): batch-
    // internal duplicates among fully-non-null tuples (ALL members tag,
    // like the PK's no-survivor-pick rule) and live-table hits, probe
    // file-skipped the same way. NULLS DISTINCT: null components pass.
    val uqTagged = specsNow(name).unique.foldLeft(tagged) {
      case (acc, u) =>
        val nn = u.map(c => col(c).isNotNull).reduce(_ && _)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(u.map(col): _*)
        val dupInBatch = nn && (count(when(nn, lit(1))).over(w) > 1)
        val live = keyProbeScope(name, u,
            acc.where(nn).select(u.map(col): _*).distinct())
          .map(_.where(u.map(c => col(c).isNotNull).reduce(_ && _))
            .select(u.map(col): _*).distinct()
            .withColumn("__gf_uq_hit", lit(true)))
        live.map(acc.join(_, u, "left"))
          .getOrElse(acc.withColumn("__gf_uq_hit",
            lit(null).cast("boolean")))
          .withColumn("violation",
            when(col("violation").isNotNull, col("violation"))
              .when(dupInBatch || (nn && col("__gf_uq_hit")),
                lit("unique")))
          .drop("__gf_uq_hit")
          .select(acc.columns.map(col): _*)
    }
    // FOREIGN KEY violations route as `foreign_key` (after primary_key
    // — a row failing both reports the PK, the sharper diagnosis).
    // Each FK's live-parent probe is file-skipped like the PK probe.
    // A SELF-FK's parent side unions the batch's own SURVIVING key
    // tuples (only rows that will actually land can serve as parents —
    // the quarantine analog of foreignKeyProbes' pendingKeys): a row
    // referencing an in-batch parent must not misroute to quarantine.
    def tagFks(base: DataFrame): DataFrame = fks.foldLeft(base) {
      case (acc, fk) =>
        val asParent = fk.cols.zip(fk.parentCols).foldLeft(
          acc.select(fk.cols.map(col): _*)
            .where(fk.cols.map(c => col(c).isNotNull).reduce(_ && _))
            .distinct()) { case (d, (c, p)) => d.withColumnRenamed(c, p) }
        val liveKeys = keyProbeScope(fk.parent, fk.parentCols, asParent)
          .map(_.select(fk.parentCols.map(col): _*))
        val selfKeys =
          if (fk.parent == name && pk.nonEmpty)
            Some(acc.where(col("violation").isNull)
              .select(pk.map(col): _*).toDF(fk.parentCols: _*))
          else None
        val parentSide = ((liveKeys, selfKeys) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b) => a.orElse(b)
        }).map(_.distinct().withColumn("__gf_fk_hit", lit(true)))
          .map(p => fk.parentCols.zip(fk.cols)
            .foldLeft(p) { case (d, (pc, c)) => d.withColumnRenamed(pc, c) })
        val anyNull = fk.cols.map(c => col(c).isNull).reduce(_ || _)
        parentSide.map(acc.join(_, fk.cols, "left"))
          .getOrElse(acc.withColumn("__gf_fk_hit",
            lit(null).cast("boolean")))
          .withColumn("violation",
            when(col("violation").isNotNull, col("violation"))
              .when(!anyNull && col("__gf_fk_hit").isNull,
                lit("foreign_key")))
          .drop("__gf_fk_hit")
          .select(acc.columns.map(col): _*)
    }
    // Quarantining a row can orphan OTHER batch rows that referenced
    // it (A → B, B fails a CHECK ⇒ A's parent never lands), so the
    // self-FK case iterates tagging to a FIXPOINT: each pass only
    // moves rows surviving → tagged, so it terminates in ≤ chain-depth
    // passes (each materialized via localCheckpoint — batch-sized).
    // Without the fixpoint, a cascaded dangler would reach appendAll's
    // statement-end FK check and fail the WHOLE batch, breaking the
    // poison-batch contract.
    val fkTagged =
      if (!fks.exists(_.parent == name)) tagFks(uqTagged)
      else {
        var acc = uqTagged.localCheckpoint(true)
        var tagged = acc.where(col("violation").isNotNull).count()
        var converged = false
        while (!converged) {
          val next = tagFks(acc).localCheckpoint(true)
          val nextTagged = next.where(col("violation").isNotNull).count()
          converged = nextTagged == tagged
          acc = next
          tagged = nextTagged
        }
        acc
      }
    val good = fkTagged.where(col("violation").isNull).drop("violation")
    val bad = fkTagged.where(col("violation").isNotNull)
    // counts come from THIS transaction's committed footers (appendAll's
    // return), not head-count deltas — exact under concurrent writers
    val committed = appendAll(
      Seq((name, good, rowsPerFile), (quarantine, bad, rowsPerFile)), txn)
      .map(c => c._1 -> c._3).toMap
    (committed(name), committed(quarantine))
  }

  /** The union of the HEAD commit's referenced copy ledgers — the list
    * rides every commit forward (see [[commit]]), so vacuuming old
    * manifests never forgets a loaded file; a crashed copy's orphaned
    * sidecar is never referenced and stays invisible, which is what
    * makes the re-run correct.
    */
  private def copyLedger(name: String): Set[String] = {
    val fs = fileSystem
    val (v, _) = loadLatest(name)
    commitMeta(name, v).get("copyLedgers").toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty).flatMap { rel =>
        val p = new Path(copyLedgerDir(name), rel)
        require(fs.exists(p),
          s"copyInto $name: referenced ledger sidecar $rel is missing")
        val in = fs.open(p)
        val text = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        text.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
      }.toSet
  }

  private def copyLedgerDir(name: String): Path =
    new Path(new Path(new Path(dir, "_meta"), "_copy"), name)

  /** One immutable ledger sidecar (newline-separated fingerprints);
    * returns its file name for the commit metadata reference.
    */
  private def writeCopyLedger(name: String, fps: Seq[String]): String = {
    val fs = fileSystem
    fs.mkdirs(copyLedgerDir(name))
    val rel = s"${java.util.UUID.randomUUID}.txt"
    val out = fs.create(new Path(copyLedgerDir(name), rel), false)
    try out.write(fps.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    rel
  }

  /** MULTI-TABLE ATOMIC APPEND: append a batch to EACH named table such
    * that a reader observes either ALL the appends or NONE — the
    * referential-integrity publish the reference's single Postgres
    * transaction gives EP1's dim+fact pair for free (and its own
    * script actually lacks across tables, `script.py:146-171`).
    *
    * Protocol (the `_txn` marker shape):
    *   1. stage + move every table's files ([[writeBatch]] per table);
    *   2. publish each table's manifest normally, carrying
    *      `mtxn=<uuid>` metadata — these versions are PENDING: every
    *      read path skips a version whose transaction marker is absent;
    *   3. publish `_meta/_txn/<uuid>` create-exclusively — the ONE
    *      atomic operation that flips every member visible at once.
    *
    * A crash anywhere before step 3 leaves only pending manifests:
    * readers see none of the appends, and the dead transaction's slots
    * are reclaimed by the next conflicting writer or [[vacuum]] after
    * the [[txnStaleMs]] lease. A crash after step 3 is a complete
    * publish. Per-table conflicts rebase like any blind append
    * ([[commitWrites]]).
    *
    * @param batches (table, rows, rowsPerFile) — distinct tables
    * @param txn optional (writerId, epoch) idempotence fence across the
    *   WHOLE transaction: every member commit records the watermark, so
    *   one member's confirmed fence proves the marker flipped and the
    *   entire epoch published — a replay is a no-op. A replay that
    *   finds its own DEAD attempt's pending manifests (fence match,
    *   marker absent) reclaims them immediately, lease or no lease:
    *   the fence makes the epoch idempotent, so aborting even a live
    *   zombie's identical attempt converges.
    * @param landedMeta per later member: extra commit metadata computed,
    *   at each commit attempt, from the versions the members before it
    *   landed at (table → version)
    * @return per input table: (table, committed version, rows
    *   appended) — rows from the committed entries' footers, exact for
    *   THIS transaction under concurrency; all-zeros rows on a replay
    *   no-op.
    */
  def appendAll(batches: Seq[(String, DataFrame, Long)],
      txn: Option[(String, Long)] = None,
      landedMeta: Map[String, Map[String, Long] => Map[String, String]] =
        Map.empty): Seq[(String, Long, Long)] = {
    require(batches.map(_._1).distinct.size == batches.size,
      s"appendAll: duplicate tables in ${batches.map(_._1)}")
    require(landedMeta.keySet.subsetOf(batches.drop(1).map(_._1).toSet),
      s"appendAll: landedMeta ${landedMeta.keySet} must name later members")
    if (batches.isEmpty) return Nil
    if (batches.size == 1) { // one table needs no cross-table marker
      val (t, df, rpf) = batches.head
      val (v, n) = append(t, df, rpf, txn)
      return Seq((t, v, n))
    }
    val bases = batches.map { case (t, _, _) =>
      val base = loadLatest(t)
      require(base._1 > 0L, s"appendAll into $t: not bootstrapped")
      // an identity reassign-on-conflict inside the multi-table pending
      // protocol would have to unwind sibling manifests — out of scope;
      // identity tables take the single-table append path
      require(specsNow(t).identity.isEmpty,
        s"appendAll into $t: IDENTITY tables append one at a time " +
          "(the multi-table conflict protocol cannot reassign ids)")
      base
    }
    def replay = batches.map(b => (b._1, loadLatest(b._1)._1, 0L))
    if (fenceMet(batches.head._1, bases.head._1, txn)) return replay
    val derived = batches.zip(bases).map { case ((t, df, _), (v, _)) =>
      t -> prepareBatch(t, df, v) }
    // a child batched WITH its parent in this one-commit transaction
    // sees the parent batch's keys (arrival order inside the atomic
    // commit is meaningless, so "parent first" is implied)
    val pending = derived.map { case (t, (df, _)) => t -> df }.toMap
    // tables × families in ONE wave; rethrow order is table order, then
    // the in-table family order
    runProbes(derived.map { case (t, (df, _)) =>
      appendProbes(t, df, pending - t) }.reduce(_ ++ _))
    val writes = batches.zip(bases).zip(derived).map {
      case (((t, df, rpf), base), (_, batch)) =>
        appendWrite(t, base, () => df, batch, rpf,
          (_, fresh) => appendMeta(fresh))
          .copy(landedMeta = landedMeta.get(t))
    }
    commitWrites(writes, txn).fold(replay)(_.map { case (w, v) =>
      (w.name, v, w.fresh.map(_.rows).sum) })
  }

  /** Atomic REPLACE of the table's contents (SQL `INSERT OVERWRITE`,
    * pandas' `if_exists='replace'`): write `df` as new files, commit a
    * manifest referencing ONLY them. One commit — readers see the old
    * snapshot until the manifest flips, and time travel keeps the
    * replaced version readable under the usual retention. Concurrency:
    * an overwrite's footprint is the whole table, so ANY concurrent
    * commit fails it fast ([[Warehouse.CommitConflict]]) — there is
    * nothing provably disjoint to rebase over.
    */
  def overwrite(name: String, df0: DataFrame, rowsPerFile: Long = 0,
      meta: Map[String, String] = Map.empty): Unit = {
    val (v, live) = loadLatest(name)
    require(v > 0L, s"overwrite $name: table not bootstrapped")
    val (df, ovHwm) = prepareBatch(name, df0, v)
    // the [[appendProbes]] order. The batch REPLACES the table, so only
    // batch-internal uniqueness and NOT NULL apply (probeLive = false)
    // — there are no surviving rows to collide with
    runProbes(checkProbes(name, df)
      ++ primaryKeyProbes(name, df, probeLive = false)
      ++ uniqueProbes(name, df, probeLive = false)
      ++ replaceProbes(name, live, df))
    val fresh = writeBatch(name, df, rowsPerFile)
    // caller meta LAST so a rebuild can override a carried-forward txn
    // watermark (commit() re-applies the previous head's ledger first)
    commitWrites(Seq(Warehouse.Write(name, (v, live), live, fresh,
      Map("op" -> "overwrite", "numFiles" -> fresh.size.toString,
        "numRemoved" -> live.size.toString)
        ++ ovHwm.map("identityHwm" -> _.toString) ++ meta,
      Warehouse.Rebase.Never)))
  }

  /** The referential probes of a write that REPLACES the whole table
    * with `df` ([[overwrite]], [[restore]]), independent of each other:
    *  - a SELF-FK validates against `df`'s OWN keys only
    *    (replacedParents): the replace evicts every live key, so a new
    *    row referencing an evicted (non-resupplied) key must fail, not
    *    ride the stale snapshot through the probe;
    *  - replacing a REFERENCED table deletes every old key `df` doesn't
    *    re-supply — RESTRICT applies to the evicted set. The self-child
    *    is skipped: its old referencing rows are evicted in the same
    *    flip, and `df` itself is validated by the FK probe.
    */
  private def replaceProbes(name: String, live: Seq[FileEntry],
      df: DataFrame): Probes = {
    import org.apache.spark.sql.functions.col
    val pk = specsNow(name).primaryKey
    foreignKeyProbes(name, df, replacedParents = Set(name)) ++
      restrictProbes(name, dfFor(name, live).select(pk.map(col): _*)
        .join(df.select(pk.map(col): _*), pk, "left_anti"),
        skipChildren = Set(name))
  }

  /** `TRUNCATE TABLE`: [[overwrite]] with zero rows — one empty-list
    * manifest commit; the data files follow retention like any replace.
    *
    * ON DELETE RESTRICT applies to the WHOLE table: truncating a
    * referenced parent must not orphan child rows. The probe is
    * cheaper than a key join — the FK invariant means every fully-
    * non-null child tuple references SOME live key of this parent, so
    * any such row at all is a violation (`limit(1)` scan per child).
    * A self-FK child is exempt: its referencing rows vanish in the
    * same flip (Postgres analog: `TRUNCATE t` where t only references
    * itself is legal; referencing from elsewhere requires CASCADE).
    */
  def truncate(name: String): Unit = {
    val (v, live) = loadLatest(name)
    require(v > 0L, s"truncate $name: table not bootstrapped")
    import org.apache.spark.sql.functions.col
    runProbes(Probes(childForeignKeys(name).filterNot(_._1 == name).map {
      case (child, fk) => () =>
        val hit = read(child)
          .where(fk.cols.map(c => col(c).isNotNull).reduce(_ && _))
          .limit(1).collect()
        if (hit.nonEmpty) {
          val r = hit.head
          throw Warehouse.ForeignKeyViolation(child, fk,
            s"ON DELETE RESTRICT: cannot truncate $name — $child still " +
              "references it, e.g. " + fk.cols
                .map(c => s"$c=${r.get(r.fieldIndex(c))}").mkString(", "))
        }
    }))
    commitWrites(Seq(Warehouse.Write(name, (v, live), live, Nil,
      Map("op" -> "truncate", "numRemoved" -> live.size.toString),
      Warehouse.Rebase.Never)))
  }

  /** MERGE upsert (copy-on-write): rows of `updates` REPLACE existing
    * rows with the same key; unmatched update rows insert. The engine
    * analog of `MERGE INTO` / Delta upsert — the star-schema maintenance
    * op the reference's append-only sinks can't express (late-arriving
    * corrected TLEs currently just accumulate; §2.12's check-then-write
    * only prevents re-inserts).
    *
    * Scale shape: only the files of partitions the update batch TOUCHES
    * are read and rewritten — cost scales with the update batch's
    * partition footprint, not table history. The touched partition
    * VALUES (one row per partition, not data) are collected to select
    * those files from the manifest. Unpartitioned tables rewrite fully
    * (copy-on-write floor). Replaced files are deleted only after the
    * manifest commit (see class doc), so no crash can lose them.
    *
    * Contracts (asserted where cheap, documented where not):
    *   - `updates` must be key-unique (caller dedups; `Dedup.keepFirst`);
    *   - partition columns must be a pure function of the key (true for
    *     `epoch_date` = date(epoch_utc)): a key can then never "move"
    *     partitions, so replaced rows always live in touched partitions.
    *
    * @param txn optional (writerId, epoch) idempotence fence, the
    *   [[append]] ledger shape extended to upserts: a replayed or STALE
    *   epoch is a no-op — without it, a restarted update-mode streaming
    *   writer replaying epoch N after N+1 landed would regress the
    *   upserted values to N's snapshot.
    */
  def merge(name: String, updates: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)] = None,
      extraMeta: Map[String, String] = Map.empty): Unit = {
    require(!extraMeta.keySet.exists(k => k == "op" || k.startsWith("txn_")),
      s"merge into $name: extraMeta must not shadow op/txn_* keys")
    require(specsNow(name).identity.isEmpty,
      s"merge into $name: IDENTITY tables are append-only by contract " +
        "(a whole-row upsert cannot preserve engine-assigned ids) — " +
        "use append, or mergeInto keyed on a business column")
    import org.apache.spark.sql.functions.col
    val parts = partitioning(name)
    require(parts.forall(updates.columns.contains),
      s"merge into $name: updates must carry partition cols $parts")
    // a PK table merges ON its key, or uniqueness could silently break
    // (the anti-join below only guarantees key-uniqueness on `keys`)
    val pkCols = specsNow(name).primaryKey
    require(pkCols.isEmpty || keys.toSet == pkCols.toSet,
      s"merge into $name: table declares PRIMARY KEY " +
        s"(${pkCols.mkString(", ")}) — merge keys must be exactly it")
    val (v, entries) = loadLatest(name)
    require(v > 0L, s"merge into $name: table not bootstrapped")
    if (fenceMet(name, v, txn)) return
    // the footprint (ALL touched partition dirs, insert-only ones
    // included) is what conflict rebase proves disjointness against —
    // see [[Warehouse.Rebase.Disjoint]]
    val (replaced, footprint) =
      mergeFootprint(name, entries, updates).getOrElse(return)
    // the old files stay live until the commit below, so the merged plan
    // can read them lazily while the batch writes NEW files — no
    // checkpoint fence needed (nothing overwrites what it reads)
    val schemaCols = tables(name).fieldNames.toSeq
    val merged = dfFor(name, replaced)
      .join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates.select(schemaCols.map(col): _*))
    // keys == PK (required above), so batch-internal uniqueness is the
    // whole PK story (probeLive = false): matched keys replace, the rest
    // insert fresh. A replaced row may keep its own unique values:
    // UNIQUE probes the live table MINUS the keys this merge replaces
    // (excludeKeys).
    val batch = updates.select(schemaCols.map(col): _*)
    runProbes(checkProbes(name, batch)
      ++ primaryKeyProbes(name, batch, probeLive = false)
      ++ foreignKeyProbes(name, batch)
      ++ uniqueProbes(name, batch, excludeKeys = Some((updates, keys))))
    val fresh = writeBatch(name, merged)
    commitWrites(Seq(Warehouse.Write(name, (v, entries), replaced, fresh,
      extraMeta ++ Map("op" -> "merge",
        "numFilesReplaced" -> replaced.size.toString,
        "numFilesAdded" -> fresh.size.toString),
      Warehouse.Rebase.Disjoint(footprint))), txn)
  }

  /** SCD TYPE-2 MERGE (slowly changing dimensions): apply a batch of
    * attribute updates to a versioned dimension table in ONE commit.
    * Per source row, against the table's CURRENT rows
    * (`currentFlag = true`):
    *
    *   - key absent                      → INSERT a new current version
    *   - key present, attrs identical    → no-op (null-safe compare)
    *   - key present, attrs differ       → CLOSE the old version
    *     (`validTo = ts`, `currentFlag = false`) AND insert the new
    *     current version (`validFrom = ts`, `validTo = null`)
    *
    * The table schema must carry the three bookkeeping columns; the
    * source carries key + attribute columns only. Same copy-on-write
    * machinery and contracts as [[merge]]: key-unique source, partition
    * columns a pure function of the key (they ride in the source),
    * only touched-partition files rewritten, crash-safe commit,
    * conflict REBASE over provably-disjoint concurrent commits. History
    * rows are never touched — a closed version is frozen forever, which
    * is what makes `VERSION AS OF` + SCD time travel compose.
    *
    * @param ts the transaction time written to `validTo` (closed rows)
    *   and `validFrom` (new versions) — pass a literal for replayable
    *   pipelines
    * @return (versions closed, versions inserted) — counted from probe
    *   aggregates over the source plan, which is ALSO evaluated by the
    *   write below: cache/checkpoint the source upstream if it is
    *   expensive or non-deterministic (a non-deterministic source can
    *   make the committed rows diverge from the returned counts — the
    *   same caveat as [[appendQuarantine]]'s batch)
    */
  def scdMerge(name: String, source: DataFrame, keys: Seq[String],
      ts: org.apache.spark.sql.Column,
      validFrom: String = "valid_from", validTo: String = "valid_to",
      currentFlag: String = "is_current"): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, lit, not, when}
    // an SCD2 table VERSIONS its business key — a PK on the bare key
    // would be violated by the first real update, and this path writes
    // through writeBatch (no append-side probe), so reject the
    // mis-modeling up front: either no PK, or one that includes the
    // version discriminator (key..., validFrom)
    val pkCols = specsNow(name).primaryKey
    require(pkCols.isEmpty || pkCols.toSet == (keys :+ validFrom).toSet,
      s"scdMerge $name: an SCD2 table's PRIMARY KEY must be empty or " +
        s"exactly (${(keys :+ validFrom).mkString(", ")}) — versions " +
        "share the business key by design")
    require(specsNow(name).identity.isEmpty,
      s"scdMerge $name: IDENTITY tables are append-only by contract — " +
        "version rows through a plain surrogate column instead")
    require(specsNow(name).unique.isEmpty,
      s"scdMerge $name: an SCD2 table versions its values by design — " +
        "declare the version-discriminated identity as the PRIMARY KEY " +
        "instead of a UNIQUE constraint")
    val schema = tables(name)
    val book = Seq(validFrom, validTo, currentFlag)
    (keys ++ book).foreach(c => require(schema.fieldNames.contains(c),
      s"scdMerge $name: no column $c"))
    require(schema(currentFlag).dataType == BooleanType,
      s"scdMerge $name: $currentFlag must be BOOLEAN")
    val tracked = schema.fieldNames.toSeq
      .filterNot(c => keys.contains(c) || book.contains(c))
    require(tracked.nonEmpty, s"scdMerge $name: no tracked attribute " +
      "columns outside keys and SCD bookkeeping")
    val parts = partitioning(name)
    require(parts.forall(source.columns.contains),
      s"scdMerge $name: source must carry partition cols $parts")
    require(!parts.contains(currentFlag) && !parts.contains(validTo),
      s"scdMerge $name: SCD bookkeeping cannot be partition columns " +
        "(closing a version must not move it)")
    val (v, entries) = loadLatest(name)
    require(v > 0L, s"scdMerge $name: table not bootstrapped")
    val (replaced, footprint) =
      mergeFootprint(name, entries, source).getOrElse(return (0L, 0L))
    val srcProj = source.select((keys ++ tracked).map(col): _*)
    val curPrefixed = dfFor(name, replaced).where(col(currentFlag))
      .select(keys.map(col) ++ tracked.map(c => col(c).as(s"cur_$c"))
        :+ lit(1).as("_hit"): _*)
    val joined = srcProj.join(curPrefixed, keys, "left")
    val differs = tracked.map(c => not(col(c) <=> col(s"cur_$c")))
      .reduce(_ || _)
    val toInsert = joined.where(col("_hit").isNull || differs)
      .select((keys ++ tracked).map(col): _*)
      .withColumn(validFrom, ts.cast(schema(validFrom).dataType))
      .withColumn(validTo, lit(null).cast(schema(validTo).dataType))
      .withColumn(currentFlag, lit(true))
      .select(schema.fieldNames.toSeq.map(col): _*)
    val closeKeys = joined.where(col("_hit").isNotNull && differs)
      .select(keys.map(col): _*)
    // the result counts double as the driver-side sizing probe; both
    // aggregates run over touched-partition files only
    val nInserted = toInsert.count()
    if (nInserted == 0L) return (0L, 0L) // nothing new, nothing changed
    val nClosed = closeKeys.count()
    val closeMark = closeKeys.withColumn("_close", lit(1))
    val closing = col("_close").isNotNull && col(currentFlag)
    val rewritten = dfFor(name, replaced)
      .join(closeMark, keys, "left")
      .withColumn(validTo,
        when(closing, ts.cast(schema(validTo).dataType))
          .otherwise(col(validTo)))
      .withColumn(currentFlag, when(closing, lit(false))
        .otherwise(col(currentFlag)))
      .drop("_close")
      .select(schema.fieldNames.toSeq.map(col): _*)
    // a declared (keys..., validFrom) PK is ENFORCED here like every
    // other row-adding path: the source must be business-key-unique
    // with non-null keys, and no touched key may already carry a
    // version stamped with THIS ts (the same-instant re-version — a
    // replay with a literal ts after the attribute changed — would
    // mint a duplicate (key, validFrom) row). New versions carry new FK
    // values.
    import org.apache.spark.sql.functions.count
    val keyProbes = if (pkCols.isEmpty) Nil else Seq(() => {
      val off = srcProj.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__gf_n"))
        .where(keys.map(c => col(c).isNull).reduce(_ || _) ||
          col("__gf_n") > 1)
        .limit(1).collect()
      if (off.nonEmpty) throw Warehouse.PrimaryKeyViolation(name, pkCols,
        "duplicate or NULL business key in SCD2 source batch")
    }, () => {
      val clash = dfFor(name, replaced)
        .join(toInsert.select(keys.map(col): _*), keys, "left_semi")
        .where(col(validFrom) === ts.cast(schema(validFrom).dataType))
        .limit(1).collect()
      if (clash.nonEmpty) throw Warehouse.PrimaryKeyViolation(name, pkCols,
        s"a version with $validFrom equal to this merge's ts already " +
          "exists for a touched key (same-instant re-version)")
    })
    runProbes(Probes(keyProbes) ++ checkProbes(name, toInsert)
      ++ foreignKeyProbes(name, toInsert))
    val fresh = writeBatch(name, rewritten.unionByName(toInsert))
    commitWrites(Seq(Warehouse.Write(name, (v, entries), replaced, fresh,
      Map("op" -> "scd_merge",
        "numVersionsClosed" -> nClosed.toString,
        "numVersionsInserted" -> nInserted.toString,
        "numFilesReplaced" -> replaced.size.toString,
        "numFilesAdded" -> fresh.size.toString),
      Warehouse.Rebase.Disjoint(footprint))))
    (nClosed, nInserted)
  }

  /** Full conditional MERGE — the Delta `MERGE INTO` clause set over
    * the same copy-on-write machinery as [[merge]]:
    *
    *   - WHEN MATCHED [AND cond] THEN DELETE
    *   - WHEN MATCHED [AND cond] THEN UPDATE SET ...
    *   - WHEN NOT MATCHED [AND cond] THEN INSERT
    *   - WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE
    *   - WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ...
    *
    * Clause conditions and update expressions see the TARGET row's
    * columns by name and the SOURCE row's as `src_<name>` (the
    * classic target/source scoping, flattened). Delete is evaluated
    * before update (Delta's clause order, on both the matched and the
    * by-source side); unmatched target rows pass through untouched
    * unless a by-source clause claims them; the insert condition sees
    * only source columns (by their plain names); by-source conditions
    * and SET expressions see only TARGET columns (there is no source
    * row). Only files of partitions the source TOUCHES are read and
    * rewritten — the not-matched anti join probes those same files,
    * which is exact because partition columns are a pure function of
    * the key (the [[merge]] contract: a source key outside the touched
    * partitions cannot exist in the table). By-source clauses widen
    * the footprint beyond the touched partitions, but NOT to the whole
    * table: by the same contract every row outside the touched
    * partitions is unmatched, so candidacy there is purely the
    * by-source condition — [[touchedFiles]] discovers exactly the
    * files containing a row satisfying it (manifest stat skipping
    * prunes first), and an unconditional by-source DELETE of a 0.01%
    * slice still rewrites only the files that hold it.
    *
    * @param source key-unique batch (caller dedups, like [[merge]])
    * @param bySourceDelete  WHEN NOT MATCHED BY SOURCE [AND c] DELETE
    * @param bySourceUpdate  WHEN NOT MATCHED BY SOURCE [AND c] UPDATE
    */
  def mergeInto(name: String, source: DataFrame, keys: Seq[String],
      matchedDelete: Option[org.apache.spark.sql.Column] = None,
      matchedUpdate: Option[(Option[org.apache.spark.sql.Column],
        Map[String, org.apache.spark.sql.Column])] = None,
      notMatchedInsert: Option[Option[org.apache.spark.sql.Column]] = None,
      bySourceDelete: Option[org.apache.spark.sql.Column] = None,
      bySourceUpdate: Option[(Option[org.apache.spark.sql.Column],
        Map[String, org.apache.spark.sql.Column])] = None)
      : Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val schema = tables(name)
    val parts = partitioning(name)
    val bySource = bySourceDelete.nonEmpty || bySourceUpdate.nonEmpty
    require(parts.forall(source.columns.contains),
      s"mergeInto $name: source must carry partition cols $parts")
    require(specsNow(name).identity.isEmpty,
      s"mergeInto $name: IDENTITY tables are append-only by contract " +
        "(engine-assigned ids cannot be merged on) — use append")
    val pkCols = specsNow(name).primaryKey
    (matchedUpdate.toSeq ++ bySourceUpdate.toSeq).foreach { case (_, set) =>
      requireUpdatable("mergeInto", name, set.keys)
    }
    // a PK table merges ON its key: inserts are then anti-joined on the
    // PK itself and a key-unique source keeps uniqueness invariant
    require(pkCols.isEmpty || keys.toSet == pkCols.toSet,
      s"mergeInto $name: table declares PRIMARY KEY " +
        s"(${pkCols.mkString(", ")}) — merge keys must be exactly it")
    runProbes(primaryKeyProbes(name, source, probeLive = false))
    val (v, entries) = loadLatest(name)
    require(v > 0L, s"mergeInto $name: table not bootstrapped")
    val (matchedReplaced, matchedDirs) =
      mergeFootprint(name, entries, source).getOrElse {
        if (!bySource) return
        if (parts.isEmpty) (entries, Set("")) else (Nil, Set.empty[String])
      }
    // by-source candidacy OUTSIDE the touched partitions: those rows are
    // unmatched by contract, so a file there needs rewriting iff some row
    // satisfies a by-source condition (an unconditional clause claims
    // every remaining file that still has rows)
    val bySrcReplaced: Seq[FileEntry] =
      if (!bySource) Nil
      else {
        val rest = entries.diff(matchedReplaced)
        if (rest.isEmpty) Nil
        else {
          val delC = bySourceDelete.map(c => coalesce(c, lit(false)))
          val updC = bySourceUpdate.map { case (c, _) =>
            coalesce(c.getOrElse(lit(true)), lit(false)) }
          val candidacy = (delC.toSeq ++ updC.toSeq).reduce(_ || _)
          touchedFiles(name, rest, _.where(candidacy))
        }
      }
    val replaced: Seq[FileEntry] = matchedReplaced ++ bySrcReplaced
    // nothing to rewrite and nothing to insert → no commit at all (the
    // empty-source + by-source-with-no-candidates path lands here)
    if (replaced.isEmpty && (notMatchedInsert.isEmpty || source.isEmpty))
      return
    val footprint: Set[String] =
      if (parts.isEmpty) Set("")
      else matchedDirs ++ bySrcReplaced.map(e => dirOf(name, e.rel))
    // source columns flattened to src_<name>; _src_hit marks the match
    val srcPrefixed = source.select(
      keys.map(col) ++ source.columns.filterNot(keys.contains)
        .map(c => col(c).as(s"src_$c")) :+ lit(1).as("_src_hit"): _*)
    val joined = dfFor(name, replaced).join(srcPrefixed, keys, "left")
    val hit = col("_src_hit").isNotNull
    val delCond = matchedDelete
      .map(c => hit && coalesce(c, lit(false))).getOrElse(lit(false))
    val updCond = matchedUpdate
      .map { case (c, _) =>
        hit && coalesce(c.getOrElse(lit(true)), lit(false)) && !delCond }
      .getOrElse(lit(false))
    val updSet = matchedUpdate.map(_._2).getOrElse(Map.empty)
    // by-source clauses fire on the join MISSES (no source row, so their
    // conditions/SET expressions reference target columns only)
    val bySrcDelCond = bySourceDelete
      .map(c => !hit && coalesce(c, lit(false))).getOrElse(lit(false))
    val bySrcUpdCond = bySourceUpdate
      .map { case (c, _) =>
        !hit && coalesce(c.getOrElse(lit(true)), lit(false)) && !bySrcDelCond }
      .getOrElse(lit(false))
    val bySrcSet = bySourceUpdate.map(_._2).getOrElse(Map.empty)
    val survived = joined.where(!delCond && !bySrcDelCond)
      .select(schema.fields.toSeq.map { f =>
        (updSet.get(f.name), bySrcSet.get(f.name)) match {
          case (None, None) => col(f.name)
          case (m, b) =>
            val withMatched = m.map(e => when(updCond, e.cast(f.dataType)))
            val chained = b match {
              case Some(e) => withMatched
                .map(_.when(bySrcUpdCond, e.cast(f.dataType)))
                .getOrElse(when(bySrcUpdCond, e.cast(f.dataType)))
              case None => withMatched.get
            }
            chained.otherwise(col(f.name)).as(f.name)
        }
      }: _*)
    val (merged, insertProbes) = notMatchedInsert match {
      case None => (survived, Probes(Nil))
      case Some(cond) =>
        val inserts = source
          .join(dfFor(name, replaced).select(keys.map(col): _*),
            keys, "left_anti")
          .where(coalesce(cond.getOrElse(lit(true)), lit(false)))
          .select(schema.fieldNames.toSeq.map(col): _*)
        // updates can't touch unique columns (SET ban above), so only
        // INSERTS can mint duplicates. A value freed by a same-
        // statement delete clause conservatively still rejects.
        (survived.unionByName(inserts), uniqueProbes(name, inserts))
    }
    // the inserts' UNIQUE probes lead the wave, so a UNIQUE violation
    // still beats the others. Clause results are NEW values, so checks/FK
    // validate all of `merged`; delete clauses are parent-side deletes,
    // so RESTRICT probes the doomed keys
    runProbes(insertProbes ++ checkProbes(name, merged)
      ++ foreignKeyProbes(name, merged)
      ++ (if (matchedDelete.isEmpty && bySourceDelete.isEmpty) Probes(Nil)
        else restrictProbes(name, joined.where(delCond || bySrcDelCond)
          .select(pkCols.map(col): _*))))
    val fresh = writeBatch(name, merged)
    commitWrites(Seq(Warehouse.Write(name, (v, entries), replaced, fresh,
      Map("op" -> "mergeInto", "numFilesReplaced" -> replaced.size.toString,
        "numFilesAdded" -> fresh.size.toString),
      Warehouse.Rebase.Disjoint(footprint))))
  }

  /** Commit attempts a write makes after its first, per table. */
  private val MaxCommitRetries = 20

  /** THE commit path of every versioned write but the v1 / clone /
    * publish protocols, with OPTIMISTIC concurrency. `writes` holds one
    * entry per table; more than one makes a multi-table transaction
    * ([[appendAll]]): members publish as PENDING `mtxn` manifests that
    * the marker flips visible together.
    *
    * A lost race reclaims the slot's blocker ([[abortPending]]) and
    * re-reads the head. A `txn` fence met there means a racing attempt
    * of the same epoch already landed: the call is a replay (None).
    * Otherwise the write's [[Warehouse.Rebase]] decides whether it
    * re-commits `head − replaced + fresh` WITHOUT rereading or
    * rewriting any data (the Delta ConcurrentAppend/ConcurrentDeleteRead
    * distinction, reduced to the manifest's file-set algebra). Entries
    * compare by (file, deletion vector): a vectored DELETE changes an
    * entry, not its file. A write that ends in a conflict or a replay
    * GCs its staged files.
    *
    * @return (write as committed, version) per table; None on a replay
    */
  private def commitWrites(writes: Seq[Warehouse.Write],
      txn: Option[(String, Long)] = None)
      : Option[Seq[(Warehouse.Write, Long)]] = {
    maybeCrash("after-write")
    beforeCommit.foreach(_())
    val mtxn =
      if (writes.sizeIs > 1) Some(java.util.UUID.randomUUID.toString) else None
    val fence = txn.map { case (q, e) => s"txn_$q" -> e.toString }.toMap
    val staged = writes.toArray // re-validation may re-stage a member
    def abandon(): Unit = staged.foreach(w => gc(w.name, w.fresh))
    def entryKey(e: FileEntry) = (e.rel, e.dv)
    def land(i: Int, before: Map[String, Long]): Option[Long] = {
      var (v, live) = staged(i).base
      var retries = 0
      var landed: Option[Long] = None
      while (landed.isEmpty) {
        val w = staged(i)
        try {
          val linked = w.landedMeta.fold(Map.empty[String, String])(_(before))
          commit(w.name, v + 1, live.diff(w.replaced) ++ w.fresh,
            w.meta ++ linked ++ fence ++ mtxn.map("mtxn" -> _) ++
              Option.when(retries > 0)("numRetries" -> retries.toString))
          landed = Some(v + 1)
        } catch {
          case e: Warehouse.CommitConflict =>
            if (retries == MaxCommitRetries) { abandon(); throw e }
            retries += 1
            abortPending(w.name, v + 1, txn)
            val (hv, head) = loadLatest(w.name)
            if (fenceMet(w.name, hv, txn)) { abandon(); return None }
            val headKeys = head.map(entryKey).toSet
            val replacedLive = w.replaced.forall(e => headKeys(entryKey(e)))
            val rebases = w.rebase match {
              case Warehouse.Rebase.Never => false
              case Warehouse.Rebase.Always => replacedLive
              case Warehouse.Rebase.Disjoint(dirs) =>
                // the foreign delta: entries the concurrent commit(s)
                // added or removed relative to the snapshot last tried
                val lastKeys = live.map(entryKey).toSet
                val foreign = head.filterNot(e => lastKeys(entryKey(e))) ++
                  live.filterNot(e => headKeys(entryKey(e)))
                replacedLive &&
                  foreign.forall(e => !dirs.contains(dirOf(w.name, e.rel)))
            }
            if (!rebases) {
              abandon()
              throw (if (w.rebase == Warehouse.Rebase.Never) e
                else new Warehouse.CommitConflict(
                  s"${w.name}: concurrent commit overlaps this " +
                    s"${w.meta.getOrElse("op", "operation")}'s footprint " +
                    "(stale snapshot — re-run the operation)"))
            }
            w.revalidate.foreach { f =>
              val (fresh, meta) = f(hv)
              staged(i) = w.copy(fresh = fresh, meta = meta)
            }
            v = hv
            live = head
        }
      }
      landed
    }
    var versions = Vector.empty[Long]
    while (versions.size < staged.length) {
      if (versions.nonEmpty) maybeCrash("between-manifests")
      val before = staged.iterator.map(_.name).zip(versions).toMap
      land(versions.size, before) match {
        case Some(v) => versions :+= v
        case None => return None
      }
    }
    mtxn.foreach { id =>
      maybeCrash("before-marker")
      val body = staged.map(w => s"${w.name}\t${w.fresh.size}").mkString("\n")
      require(publishExclusive(new Path(txnDir, id),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        s"appendAll: transaction marker $id already exists")
    }
    maybeCrash("after-commit")
    if (!retainReplaced) staged.foreach(w => gc(w.name, w.replaced))
    Some(staged.toSeq.zip(versions))
  }

  /** Whether `txn`'s `(writerId, epoch)` fence is already met at
    * `version` — the write is then a replay and must be a no-op. */
  private def fenceMet(name: String, version: Long,
      txn: Option[(String, Long)]): Boolean = txn.exists { case (q, e) =>
    txnWatermarks(name, version).get(s"txn_$q").exists(_.toLong >= e)
  }

  /** A merge's FOOTPRINT: the partition dirs `source` touches (`""` for
    * an unpartitioned table) and the live entries inside them — None
    * when `source` is empty. The partitioned branch detects emptiness
    * from the touched-partitions collect it needs anyway, so a
    * non-empty merge never pays an extra pass over the source plan.
    */
  private def mergeFootprint(name: String, entries: Seq[FileEntry],
      source: DataFrame): Option[(Seq[FileEntry], Set[String])] =
    partitioning(name) match {
      case Nil => Option.when(!source.isEmpty)((entries, Set("")))
      case cols =>
        import org.apache.spark.sql.functions.col
        // one row per touched partition — tiny by the batch-footprint
        // contract
        val dirs = source.select(cols.map(col): _*).distinct().collect()
          .map(r => partitionDir(cols, r)).toSet
        Option.when(dirs.nonEmpty)(
          (entries.filter(e => dirs.contains(dirOf(name, e.rel))), dirs))
    }

  /** Hive-escaped partition directory for one partition-values row. */
  private def partitionDir(cols: Seq[String], row: Row): String =
    cols.zipWithIndex.map { case (c, i) =>
      if (row.isNullAt(i))
        s"$c=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
      else ExternalCatalogUtils.getPartitionPathString(c,
        row.get(i).toString)
    }.mkString("/")

  /** The partition directory of an entry. Robust to shallow-clone
    * entries whose rel is an ABSOLUTE path into the source table: only
    * the trailing partitioning-depth components count — identical to
    * the full dir for table-local rels (exactly partition dirs + file).
    */
  private def dirOf(name: String, rel: String): String =
    rel.split('/').init.takeRight(partitioning(name).length).mkString("/")

  /** Post-commit deletion of replaced files (and of an abandoned
    * write's staged ones). Failures are swallowed — an undeleted orphan
    * is invisible to readers (not in the manifest) and [[vacuum]]
    * retries later.
    */
  private def gc(name: String, replaced: Seq[FileEntry]): Unit = {
    // the guards below read other tables' manifests: skip them when
    // there is nothing to delete (every append's post-commit call)
    if (replaced.isEmpty) return
    val fs = fileSystem
    val bloomCols = specsNow(name).bloomColumns
    // Clone guard, eager-GC side: a merge/delete/compact on a SOURCE
    // table replaces files a shallow clone may still borrow — deleting
    // them here would strand the clone exactly like a vacuum would.
    // Borrowed-by files stay on disk (dropped from this manifest, so
    // invisible here); once the last borrower localizes or drops, they
    // are plain orphans the next vacuum collects. Cost: a few manifest
    // reads over the warehouse's other tables, trivial next to the
    // rewrite that preceded this call.
    val lent = borrowedFromBy(name).keySet
    // TAG guard, eager-GC side: a tagged version's files are pinned
    // (the createTag contract) even under retainReplaced=false — a
    // rewrite drops them from the new manifest, but the bytes survive
    // for readTag until the tag is dropped (then vacuum collects).
    // Cost: loading the tagged manifests' entry lists, driver-side
    // metadata, zero when no tags exist.
    val tagPinned: Set[String] = {
      val tv = tags(name).values.toSeq.distinct
      if (tv.isEmpty) Set.empty
      else tv.flatMap(v => scala.util.Try(entriesLight(name, v))
        .toOption.toSeq.flatten).map(_.rel).toSet
    }
    // BORROWED entries (absolute rel = a shallow clone referencing the
    // source table's files) are never deleted: the clone only ever
    // owns references, the source owns the bytes. A rewrite just drops
    // them from the clone's manifest. (Vacuum is safe structurally —
    // it lists only this table's directory.)
    //
    // Deletion fans out: the doomed (rel, dv-to-delete) pairs — lent/
    // tag/borrow guards resolved DRIVER-side — run as a Spark job above
    // [[sidecarSweepThreshold]] entries. A full-table rewrite
    // (overwrite, repartition, restore under eager retention) replaces
    // EVERY file, and the serial loop was 2+#sidecarCols delete RPCs
    // per file on the driver.
    val ndvCols = specsNow(name).ndvColumns
    val doomed: Seq[(String, String)] = replaced
      .filterNot(e => new Path(e.rel).isAbsolute || lent(e.rel) ||
        tagPinned(e.rel))
      .map { e =>
        // the replaced file's deletion vector dies with it (a rewrite
        // materialized it); borrowed/absolute sidecars stay — a
        // clone's reads still reference them
        val dv = if (e.dv.nonEmpty && !new Path(e.dv).isAbsolute &&
            !lent(e.dv)) e.dv else ""
        (e.rel, dv)
      }
    def deleteOne(tfs: org.apache.hadoop.fs.FileSystem, tableDir: String,
        rel: String, dv: String): Unit = {
      try { tfs.delete(new Path(tableDir, rel), false); () }
      catch { case _: java.io.IOException => () }
      if (dv.nonEmpty) {
        try { tfs.delete(new Path(tableDir, dv), false); () }
        catch { case _: java.io.IOException => () }
      }
      bloomCols.foreach { c =>
        try {
          tfs.delete(new Path(
            new Path(tableDir, Warehouse.Sidecars.bloomDirName),
            Warehouse.Sidecars.bloomName(rel, c)), false)
          ()
        } catch { case _: java.io.IOException => () }
      }
      ndvCols.foreach { c =>
        try {
          tfs.delete(new Path(
            new Path(tableDir, Warehouse.Sidecars.ndvDirName),
            Warehouse.Sidecars.ndvName(rel, c)), false)
          ()
        } catch { case _: java.io.IOException => () }
      }
    }
    if (doomed.size < sidecarSweepThreshold)
      doomed.foreach { case (rel, dv) =>
        deleteOne(fs, path(name), rel, dv) }
    else {
      Warehouse.distributedDataSweeps.incrementAndGet()
      val tableDir = path(name)
      val conf = new org.apache.spark.util.SerializableConfiguration(
        hadoopConf)
      val parts = math.max(1, math.min(64, doomed.size / 4096 + 1))
      spark.sparkContext.parallelize(doomed, parts)
        .foreachPartition { it =>
          val tfs = new Path(tableDir).getFileSystem(conf.value)
          it.foreach { case (rel, dv) =>
            deleteOne(tfs, tableDir, rel, dv) }
        }
    }
  }

  /** Small-file COMPACTION — the maintenance op every long-lived
    * append-target needs: each append writes its own files, and after
    * thousands of batches a partition holds thousands of KB-sized
    * parquet files whose footer/open overhead dominates every scan
    * (q46 measured 11k small files tripling the pipeline's read side).
    *
    * Per partition directory (from the MANIFEST, so orphans never count),
    * compares the file count against ceil(bytes / targetBytes):
    * directories already at or under the ideal count are left
    * BYTE-UNTOUCHED (no rewrite amplification — compaction must be
    * safely re-runnable as a no-op), the rest are read back
    * file-targeted, re-clustered, and swapped in via a manifest commit —
    * the same bounded-footprint copy-on-write contract as [[merge]]:
    * cost scales with the fragmented partitions' bytes, never with
    * table history.
    *
    * @param clusterBy optional CLUSTERING key (e.g.
    *         [[graft.functions.ZOrder.interleave]] over two normalized
    *         stat columns): rewritten data is sorted by it before the
    *         rows-per-file split, so each output file covers a narrow
    *         key range and the manifest footer stats skip hard on the
    *         clustered dimensions. When set, ALL manifest directories
    *         rewrite (re-layout is the point), not just fragmented ones.
    * @return (partitionsRewritten, filesBefore, filesAfter) over the
    *         rewritten directories only
    */
  def compact(name: String, targetBytes: Long = 128L * 1024 * 1024,
      rowsPerFile: Long = 0,
      clusterBy: Seq[org.apache.spark.sql.Column] = Nil,
      partitionWhere: Option[org.apache.spark.sql.Column] = None)
      : (Int, Long, Long) = {
    val (v, entries) = loadLatest(name)
    require(v > 0L, s"compact $name: table not bootstrapped")
    val byDir0 = entries.groupBy(e => dirOf(name, e.rel))
    // PARTITION-SCOPED maintenance (Delta's `OPTIMIZE ... WHERE`): the
    // predicate selects partition DIRS, so a 100 TB table compacts
    // yesterday's partition without touching the other 3 650. Dir
    // values re-enter typed through the same string→type cast the read
    // path applies, so predicate semantics match a scan's; a predicate
    // touching a non-partition column fails analysis (the Delta rule —
    // row predicates cannot scope a content-invariant rewrite).
    val byDir = partitionWhere match {
      case None => byDir0
      case Some(pred) =>
        val parts = partitioning(name)
        require(parts.nonEmpty,
          s"compact $name WHERE: table has no partition columns")
        import org.apache.spark.sql.functions.col
        val schema = tables(name)
        val raw = byDir0.keys.toSeq.map { d =>
          Row.fromSeq(d.split('/').filter(_.nonEmpty).map { seg =>
            val x = seg.drop(seg.indexOf('=') + 1)
            if (x == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
            else ExternalCatalogUtils.unescapePathName(x)
          }.toSeq :+ d)
        }
        val strSchema = StructType(parts.map(p =>
          StructField(p, StringType)) :+ StructField("__dir", StringType))
        val typed = spark.createDataFrame(
          spark.sparkContext.parallelize(raw, 1), strSchema)
          .select(parts.map(p =>
            col(p).cast(schema(p).dataType).as(p)) :+ col("__dir"): _*)
        val keep = typed.where(pred).select("__dir")
          .collect().map(_.getString(0)).toSet
        byDir0.filter { case (d, _) => keep(d) }
    }
    val fragmented =
      if (clusterBy.nonEmpty) byDir
      else byDir.filter { case (_, fl) =>
        val ideal = math.max(1L,
          (fl.map(_.bytes).sum + targetBytes - 1) / targetBytes)
        fl.size > ideal
      }
    if (fragmented.isEmpty) {
      // a no-op compact is still a maintenance invocation — the
      // staleness hook runs on the way out (rows are unchanged by
      // compaction either way)
      reanalyzeIfStale(name)
      return (0, 0L, 0L)
    }
    val replaced = fragmented.values.flatten.toSeq
    val before = replaced.size.toLong
    val bytes = replaced.map(_.bytes).sum
    // file-targeted read: exactly the fragmented dirs' live files (the
    // manifest makes the static-prune predicate dance unnecessary)
    val pruned = dfFor(name, replaced)
    // honor targetBytes in BOTH layouts: the partitioned branch writes
    // one task per partition dir, so oversized partitions are split by
    // maxRecordsPerFile — estimated from the measured bytes-per-row of
    // the data being rewritten when the caller didn't pin rowsPerFile
    val effRows =
      if (rowsPerFile > 0) rowsPerFile
      else {
        val n = pruned.count()
        if (n == 0) 0L else math.max(1L, targetBytes * n / math.max(bytes, 1L))
      }
    val fresh = writeBatch(name, pruned, rowsPerFile = effRows,
      flatFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt,
      sortCols = clusterBy)
    commitWrites(Seq(Warehouse.Write(name, (v, entries), replaced, fresh,
      Map("op" -> "compact", "numFilesReplaced" -> replaced.size.toString,
        "numFilesAdded" -> fresh.size.toString),
      Warehouse.Rebase.Always)))
    val after = fresh.count(e => fragmented.contains(dirOf(name, e.rel)))
    // maintenance-time histogram staleness hook: compaction just paid a
    // full read+rewrite anyway, so a drifted ANALYZE basis (whose bins
    // every read is silently withholding) refreshes here — two extra
    // metadata-bounded aggregate jobs, only when a basis exists AND has
    // drifted past the withhold guard ([[reanalyzeIfStale]])
    reanalyzeIfStale(name)
    (fragmented.size, before, after.toLong)
  }

  /** CLUSTERING HEALTH: the average STABBING DEPTH of the live files'
    * footer-stat intervals along each column — E[# files whose
    * [lo, hi] a uniformly random point predicate must open] =
    * Σ(per-file width) / global width. 1.0 ⇔ perfectly clustered
    * (disjoint ranges tiling the span, every point lookup opens one
    * file); |files| ⇔ every file spans the whole range (clustering
    * fully decayed — stat skipping cuts nothing). Appends degrade it
    * monotonically-in-practice (each new full-range file adds ~1);
    * `OPTIMIZE ZORDER` restores it. Columns with no stats anywhere are
    * absent from the result. Cost: the same driver snapshot every
    * metadata command uses ([[loadLatest]] — cached for warm tables).
    *
    * @param cols0 columns to score (default: the declared stat columns)
    */
  def clusteringDepth(name: String, cols0: Seq[String] = Nil)
      : Map[String, Double] = {
    val (_, entries) = loadLatest(name)
    Warehouse.clusteringDepthOf(entries,
      if (cols0.nonEmpty) cols0 else specsNow(name).statColumns)
  }

  /** Maintenance-time half of the clustering lifecycle (DESCRIBE
    * DETAIL's `clustering_depth` is the observability half): when the
    * MEAN stabbing depth across `zorderBy` exceeds `maxDepth`, rewrite
    * via [[optimize]] ZORDER BY those columns. A z-interleave can't
    * drive every dimension's depth to 1 (that is the multi-dimensional
    * trade), so the threshold is a decay ALARM, not a target — pick it
    * a few × above the post-OPTIMIZE depth the layout settles at.
    *
    * @return true iff a re-cluster actually ran
    */
  def reclusterIfDecayed(name: String, zorderBy: Seq[String],
      maxDepth: Double = 8.0,
      targetBytes: Long = 128L * 1024 * 1024): Boolean = {
    require(zorderBy.nonEmpty, s"reclusterIfDecayed $name: name the " +
      "z-order dimensions (stat columns) to score and restore")
    val d = clusteringDepth(name, zorderBy)
    zorderBy.forall(d.contains) &&
      d.values.sum / d.size > maxDepth && {
        optimize(name, zorderBy, targetBytes = targetBytes)
        true
      }
  }

  /** PURGE merge-on-read state (Delta's `REORG ... APPLY (PURGE)`):
    * rewrite ONLY the files carrying a deletion vector — the rewrite
    * reads through the vectors, so the fresh files hold exactly the
    * live rows and need none. Bounded by the vectored files, not the
    * table: the periodic maintenance that keeps the read-side DV
    * filter thin after a burst of vectored DML. Footer stats and
    * metadata min/max become exact again ([[metaMinMax]] declines
    * while vectors exist). Conflict-rebases like [[compact]].
    *
    * @return (files rewritten, vectored rows purged)
    */
  def purgeVectors(name: String): (Int, Long) = {
    val (v, entries) = loadLatest(name)
    require(v > 0L, s"purgeVectors $name: table not bootstrapped")
    val dved = entries.filter(e => e.dv.nonEmpty && e.dvRows > 0)
    if (dved.isEmpty) return (0, 0L)
    val fresh = writeBatch(name, dfFor(name, dved))
    commitWrites(Seq(Warehouse.Write(name, (v, entries), dved, fresh,
      Map("op" -> "purge", "numFilesRewritten" -> dved.size.toString,
        "numDeletedRowsPurged" -> dved.map(_.dvRows).sum.toString),
      Warehouse.Rebase.Always)))
    (dved.size, dved.map(_.dvRows).sum)
  }

  /** Delta's `OPTIMIZE [ZORDER BY (...)]` as one call: [[compact]],
    * with the z-order clustering key DERIVED — callers name raw
    * columns and the engine normalizes them into [[ZOrder.interleaveN]]
    * range (non-negative, bitsPer bits) by linear min/max scaling.
    * Bounds come from manifest footer stats when the column is a
    * declared stat column (METADATA-only — no data read), else from one
    * min/max aggregate over the table (which the manifest-planned scan
    * prunes as usual). The bounds land as plan literals, so the rewrite
    * itself stays one clustered sort — the shape of the caller-
    * normalized [[compact]] path, minus the caller's homework.
    *
    * Supported z-order types: integral, timestamp (µs), date (days) —
    * the same lossless long encodings the manifest stats use. Nulls
    * sort first (layout-only effect, never a result change).
    */
  def optimize(name: String, zorderBy: Seq[String] = Nil,
      targetBytes: Long = 128L * 1024 * 1024,
      rowsPerFile: Long = 0,
      partitionWhere: Option[org.apache.spark.sql.Column] = None)
      : (Int, Long, Long) = {
    import org.apache.spark.sql.functions.{col, datediff, floor, lit, max => smax, min => smin, to_date, unix_micros}
    if (zorderBy.isEmpty)
      return compact(name, targetBytes, rowsPerFile,
        partitionWhere = partitionWhere)
    val schema = tables(name)
    val parts = partitioning(name)
    zorderBy.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"optimize $name: no column $c")
      require(!parts.contains(c),
        s"optimize $name: $c is a partition column (directory-pruned " +
          "exactly already; z-order the in-partition dimensions)")
    }
    def enc(c: String): org.apache.spark.sql.Column =
      schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          col(c).cast("long")
        case TimestampType => unix_micros(col(c))
        // NTZ → LTZ cast under the pinned UTC session zone is an
        // identity on the internal micros, so unix_micros yields the
        // same naive-UTC encoding the manifest stats use
        case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
        case DateType => datediff(col(c), to_date(lit("1970-01-01"))).cast("long")
        case t => throw new IllegalArgumentException(
          s"optimize $name ZORDER BY $c: unsupported type $t " +
            "(integral, timestamp, date)")
      }
    val (_, entries) = loadLatest(name)
    val bounds: Map[String, (Long, Long)] = zorderBy.map { c =>
      val fromStats =
        if (entries.nonEmpty && entries.forall(_.stats.contains(c)))
          Some(entries.map(_.stats(c))
            .reduce((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2))))
        else None
      c -> fromStats.getOrElse {
        val r = dfFor(name, entries).agg(smin(enc(c)), smax(enc(c))).head()
        if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
      }
    }.toMap
    val bitsPer = math.min(16, 63 / zorderBy.size)
    val dims = zorderBy.map { c =>
      val (lo, hi) = bounds(c)
      val scale = ((1L << bitsPer) - 1).toDouble /
        math.max(hi - lo, 1L).toDouble
      floor((enc(c).cast("double") - lo.toDouble) * scale).cast("long")
    }
    compact(name, targetBytes, rowsPerFile,
      clusterBy = Seq(graft.functions.ZOrder.interleaveN(dims, bitsPer)),
      partitionWhere = partitionWhere)
  }

  /** The live files that CONTAIN rows `matching` keeps — the unit a
    * row-level DELETE/UPDATE rewrites. Discovery is one distributed
    * pass over the manifest-planned scan, so partition pruning and
    * manifest stat skipping cut it to candidate files before any row is
    * read; the collected result is one row per MATCHING file (the
    * DML batch's footprint, not the table), the same bounded-driver
    * trade as [[merge]]'s touched-partition list.
    */
  private def touchedFiles(name: String, entries: Seq[FileEntry],
      matching: DataFrame => DataFrame): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.input_file_name
    if (entries.isEmpty) return Nil
    val hit = matching(dfFor(name, entries))
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => new Path(r.getString(0)).toUri.getPath).toSet
    val fs = fileSystem
    entries.filter(e => hit(
      fs.makeQualified(new Path(path(name), e.rel)).toUri.getPath))
  }

  /** Row-level DELETE (copy-on-write): removes the rows where `cond` is
    * TRUE (false/null rows are kept — SQL DELETE semantics). Only files
    * that CONTAIN matching rows are rewritten; every other live file is
    * untouched byte-for-byte and keeps its manifest entry. The curation
    * op the reference's append-only sinks can't express at all — and
    * the one a 100 TB training-data store legally cannot live without
    * (the GDPR/opt-out path: purge all documents from a revoked
    * source). Crash-safe like every mutation here: new files first,
    * manifest rename is the commit, replaced files deleted only after.
    *
    * @return number of rows deleted
    */
  def delete(name: String, cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val base @ (v, _) = loadLatest(name)
    require(v > 0L, s"delete from $name: table not bootstrapped")
    val matched = coalesce(cond, lit(false))
    deleteRows(name, base, "delete", _.where(matched), _.where(not(matched)))
  }

  /** The copy-on-write delete of [[delete]] and [[deleteKeys]]: the live
    * files holding a `doomed` row are rewritten to their `keep` rows
    * (the complement), in one commit.
    *
    * @return number of rows deleted
    */
  private def deleteRows(name: String, base: (Long, Seq[FileEntry]),
      op: String, doomed: DataFrame => DataFrame,
      keep: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val replaced = touchedFiles(name, base._2, doomed)
    if (replaced.isEmpty) return 0L
    val touched = dfFor(name, replaced)
    runProbes(restrictProbes(name,
      doomed(touched).select(specsNow(name).primaryKey.map(col): _*)))
    val removed = doomed(touched).count()
    val fresh = writeBatch(name, keep(touched))
    commitWrites(Seq(Warehouse.Write(name, base, replaced, fresh,
      Map("op" -> op, "numRowsDeleted" -> removed.toString,
        "numFilesRewritten" -> replaced.size.toString),
      Warehouse.Rebase.Never)))
    removed
  }

  /** JOIN-DRIVEN row-level DELETE (copy-on-write): removes the rows
    * whose `keyCols` tuple appears in `keys` — [[delete]] for the case
    * where the doomed set is ITSELF data-sized (index compaction after
    * a large source DELETE, opt-out purges keyed by a revocation
    * table). The predicate never exists as an expression: matching is
    * a distributed semi/anti join, so there is no `IN (…)` literal
    * list to collect to the driver and no plan whose size grows with
    * |keys|. Driver state stays the MATCHING-FILE list, the same
    * bounded footprint as [[delete]]'s `touchedFiles`.
    *
    * `keys` is evaluated once into a localCheckpoint (distributed,
    * bytes-bounded by |keys| × key width) because the op probes it
    * three times (touched-file discovery, the removed count, the
    * survivor anti-join) — and because a caller's lazily-derived key
    * set (e.g. "ids no longer in the source") must not re-evaluate
    * mid-rewrite. SQL join-null semantics: a null key component never
    * matches, so null-keyed rows are always kept.
    *
    * @return number of rows deleted
    */
  def deleteKeys(name: String, keys: DataFrame,
      keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, s"deleteKeys $name: empty keyCols")
    val schema = tables(name)
    keyCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"deleteKeys $name: no column $c")
      require(keys.columns.contains(c),
        s"deleteKeys $name: keys frame lacks column $c")
    }
    val base @ (v, entries) = loadLatest(name)
    require(v > 0L, s"deleteKeys $name: table not bootstrapped")
    if (entries.isEmpty) return 0L
    val k = keys.select(keyCols.map(col): _*).distinct().localCheckpoint()
    try deleteRows(name, base, "deleteKeys",
      _.join(k, keyCols, "left_semi"), _.join(k, keyCols, "left_anti"))
    finally k.unpersist()
  }

  /** The SET-column contract of every in-place update ([[update]],
    * [[updateVectored]], [[mergeInto]]): each column exists and is not
    * a partition (rows must not move partitions), PRIMARY KEY, IDENTITY
    * or UNIQUE column. Messages lead with `op`.
    */
  private def requireUpdatable(op: String, name: String,
      cols: Iterable[String]): Unit = {
    val spec = specsNow(name)
    cols.foreach { c =>
      require(tables(name).fieldNames.contains(c), s"$op $name: no column $c")
      require(!partitioning(name).contains(c),
        s"$op $name: partition column $c is not updatable " +
          "(rows must not move partitions)")
      require(!spec.primaryKey.contains(c),
        s"$op $name: PRIMARY KEY column $c is not updatable " +
          "(a SET could mint a duplicate key — delete + insert instead)")
      require(!spec.identity.exists(_.column == c),
        s"$op $name: IDENTITY column $c is engine-assigned and immutable")
      require(!spec.unique.exists(_.contains(c)),
        s"$op $name: UNIQUE column $c is not updatable " +
          "(a SET could mint a duplicate — delete + insert instead)")
    }
  }

  /** Row-level UPDATE (copy-on-write): for rows where `cond` is TRUE,
    * each column in `set` is replaced by its expression (evaluated
    * against the OLD row, so `set("rev" -> col("rev") + 1)` works);
    * false/null rows pass through bit-unchanged. Same file-targeted
    * rewrite and crash-safety as [[delete]]. Partition columns are not
    * updatable — a row must never move partitions (the [[merge]]
    * contract), and stat-column updates are safe because replaced
    * files' manifest entries are rebuilt from the new footers.
    *
    * @return number of rows updated
    */
  def update(name: String, cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val schema = tables(name)
    requireUpdatable("update", name, set.keys)
    val (v, entries) = loadLatest(name)
    require(v > 0L, s"update $name: table not bootstrapped")
    val replaced = touchedFiles(name, entries, _.where(cond))
    if (replaced.isEmpty) return 0L
    val touched = dfFor(name, replaced)
    val matched = coalesce(cond, lit(false))
    val changed = touched.where(matched).count()
    val rewritten = touched.select(schema.fields.toSeq.map { f =>
      set.get(f.name) match {
        case Some(e) =>
          when(matched, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }: _*)
    // SET results are NEW values so checks validate all of
    // `rewritten`. A SET of an FK column mints new references: probe
    // only the rows the update actually touched (tight batch extrema
    // for the scope). Select from `touched` so the WHERE sees OLD
    // values — `rewritten` already carries the new ones and could
    // mis-pick rows when a SET column also appears in the condition.
    runProbes(checkProbes(name, rewritten)
      ++ (if (specsNow(name).foreignKeys
            .exists(_.cols.exists(set.keySet.contains)))
          foreignKeyProbes(name, touched.where(matched)
            .select(schema.fields.toSeq.map { f =>
              set.get(f.name).map(_.cast(f.dataType).as(f.name))
                .getOrElse(col(f.name))
            }: _*))
        else Probes(Nil)))
    val fresh = writeBatch(name, rewritten)
    commitWrites(Seq(Warehouse.Write(name, (v, entries), replaced, fresh,
      Map("op" -> "update", "numRowsUpdated" -> changed.toString,
        "numFilesRewritten" -> replaced.size.toString),
      Warehouse.Rebase.Never)))
    changed
  }

  /** Register every table as a temp view (`<prefix><table>`), so the
    * warehouse is queryable from `spark.sql` — the SQL-first surface
    * the reference's Postgres users have. Views resolve through the
    * manifest AT REGISTRATION time (a consistent snapshot across all
    * tables, the same read semantics as [[read]]); re-register after
    * commits to advance, exactly like re-running [[read]]. Snapshot
    * readability across later rewrites follows the retention rules: a
    * merge/delete under eager GC removes the files a stale view still
    * references (open with `retainReplaced=true` to keep stale
    * snapshots readable until vacuum).
    */
  def registerViews(prefix: String = "wh_"): Unit =
    tables.keys.foreach { name =>
      read(name).createOrReplaceTempView(s"$prefix$name")
    }

  /** The full SQL-STATEMENT surface: routes `<prefix><table>` through
    * the session's graft parser ([[graft.sql.WarehouseSql]]) so
    * `spark.sql` can run MERGE INTO / DELETE / UPDATE / INSERT /
    * `VERSION AS OF` time travel / DESCRIBE HISTORY / RESTORE / VACUUM
    * against this warehouse — and plain SELECTs resolve the LATEST
    * committed manifest at each statement, not a frozen view snapshot.
    * Also registers the [[registerViews]] temp views as the read-only
    * fallback for sessions built without the graft extensions (no
    * parser hook there — parse-time routing shadows these views
    * whenever the parser IS present).
    */
  def registerSql(prefix: String = "wh_"): Unit = {
    graft.sql.WarehouseSql.register(spark, this, prefix)
    registerViews(prefix)
  }

  /** The EXACT widening lattice — only upcasts Spark's parquet readers
    * perform natively when the requested schema is wider than the file
    * (verified: int32 files read as BIGINT/DOUBLE, float as DOUBLE),
    * and only value-preserving ones (long→double would lose precision
    * past 2^53, so it is NOT here).
    */
  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** TYPE WIDENING — `ALTER TABLE ... ALTER COLUMN c TYPE t` (Delta's
    * type-widening feature): a METADATA-ONLY schema change; no file is
    * rewritten because the parquet scan upcasts old narrow files to
    * the widened read schema natively ([[widens]] limits the lattice
    * to exactly those upcasts). Manifest footer stats are long-encoded
    * and therefore type-erased — old entries' min/max stay valid for
    * skipping. Banned where a byte-level artifact hashed the OLD
    * width: bucket layouts (murmur3 of int ≠ of long — the layout
    * invariant would silently break), bloom/NDV sidecars (same hash
    * sensitivity; drop the index columns first and re-declare to
    * backfill at the new width), and FOREIGN KEY columns on either
    * side (both ends must widen atomically — drop the constraint
    * first). PRIMARY KEY columns widen fine: the collision probe
    * compares VALUES through the widened read schema on both sides.
    * [[appendMergeSchema]] widens automatically when a batch arrives
    * wider.
    */
  def alterColumnType(name: String, colName: String,
      to: org.apache.spark.sql.types.DataType): Unit = {
    val spec = specsNow.getOrElse(name, throw new IllegalArgumentException(
      s"alterColumnType: no table $name"))
    require(spec.schema.fieldNames.contains(colName),
      s"alterColumnType $name: no column $colName")
    val f = spec.schema(colName)
    if (f.dataType == to) return
    require(widens(f.dataType, to),
      s"alterColumnType $name.$colName: ${f.dataType.simpleString} -> " +
        s"${to.simpleString} is not an exact widening (supported: " +
        "byte/short/int -> wider integral, int -> double, " +
        "float -> double)")
    require(!spec.bucketBy.contains(colName),
      s"alterColumnType $name.$colName: the bucket hash is " +
        "type-sensitive — the layout would silently break")
    require(!spec.bloomColumns.contains(colName) &&
        !spec.ndvColumns.contains(colName),
      s"alterColumnType $name.$colName: bloom/NDV sidecars hash the " +
        "old width — drop the index columns first, widen, re-declare " +
        "(setIndexColumns backfills at the new width)")
    require(!spec.foreignKeys.exists(_.cols.contains(colName)),
      s"alterColumnType $name.$colName: FOREIGN KEY columns widen " +
        "with their parent or not at all — drop the constraint first")
    specsNow.foreach { case (child, cs) =>
      cs.foreignKeys.foreach { fk =>
        require(fk.parent != name || !fk.parentCols.contains(colName),
          s"alterColumnType $name.$colName: referenced by $child's $fk " +
            "— drop the constraint first")
      }
    }
    specsLock.synchronized {
      specsNow = specsNow.updated(name, spec.copy(schema =
        StructType(spec.schema.fields.map(x =>
          if (x.name == colName) x.copy(dataType = to) else x))))
    }
    persistSpec(name)
  }

  /** PARTITION LAYOUT MIGRATION — `ALTER TABLE ... SET PARTITIONED BY`.
    * Rewrites the CURRENT snapshot under the new directory layout in
    * one commit: read (old dirs supply the old partition columns,
    * deletion vectors apply), write through [[writeBatch]] (one task
    * per new partition dir, stats/blooms/NDV sidecars rebuilt, ids and
    * generated columns carried through as data), commit, persist the
    * spec. Explicitly a REWRITE, not Iceberg's metadata-only spec
    * evolution — a DELIBERATE trade: per-file partition specs would
    * split every downstream read (scans, DV positioning, bucketed
    * plans, the streaming source) into per-spec relation unions, and
    * old files don't even contain their partition columns in-file
    * (hive layout stores them in dir names only). The rewrite keeps
    * every read path single-relation; its cost is explicit, partition-
    * parallel, and paid once — the Delta Lake answer to the same
    * problem.
    *
    * The layout in effect rides every commit as `partitionBy` metadata
    * (carried forward like the txn watermarks), which makes two things
    * work: (a) crash between commit and spec publish — [[Warehouse.
    * open]] reconciles the spec from the head's stamp; (b) time
    * travel / change feeds / RESTORE refuse to cross a migration
    * boundary with a clear error instead of misparsing old dirs
    * (pre-migration files typically follow retention anyway). Tagged
    * snapshots SURVIVE the migration: the commit's `partitionByOld`
    * stamp lets [[layoutAtVersion]] resolve a tag's own era, so
    * [[readTag]] keeps reading it under the layout it was written with
    * (its files stay pinned, as ever).
    *
    * @return rows rewritten
    */
  def repartitionTable(name: String, partitionBy: Seq[String],
      rowsPerFile: Long = 0L): Long = {
    import org.apache.spark.sql.functions.col
    val old = specsNow.getOrElse(name, throw new IllegalArgumentException(
      s"repartitionTable: no table $name"))
    if (old.partitionBy == partitionBy) return 0L
    val fresh0 = old.copy(partitionBy = partitionBy) // ctor validates
    val (v, live) = loadLatest(name)
    require(v > 0L, s"repartitionTable $name: table not bootstrapped")
    val snapshot = dfFor(name, live)
      .select(tables(name).fieldNames.toSeq.map(col): _*)
    withLayout(name, fresh0) {
      val fresh = writeBatch(name, snapshot, rowsPerFile)
      commitWrites(Seq(Warehouse.Write(name, (v, live), live, fresh,
        Map("op" -> "repartition",
          "partitionBy" -> partitionBy.mkString(","),
          // the layout this migration REPLACED — what lets readers
          // resolve pre-migration snapshots' directory layout
          // ([[layoutAtVersion]]) instead of refusing across the boundary
          "partitionByOld" -> old.partitionBy.mkString(","),
          "numFilesRewritten" -> live.size.toString,
          "numFilesAdded" -> fresh.size.toString),
        Warehouse.Rebase.Never)))
      fresh.map(_.rows).sum
    }
  }

  /** Run `write` — a commit stamping `spec`'s layout as `name`'s
    * partitioning — with the in-memory spec already flipped to `spec`
    * (the write stages its files under it), then persist the spec. The
    * in-memory layout rolls back ONLY if nothing committed — the head's
    * stamp is the truth once the manifest published (a failed spec
    * publish is what open()'s reconcile repairs).
    */
  private def withLayout[T](name: String, spec: Warehouse.TableSpec)(
      write: => T): T = {
    val old = specsNow(name)
    specsLock.synchronized { specsNow = specsNow.updated(name, spec) }
    try {
      val out = write
      persistSpec(name)
      out
    } catch { case t: Throwable =>
      val stamped = scala.util.Try(layoutStamp(name, loadLatest(name)._1))
        .toOption.flatten
      if (!stamped.contains(spec.partitionBy))
        specsLock.synchronized { specsNow = specsNow.updated(name, old) }
      throw t
    }
  }

  /** Adopt any committed `partitionBy` stamp the persisted spec
    * missed — see [[Warehouse.open]]. */
  private[pipeline] def reconcilePartitioning(): Unit =
    specsNow.toSeq.sortBy(_._1).foreach { case (name, spec) =>
      val vs = versions(name)
      if (vs.nonEmpty)
        layoutStamp(name, vs.max).foreach { cols =>
          if (cols != spec.partitionBy) {
            specsLock.synchronized {
              specsNow =
                specsNow.updated(name, spec.copy(partitionBy = cols))
            }
            persistSpec(name)
          }
        }
    }

  /** The partition layout stamped at `version` (None = the table never
    * migrated as of that commit — the layout is the original spec's).
    */
  private def layoutStamp(name: String, version: Long): Option[Seq[String]] =
    commitMeta(name, version).get("partitionBy")
      .map(_.split(',').toSeq.filter(_.nonEmpty))

  /** Whether `version`'s files parse under the CURRENT head's layout —
    * false only across a [[repartitionTable]] boundary. Public so the
    * streaming CDF source shares the same refusal.
    */
  def layoutReadable(name: String, version: Long): Boolean = {
    val (h, _) = loadLatest(name)
    layoutStamp(name, version) == layoutStamp(name, h)
  }

  /** The partition layout `version`'s files were WRITTEN under: the
    * earliest LAYOUT-FLIPPING commit strictly after it (any commit
    * stamped with `partitionByOld` — a [[repartitionTable]], or a
    * [[restore]] across a migration boundary) records the layout it
    * replaced; no such commit → the head layout. None = unknown (the
    * next migration predates the stamp — refuse, like
    * [[requireLayoutReadable]] always did). This is what lets a reader
    * RE-ANCHOR across a layout boundary: a pre-migration snapshot is
    * perfectly parseable, just under its own era's directory layout.
    */
  private[graft] def layoutAtVersion(name: String,
      version: Long): Option[Seq[String]] =
    versions(name).filter(_ > version).sorted
      .find(v => layoutFlip(name, v))
      match {
        case None => Some(partitioning(name))
        case Some(m) => commitMeta(name, m).get("partitionByOld")
          .map(_.split(',').toSeq.filter(_.nonEmpty))
      }

  /** Whether commit `version` FLIPPED the directory layout — the era-
    * boundary marker every re-anchoring reader splits on. Two commit
    * kinds stamp it: `repartition` (content-identity: contributes zero
    * rows to any feed) and a cross-layout `restore` (a REAL content
    * change: feeds must emit its diff, under per-side layouts).
    */
  private def layoutFlip(name: String, version: Long): Boolean =
    commitMeta(name, version).contains("partitionByOld")

  /** A layout flip whose commit is content-identity (`repartition`);
    * false for the restore kind, whose boundary hop carries data. */
  private def contentIdentityFlip(name: String, version: Long): Boolean = {
    val m = commitMeta(name, version)
    m.contains("partitionByOld") && m.get("op").contains("repartition")
  }

  private def requireLayoutReadable(name: String, version: Long,
      op: String): Unit =
    require(layoutReadable(name, version),
      s"$op $name v$version: the table's partition layout was migrated " +
        "since (repartitionTable) — pre-migration snapshots no longer " +
        "parse under the current directory layout")

  /** RESTORE (rollback): make manifest `version`'s file list the new
    * HEAD, as a new commit — history is never rewritten (the Delta
    * RESTORE shape), so the rolled-back-over states stay time-travel
    * readable until vacuum's retention passes them. Requires the
    * target version's files to still exist (retainReplaced retention,
    * same rule as [[readVersion]]); files unique to the abandoned head
    * stay on disk for vacuum — restore never deletes anything.
    */
  def restore(name: String, version: Long): Unit = {
    require(versions(name).contains(version),
      s"$name has no manifest v$version to restore")
    // a pre-migration target restores under ITS OWN era's layout (the
    // flip below); only targets whose layout the stamps cannot resolve
    // still refuse — except when the stamps prove the layouts EQUAL
    // anyway (a pre-stamp round-trip migration)
    val targetLayout = layoutAtVersion(name, version).getOrElse {
      requireLayoutReadable(name, version, "restore")
      partitioning(name)
    }
    val headLayout = partitioning(name)
    val flips = targetLayout != headLayout
    // tags survive the flip: a cross-layout restore stamps
    // `partitionByOld` like a repartition does, so [[layoutAtVersion]]
    // keeps resolving every tagged version's own era and [[readTag]]
    // reads it under the layout it was written with
    val entries = loadAt(name, version)
    val gone = goneEntries(name, entries)
    require(gone.isEmpty,
      s"$name v$version is not restorable: ${gone.size} file(s) GC'd " +
        s"(e.g. ${gone.head.rel}); use retainReplaced=true retention")
    val (v, liveNow) = loadLatest(name)
    if (v == version) return
    // FK integrity across the flip, both directions (same audit as
    // truncate/overwrite — a restore is an overwrite with old bytes):
    //   - child side: resurrected rows may reference parent keys
    //     deleted since; every restored FK tuple re-validates against
    //     the parents' CURRENT snapshots (self-FK against the restored
    //     snapshot itself — it replaces the live one);
    //   - parent side: keys present now but absent at `version` vanish
    //     in the flip; ON DELETE RESTRICT probes current non-self
    //     children for references to them.
    // Restored entries read under the TARGET layout (they were written
    // under it); the live snapshot reads under the head's.
    runProbes(replaceProbes(name, liveNow,
      dfFor(name, entries, layout = Some(targetLayout))))
    // the restored entries swap in over files that stay referenced:
    // restore never deletes anything
    def restoreWrite(meta: Map[String, String]): Unit =
      commitWrites(Seq(Warehouse.Write(name, (v, entries), Nil, Nil,
        Map("op" -> "restore", "restoredVersion" -> version.toString) ++ meta,
        Warehouse.Rebase.Never)))
    // a restore across a layout-migration boundary IS a layout
    // migration in reverse: the commit stamps the flip
    // (partitionBy/partitionByOld) so every era-aware reader —
    // [[layoutAtVersion]], the streaming source, the change feeds —
    // re-anchors across it, and the spec flips like
    // [[repartitionTable]]'s. Unlike a repartition the commit is a
    // REAL content change (a rollback), so feeds emit its diff
    // ([[streamSlice]]'s boundaryHop) instead of netting zero.
    if (!flips) restoreWrite(Map.empty)
    else withLayout(name, specsNow(name).copy(partitionBy = targetLayout)) {
      restoreWrite(Map("partitionBy" -> targetLayout.mkString(","),
        "partitionByOld" -> headLayout.mkString(",")))
    }
  }

  /** DDL: (re)declare the table's skip/stat index columns and BACKFILL
    * the per-file sidecars for live files that predate the declaration
    * — without this, adding [[TableSpec.bloomColumns]] /
    * [[TableSpec.ndvColumns]] to an existing table yields no skipping
    * and no estimates until every file happens to be rewritten. `None`
    * keeps a dimension unchanged. Validation (column exists, supported
    * type) happens at spec construction; the backfill is ONE
    * distributed pass over only the files missing any sidecar. Sidecar
    * content is a pure function of the file, so the backfill is
    * idempotent and crash-safe (a half-written set just backfills less
    * next call; nothing reads a sidecar that must exist). Single-writer
    * DDL contract, like [[addColumn]].
    *
    * @return number of files backfilled
    */
  def setIndexColumns(name: String,
      bloomColumns: Option[Seq[String]] = None,
      ndvColumns: Option[Seq[String]] = None): Long = {
    require(specsNow.contains(name), s"setIndexColumns: no table $name")
    specsLock.synchronized {
      val cur = specsNow(name)
      // TableSpec's own requires validate the new column sets
      specsNow = specsNow.updated(name, cur.copy(
        bloomColumns = bloomColumns.getOrElse(cur.bloomColumns),
        ndvColumns = ndvColumns.getOrElse(cur.ndvColumns)))
    }
    persistSpec(name)
    backfillSidecars(name)
  }

  /** Build the missing bloom/ndv sidecars for the CURRENT live files —
    * one [[writeBloomSidecars]] pass restricted to files lacking any
    * declared sidecar. Safe anytime (absence only withholds skipping /
    * estimates); re-running is a no-op.
    *
    * @return number of files backfilled
    */
  def backfillSidecars(name: String): Long = {
    val spec = specsNow(name)
    if (spec.bloomColumns.isEmpty && spec.ndvColumns.isEmpty) return 0L
    val fs = fileSystem
    val (_, entries) = loadLatest(name)
    val missing = entries.filter { e =>
      spec.bloomColumns.exists(c =>
        !fs.exists(new Path(bloomDir(name), bloomFileName(e.rel, c)))) ||
      spec.ndvColumns.exists(c =>
        !fs.exists(new Path(ndvDir(name), ndvFileName(e.rel, c))))
    }
    if (missing.nonEmpty) writeBloomSidecars(name, missing)
    missing.size.toLong
  }

  /** SCHEMA EVOLUTION: append a new column to `name`'s schema. The data
    * files are untouched — parquet reads fill a requested-but-absent
    * column with nulls, so existing rows surface the new column as NULL
    * and subsequent appends/merges carry real values. The field must be
    * nullable for exactly that reason. The evolved spec is persisted to
    * `_meta/` (atomic publish), so [[Warehouse.open]] and the
    * `graft-warehouse` read formats see it immediately; time-travel
    * reads of PRE-evolution versions also surface the column (as null
    * for files that predate it) — schema is table-level, not
    * per-version, the minimal-evolution trade.
    */
  def addColumn(name: String, field: StructField): Unit = {
    val spec = specsNow.getOrElse(name,
      throw new IllegalArgumentException(s"addColumn: no table $name"))
    require(field.nullable,
      s"addColumn $name.${field.name}: added columns must be nullable " +
        "(existing files carry no values for them)")
    require(!spec.schema.fieldNames.contains(field.name),
      s"addColumn: $name.${field.name} already exists")
    specsLock.synchronized {
      val cur = specsNow(name)
      // under active column mapping a new logical name must not collide
      // with any PHYSICAL name still present in data files (a live
      // field's backing column, or a dropped column's retired one) —
      // pin a fresh unique physical name in that case
      val clash = cur.schema.fields.exists(f =>
        Warehouse.physicalName(f) == field.name) ||
        cur.retiredPhysical.contains(field.name)
      val pinned =
        if (!clash) field
        else field.copy(metadata = new org.apache.spark.sql.types
          .MetadataBuilder().withMetadata(field.metadata)
          .putString(Warehouse.PhysicalKey,
            s"${field.name}_${java.util.UUID.randomUUID.toString.take(8)}")
          .build())
      specsNow = specsNow.updated(name,
        cur.copy(schema = cur.schema.add(pinned)))
    }
    persistSpec(name)
  }

  // ------------------------------------------------------------------
  // column mapping: RENAME / DROP COLUMN without rewriting any data
  // ------------------------------------------------------------------

  /** Whether any field's logical name diverges from its parquet name —
    * when false, every mapping hook below is an exact no-op.
    */
  private[graft] def mappingActive(name: String): Boolean =
    tables(name).fields.exists(_.metadata.contains(Warehouse.PhysicalKey))

  /** RENAME COLUMN as pure metadata (Delta's column-mapping shape): the
    * parquet files keep the original column; the spec field is renamed
    * and pinned to its PHYSICAL name, reads alias physical → logical
    * inside the scan plan, writes alias logical → physical before
    * staging. No data file is touched — at 100 TB that is the
    * difference between a catalog update and a full rewrite.
    *
    * Restricted to PLAIN columns: partition, bucket, stat, bloom and
    * CHECK-referenced columns keep logical == physical (their names key
    * directory layouts, manifest stat maps, sidecars and persisted
    * expressions — renaming them would orphan that state). The same
    * restriction applies to [[dropColumn]].
    */
  def renameColumn(name: String, oldName: String, newName: String): Unit = {
    specsLock.synchronized {
      val cur = specsNow.getOrElse(name,
        throw new IllegalArgumentException(s"renameColumn: no table $name"))
      require(cur.schema.fieldNames.contains(oldName),
        s"renameColumn $name: no column $oldName")
      require(!cur.schema.fieldNames.contains(newName),
        s"renameColumn $name: $newName already exists")
      requirePlainColumn(name, cur, oldName, "renameColumn")
      val renamed = StructType(cur.schema.fields.map { f =>
        if (f.name != oldName) f
        else f.copy(name = newName,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(Warehouse.PhysicalKey, Warehouse.physicalName(f))
            .build())
      })
      specsNow = specsNow.updated(name, cur.copy(schema = renamed))
    }
    persistSpec(name)
  }

  /** DROP COLUMN as pure metadata: the spec field disappears (reads
    * never project it again, writes stop producing it); the physical
    * column stays in old files and is RETIRED — a later addColumn of
    * the same logical name maps to a fresh physical name so the stale
    * values can never resurface. See [[renameColumn]] for the
    * plain-column restriction.
    */
  def dropColumn(name: String, colName: String): Unit = {
    specsLock.synchronized {
      val cur = specsNow.getOrElse(name,
        throw new IllegalArgumentException(s"dropColumn: no table $name"))
      require(cur.schema.fieldNames.contains(colName),
        s"dropColumn $name: no column $colName")
      require(cur.schema.length > 1,
        s"dropColumn $name: cannot drop the last column")
      requirePlainColumn(name, cur, colName, "dropColumn")
      val field = cur.schema(colName)
      specsNow = specsNow.updated(name, cur.copy(
        schema = StructType(cur.schema.fields.filterNot(_.name == colName)),
        retiredPhysical =
          cur.retiredPhysical :+ Warehouse.physicalName(field)))
    }
    persistSpec(name)
  }

  /** The rename/drop restriction: only columns with no layout or
    * constraint role may diverge from their physical name.
    */
  private def requirePlainColumn(name: String, spec: Warehouse.TableSpec,
      colName: String, op: String): Unit = {
    require(!spec.partitionBy.contains(colName),
      s"$op $name.$colName: partition columns key the directory layout")
    require(!spec.bucketBy.contains(colName),
      s"$op $name.$colName: bucket columns key the file layout")
    require(!spec.statColumns.contains(colName),
      s"$op $name.$colName: stat columns key the manifest stat maps")
    require(!spec.bloomColumns.contains(colName),
      s"$op $name.$colName: bloom columns key the sidecar indexes")
    require(!spec.primaryKey.contains(colName),
      s"$op $name.$colName: PRIMARY KEY columns keep their identity " +
        "(the uniqueness constraint keys on the name)")
    require(!spec.foreignKeys.exists(_.cols.contains(colName)),
      s"$op $name.$colName: FOREIGN KEY columns keep their identity " +
        "(the referential constraint keys on the name)")
    require(!spec.identity.exists(i => i.column == colName ||
        i.orderBy.contains(colName)),
      s"$op $name.$colName: IDENTITY columns (and their ORDER BY " +
        "columns) keep their identity")
    require(!spec.unique.exists(_.contains(colName)),
      s"$op $name.$colName: UNIQUE constraint columns keep their " +
        "identity (the constraint keys on the name)")
    require(!spec.defaults.contains(colName),
      s"$op $name.$colName: DEFAULT columns keep their identity " +
        "(the fill rule keys on the name)")
    // a PARENT's referenced columns are its PRIMARY KEY — already
    // banned above for the parent itself; ban cross-table too
    specsNow.foreach { case (child, cs) =>
      cs.foreignKeys.foreach { fk =>
        require(fk.parent != name || !fk.parentCols.contains(colName),
          s"$op $name.$colName: referenced by $child's $fk")
      }
    }
    val word = ("""\b""" + java.util.regex.Pattern.quote(colName) +
      """\b""").r
    spec.checks.foreach { case (n, e) =>
      require(word.findFirstIn(e).isEmpty,
        s"$op $name.$colName: referenced by CHECK constraint $n ($e) — " +
          "drop the constraint first")
    }
    require(!spec.generated.contains(colName),
      s"$op $name.$colName: GENERATED columns keep their identity " +
        "(the expression and verification key on the name)")
    spec.generated.foreach { case (g, e) =>
      require(word.findFirstIn(e).isEmpty,
        s"$op $name.$colName: referenced by generated column $g ($e)")
    }
  }

  /** physical → logical projection appended to every scan of a
    * mapping-active table; `keep` names pass-through columns (the DV
    * metadata pair) that must survive the projection.
    */
  private def logicalView(name: String, df: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    if (!mappingActive(name)) return df
    import org.apache.spark.sql.functions.col
    df.select(tables(name).fields.toSeq.map(f =>
      col(Warehouse.physicalName(f)).as(f.name)) ++ keep.map(col): _*)
  }

  /** The CHECK probe for rows about to be written: one aggregate pass
    * over `df` counting violations of every check at once (SQL
    * semantics — NULL passes, only FALSE violates), throwing
    * [[Warehouse.CheckViolation]] for the first violated check in name
    * order. Costs one extra evaluation of the batch when checks exist
    * (the Delta trade); content-invariant rewrites (compaction) and
    * survivor re-writes (delete) skip it — their rows were checked when
    * first written.
    */
  private def checkProbes(name: String, df: DataFrame): Probes = {
    val spec = specsNow(name)
    // GENERATED columns verify as implicit checks: a batch that carries
    // the column must agree with the expression (null-safe), the Delta
    // generated-column contract — violation names read `__gen_<col>`
    val genChecks = spec.generated.map { case (c, e) =>
      s"__gen_$c" ->
        s"$c <=> CAST(($e) AS ${tables(name)(c).dataType.sql})"
    }
    checkProbes(name, df, spec.checks ++ genChecks)
  }

  /** Derive the GENERATED columns an append batch omits (present ones
    * pass through and are verified by [[checkProbes]]); output
    * columns land in spec order.
    */
  private def applyGenerated(name: String, df: DataFrame): DataFrame = {
    val gen = specsNow(name).generated
    val dfl = specsNow(name).defaults
    if (gen.isEmpty && dfl.isEmpty) return df
    import org.apache.spark.sql.functions.{col, expr}
    val schema = tables(name)
    // DEFAULT fills first (a generated expression may reference a
    // defaulted column); a batch CARRYING the column passes through
    // unverified — DEFAULT is a fill rule, not ALWAYS
    val withDefaults = dfl.foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, expr(e).cast(schema(c).dataType))
    }
    val withCols = gen.foldLeft(withDefaults) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, expr(e).cast(schema(c).dataType))
    }
    withCols.select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** Run an op's INDEPENDENT read-only constraint probes as ONE
    * CONCURRENT wave on [[DriverPool]] (r16, guide §2.6: the commit
    * family's cost was N sequential tiny driver-submitted jobs — plan +
    * schedule latency per job — not cluster work; 8-vs-32-core bench
    * ratios ≈ 1 pinned it). Each thunk is a self-contained check: it
    * reads the batch and/or the table snapshot, throws a typed
    * violation on failure, and mutates nothing — so overlapping them
    * collapses the wall to ~max(probe) while the scheduler back-fills
    * each probe's straggler tail with the next probe's tasks. No thunk
    * runs a wave of its own.
    *
    * Violation semantics are those of the sequential loop: every probe
    * runs to completion and the FIRST failure IN `probes` ORDER is
    * rethrown, including on multi-violation batches. Spark
    * job-description / job-group locals are thread-local; the caller's
    * are re-applied on the pooled thread so UI and event-log
    * attribution hold (set unconditionally — null clears — because
    * pooled threads are reused across callers).
    */
  private def runProbes(probes: Probes): Unit = {
    val sc = spark.sparkContext
    val locals = Seq("spark.job.description", "spark.jobGroup.id",
      "spark.scheduler.pool").map(k => k -> sc.getLocalProperty(k))
    try DriverPool.map(probes.run) { p =>
      locals.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      p()
    } finally probes.release.foreach(_())
  }

  /** UNIQUE probes for a row-adding batch, one per declared group in
    * declaration order: duplicate fully-non-null tuples within the
    * batch, then (same thunk, so the batch diagnosis wins) the
    * live-table membership probe (file-skipped through
    * [[keyProbeScope]], exactly the PK probe's shape). SQL NULLS
    * DISTINCT semantics: a tuple with any null component is exempt.
    * `excludeKeys` removes live rows about to be REPLACED from the
    * probe (the [[merge]] upsert: a row may keep its own unique value
    * across replacement).
    */
  private def uniqueProbes(name: String, df: DataFrame,
      probeLive: Boolean = true,
      excludeKeys: Option[(DataFrame, Seq[String])] = None): Probes = {
    import org.apache.spark.sql.functions.{col, count, lit}
    Probes(specsNow(name).unique.map { u => () =>
      val nn = u.map(c => col(c).isNotNull).reduce(_ && _)
      val batch = df.where(nn)
      val dup = batch.groupBy(u.map(col): _*)
        .agg(count(lit(1)).as("__gf_uq_n")).where(col("__gf_uq_n") > 1)
        .limit(1).collect()
      if (dup.nonEmpty) {
        val r = dup.head
        throw Warehouse.UniqueViolation(name, u,
          "duplicate within batch: " +
            u.map(c => s"$c=${r.get(r.fieldIndex(c))}").mkString(", "))
      }
      if (probeLive)
        keyProbeScope(name, u, batch).foreach { scan0 =>
          val scan = excludeKeys match {
            case Some((keys, keyCols)) =>
              scan0.join(keys.select(keyCols.map(col): _*), keyCols,
                "left_anti")
            case None => scan0
          }
          val hit = scan.where(u.map(c => col(c).isNotNull).reduce(_ && _))
            .join(batch.select(u.map(col): _*), u, "left_semi")
            .limit(1).collect()
          if (hit.nonEmpty) {
            val r = hit.head
            throw Warehouse.UniqueViolation(name, u,
              "value already exists in table: " +
                u.map(c => s"$c=${r.get(r.fieldIndex(c))}").mkString(", "))
          }
        }
    })
  }

  /** The identity high-water mark as of manifest `version`: the last
    * assigned id, or `start - 1` before any assignment. Rides every
    * commit's metadata (ratchet — see [[Warehouse.Identity]]), so one
    * head read answers it even after vacuum pruned old manifests, and
    * a DELETE of the max row never resurrects its id.
    */
  private def identityHwm(name: String, version: Long): Long =
    commitMeta(name, version).get("identityHwm").map(_.toLong)
      .getOrElse(specsNow(name).identity.map(_.start - 1L).getOrElse(0L))

  /** GENERATED ALWAYS AS IDENTITY assignment for a row-adding batch:
    * ranks the batch (range-partitioned sort when `orderBy` is
    * declared — a DISTRIBUTED dense rank, never a one-partition
    * window) and mints `hwm+1 .. hwm+n`. The ranked batch is
    * localCheckpoint'ed first so the rank job and the subsequent write
    * see ONE evaluation — a non-deterministic source can't skew ids
    * against rows (bytes-bounded by the batch, which is about to be
    * written anyway).
    *
    * @return (batch with the column, new high-water mark) — the caller
    *   commits the hwm in its metadata, atomically with the rows
    */
  private def assignIdentity(name: String, df: DataFrame,
      hwm: Long): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.col
    val idn = specsNow(name).identity.get
    require(!df.columns.contains(idn.column),
      s"append into $name: ${idn.column} is GENERATED ALWAYS AS " +
        "IDENTITY — the engine assigns it; omit the column")
    val ordered =
      if (idn.orderBy.isEmpty) df
      else df.repartitionByRange(idn.orderBy.map(col): _*)
        .sortWithinPartitions(idn.orderBy.map(col): _*)
    val ck = ordered.localCheckpoint(true)
    val outSchema = StructType(
      ck.schema.fields :+ StructField(idn.column, LongType, false))
    val withId = spark.createDataFrame(
      ck.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (hwm + 1L + i)) },
      outSchema)
    val n = ck.count()
    (withId, hwm + n)
  }

  /** [[assignIdentity]] when the table declares one, identity
    * otherwise. `headVersion` is the snapshot whose hwm the ids extend
    * — commit-conflict retries MUST re-run this against the new head
    * (a racing assigner may have advanced it) and rewrite their files.
    */
  private def applyIdentity(name: String, df: DataFrame,
      headVersion: Long): (DataFrame, Option[Long]) =
    specsNow(name).identity match {
      case None => (df, None)
      case Some(_) =>
        val (withId, newHwm) =
          assignIdentity(name, df, identityHwm(name, headVersion))
        (withId, Some(newHwm))
    }

  /** PRIMARY KEY probes for a row-adding batch: NULL keys and
    * batch-internal duplicates in one grouped pass, then the live-row
    * collision probe ([[probePrimaryKey]]) — in that order, so a batch
    * that violates both reports the batch-side diagnosis. None unless
    * the table declares [[Warehouse.TableSpec.primaryKey]]. Adds two
    * passes over the batch plus the probe — cache the batch upstream if
    * it is expensive or non-deterministic (the same caveat as every
    * multi-evaluation write path here).
    */
  private def primaryKeyProbes(name: String, df: DataFrame,
      probeLive: Boolean = true): Probes = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val pk = specsNow(name).primaryKey
    if (pk.isEmpty) return Probes(Nil)
    val batchCheck = () => {
      // NOT NULL + uniqueness within the batch: one aggregation (null
      // keys group like values, so both violations surface per GROUP —
      // bounded output, limit 1 is all we need)
      val offender = df.groupBy(pk.map(col): _*)
        .agg(count(lit(1)).as("__gf_pk_n"))
        .where(pk.map(c => col(c).isNull).reduce(_ || _) ||
          col("__gf_pk_n") > 1)
        .limit(1).collect()
      if (offender.nonEmpty) {
        val r = offender.head
        val hasNull = pk.indices.exists(r.isNullAt)
        throw Warehouse.PrimaryKeyViolation(name, pk,
          if (hasNull) "NULL key value in batch (PRIMARY KEY implies NOT NULL)"
          else "duplicate key within batch: " +
            pk.zipWithIndex.map { case (c, i) => s"$c=${r.get(i)}" }
              .mkString(", "))
      }
    }
    Probes(batchCheck +:
      (if (probeLive) Seq(() => probePrimaryKey(name, df)) else Nil))
  }

  /** The live-row half of PK enforcement: does any batch key already
    * exist in the table's CURRENT snapshot? One semi-join probe, file-
    * skipped two ways before a row is read: the batch's own key extrema
    * become range predicates on every PK column that is also a
    * [[Warehouse.TableSpec.statColumns]] member (manifest footer-stat
    * skipping), and bloom sidecars prune equality-infeasible files for
    * PK columns declared in `bloomColumns`. Declare `primaryKey.head`
    * in one of the two and the probe reads only files whose key range
    * overlaps the batch — the 100 TB shape; without either it is an
    * honest table scan (documented in the TableSpec param doc).
    *
    * Serializability: callers probe BEFORE attempting their commit; the
    * single-slot manifest protocol means any commit that lands between
    * the probe and ours surfaces as a [[Warehouse.CommitConflict]], and
    * the retry paths RE-PROBE against the new head — so two concurrent
    * appends of the same key cannot both land.
    */
  private def probePrimaryKey(name: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val pk = specsNow(name).primaryKey
    pkProbeScope(name, df).foreach { pruned =>
      val hit = pruned.join(df.select(pk.map(col): _*), pk, "left_semi")
        .limit(1).collect()
      if (hit.nonEmpty) {
        val r = hit.head
        throw Warehouse.PrimaryKeyViolation(name, pk,
          "key already exists in table: " +
            pk.map(c => s"$c=${r.get(r.fieldIndex(c))}").mkString(", "))
      }
    }
  }

  /** The live-table scan a batch's PK probe needs, file-skipped two
    * ways BEFORE a row is read — None when nothing can collide (empty
    * table, empty batch, or every file excluded):
    *   - BLOOM sidecars (the string-key story footer stats can't
    *     give): for PK columns in `bloomColumns`, the batch's distinct
    *     keys (driver-bounded — an over-cap batch just skips this
    *     prune) drop files no key might live in, each sidecar loaded
    *     once ([[pointCandidatesMulti]]);
    *   - footer-stat ranges: the batch's key extrema become range
    *     predicates that the manifest-planned scan prunes by at plan
    *     time for PK columns in `statColumns`.
    * Shared by [[probePrimaryKey]] (append-family enforcement) and
    * [[appendQuarantine]]'s collision tagging, so both cost
    * batch-overlapping files, never the table.
    */
  private def pkProbeScope(name: String,
      df: DataFrame): Option[DataFrame] =
    keyProbeScope(name, specsNow(name).primaryKey, df)

  /** The `name`-table scan a key-membership probe needs, file-skipped
    * two ways BEFORE a row is read — the generalized form behind
    * [[pkProbeScope]] (probing a table for its OWN keys) and the
    * FOREIGN KEY probes (probing a PARENT for a child batch's keys, or
    * a CHILD for a parent delete's doomed keys). `keys` must carry the
    * probe columns under `name`'s own column names (callers rename).
    * None = NO row of the table can match any key: empty table, empty
    * key set, or every file excluded by bloom sidecars / footer-stat
    * ranges — "no collision" for a PK caller, "every key dangles" for
    * an FK caller (they branch on it differently by design).
    */
  private def keyProbeScope(name: String, cols: Seq[String],
      keys: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val v = versions(name).lastOption.getOrElse(return None)
    // key EXTREMA first: they both gate the manifest resolution (the
    // columnar checkpoint prunes distributed on these ranges — the
    // driver never folds the full entry list, see [[plannedRange]])
    // and detect the empty key set before any metadata work
    val rangeCols = cols.filter(statColumns(name).contains)
    val rangeRow = if (rangeCols.isEmpty) None else {
      val aggs = rangeCols.flatMap(c =>
        Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c")))
      val row = keys.agg(aggs.head, aggs.tail: _*).head()
      // an empty key set has null extrema — nothing to probe
      if (row.isNullAt(0)) return None
      Some(row)
    }
    def longOf(x: Any): Option[Long] = x match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case t: java.sql.Timestamp =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaTimestamp(t))
      case t: java.time.Instant =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
      case t: java.time.LocalDateTime =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .localDateTimeToMicros(t))
      case d: java.sql.Date =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaDate(d).toLong)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
    val ranges: Map[String, (Long, Long)] = rangeRow match {
      case None => Map.empty
      case Some(row) => rangeCols.zipWithIndex.flatMap { case (c, i) =>
        (longOf(row.get(2 * i)), longOf(row.get(2 * i + 1))) match {
          case (Some(lo), Some(hi)) => Some(c -> ((lo, hi)))
          case _ => None // untyped extrema: no manifest skip on c
        }
      }.toMap
    }
    var candidates = plannedRange(name, v, ranges)
    if (candidates.isEmpty) return None // empty table or all range-skipped
    val bloomCols = cols.filter(specsNow(name).bloomColumns.contains)
    if (bloomCols.nonEmpty) {
      val cap = 65536
      val rows = keys.select(bloomCols.map(col): _*).distinct()
        .limit(cap + 1).collect()
      if (rows.isEmpty) return None // empty key set — nothing to probe
      if (rows.length <= cap)
        bloomCols.zipWithIndex.foreach { case (c, i) =>
          candidates = pointCandidatesMulti(name, c,
            rows.map(_.get(i)).toSeq.distinct, candidates)
        }
      if (candidates.isEmpty) return None // every file bloom-excluded
    }
    val base = dfFor(name, candidates)
    if (rangeCols.isEmpty) return Some(base)
    val row = rangeRow.get
    // the EXACT range predicate still applies (manifest skipping is a
    // file-level superset; files without stats survived it)
    Some(rangeCols.zipWithIndex.foldLeft(base) { case (d, (c, i)) =>
      d.where(col(c) >= lit(row.get(2 * i)) &&
        col(c) <= lit(row.get(2 * i + 1)))
    })
  }

  /** FOREIGN KEY probes for a row-adding batch (the child-side
    * half): every non-null key tuple in `df` must exist in the
    * parent's CURRENT snapshot (MATCH SIMPLE — any null component
    * satisfies the constraint). One anti-join probe per declared FK,
    * in declaration order, file-skipped on the PARENT by the batch's
    * key extrema (footer stats) and distinct keys (bloom sidecars)
    * through [[keyProbeScope]] — declare the parent PK in its
    * `statColumns` / `bloomColumns` (PK tables want that anyway for
    * their own probe) and the check reads only batch-overlapping
    * parent files.
    *
    * A SELF-referencing FK admits keys the batch itself introduces
    * (Postgres checks at statement end, when the batch's own rows are
    * visible) — the parent side unions the batch's candidate keys.
    *
    * @param replacedParents parents whose LIVE snapshot this operation
    *   evicts wholesale ([[overwrite]] passes its own name): their
    *   current keys must NOT count as parents — only the pending batch
    *   (or, for [[restore]], the restored snapshot) supplies keys.
    *   Without this, `overwrite` of a self-FK table would accept a new
    *   row referencing a key the overwrite itself deletes.
    *
    * Consistency scope: the probe sees the parent's snapshot at probe
    * time. A concurrent parent DELETE committing after this probe can
    * orphan the batch — cross-TABLE serializability needs the
    * single-writer contract or [[appendAll]]'s one-commit transaction
    * (same scope Delta documents for its constraint checks); within
    * one table the PK/commit machinery stays fully serializable.
    */
  private def foreignKeyProbes(name: String, df: DataFrame,
      pendingParents: Map[String, DataFrame] = Map.empty,
      replacedParents: Set[String] = Set.empty): Probes = {
    import org.apache.spark.sql.functions.col
    Probes(specsNow(name).foreignKeys.map { fk => () =>
      val batchKeys = df.select(fk.cols.map(col): _*)
        .where(fk.cols.map(c => col(c).isNotNull).reduce(_ && _))
        .distinct()
      // parent column names, for the probe scope and the anti-join
      val asParent = fk.cols.zip(fk.parentCols)
        .foldLeft(batchKeys) { case (d, (c, p)) =>
          d.withColumnRenamed(c, p) }
      val parentKeys =
        if (replacedParents.contains(fk.parent)) None // evicted wholesale
        else keyProbeScope(fk.parent, fk.parentCols, asParent)
          .map(_.select(fk.parentCols.map(col): _*))
      // keys a co-committed batch introduces count as parents: a self-
      // FK sees the batch's own PK rows (Postgres checks at statement
      // end), and an appendAll loading parent + child in ONE atomic
      // transaction sees the parent batch's keys
      val pendingKeys =
        (if (fk.parent == name) Some(df) else pendingParents.get(fk.parent))
          .map(_.select(
            specsNow(fk.parent).primaryKey.map(col): _*)
            .toDF(fk.parentCols: _*))
      val parentSide = (parentKeys, pendingKeys) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b))
        case (a, b) => a.orElse(b)
      }
      val dangling = parentSide match {
        case None => asParent.limit(1).collect() // parent has nothing
        case Some(p) =>
          asParent.join(p, fk.parentCols, "left_anti").limit(1).collect()
      }
      if (dangling.nonEmpty) {
        val r = dangling.head
        throw Warehouse.ForeignKeyViolation(name, fk,
          "no parent row for " + fk.parentCols
            .map(c => s"$c=${r.get(r.fieldIndex(c))}").mkString(", "))
      }
    })
  }

  /** Declared FKs that reference `name` as their parent — the children
    * a parent-side DELETE must consult. Driver-side metadata. */
  private def childForeignKeys(
      name: String): Seq[(String, Warehouse.ForeignKey)] =
    specsNow.toSeq.sortBy(_._1).flatMap { case (t, s) =>
      s.foreignKeys.filter(_.parent == name).map(t -> _) }

  /** ON DELETE RESTRICT probes (the parent-side half of FK
    * enforcement): reject the delete if any child still references a
    * doomed key. `doomedKeys` carries the PARENT's PK columns (one row
    * per deleted row — PK uniqueness makes "row deleted ⇒ key gone"
    * exact, no survivor scan needed). One semi-join probe per
    * referencing child, sharing ONE checkpoint of the distinct doomed
    * keys — taken by the first probe to need it, released after the
    * wave — and file-skipped on the CHILD by the keys' extrema/blooms,
    * so a thin delete probes only key-overlapping child files. No-op (and
    * zero added work) for tables nothing references. Self-FK rows
    * deleted in the same statement still count as referencing — a
    * delete that would orphan survivors rejects either way, which is
    * RESTRICT's conservative contract.
    *
    * @param skipChildren children whose referencing rows this same
    *   operation REPLACES wholesale ([[overwrite]]/[[restore]] of a
    *   self-FK table pass their own name): the old rows' references
    *   die with them, and the replacement batch is validated
    *   separately via [[foreignKeyProbes]] with `replacedParents`.
    */
  private def restrictProbes(name: String,
      doomedKeys: => DataFrame,
      skipChildren: Set[String] = Set.empty): Probes = {
    val children = childForeignKeys(name)
      .filterNot { case (c, _) => skipChildren.contains(c) }
    if (children.isEmpty) return Probes(Nil)
    var taken = false // set once the checkpoint exists
    lazy val keys = {
      val k = doomedKeys.distinct().localCheckpoint(true)
      taken = true
      k
    }
    Probes(children.map { case (child, fk) => () =>
      import org.apache.spark.sql.functions.col
      val asChild = fk.parentCols.zip(fk.cols)
        .foldLeft(keys) { case (d, (p, c)) => d.withColumnRenamed(p, c) }
      keyProbeScope(child, fk.cols, asChild).foreach { scan =>
        val hit = scan.select(fk.cols.map(col): _*)
          .join(asChild, fk.cols, "left_semi").limit(1).collect()
        if (hit.nonEmpty) {
          val r = hit.head
          throw Warehouse.ForeignKeyViolation(child, fk,
            s"ON DELETE RESTRICT: $child still references " +
              fk.cols.map(c => s"$c=${r.get(r.fieldIndex(c))}")
                .mkString(", "))
        }
      }
    }, Seq(() => if (taken) keys.unpersist()))
  }

  /** [[checkProbes]] against an EXPLICIT constraint set — the form
    * [[addCheck]] validates a candidate with, so the candidate is never
    * visible to concurrent writers before it passes.
    */
  private def checkProbes(name: String, df: DataFrame,
      checksIn: Map[String, String]): Probes = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    val checks = checksIn.toSeq.sortBy(_._1)
    if (checks.isEmpty) return Probes(Nil)
    Probes(Seq { () =>
      val aggs = checks.map { case (n, e) =>
        sum(when(not(coalesce(expr(e), lit(true))), 1L).otherwise(0L)).as(n) }
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      checks.zipWithIndex.foreach { case ((n, e), i) =>
        val v = if (row.isNullAt(i)) 0L else row.getLong(i) // empty batch
        if (v > 0L) throw Warehouse.CheckViolation(name, n, e, v)
      }
    })
  }

  /** DDL: declare a CHECK constraint. Validates the expression against
    * the CURRENT data first (one aggregate over the manifest-planned
    * scan — existing rows must satisfy a new constraint, the Delta
    * `ALTER TABLE ADD CONSTRAINT` contract), then persists it in
    * `_meta/` so reopened warehouses enforce it too. Single-writer
    * contract, like [[addColumn]].
    */
  def addCheck(name: String, checkName: String, exprSql: String): Unit = {
    val spec = specsNow.getOrElse(name,
      throw new IllegalArgumentException(s"addCheck: no table $name"))
    require(!spec.checks.contains(checkName),
      s"addCheck: $name already has constraint $checkName")
    // validate against a LOCAL candidate set — the constraint is never
    // published to specsNow until it passes, so a concurrent append can
    // neither transiently enforce a doomed constraint nor observe a
    // mid-validation rollback
    runProbes(checkProbes(name, read(name), Map(checkName -> exprSql)))
    specsLock.synchronized {
      val cur = specsNow(name)
      specsNow = specsNow.updated(name,
        cur.copy(checks = cur.checks + (checkName -> exprSql)))
    }
    persistSpec(name)
  }

  /** DDL: declare a UNIQUE constraint on an EXISTING table — validates
    * the CURRENT data first (one grouped aggregate over the
    * manifest-planned scan, NULLS DISTINCT like enforcement), then
    * persists. The [[addCheck]] shape: nothing publishes to specsNow
    * until the data passes. Single-writer DDL contract.
    */
  def addUnique(name: String, cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val spec = specsNow.getOrElse(name,
      throw new IllegalArgumentException(s"addUnique: no table $name"))
    // the candidate spec's own requires validate the group
    val candidate = spec.copy(unique = spec.unique :+ cols)
    val nn = cols.map(c => col(c).isNotNull).reduce(_ && _)
    val dup = read(name).where(nn).groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("__gf_uq_n")).where(col("__gf_uq_n") > 1)
      .limit(1).collect()
    if (dup.nonEmpty) {
      val r = dup.head
      throw Warehouse.UniqueViolation(name, cols,
        "existing rows violate the new constraint: " +
          cols.map(c => s"$c=${r.get(r.fieldIndex(c))}").mkString(", "))
    }
    specsLock.synchronized {
      specsNow = specsNow.updated(name, candidate)
    }
    persistSpec(name)
  }

  /** DDL: declare a FOREIGN KEY on an EXISTING table — validates the
    * parent target like createTable, then that every CURRENT non-null
    * key has a parent row (one anti-join probe, file-skipped on the
    * parent), then persists. Single-writer DDL contract.
    */
  def addForeignKey(name: String, fk: Warehouse.ForeignKey): Unit = {
    val spec = specsNow.getOrElse(name,
      throw new IllegalArgumentException(s"addForeignKey: no table $name"))
    fk.cols.foreach(c => require(spec.schema.fieldNames.contains(c),
      s"addForeignKey $name: no column $c"))
    val parentSpec = specsNow.getOrElse(fk.parent,
      throw new IllegalArgumentException(
        s"addForeignKey $name: $fk: parent table ${fk.parent} " +
          "does not exist"))
    require(parentSpec.primaryKey == fk.parentCols,
      s"addForeignKey $name: $fk: referenced columns must be exactly " +
        s"${fk.parent}'s PRIMARY KEY " +
        s"(${parentSpec.primaryKey.mkString(", ")})")
    fk.cols.zip(fk.parentCols).foreach { case (c, p) =>
      require(spec.schema(c).dataType == parentSpec.schema(p).dataType,
        s"addForeignKey $name: $fk: $c vs ${fk.parent}.$p: " +
          "key types must match")
    }
    // validate current data through the ENFORCEMENT path against a
    // LOCAL candidate (publish only after it passes)
    specsLock.synchronized {
      specsNow = specsNow.updated(name,
        spec.copy(foreignKeys = spec.foreignKeys :+ fk))
    }
    try runProbes(foreignKeyProbes(name, read(name)))
    catch { case t: Throwable =>
      specsLock.synchronized { specsNow = specsNow.updated(name, spec) }
      throw t
    }
    persistSpec(name)
  }

  /** DDL: set / replace a column's DEFAULT fill expression (constant —
    * validated like createTable). Existing rows are untouched (DEFAULT
    * is an append-time fill rule). Empty `exprSql` DROPS the default.
    */
  def setDefault(name: String, colName: String, exprSql: String): Unit = {
    val spec = specsNow.getOrElse(name,
      throw new IllegalArgumentException(s"setDefault: no table $name"))
    require(spec.schema.fieldNames.contains(colName),
      s"setDefault $name: no column $colName")
    if (exprSql.isEmpty) {
      specsLock.synchronized {
        specsNow = specsNow.updated(name,
          spec.copy(defaults = spec.defaults - colName))
      }
      persistSpec(name)
      return
    }
    // the candidate spec's requires validate generated/identity clashes
    val candidate =
      spec.copy(defaults = spec.defaults + (colName -> exprSql))
    try {
      spark.range(1).select(org.apache.spark.sql.functions.expr(exprSql)
        .cast(spec.schema(colName).dataType)).collect()
      ()
    } catch { case ex: Exception =>
      throw new IllegalArgumentException(
        s"setDefault $name.$colName: '$exprSql' does not evaluate as " +
          s"a constant: ${ex.getMessage}")
    }
    specsLock.synchronized {
      specsNow = specsNow.updated(name, candidate)
    }
    persistSpec(name)
  }

  // ------------------------------------------------------------------
  // EQUI-HEIGHT COLUMN HISTOGRAMS — `ANALYZE TABLE ... COMPUTE
  // STATISTICS FOR [ALL] COLUMNS`, CBO's skew story. The manifest
  // already feeds the optimizer exact rows/bytes, NDV and min/max for
  // free; what none of those can say is WHERE the mass sits — a range
  // predicate over a skewed column estimates uniform and misorders
  // joins. One ANALYZE runs two distributed passes (endpoints via
  // percentile_approx, per-bin NDVs via the interval-HLL aggregate —
  // both single-job across ALL requested columns) and persists an
  // immutable per-version JSON basis; every head/time-travel read at
  // or past that version publishes the bins through
  // `CatalogColumnStat.histogram`, which Spark's FilterEstimation /
  // JoinEstimation consume natively. Staleness is guarded by the
  // manifest itself: the basis records its live-row count, and a read
  // whose exact current count drifts beyond
  // [[Warehouse.histogramDriftFactor]] WITHHOLDS the bins (min/max/NDV
  // keep flowing — they are maintained by the write path; the
  // histogram is the only stat with an ANALYZE-time basis).
  // ------------------------------------------------------------------

  private def histDir(name: String): Path =
    new Path(new Path(new Path(dir, "_meta"), "_hist"), name)

  /** The double axis a column's histogram lives on, matching what
    * CBO's EstimationUtils derives from Catalyst literals: the raw
    * value for numerics, epoch DAYS for dates, epoch MICROS for
    * timestamps. None = no histogram story for the type (strings /
    * binary / complex; TimestampNTZ is skipped — converting it to a
    * micros axis would need a zone the type deliberately lacks).
    */
  private def histAxis(name: String, c: String)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, unix_date, unix_micros}
    import org.apache.spark.sql.types.{DecimalType, DoubleType => DT,
      FloatType}
    tables(name).find(_.name == c).flatMap(f =>
      if (Warehouse.physicalName(f) != f.name) None // column-mapped
      else f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             _: DecimalType => Some(col(c).cast("double"))
        case DT => Some(col(c))
        case DateType => Some(unix_date(col(c)).cast("double"))
        case TimestampType => Some(unix_micros(col(c)).cast("double"))
        case _ => None
      })
  }

  /** Build + persist equi-height histograms for `cols` (empty = every
    * supported column) over the CURRENT snapshot. Two jobs total,
    * regardless of column count; the basis lands as ONE immutable JSON
    * (`_meta/_hist/<table>/v<version>.json` — write-then-rename, like
    * every metadata publish here) and older bases are swept
    * best-effort (publication always picks the newest at-or-below the
    * read version, so the sweep is garbage collection, not
    * correctness). All-null columns are skipped (no axis to bin).
    *
    * Scale shape: pass 1 is `count + percentile_approx` per column in
    * one aggregate (driver holds numBins+1 doubles per column), pass 2
    * is one interval-NDV sketch per column in one aggregate — both
    * shuffle a constant-size state per partition, never rows; the
    * scans plan LAZY where a columnar checkpoint serves the version,
    * so the driver never folds the entry list either. At 100 TB this
    * is two scans of the analyzed columns and nothing else; the
    * published artifact is a few KB.
    *
    * @return column → bin count actually built
    */
  def analyzeColumns(name: String, cols0: Seq[String] = Nil,
      numBins: Int = 64): Map[String, Long] = {
    require(specsNow.contains(name), s"analyzeColumns: no table $name")
    require(numBins >= 2 && numBins <= 1024,
      s"analyzeColumns $name: numBins must be in [2, 1024], got $numBins")
    val schema = tables(name)
    val cols: Seq[String] =
      if (cols0.nonEmpty) {
        cols0.foreach { c =>
          require(schema.fieldNames.contains(c),
            s"analyzeColumns $name: no column $c")
          require(histAxis(name, c).isDefined,
            s"analyzeColumns $name: column $c has no histogram axis " +
              "(numeric, date and timestamp columns only)")
        }
        cols0
      } else schema.fieldNames.toSeq
        .filter(c => histAxis(name, c).isDefined)
    val v = loadLatest(name)._1
    require(v > 0L, s"analyzeColumns $name: table has no committed version")
    if (cols.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{approx_count_distinct, count,
      lit, max, min, percentile_approx}
    // plan the scans LAZY where a columnar checkpoint serves the
    // version — ANALYZE targets exactly the tables whose entry list
    // must never fold on the driver; the eager readVersion is the
    // small-table fallback
    val df = (if (!eagerlyCached(name, v))
        lazyRead(name, v) else None)
      .getOrElse(readVersion(name, v))
    val pcts = (0 to numBins).map(_.toDouble / numBins).toArray
    // pass 1: total rows + per-column (non-null count, endpoints, NDV,
    // min, max) — the full Spark-ANALYZE column basis, one job
    val aggs1 = count(lit(1)).as("__rows") +: cols.flatMap { c =>
      val ax = histAxis(name, c).get
      Seq(count(ax).as(s"__n_$c"),
        percentile_approx(ax, lit(pcts), lit(10000)).as(s"__p_$c"),
        approx_count_distinct(ax).as(s"__d_$c"),
        min(ax).as(s"__lo_$c"), max(ax).as(s"__hi_$c"))
    }
    val row1 = df.agg(aggs1.head, aggs1.tail: _*).head()
    val liveRows = row1.getLong(0)
    final case class Basis(c: String, n: Long, eps: Array[Double],
      ndv: Long, lo: Double, hi: Double)
    val bases = cols.zipWithIndex.flatMap { case (c, i) =>
      val n = row1.getLong(1 + 5 * i)
      if (n == 0L) None
      else Some(Basis(c, n, row1.getSeq[Double](2 + 5 * i).toArray,
        row1.getLong(3 + 5 * i), row1.getDouble(4 + 5 * i),
        row1.getDouble(5 + 5 * i)))
    }
    if (bases.isEmpty) return Map.empty
    // pass 2: per-bin NDV sketches, all columns in one aggregate
    val aggs2 = bases.map { b =>
      import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
      val ep = CreateArray(b.eps.toIndexedSeq.map(e => Literal(e)))
      org.apache.spark.sql.GraftBridge.toColumn(
        org.apache.spark.sql.catalyst.expressions.aggregate
          .ApproxCountDistinctForIntervals(
            org.apache.spark.sql.GraftBridge.toExpr(histAxis(name, b.c).get),
            ep, 0.05)
          .toAggregateExpression()).as(s"__b_${b.c}")
    }
    val row2 = df.agg(aggs2.head, aggs2.tail: _*).head()
    val hists: Map[String, Warehouse.HistCol] =
      bases.zipWithIndex.map { case (b, i) =>
        val ndvs = row2.getSeq[Long](i)
        val bins = (0 until numBins).map { j =>
          org.apache.spark.sql.catalyst.plans.logical.HistogramBin(
            b.eps(j), b.eps(j + 1), math.max(1L, ndvs(j)))
        }.toArray
        b.c -> Warehouse.HistCol(
          org.apache.spark.sql.catalyst.plans.logical.Histogram(
            b.n.toDouble / numBins, bins),
          b.ndv, b.lo, b.hi, liveRows - b.n)
      }.toMap
    // persist (immutable per analyzed version), then sweep older bases
    val fs = fileSystem
    fs.mkdirs(histDir(name))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("version", v)
    node.put("rows", liveRows)
    node.put("numBins", numBins)
    val colsNode = node.putObject("columns")
    hists.toSeq.sortBy(_._1).foreach { case (c, hc) =>
      val cn = colsNode.putObject(c)
      cn.put("height", hc.hist.height)
      cn.put("ndv", hc.ndv)
      cn.put("lo", hc.lo)
      cn.put("hi", hc.hi)
      cn.put("nulls", hc.nulls)
      val bn = cn.putArray("bins")
      hc.hist.bins.foreach { b =>
        val e = bn.addArray(); e.add(b.lo); e.add(b.hi); e.add(b.ndv)
      }
    }
    val tmp = new Path(histDir(name), s".tmp-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(m.writeValueAsString(node)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(histDir(name), f"v$v%012d.json")
    fs.delete(dest, false) // re-analyze at the same version replaces
    require(fs.rename(tmp, dest),
      s"analyzeColumns $name: histogram publish failed")
    // GC: RETAIN the newest prior basis besides the new one —
    // publication picks newest-at-or-below the read version, so
    // pinned/time-travel readers below the new basis keep their
    // histograms across a re-ANALYZE (advisory stats, but an
    // observable planner regression if swept); bases older than that
    // one go.
    fs.listStatus(histDir(name)).toSeq.flatMap { st =>
      val n0 = st.getPath.getName
      if (n0 != dest.getName && n0.startsWith("v") && n0.endsWith(".json"))
        scala.util.Try(n0.stripPrefix("v").stripSuffix(".json").toLong)
          .toOption.map(_ -> st.getPath)
      else None
    }.sortBy(-_._1).drop(1).foreach { case (_, p) => fs.delete(p, false) }
    Warehouse.hists.invalidate(s"$dir#$name#")
    hists.view.mapValues(_.hist.bins.length.toLong).toMap
  }

  /** Newest-basis STALENESS probe: Some(true) when the head's live row
    * count has drifted beyond [[Warehouse.histogramDriftFactor]] of the
    * newest basis's rows — reads are already WITHHOLDING the bins, so
    * CBO has quietly degraded to manifest stats; Some(false) while the
    * basis still publishes; None when never analyzed (or empty table).
    * Metadata-bounded: rows come from the cached snapshot fold or the
    * memoized distributed manifest agg, never a data scan.
    */
  def histogramStale(name: String): Option[Boolean] = {
    val v = versions(name).lastOption.getOrElse(return None)
    val b = histogramsAt(name, v).getOrElse(return None)
    val cur = currentLiveRows(name, v)
    val f = Warehouse.histogramDriftFactor
    // zero-row basis (analyzed while empty): stale only once data
    // exists — `!(b.rows > 0 && ...)` would read Some(true) forever on
    // a still-empty table, and compact/optimize would re-ANALYZE on every
    // compact/optimize without the fresh (still zero-row) basis ever
    // clearing the flag
    Some(if (b.rows == 0L) cur > 0L
         else !(cur <= b.rows * f && cur * f >= b.rows))
  }

  private def currentLiveRows(name: String, v: Long): Long =
    Warehouse.snapshots.get(cacheKey(name, v))
      .map(_.iterator.map(e => e.rows - e.dvRows).sum)
      .orElse(lazySnapshotAgg(name, v).map(_.rows).filter(_ >= 0L))
      .getOrElse(loadAt(name, v).iterator.map(e => e.rows - e.dvRows).sum)

  /** Re-ANALYZE when stale — the maintenance-time half of the
    * histogram lifecycle: if [[histogramStale]] says the newest basis
    * has drifted past the withhold guard, re-run [[analyzeColumns]]
    * with the SAME columns (those still carrying a histogram axis —
    * schema evolution drops out) and the same bin count.
    * [[compact]]/[[optimize]] invoke this automatically — the natural
    * moment, since a rewrite pays a full read anyway; callers with
    * their own maintenance windows can invoke it directly.
    *
    * @return true iff a re-analysis actually ran
    */
  def reanalyzeIfStale(name: String): Boolean =
    histogramStale(name).contains(true) && {
      val b = histogramsAt(name, versions(name).last).get
      val cs = b.cols.keys.toSeq.sorted
        .filter(c => histAxis(name, c).isDefined)
      cs.nonEmpty && {
        analyzeColumns(name, cs,
          numBins = b.cols.head._2.hist.bins.length)
        true
      }
    }

  /** The newest persisted histogram basis at or below version `v`.
    * Memoized per lifetime-keyed VERSION — a same-process ANALYZE
    * invalidates; another process's ANALYZE (including a table's
    * first-ever) surfaces at the next version change: each new version
    * costs at most ONE `listStatus` of the basis directory on its
    * first histogram ask, one cheap metadata RPC amid the commit that
    * minted the version. (r12 additionally memoized "never analyzed"
    * per LIFETIME to save that RPC, at the cost of a foreign process's
    * first ANALYZE staying invisible until restart — the wrong side of
    * the trade for a long-lived service JVM.) Histograms are advisory
    * planner stats, never correctness.
    */
  private[graft] def histogramsAt(name: String, v: Long)
      : Option[Warehouse.HistBasis] = {
    val key = cacheKey(name, v) + "#hist"
    Warehouse.hists.get(key) match {
      case Some(hit) => return hit
      case None =>
    }
    val fs = fileSystem
    val d = histDir(name)
    // ONE metadata RPC for the probe: a missing directory throws
    // instead of costing a separate exists() round-trip first
    val listing =
      try fs.listStatus(d).toSeq
      catch { case _: java.io.FileNotFoundException =>
        Warehouse.hists.put(key, None)
        return None
      }
    val out =
      listing.flatMap { st =>
        val n0 = st.getPath.getName
        if (n0.startsWith("v") && n0.endsWith(".json"))
          scala.util.Try(n0.stripPrefix("v").stripSuffix(".json").toLong)
            .toOption.filter(_ <= v).map(_ -> st.getPath)
        else None
      }.sortBy(_._1).lastOption.flatMap { case (hv, p) =>
        scala.util.Try {
          val in = fs.open(p)
          val text = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8) finally in.close()
          val m = new com.fasterxml.jackson.databind.ObjectMapper()
          val root = m.readTree(text)
          val rows = root.get("rows").asLong()
          val cols = scala.collection.mutable.LinkedHashMap
            .empty[String, Warehouse.HistCol]
          val it = root.get("columns").fields()
          while (it.hasNext) {
            val e = it.next()
            val h = e.getValue
            val bins = (0 until h.get("bins").size()).map { j =>
              val b = h.get("bins").get(j)
              org.apache.spark.sql.catalyst.plans.logical.HistogramBin(
                b.get(0).asDouble(), b.get(1).asDouble(), b.get(2).asLong())
            }.toArray
            cols(e.getKey) = Warehouse.HistCol(
              org.apache.spark.sql.catalyst.plans.logical.Histogram(
                h.get("height").asDouble(), bins),
              h.get("ndv").asLong(), h.get("lo").asDouble(),
              h.get("hi").asDouble(), h.get("nulls").asLong())
          }
          Warehouse.HistBasis(hv, rows, cols.toMap)
        }.toOption // a torn/corrupt basis just withholds bins
      }
    Warehouse.hists.put(key, out)
    out
  }

  /** A manifest footer stat (long-encoded: raw value for integrals,
    * epoch days for dates, epoch micros for timestamps) as
    * CatalogColumnStat's external string, converted in the READING
    * session — `toExternalString` here ↔ `fromExternalString` in
    * toPlanStats run under the same session formatter, so
    * zone-formatted types round-trip by construction. None = a type
    * whose manifest encoding has no publishable external form.
    */
  private def manifestStatExternal(f: StructField, raw: Long)
      : Option[String] = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(raw.toString)
    case DateType => Some(org.apache.spark.sql.catalyst.catalog
      .CatalogColumnStat.toExternalString(raw.toInt, f.name, DateType))
    case TimestampType | TimestampNTZType =>
      Some(org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
        .toExternalString(raw, f.name, f.dataType))
    case _ => None
  }

  /** The basis min/max on CBO's external-string axis, converted in the
    * READING session (`toExternalString` here ↔ `fromExternalString`
    * in toPlanStats — same session, same formatter, so zone-formatted
    * types round-trip by construction). None when the double axis
    * cannot represent the type exactly (a long beyond 2^53, decimals).
    */
  private def histExternal(f: StructField, axisValue: Double)
      : Option[String] = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType,
      FloatType}
    val internal: Option[Any] = f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType =>
        val l = axisValue.toLong
        if (l.toDouble != axisValue) None // lost precision on the axis
        else f.dataType match {
          case ByteType => Some(l.toByte)
          case ShortType => Some(l.toShort)
          case IntegerType | DateType => Some(l.toInt)
          case _ => Some(l)
        }
      case FloatType => Some(axisValue.toFloat)
      case DoubleType => Some(axisValue)
      case _: DecimalType => None
      case _ => None
    }
    internal.map(v => org.apache.spark.sql.catalyst.catalog
      .CatalogColumnStat.toExternalString(v, f.name, f.dataType))
  }

  /** Merge the persisted histogram basis (if any, and if its row basis
    * is still within drift of the CURRENT exact count) into the
    * manifest-derived column stats — the publication step shared by
    * the eager and lazy read paths. Manifest-derived fields win per
    * field (they are exact and write-maintained); the basis fills the
    * gaps — ndv/min/max/nullCount for columns the manifest does not
    * cover, plus the bins themselves (CBO's FilterEstimation consults
    * a histogram only alongside min/max and a distinct count, so the
    * basis must be publishable as a complete column stat). Columns
    * whose type lost its axis (evolution) or that were renamed since
    * the basis never publish.
    */
  private def withHistograms(name: String,
      colStats: Map[String,
        org.apache.spark.sql.catalyst.catalog.CatalogColumnStat],
      histVersion: Option[Long], currentRows: Option[Long])
      : Map[String,
        org.apache.spark.sql.catalyst.catalog.CatalogColumnStat] = {
    val basis = histVersion.flatMap(hv => histogramsAt(name, hv))
    basis match {
      case Some(b) if currentRows.exists { cur =>
          val f = Warehouse.histogramDriftFactor
          b.rows > 0L && cur <= b.rows * f && cur * f >= b.rows } =>
        val schema = tables(name)
        b.cols.foldLeft(colStats) { case (acc, (c, hc)) =>
          if (histAxis(name, c).isEmpty) acc // type/name moved on
          else {
            val f = schema.find(_.name == c).get
            val lo = histExternal(f, hc.lo)
            val hi = histExternal(f, hc.hi)
            acc.updatedWith(c) {
              case Some(cs) => Some(cs.copy(
                histogram = Some(hc.hist),
                distinctCount = cs.distinctCount
                  .orElse(Some(BigInt(hc.ndv))),
                min = cs.min.orElse(lo), max = cs.max.orElse(hi),
                nullCount = cs.nullCount.orElse(Some(BigInt(hc.nulls)))))
              case None => Some(org.apache.spark.sql.catalyst.catalog
                .CatalogColumnStat(
                  distinctCount = Some(BigInt(hc.ndv)),
                  min = lo, max = hi,
                  nullCount = Some(BigInt(hc.nulls)),
                  histogram = Some(hc.hist)))
            }
          }
        }
      case _ => colStats
    }
  }

  // ------------------------------------------------------------------
  // TAGS — named, immutable version labels (Iceberg's `CREATE TAG`)
  // ------------------------------------------------------------------

  private def tagsDir(name: String): Path =
    new Path(new Path(new Path(dir, "_meta"), "_tags"), name)

  /** TAG a version with an immutable name (Iceberg's `ALTER TABLE ...
    * CREATE TAG`): `readTag`/`VERSION AS OF '<tag>'` then resolve it
    * forever, and — the load-bearing half — [[vacuum]] PINS every
    * tagged version's files, so a tagged snapshot stays readable past
    * any retention window until [[dropTag]] releases it. Tags are
    * create-exclusive (publish-once): re-pointing a name means drop +
    * create, so a tag can never silently move under a reader.
    *
    * Scale shape: a tag is one ~20-byte metadata file; pinning costs
    * vacuum exactly the tagged manifests' entry lists (driver-side
    * metadata it already folds), never a data pass.
    *
    * @param version version to tag (default: current head); must be a
    *   committed, visible version
    * @return the tagged version
    */
  def createTag(name: String, tag: String, version: Long = -1L): Long = {
    require(specsNow.contains(name), s"createTag: no table $name")
    require(tag.matches("""[A-Za-z][\w.-]*"""),
      s"createTag: tag '$tag' must start with a letter and use only " +
        "word characters, dots and dashes (so it can never be confused " +
        "with a numeric version)")
    val v = if (version >= 0L) version else loadLatest(name)._1
    require(v > 0L, s"createTag $name: table not bootstrapped")
    require(rawVersions(name).contains(v) && isVisible(name, v),
      s"createTag $name: version $v does not exist (or is pending)")
    fileSystem.mkdirs(tagsDir(name))
    require(publishExclusive(new Path(tagsDir(name), tag),
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      s"createTag $name: tag '$tag' already exists (tags are " +
        "immutable — DROP TAG first to re-point the name)")
    v
  }

  /** Release a tag: the version stays readable until vacuum's normal
    * retention collects it like any untagged version.
    */
  def dropTag(name: String, tag: String): Unit = {
    // same grammar as createTag — '.'/'..' would otherwise resolve
    // OUTSIDE the tag directory (path traversal on the delete)
    require(tag.matches("""[A-Za-z][\w.-]*"""),
      s"dropTag $name: invalid tag name '$tag'")
    val p = new Path(tagsDir(name), tag)
    require(fileSystem.exists(p), s"dropTag $name: no tag '$tag'")
    fileSystem.delete(p, false)
  }

  /** All tags of a table: tag → pinned version. */
  def tags(name: String): Map[String, Long] = {
    val d = tagsDir(name)
    val fs = fileSystem
    if (!fs.exists(d)) return Map.empty
    fs.listStatus(d).toSeq.map { st =>
      val in = fs.open(st.getPath)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      st.getPath.getName -> text.trim.toLong
    }.toMap
  }

  /** [[readVersion]] at a tag's pinned version. */
  def readTag(name: String, tag: String): DataFrame =
    readVersion(name, tags(name).getOrElse(tag,
      throw new IllegalArgumentException(
        s"readTag $name: no tag '$tag' (have: ${tags(name).keys.toSeq.sorted
          .mkString(", ")})")))

  /** DDL: drop a UNIQUE constraint — PURE METADATA (enforcement simply
    * stops; data, footer stats and bloom sidecars are untouched — they
    * serve any probe, not just this constraint). The group matches a
    * declared one set-wise (column order is irrelevant to uniqueness).
    * The SQL undo path for [[addUnique]]: a migration that declared the
    * wrong key backs out without a rewrite. Single-writer DDL contract.
    */
  def dropUnique(name: String, cols: Seq[String]): Unit = {
    val spec = specsNow.getOrElse(name,
      throw new IllegalArgumentException(s"dropUnique: no table $name"))
    val hit = spec.unique.find(_.toSet == cols.toSet).getOrElse(
      throw new IllegalArgumentException(
        s"dropUnique $name: no UNIQUE (${cols.mkString(", ")}) declared" +
          (if (spec.unique.isEmpty) "" else " (have: " +
            spec.unique.map(_.mkString("(", ", ", ")")).mkString(", ") + ")")))
    specsLock.synchronized {
      val cur = specsNow(name)
      specsNow = specsNow.updated(name,
        cur.copy(unique = cur.unique.filterNot(_ == hit)))
    }
    persistSpec(name)
  }

  /** DDL: drop a FOREIGN KEY — pure metadata, the undo path for
    * [[addForeignKey]]. Matched by the CHILD columns (constraints are
    * unnamed here, and one column set referencing two parents is not
    * expressible anyway — the error names the declared keys when the
    * match fails). Single-writer DDL contract.
    */
  def dropForeignKey(name: String, cols: Seq[String]): Unit = {
    val spec = specsNow.getOrElse(name,
      throw new IllegalArgumentException(s"dropForeignKey: no table $name"))
    val hit = spec.foreignKeys.find(_.cols.toSet == cols.toSet).getOrElse(
      throw new IllegalArgumentException(
        s"dropForeignKey $name: no FOREIGN KEY on " +
          s"(${cols.mkString(", ")})" +
          (if (spec.foreignKeys.isEmpty) "" else " (have: " +
            spec.foreignKeys.map(fk => fk.cols.mkString("(", ", ", ")") +
              s" -> ${fk.parent}").mkString(", ") + ")")))
    specsLock.synchronized {
      val cur = specsNow(name)
      specsNow = specsNow.updated(name,
        cur.copy(foreignKeys = cur.foreignKeys.filterNot(_ == hit)))
    }
    persistSpec(name)
  }

  /** DDL: drop the PRIMARY KEY — REFUSES while any FOREIGN KEY (self
    * included) references it: FKs are validated against exactly the
    * parent's PK, so dropping it out from under them would orphan the
    * RESTRICT contract itself. Pure metadata otherwise: the table
    * becomes append-without-collision-probe, footer stats and bloom
    * sidecars stay (they serve range/point reads regardless), and
    * already-stored rows are untouched. Single-writer DDL contract.
    */
  def dropPrimaryKey(name: String): Unit = {
    val spec = specsNow.getOrElse(name,
      throw new IllegalArgumentException(s"dropPrimaryKey: no table $name"))
    require(spec.primaryKey.nonEmpty,
      s"dropPrimaryKey: $name declares no PRIMARY KEY")
    val referers = childForeignKeys(name).map(_._1)
    require(referers.isEmpty,
      s"dropPrimaryKey $name: table(s) ${referers.distinct.sorted
        .mkString(", ")} declare FOREIGN KEYs referencing it — drop " +
        "those first")
    specsLock.synchronized {
      val cur = specsNow(name)
      specsNow = specsNow.updated(name, cur.copy(primaryKey = Nil))
    }
    persistSpec(name)
  }

  /** DDL: drop a CHECK constraint. */
  def dropCheck(name: String, checkName: String): Unit = {
    require(specsNow.getOrElse(name,
      throw new IllegalArgumentException(s"dropCheck: no table $name"))
      .checks.contains(checkName),
      s"dropCheck: $name has no constraint $checkName")
    specsLock.synchronized {
      val cur = specsNow(name)
      specsNow = specsNow.updated(name,
        cur.copy(checks = cur.checks - checkName))
    }
    persistSpec(name)
  }

  /** Garbage collection with RETENTION-COHERENT semantics: the kept
    * manifests (the newest `keepManifests` versions) define the live
    * set — every file any of them references survives, so the retained
    * versions stay [[readVersion]]-readable after the vacuum. Deleted:
    * data files referenced by no kept manifest (crash leftovers,
    * replaced files past retention), stray staging trees, and the
    * manifests older than the horizon, then the transaction markers
    * naming this table that no member's manifest carries any more
    * ([[reclaimTxnMarkers]]). Single-writer contract: must not run
    * concurrently with a mutation.
    *
    * @param dryRun report WITHOUT deleting: returns the count of data
    *   files retention would collect, touches nothing (no stale-txn
    *   aborts, no checkpoint materialization, no sidecar cleanup, no
    *   marker reclamation) — every pending transaction is
    *   conservatively treated as live.
    * @return number of orphan data files deleted
    */
  def vacuum(name: String, keepManifests: Int = 2,
      dryRun: Boolean = false): Long = {
    val fs = fileSystem
    val all = rawVersions(name)
    if (all.isEmpty) return 0L
    // TAGGED versions are pinned live regardless of retention (the
    // tag contract — see createTag); a tag pointing at an already-
    // collected version (pre-tag-era vacuum) pins nothing
    val tagged = tags(name).values.toSeq.distinct.filter(all.contains)
    if (dryRun) {
      val kept = (all.filter(isVisible(name, _))
        .takeRight(math.max(keepManifests, 1)) ++
        all.filterNot(isVisible(name, _)) ++ tagged).distinct.sorted
      val live = kept.flatMap(entriesLight(name, _)).map(_.rel).toSet ++
        borrowedFromBy(name).keySet
      return FsListing.dataFiles(path(name))
        .count { case (rel, _) => !live(rel) }.toLong
    }
    // Pending members of unconfirmed multi-table transactions: STALE
    // ones are a dead writer's leftovers (crashed between its member
    // commits and the marker) — aborting deletes their manifests so
    // their files become collectable orphans below; FRESH ones may yet
    // confirm, so their manifests and files both survive this vacuum.
    val pendingLive = all.filterNot(isVisible(name, _))
      .filterNot(abortPending(name, _))
    val confirmed = all.filter(isVisible(name, _))
    val keptConfirmed = confirmed.takeRight(math.max(keepManifests, 1))
    val kept = (keptConfirmed ++ pendingLive ++ tagged).distinct.sorted
    if (kept.isEmpty) return 0L
    // CLONE GUARD: other tables of this warehouse may be SHALLOW CLONES
    // whose manifests borrow this table's files by absolute reference —
    // those files are live no matter what THIS table's retention says
    // (vacuuming them would strand every clone at scan time, the Delta
    // caveat this guard closes). Protection scans the other tables'
    // retained manifests, bounded by their own vacuum retention.
    // rel + dv refs only — the SLIM columnar list where a checkpoint
    // serves the version (exactly the big-table case), the full fold
    // otherwise; folded ONCE per kept version, reused for every sweep
    val keptEntries = kept.map(v => v -> entriesLight(name, v)).toMap
    val live = keptEntries.valuesIterator.flatten.map(_.rel).toSet ++
      borrowedFromBy(name).keySet
    val n = sweepDataFiles(name, live)
    val staging = new Path(path(name), "_staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    // deletion-vector sidecars: live = referenced by any KEPT manifest
    // (superseded vectors of further deletes, and vectors of files
    // rewritten past retention, are orphans) or borrowed by a clone
    val dvDir = new Path(path(name), "_dv")
    if (fs.exists(dvDir)) {
      val liveDvs = keptEntries.valuesIterator.flatten
        .collect { case e if e.dv.nonEmpty && !new Path(e.dv).isAbsolute =>
          e.dv } .toSet ++ live.filter(_.startsWith("_dv/"))
      sweepSidecars(dvDir, n => liveDvs.contains(s"_dv/$n"))
    }
    // bloom/ndv sidecars of non-live files (replaced past retention,
    // crash leftovers): keep any sidecar whose rel-hash prefix matches
    // a live file, drop the rest
    val liveHashes = live.map(relHash)
    Seq(bloomDir(name), ndvDir(name)).foreach { sdir =>
      if (fs.exists(sdir))
        sweepSidecars(sdir, n => liveHashes.contains(n.takeWhile(_ != '-')))
    }
    // delta-manifest retention invariant: the oldest KEPT version must
    // be self-contained after its ancestors are deleted — materialize
    // it as a full checkpoint first if it's a delta (readers prefer
    // `.mf`, so the materialized file takes over and the `.mfd` is
    // dropped). Entries are reconstructible HERE because the ancestors
    // still exist; deletion happens strictly after.
    val oldestKept = kept.min
    val fullPath = new Path(manifestDir(name), f"v$oldestKept%012d.mf")
    if (!fs.exists(fullPath)) {
      val entries = loadAt(name, oldestKept)
      val meta = commitMeta(name, oldestKept)
      val metaLine =
        if (meta.isEmpty) Nil
        else Seq("#" + meta.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString("\t"))
      publishManifest(name, f"v$oldestKept%012d.mf",
        (ManifestHeader +: metaLine ++: entries.sortBy(_.rel)
          .map(Warehouse.formatEntry)).mkString("\n"), allowSibling = true)
      fs.delete(new Path(manifestDir(name), f"v$oldestKept%012d.mfd"), false)
      // a big materialized checkpoint earns its columnar sidecar too —
      // the oldest kept version anchors every retained delta chain
      if (entries.size >= columnarThreshold)
        try writeColumnarManifest(name, oldestKept, entries)
        catch { case scala.util.control.NonFatal(_) => () }
    }
    all.filter(_ < oldestKept).foreach { mv =>
      fs.delete(new Path(manifestDir(name), f"v$mv%012d.mf"), false)
      fs.delete(new Path(manifestDir(name), f"v$mv%012d.mfd"), false)
      fs.delete(mfpPath(name, mv), true) // columnar sidecar dies with it
    }
    reclaimTxnMarkers(name)
    n
  }

  /** Delete the transaction markers naming `name` that no member
    * table's on-disk manifest carries as `mtxn` any more — no version
    * consults them again. Markers are listed BEFORE any member's
    * manifests are read: a marker publishes only after every one of its
    * members' manifests did, so an in-flight transaction's manifests
    * are always seen (temp files of an in-flight publish start with
    * `.` and are skipped).
    */
  private def reclaimTxnMarkers(name: String): Unit = {
    val fs = fileSystem
    if (!fs.exists(txnDir)) return
    val markers = fs.listStatus(txnDir).toSeq.map(_.getPath)
      .filterNot(_.getName.startsWith(".")).map { p =>
        val in = fs.open(p)
        val body = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        p -> body.split('\n').map(_.takeWhile(_ != '\t')).toSet
      }.filter(_._2(name))
    val carried = markers.flatMap(_._2).distinct.flatMap(t =>
      rawVersions(t).flatMap(commitMeta(t, _).get("mtxn"))).toSet
    markers.foreach { case (p, _) =>
      if (!carried(p.getName)) fs.delete(p, false) }
  }

  /** Doomed-sidecar count at or above which [[sweepSidecars]]' deletes
    * run as a Spark job instead of a serial driver loop. `var` so
    * specs exercise the job path on small directories.
    */
  private[graft] var sidecarSweepThreshold: Int = 4096

  /** Doomed names per delete flush in [[sweepSidecars]] — the driver's
    * buffering bound. `var` so specs exercise multi-chunk sweeps on
    * small directories.
    */
  private[graft] var sidecarSweepChunk: Int = 65536

  /** A version's entries at the LOWEST driver cost for rel/dv-ref
    * consumers (vacuum's live sets, [[gc]]'s tag pins): the slim
    * columnar list when a checkpoint serves the version — ~150 B/entry,
    * no stats maps, exactly the big-table case — else the full
    * [[loadAt]] fold (small tables, pre-columnar history).
    *
    * Consumers are PIN paths (a missed entry could strand a clone or a
    * tag), so any columnar failure — not just a missing checkpoint —
    * falls back to the text fold rather than propagating.
    */
  private def entriesLight(name: String, v: Long): Seq[FileEntry] =
    scala.util.Try(slimEntriesAt(name, v)).toOption.flatten
      .getOrElse(loadAt(name, v))

  /** Vacuum's DATA-file sweep: delete every data file under the table
    * whose rel is not `live`, the same streamed-chunk shape as
    * [[sweepSidecars]] — doomed rels flush in [[sidecarSweepChunk]]-
    * bounded chunks (driver memory O(chunk)), and a chunk of
    * [[sidecarSweepThreshold]]+ rels deletes as a Spark job whose tasks
    * return their success counts (the serial loop counted successful
    * deletes; the job path must too). The `live` membership probe stays
    * driver-side — rels-only, the same ~25 B/file the slim snapshot
    * list holds.
    *
    * @return files deleted
    */
  private def sweepDataFiles(name: String, live: String => Boolean): Long = {
    val fs = fileSystem
    var n = 0L
    val chunk = scala.collection.mutable.ArrayBuffer.empty[String]
    def flush(): Unit = {
      if (chunk.isEmpty) return
      if (chunk.size < sidecarSweepThreshold)
        chunk.foreach { rel =>
          if (fs.delete(new Path(path(name), rel), false)) n += 1 }
      else {
        Warehouse.distributedDataSweeps.incrementAndGet()
        val dirStr = path(name)
        val conf = new org.apache.spark.util.SerializableConfiguration(
          hadoopConf)
        val parts = math.max(1, math.min(64, chunk.size / 4096 + 1))
        n += spark.sparkContext.parallelize(chunk.toSeq, parts)
          .mapPartitions { rels =>
            val base = new Path(dirStr)
            val tfs = base.getFileSystem(conf.value)
            Iterator.single(
              rels.count(r => tfs.delete(new Path(base, r), false)).toLong)
          }.sum().toLong
      }
      chunk.clear()
    }
    FsListing.dataFiles(path(name)).foreach { case (rel, _) =>
      if (!live(rel)) {
        chunk += rel
        if (chunk.size >= sidecarSweepChunk) flush()
      }
    }
    flush()
    n
  }

  /** Delete every file of `sdir` whose NAME fails `keep` — the shared
    * sweep under vacuum's three sidecar passes (`_dv`, `_bloomidx`,
    * `_ndvidx`). The listing STREAMS names (never an O(|sidecars|)
    * FileStatus array on the driver) and membership is driver-side
    * string work against sets vacuum already holds; doomed names flush
    * in [[sidecarSweepChunk]]-bounded chunks AS THE LISTING STREAMS, so
    * driver memory is O(chunk), never O(doomed) — at
    * [[sidecarSweepThreshold]]+ doomed files in a chunk the deletes run
    * as a Spark job (the serial loop verbatim, sliced across tasks:
    * same doomed set, same per-file delete, result-identical by
    * construction and spec-pinned).
    *
    * @return doomed-file count
    */
  private def sweepSidecars(sdir: Path, keep: String => Boolean): Long = {
    val fs = fileSystem
    var total = 0L
    val chunk = scala.collection.mutable.ArrayBuffer.empty[String]
    def flush(): Unit = {
      if (chunk.isEmpty) return
      if (chunk.size < sidecarSweepThreshold)
        chunk.foreach(n => fs.delete(new Path(sdir, n), false))
      else {
        Warehouse.distributedSidecarSweeps.incrementAndGet()
        val dirStr = sdir.toString
        val conf = new org.apache.spark.util.SerializableConfiguration(
          hadoopConf)
        val parts = math.max(1, math.min(64, chunk.size / 4096 + 1))
        spark.sparkContext.parallelize(chunk.toSeq, parts)
          .foreachPartition { names =>
            val base = new Path(dirStr)
            val tfs = base.getFileSystem(conf.value)
            names.foreach(n => tfs.delete(new Path(base, n), false))
          }
      }
      total += chunk.size
      chunk.clear()
    }
    val it = fs.listStatusIterator(sdir)
    while (it.hasNext) {
      val n = it.next().getPath.getName
      if (!keep(n)) {
        chunk += n
        if (chunk.size >= sidecarSweepChunk) flush()
      }
    }
    flush()
    total
  }

  /** FSCK: manifest ↔ filesystem consistency audit, read-only. Returns
    * one (severity, issue, detail) row per finding, empty = healthy:
    *
    *   - `error` / missing-file: a LIVE manifest entry whose data file
    *     is gone (external deletion; reads will fail at scan time)
    *   - `error` / size-mismatch: entry bytes ≠ filesystem bytes (the
    *     file was REWRITTEN in place — stats and skipping are
    *     untrustworthy for it)
    *   - `error` / missing-dv: an entry's deletion-vector sidecar is
    *     gone (vectored rows would resurface)
    *   - `info` / orphan-file: a data file no retained manifest (or
    *     borrowing clone) references — vacuum will collect it
    *
    * Borrowed absolute references (shallow clones) are checked for
    * existence like local ones. The audit never mutates anything — it
    * is the diagnosis half; vacuum/restore are the repair half.
    */
  def fsck(name: String): Seq[(String, String, String)] = {
    val out = Seq.newBuilder[(String, String, String)]
    val (v, entries) = loadLatest(name)
    if (v == 0L) return Seq.empty
    out ++= scanEntryDamage(name, entries)
    val retained = rawVersions(name).filter(isVisible(name, _))
      .flatMap(mv =>
        scala.util.Try(entriesLight(name, mv)).toOption.toSeq.flatten)
      .map(_.rel).toSet ++ borrowedFromBy(name).keySet
    FsListing.dataFiles(path(name)).foreach { case (rel, _) =>
      if (!retained(rel)) out += (("info", "orphan-file", rel))
    }
    out.result()
  }

  /** The subset of `entries` whose data file is MISSING on disk — the
    * existence audit behind time travel, clone, restore and feed
    * readability. One exists() RPC per file, so above
    * [[bloomProbeDistributedThreshold]] entries it runs as a Spark job
    * returning FINDINGS only (normally none); the job is the serial
    * filter verbatim sliced across tasks, order-preserving.
    */
  private def goneEntries(name: String,
      entries: Seq[FileEntry]): Seq[FileEntry] = {
    val tableDir = path(name)
    if (entries.size < bloomProbeDistributedThreshold) {
      val fs = fileSystem
      entries.filterNot(e => fs.exists(new Path(tableDir, e.rel)))
    } else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        hadoopConf)
      val parts = math.max(1, math.min(64, entries.size / 4096 + 1))
      // ship RELS only — the stats maps are the entry's heavy term and
      // the probe never reads them
      val gone = spark.sparkContext
        .parallelize(entries.map(_.rel), parts)
        .mapPartitions { it =>
          val tfs = new Path(tableDir).getFileSystem(conf.value)
          it.filterNot(rel => tfs.exists(new Path(tableDir, rel)))
        }.collect().toSet
      entries.filter(e => gone(e.rel))
    }
  }

  /** [[fsck]]'s per-entry damage scan (missing-file / size-mismatch /
    * missing-dv), run as a SPARK JOB above
    * [[bloomProbeDistributedThreshold]] entries: the serial loop is
    * 1-3 filesystem RPCs PER FILE on the driver — ~10⁶ round-trips at
    * the 800k design point — while the job returns only FINDINGS
    * (bounded by damage, normally zero). The job is the loop verbatim
    * sliced across tasks; parallelize+collect preserves entry order,
    * so the two paths are result-identical.
    */
  private def scanEntryDamage(name: String,
      entries: Seq[FileEntry]): Seq[(String, String, String)] = {
    val tableDir = path(name)
    // the probe reads rel/bytes/dv/dvRows only — ship slim tuples, not
    // the stats-map-bearing FileEntry
    def damage(fs: org.apache.hadoop.fs.FileSystem,
        e: (String, Long, String, Long)): Seq[(String, String, String)] = {
      val (rel, bytes, dv, dvRows) = e
      val b = Seq.newBuilder[(String, String, String)]
      val p = if (rel.startsWith("/")) new Path(rel)
        else new Path(tableDir, rel)
      if (!fs.exists(p))
        b += (("error", "missing-file", rel))
      else {
        val len = fs.getFileStatus(p).getLen
        if (len != bytes)
          b += (("error", "size-mismatch",
            s"$rel: manifest $bytes B, filesystem $len B"))
      }
      if (dv.nonEmpty && dvRows > 0) {
        val dp = if (new Path(dv).isAbsolute) new Path(dv)
          else new Path(tableDir, dv)
        if (!fs.exists(dp))
          b += (("error", "missing-dv", s"$rel: $dv"))
      }
      b.result()
    }
    val probes = entries.map(e => (e.rel, e.bytes, e.dv, e.dvRows))
    if (probes.size < bloomProbeDistributedThreshold)
      probes.flatMap(e => damage(fileSystem, e))
    else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        hadoopConf)
      val parts = math.max(1, math.min(64, probes.size / 4096 + 1))
      spark.sparkContext.parallelize(probes, parts)
        .mapPartitions { it =>
          val tfs = new Path(tableDir).getFileSystem(conf.value)
          it.flatMap(e => damage(tfs, e))
        }.collect().toSeq
    }
  }

  /** REPAIR after external damage (Delta's FSCK REPAIR TABLE): commit a
    * manifest that drops the entries whose data files are GONE, so the
    * table reads again — an explicit acknowledgement that those rows
    * are lost (the audit half, [[fsck]], only reports). Entries whose
    * deletion-vector sidecar vanished are repaired CONSERVATIVELY: the
    * entry survives with its vector ref cleared, which RESURFACES the
    * vectored-out rows rather than silently dropping live ones — the
    * recoverable direction (a re-run of the DELETE re-vectors them).
    *
    * @return (entries dropped, vector refs cleared); (0, 0) = healthy,
    *   no commit
    */
  def repairTable(name: String): (Long, Long) = {
    val (v, entries) = loadLatest(name)
    require(v > 0L, s"repairTable $name: table not bootstrapped")
    // one distributed damage scan (shared with [[fsck]]) instead of
    // 1-2 serial existence RPCs per file on the driver
    val findings = scanEntryDamage(name, entries)
    val gone = findings.collect {
      case ("error", "missing-file", rel) => rel }.toSet
    val dvGone = findings.collect {
      case ("error", "missing-dv", d) => d }.toSet
    val (kept, dropped) = entries.partition(e => !gone(e.rel))
    val (devectored, clean) =
      kept.partition(e => dvGone(s"${e.rel}: ${e.dv}"))
    if (dropped.isEmpty && devectored.isEmpty) return (0L, 0L)
    commitWrites(Seq(Warehouse.Write(name,
      (v, clean ++ devectored.map(_.copy(dv = "", dvRows = 0L))), Nil, Nil,
      Map("op" -> "repair",
        "numEntriesDropped" -> dropped.size.toString,
        "numVectorsCleared" -> devectored.size.toString),
      Warehouse.Rebase.Never)))
    (dropped.size.toLong, devectored.size.toLong)
  }

  /** rel (in THIS table's tree) → borrowing tables: every file of
    * `name` that another table's retained manifests reference by
    * ABSOLUTE path — shallow clones of `name` (and clones of those
    * clones; all tables are scanned, so transitivity is free). These
    * files are live regardless of `name`'s own retention: [[vacuum]]
    * unions them into its live set, and `DESCRIBE DETAIL` surfaces the
    * count, so "source vacuumed past a clone" can no longer strand the
    * clone. Unreconstructible historic versions of a borrowing table
    * (its own vacuum already trimmed their ancestors) are skipped —
    * they are unreadable there too, so they pin nothing.
    */
  private[graft] def borrowedFromBy(name: String): Map[String, Set[String]] = {
    val prefix = path(name) + "/"
    val acc = scala.collection.mutable.Map.empty[String, Set[String]]
    specsNow.keys.filterNot(_ == name).foreach { t =>
      rawVersions(t).foreach { v =>
        // rel + dv refs are all this scan reads — the slim columnar
        // list where a checkpoint serves the version (the big-table
        // case), the full fold otherwise
        scala.util.Try(entriesLight(t, v)).toOption.toSeq.flatten.foreach { e =>
          if (new Path(e.rel).isAbsolute && e.rel.startsWith(prefix)) {
            val rel = e.rel.stripPrefix(prefix)
            acc(rel) = acc.getOrElse(rel, Set.empty) + t
          }
          // borrowed DELETION VECTORS pin like borrowed data files — a
          // clone's reads apply the source-resident sidecar its entry
          // references
          if (e.dv.nonEmpty && new Path(e.dv).isAbsolute &&
              e.dv.startsWith(prefix)) {
            val rel = e.dv.stripPrefix(prefix)
            acc(rel) = acc.getOrElse(rel, Set.empty) + t
          }
        }
      }
    }
    acc.toMap
  }
}

object Warehouse {
  /** One op's constraint obligations: probe thunks in rethrow order
    * (constraint family, then constraint, then batch check before live
    * probe), and the state they share, released once the wave is done.
    */
  private final case class Probes(run: Seq[() => Unit],
      release: Seq[() => Unit] = Nil) {
    def ++(o: Probes): Probes = Probes(run ++ o.run, release ++ o.release)
  }

  /** One live data file: table-relative path, size, per-column
    * long-encoded min/max footer stats (raw value for int/long columns,
    * epoch micros for timestamps), and the footer ROW COUNT (−1 when
    * unknown — legacy manifests and adopted pre-existing files). Known
    * row counts make `count(*)` a manifest sum ([[Warehouse!.metaRowCount]],
    * the Delta/Iceberg metadata-only-query surface).
    *
    * `dv`/`dvRows`: the file's DELETION VECTOR — a sidecar under the
    * table's `_dv/` dir (absolute for borrowed clone entries, like
    * `rel`) listing the sorted physical row positions a merge-on-read
    * [[Warehouse!.deleteVectored]] removed, and their count. Empty =
    * no deletions. `rows` stays the PHYSICAL footer count; live rows =
    * `rows - dvRows`. DV files are immutable — a further delete writes
    * a new sidecar with the union — so past versions and clones stay
    * readable.
    */
  final case class FileEntry(rel: String, bytes: Long,
      stats: Map[String, (Long, Long)], rows: Long = -1L,
      dv: String = "", dvRows: Long = 0L)

  /** The sidecar NAMING contract — the one source of truth shared by
    * the driver-side helpers (`bloomFileName`/`ndvFileName`/`relHash`)
    * and every task-side closure that recomputes names (GC's delete
    * fan-out, checkpoint sketch embedding, the streamed-rel NDV fold).
    * Bloom and NDV sidecars live FLAT under `_bloomidx`/`_ndvidx`,
    * named `sha1(rel)-<col>.bf|.hll` — sha1 keeps the dirs free of the
    * partition tree's nesting and of any path-char issues. A rename
    * here is a format change; a rename anywhere else is a silent
    * desync (GC stops collecting, embedding reads nothing).
    */
  private[graft] object Sidecars extends Serializable {
    val bloomDirName = "_bloomidx"
    val ndvDirName = "_ndvidx"
    def sha1(rel: String): String =
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(rel.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    def bloomName(rel: String, column: String): String =
      s"${sha1(rel)}-$column.bf"
    def ndvName(rel: String, column: String): String =
      s"${sha1(rel)}-$column.hll"
    /** `rel`'s NDV sketch bytes for `column` under `ndvDir`; null when
      * the sidecar is missing (readers withhold the column). */
    def readNdv(fs: FileSystem, ndvDir: String,
        rel: String, column: String): Array[Byte] = {
      val p = new Path(ndvDir, ndvName(rel, column))
      if (!fs.exists(p)) null
      else {
        val in = fs.open(p)
        try in.readAllBytes() finally in.close()
      }
    }
  }

  /** One columnar-manifest row ([[Warehouse!.columnarSchema]]): the
    * fixed columns, `e`'s stat pair per `statCols` column (nulls where
    * it has none), then `sketches`. The checkpoint write and the delta
    * overlay of [[Warehouse!.entriesRelationAt]] both build rows here.
    */
  private[graft] def columnarRow(e: FileEntry, statCols: Seq[String],
      sketches: Seq[Array[Byte]]): Row =
    Row.fromSeq(Seq(e.rel, e.bytes, e.rows, e.dv, e.dvRows) ++
      statCols.flatMap(c => e.stats.get(c) match {
        case Some((lo, hi)) => Seq[Any](lo, hi)
        case None => Seq[Any](null, null)
      }) ++ sketches)

  // ------------------------------------------------------------------
  // JVM-wide parsed-snapshot caches. A CONFIRMED manifest version is
  // immutable (slots are create-exclusive; aborts only ever touch
  // UNCONFIRMED pending members), so its parsed entry list and commit
  // metadata memoize safely across every Warehouse instance of this
  // JVM — the Delta `Snapshot`-cache shape. Without this, every table
  // open re-parses the full manifest chain on the driver: O(|files|)
  // text parse per open(), per probe, per plan — the dominant metadata
  // term at 100 TB (~800k files). With it, steady-state cost is one
  // parse per NEW version (delta-sized: the recursive loadAt walk hits
  // the cache at version−1), and a second open of any table is O(1).
  //
  // Bounds: snapshots evict by LRU against a TOTAL APPROXIMATE-BYTE
  // budget — entry count alone undercounts by the stats map (an entry
  // with a multi-column stats map weighs ~0.5-1 KB on heap, so a pure
  // 4M-entry budget could legitimately own several driver GB). The
  // cost model is deliberately coarse (headers + 2 B/char strings +
  // ~56 B per boxed stat tuple); it only needs to bound the cache
  // within the same order as reality. Metadata maps are tiny and
  // evict by count. dropTable/createTable invalidate their table's
  // keys — a re-created table restarts version numbering in the same
  // directory. Every prefix-keyed memo is listed in [[prefixKeyed]].
  // ------------------------------------------------------------------
  private def entryCost(e: FileEntry): Long =
    96L + 2L * (e.rel.length + e.dv.length) + 56L * e.stats.size
  private def snapshotCost(entries: Seq[FileEntry]): Long =
    math.max(1L, entries.iterator.map(entryCost).sum)
  /** 512 MB comfortably holds the ~800k-file design point (~150 B/entry
    * with one stat column) without letting wide-stat tables own the
    * heap. */
  private[graft] val snapshots =
    new BoundedCache[Seq[FileEntry]](512L * 1024 * 1024, snapshotCost)
  private[graft] val metas = new BoundedCache[Map[String, String]](16384L)

  /** One confirmed snapshot's planning facts, distributed-folded once
    * ([[Warehouse!.lazyRead]]): total bytes, live rows (−1 unknown),
    * file count, whether any file carries a deletion vector, physical
    * rows (−1 unknown) and total vectored rows — the last two feed the
    * lazy path's NDV deletion-vector correction. */
  private[graft] final case class SnapshotAgg(bytes: Long, rows: Long,
      files: Long, anyDv: Boolean, physRows: Long = -1L, dvSum: Long = 0L)

  private[graft] val snapshotAggs = new BoundedCache[SnapshotAgg](4096L)

  /** Histogram staleness bound: bins publish while the CURRENT exact
    * live-row count stays within [basis/f, basis·f] of the analyzed
    * count — outside it, the ANALYZE-time shape is presumed stale and
    * bins are withheld (min/max/NDV keep flowing; they are maintained
    * by the write path).
    */
  private[graft] val histogramDriftFactor: Double = 2.0
  /** Entry count above which an unfiltered cold list STREAMS in chunks
    * instead of collecting+memoizing the slim list (256k slim entries
    * ≈ 37 MiB — affordable resident; past it, residency is the hazard
    * the stream exists to remove). `var` for specs and
    * memory-constrained drivers. */
  private[graft] var streamListThreshold: Long = 262144L

  /** [[Warehouse!.clusteringDepth]]'s pure core over an entry list. */
  private[graft] def clusteringDepthOf(entries: Seq[FileEntry],
      cols: Seq[String]): Map[String, Double] =
    cols.distinct.flatMap { c =>
      val iv = entries.flatMap(_.stats.get(c))
      if (iv.isEmpty) None
      else {
        val lo = iv.iterator.map(_._1).min
        val hi = iv.iterator.map(_._2).max
        // double arithmetic: micros-axis widths summed over many files
        // overflow a long; depth is a diagnostic ratio, not a count
        val width = (hi.toDouble - lo.toDouble) + 1.0
        val span = iv.iterator
          .map(i => (i._2.toDouble - i._1.toDouble) + 1.0).sum
        Some(c -> span / width)
      }
    }.toMap

  /** One analyzed column's basis: the equi-height bins plus the
    * companion stats Spark's estimator needs alongside them (NDV,
    * min/max on the double axis, null count). */
  private[graft] final case class HistCol(
    hist: org.apache.spark.sql.catalyst.plans.logical.Histogram,
    ndv: Long, lo: Double, hi: Double, nulls: Long)

  /** A persisted ANALYZE FOR COLUMNS basis: the version it was built
    * at, the live-row count then (the drift guard's denominator), and
    * the per-column stats. */
  private[graft] final case class HistBasis(version: Long, rows: Long,
    cols: Map[String, HistCol])

  /** Parsed histogram bases, memoized per lifetime-keyed version
    * (including "none at or below this version" — the negative is what
    * every un-analyzed table's reads hit). Bases are a few KB; the
    * count bound is plenty.
    */
  private[graft] val hists = new BoundedCache[Option[HistBasis]](4096L)

  // ------------------------------------------------------------------
  // slim-snapshot cache: stats-stripped entry lists for the lazy
  // unfiltered path. Deliberately SEPARATE from [[snapshots]] — a slim
  // list must never satisfy [[Warehouse!.read]]'s eager-path probe or
  // [[Warehouse!.plannedRange]]'s driver filter (absent stats would
  // silently disable file skipping there). Slim entries are near-
  // constant-size (~150 B), so the budget counts entries, not bytes.
  // ------------------------------------------------------------------
  /** 2M entries ≈ ~300 MB worst case, comfortably two 800k-file design
    * points. */
  private[graft] val slims =
    new BoundedCache[Seq[FileEntry]](2L * 1024 * 1024, _.size.toLong)

  // lazy-path column statistics memos (per confirmed version, like
  // snapshotAggs): min/max envelopes and NDV estimates
  private[graft] val lazyMinMax =
    new BoundedCache[Map[String, (Long, Long)]](4096L)
  private[graft] val lazyNdv = new BoundedCache[Map[String, Long]](4096L)

  /** [[Warehouse!.ndvEstimates]]' memo: (table lifetime, instance,
    * column set, planned-rel set) → estimates. Values are pure
    * functions of immutable sidecars — a new commit plans a new rel set
    * — so only a drop (the lifetime prefix) or LRU pressure releases an
    * entry. Keys carry the instance ([[instanceIds]]), so a fresh open
    * re-reads the sidecars rather than trusting another instance's
    * answer. */
  private[graft] val ndvMemo = new BoundedCache[Map[String, Long]](4096L)
  private val instanceIds = new java.util.concurrent.atomic.AtomicLong(0L)

  // parsed deletion-vector sidecars, keyed by absolute path: sidecars
  // are immutable and their UUID file names never recur (a dropped
  // table's dir is deleted; growth writes a FRESH file), so entries
  // never go stale — stale-but-unreferenced ones only age out by LRU.
  // Byte-budgeted (positions are 8 B each). Not in [[prefixKeyed]].
  private[graft] val dvBytes = new BoundedCache[Array[Long]](
    64L * 1024 * 1024, positions => 8L * positions.length + 64L)

  /** Memoized SURVIVOR lists of [[Warehouse!.prunedEntries]], keyed by
    * (lifetime-scoped version key, pushed ranges, rel conjuncts): a
    * long SQL session re-planning the same filtered read of one cold
    * table pays the distributed prune ONCE per distinct filter shape,
    * not once per query. Only survivor lists small enough to be cheap
    * to hold memoize (unselective probes stay uncached — re-pruning is
    * then no worse than before), and the cache as a whole evicts LRU
    * against a BYTE budget — survivors are FULL FileEntry objects
    * (stats maps included), so 256 keys of 10k wide-stat entries could
    * otherwise own ~1 GB of driver heap.
    */
  private val pruneMemoMaxSurvivors = 10000
  private[graft] val pruneMemo =
    new BoundedCache[Seq[FileEntry]](64L * 1024 * 1024, snapshotCost)

  /** Last-observed table-lifetime id per `dir#table` — fed by
    * [[Warehouse!.rawVersions]]' directory listings (and the v1
    * commit's own stamp), consumed by [[Warehouse!.cacheKey]]. In-
    * memory only: it is a cache of what the `_lifetime-*` marker on
    * disk says, refreshed by every listing.
    */
  private val lifetimeIds =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def lifetimeObserved(tableKey: String, id: String): Unit = {
    val prev = lifetimeIds.put(tableKey, id)
    // a lifetime CHANGE seen in a listing is the cross-process
    // drop+recreate signal: the dead lifetime's cached snapshots are
    // unreachable now (keys embed the id) — free their budget
    if (prev != null && prev != id)
      invalidateCached(s"$tableKey#$prev#")
  }

  private[graft] def lifetimeOf(tableKey: String): String =
    Option(lifetimeIds.get(tableKey)).getOrElse("")

  /** Every memo keyed under a table's `dir#table#lifetime#` prefix. */
  private[graft] val prefixKeyed: Seq[BoundedCache[_]] = Seq(snapshots,
    metas, snapshotAggs, hists, slims, lazyMinMax, lazyNdv, ndvMemo,
    pruneMemo, LazyManifestFileIndex.dirMemo)

  /** Drop every cached entry under `prefix` (a `dir#table#` key
    * prefix) — the dropTable/createTable hook. */
  private[graft] def invalidateCached(prefix: String): Unit =
    prefixKeyed.foreach(_.invalidate(prefix))

  /** Physical manifest reads (text parse / head read) — observability
    * for the cache contract; specs assert a cached re-open does zero. */
  private[graft] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong(0L)
  /** Columnar (parquet) manifest prunes served — specs assert the
    * distributed path actually ran. */
  private[graft] val columnarPrunes =
    new java.util.concurrent.atomic.AtomicLong(0L)
  /** Unfiltered cold lists served as a chunked STREAM (no driver-
    * resident slim list) — specs assert the streamed path actually
    * ran and that it left the slim cache unpopulated. */
  private[graft] val streamedLists =
    new java.util.concurrent.atomic.AtomicLong(0L)
  /** FILTERED prunes whose survivors streamed chunk-wise instead of
    * collecting (weakly-selective filter past the hybrid bound). */
  private[graft] val streamedPrunes =
    new java.util.concurrent.atomic.AtomicLong(0L)
  /** Bloom sidecar probe sets served as a Spark job (candidate count
    * over [[Warehouse!.bloomProbeDistributedThreshold]]). */
  private[graft] val distributedBloomProbes =
    new java.util.concurrent.atomic.AtomicLong(0L)
  /** Vacuum sidecar sweeps whose deletes ran as a Spark job (doomed
    * count over [[Warehouse!.sidecarSweepThreshold]]). */
  private[graft] val distributedSidecarSweeps =
    new java.util.concurrent.atomic.AtomicLong(0L)
  /** Vacuum DATA-file sweep chunks whose deletes ran as a Spark job. */
  private[graft] val distributedDataSweeps =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** A manifest version another writer committed first. Each op's
    * [[Rebase]] policy resolves it or surfaces it — then the op's
    * snapshot is stale and the caller must re-run.
    */
  final class CommitConflict(msg: String) extends IllegalStateException(msg)

  /** How a lost commit race resolves, fixed per op by its code. */
  private sealed trait Rebase
  private object Rebase {
    /** The op's read set is the whole table (a predicate, a replace):
      * any foreign commit may change its result, so it fails fast. */
    case object Never extends Rebase
    /** Footprint-scoped read-modify (the merge family): rebases iff
      * every replaced entry is still live and no foreign commit added
      * or removed an entry inside the partition `dirs` it read. A
      * merge's read set is exactly its touched partitions (partition
      * cols are a pure function of the key, so a source key cannot
      * exist elsewhere), which makes "nothing foreign in my dirs" a
      * proof the concurrent writer could not have affected its result,
      * insert-key collisions included. */
    final case class Disjoint(dirs: Set[String]) extends Rebase
    /** Content-invariant (blind appends, compaction): rebases iff every
      * replaced entry is still live — a foreign append into a compacted
      * dir just stays live, un-compacted this round. */
    case object Always extends Rebase
  }

  /** One table's share of a versioned write
    * ([[Warehouse!.commitWrites]]): the head minus `replaced` plus
    * `fresh`.
    *
    * @param base the snapshot the write was planned against. Ops that
    *   swap entries in place over files that stay referenced (deletion
    *   vectors, restore, repair) pass their whole new entry list here
    *   and no `replaced`, so none of those files is ever collected.
    * @param replaced dropped from the head; GC'd once the write lands
    * @param fresh the files this write staged; GC'd if it never lands
    * @param revalidate re-derives `(fresh, meta)` against the new head
    *   version after a lost race the policy rebases over
    * @param landedMeta extra metadata from the versions the members
    *   before this one landed at ([[Warehouse!.appendAll]]'s argument)
    */
  private final case class Write(name: String, base: (Long, Seq[FileEntry]),
      replaced: Seq[FileEntry], fresh: Seq[FileEntry],
      meta: Map[String, String], rebase: Rebase,
      revalidate: Option[Long => (Seq[FileEntry], Map[String, String])] = None,
      landedMeta: Option[Map[String, Long] => Map[String, String]] = None)

  /** The manifest line for one entry — the inverse of `parseEntry`.
    * Trailing defaults are still written explicitly (fixed 6-field
    * layout); only lines from OLDER writers may be short.
    */
  private[pipeline] def formatEntry(e: FileEntry): String = {
    val st = e.stats.toSeq.sortBy(_._1)
      .map { case (c, (lo, hi)) => s"$c=$lo:$hi" }.mkString(";")
    s"${e.rel}\t${e.bytes}\t$st\t${e.rows}\t${e.dv}\t${e.dvRows}"
  }

  /** Thrown when a write would violate a declared CHECK constraint; the
    * commit never happens (the staged files are garbage the next vacuum
    * sweeps).
    */
  final case class CheckViolation(table: String, check: String,
      expr: String, violations: Long)
      extends RuntimeException(
        s"CHECK constraint '$check' on $table violated by $violations " +
          s"row(s): $expr")

  /** Thrown when a row-adding write would violate the table's declared
    * PRIMARY KEY (a NULL key, a duplicate within the batch, or a
    * collision with a live row) — the reference's Postgres `PRIMARY
    * KEY` made real (`script.py:78-82` declares one and relies on the
    * engine to enforce it). Like [[CheckViolation]], the commit never
    * happens: nothing of the batch becomes visible.
    */
  final case class PrimaryKeyViolation(table: String, pk: Seq[String],
      reason: String)
      extends RuntimeException(
        s"PRIMARY KEY (${pk.mkString(", ")}) on $table violated: $reason")

  /** A declared referential constraint: this table's `cols` tuple must
    * exist as `parent`'s `parentCols` tuple (which must be exactly the
    * parent's ENFORCED PRIMARY KEY — the SQL rule that a foreign key
    * references a key, and what makes "a deleted parent row's key is
    * gone" true without scanning survivors). SQL MATCH SIMPLE
    * semantics: a tuple with ANY null component satisfies the
    * constraint (Postgres's default).
    */
  final case class ForeignKey(cols: Seq[String], parent: String,
      parentCols: Seq[String]) {
    require(cols.nonEmpty, "foreign key: empty column list")
    require(cols.size == parentCols.size,
      s"foreign key: ${cols.size} columns reference " +
        s"${parentCols.size} parent columns")
    require(cols.distinct.size == cols.size,
      s"foreign key repeats a column: $cols")
    override def toString: String =
      s"FOREIGN KEY (${cols.mkString(", ")}) REFERENCES " +
        s"$parent (${parentCols.mkString(", ")})"
  }

  /** A GENERATED ALWAYS AS IDENTITY column: the ENGINE assigns a fresh
    * unique BIGINT to every appended row; a batch supplying the column
    * rejects (the ALWAYS contract — no caller-minted ids, so uniqueness
    * needs no probe). Values start at `start` and never repeat: the
    * high-water mark rides the manifest's commit metadata and only
    * ratchets up (deletes burn ids, the Delta/identity norm).
    *
    * `orderBy` makes the assignment DETERMINISTIC: each batch is
    * range-partitioned and sorted by those columns before ranking, so
    * the same batch always mints the same ids — reproducible sample
    * ids for training-data pipelines, and what lets an independent
    * engine replay the assignment (`row_number() OVER (ORDER BY ...)`
    * + the running offset). Ties get unique but order-arbitrary ids —
    * declare a per-batch-unique key for full determinism. Empty
    * `orderBy` skips the sort: ids follow the batch's incoming
    * partitioning (Delta's nondeterministic-but-unique behavior, one
    * shuffle cheaper).
    */
  final case class Identity(column: String, orderBy: Seq[String] = Nil,
      start: Long = 1L) {
    require(!orderBy.contains(column),
      s"identity column $column cannot order itself")
  }

  /** Thrown when a write would violate a declared [[ForeignKey]] —
    * a row-adding batch carrying a key no parent row has (the child-
    * side check), or a parent-side DELETE whose doomed keys are still
    * referenced (ON DELETE RESTRICT, Postgres's default NO ACTION
    * checked at statement end). Like [[PrimaryKeyViolation]], nothing
    * of the write becomes visible.
    */
  final case class ForeignKeyViolation(table: String, fk: ForeignKey,
      reason: String)
      extends RuntimeException(s"$fk on $table violated: $reason")

  /** Thrown when a write would violate a declared UNIQUE constraint
    * ([[TableSpec.unique]]) — a duplicate fully-non-null tuple within
    * the batch, or one already live in the table. SQL semantics:
    * tuples with ANY null component are exempt (NULLs compare
    * distinct, Postgres's default `NULLS DISTINCT`). Like the PK, the
    * commit never happens.
    */
  final case class UniqueViolation(table: String, cols: Seq[String],
      reason: String)
      extends RuntimeException(
        s"UNIQUE (${cols.mkString(", ")}) on $table violated: $reason")

  /** StructField.metadata key pinning a column's PHYSICAL (parquet)
    * name once a rename/drop made it diverge from the logical name.
    */
  private[graft] val PhysicalKey = "graft.physical"

  /** The parquet column backing a spec field (the field's own name
    * until a rename pinned something else).
    */
  private[graft] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private val bucketReps =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  /** Per-bucket representative longs for [[numBuckets]]=n: `reps(b)` is
    * the smallest non-negative long with `pmod(murmur3(reps(b)), n) ==
    * b` — evaluated through Catalyst's own [[Murmur3Hash]] so driver
    * and executor agree bit-for-bit. Repartitioning a write on
    * `reps(bucketId)` places every row in partition `bucketId` exactly,
    * through a shuffle no optimizer rule can elide (see writeBatch).
    * Coupon-collector search: ~n·ln(n) hashes, cached per n.
    */
  private[pipeline] def bucketRepresentatives(n: Int): Array[Long] =
    bucketReps.computeIfAbsent(n, _ => {
      import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
      val reps = new Array[Long](n)
      val have = new Array[Boolean](n)
      var found = 0
      var i = 0L
      val cap = 1000L * n + 1000000L
      while (found < n && i < cap) {
        val h = new Murmur3Hash(Seq(Literal(i))).eval(null).asInstanceOf[Int]
        val b = ((h % n) + n) % n
        if (!have(b)) { have(b) = true; reps(b) = i; found += 1 }
        i += 1
      }
      require(found == n,
        s"bucketRepresentatives($n): search exhausted at $cap")
      reps
    })

  /** One managed table's layout.
    *
    * @param bloomColumns columns that get a per-file BLOOM FILTER
    *   sidecar at write time (`_bloomidx/`), enabling
    *   [[Warehouse!.readPoint]] to SKIP files for equality lookups on
    *   high-cardinality keys whose min/max ranges overlap every file —
    *   the case footer [[statColumns]] can never prune (and the only
    *   skipping story for STRING keys, which footer long-stats can't
    *   encode at all). Sidecar size ≈ 1.2 · items · ln(1/fpp) bits per
    *   file per column — the Delta bloom-index trade — where items is
    *   the largest row count among the files one write adds, capped by
    *   `bloomExpectedItems`, and fpp is half of `bloomFpp`, which
    *   bounds each file's false-positive rate.
    * @param primaryKey ENFORCED primary key (the reference's Postgres
    *   `PRIMARY KEY`, `script.py:78-82`): every row-adding write
    *   rejects NULL keys, batch-internal duplicates and live-row
    *   collisions atomically (nothing commits —
    *   [[Warehouse.PrimaryKeyViolation]]); merge-family ops must key
    *   on it exactly; UPDATE SET of a key column is banned. The
    *   collision probe is a semi-join over the current snapshot —
    *   declare `primaryKey.head` in [[statColumns]] (range skipping)
    *   or [[bloomColumns]] (equality skipping) so the probe reads only
    *   files whose key range can overlap the batch; without either it
    *   scans. [[scdMerge]] tables version their keys by design — give
    *   them no `primaryKey`, or exactly (keys..., validFrom) (the
    *   version-discriminated identity; scdMerge rejects anything
    *   else up front).
    *
    * @param bucketBy with [[numBuckets]], the table's BUCKETED layout
    *   (Hive/Spark `CLUSTERED BY ... INTO n BUCKETS`): every write
    *   hash-places rows into `pmod(murmur3(bucketBy), numBuckets)`
    *   file groups (Spark's own `HashPartitioning` id expression, so
    *   the scan may TRUST the layout), and reads report that
    *   partitioning to the planner — equi-joins and aggregations on
    *   the bucket key then elide their shuffle exchanges entirely.
    *   At warehouse scale this is the difference between a fact-fact
    *   join that moves the whole table and one that moves nothing.
    *
    * @param retiredPhysical PHYSICAL column names that once backed a
    *   since-dropped logical column — a later addColumn of the same
    *   logical name must map to a FRESH physical name, or stale values
    *   from pre-drop files would resurface (see [[Warehouse!.dropColumn]]).
    * @param generated GENERATED ALWAYS AS columns (col → SQL expr over
    *   the other columns): append paths DERIVE the column when the
    *   batch omits it, and VERIFY it (null-safe `<=>`) when present —
    *   the Delta generated-column contract. With `partitionBy` on a
    *   generated column this is HIDDEN PARTITIONING: callers write the
    *   raw column, the engine derives the partition key.
    */
  final case class TableSpec(schema: StructType,
      partitionBy: Seq[String] = Nil, statColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      bloomExpectedItems: Long = 1000000L, bloomFpp: Double = 0.03,
      checks: Map[String, String] = Map.empty,
      bucketBy: Seq[String] = Nil, numBuckets: Int = 0,
      retiredPhysical: Seq[String] = Nil,
      generated: Map[String, String] = Map.empty,
      ndvColumns: Seq[String] = Nil,
      primaryKey: Seq[String] = Nil,
      foreignKeys: Seq[ForeignKey] = Nil,
      identity: Option[Identity] = None,
      unique: Seq[Seq[String]] = Nil,
      defaults: Map[String, String] = Map.empty) {
    unique.foreach { u =>
      require(u.nonEmpty, "UNIQUE: empty column group")
      require(u.distinct.size == u.size, s"UNIQUE repeats a column: $u")
      u.foreach(c => require(schema.fieldNames.contains(c),
        s"UNIQUE column $c not in schema"))
      require(primaryKey.isEmpty || u.toSet != primaryKey.toSet,
        s"UNIQUE (${u.mkString(", ")}) duplicates the PRIMARY KEY " +
          "(already enforced — don't pay the probe twice)")
    }
    require(unique.map(_.toSet).distinct.size == unique.size,
      s"duplicate UNIQUE groups: $unique")
    defaults.keys.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"DEFAULT column $c not in schema")
      require(!generated.contains(c),
        s"DEFAULT column $c is already GENERATED (pick one fill rule)")
      require(!identity.exists(_.column == c),
        s"DEFAULT column $c is the IDENTITY column (engine-assigned)")
    }
    identity.foreach { idn =>
      require(schema.fieldNames.contains(idn.column),
        s"identity column ${idn.column} not in schema")
      require(schema(idn.column).dataType ==
          org.apache.spark.sql.types.LongType,
        s"identity column ${idn.column} must be BIGINT")
      require(!generated.contains(idn.column),
        s"identity column ${idn.column} cannot also be GENERATED AS expr")
      require(!partitionBy.contains(idn.column),
        s"identity column ${idn.column} cannot partition the table " +
          "(every row would mint its own directory)")
      idn.orderBy.foreach(c => require(schema.fieldNames.contains(c),
        s"identity ORDER BY column $c not in schema"))
    }
    generated.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"generated column $c not in schema"))
    primaryKey.foreach(c => require(schema.fieldNames.contains(c),
      s"primary key column $c not in schema"))
    require(primaryKey.distinct.size == primaryKey.size,
      s"primary key repeats a column: $primaryKey")
    foreignKeys.foreach(fk => fk.cols.foreach(c =>
      require(schema.fieldNames.contains(c),
        s"foreign key column $c not in schema")))
    // parent existence / PK match validate at createTable time (the
    // spec alone can't see the other tables)
    partitionBy.foreach(p => require(schema.fieldNames.contains(p),
      s"partition column $p not in schema"))
    require(bucketBy.isEmpty == (numBuckets == 0),
      "bucketBy and numBuckets must be given together")
    require(numBuckets >= 0 && numBuckets <= 100000,
      s"numBuckets out of range: $numBuckets")
    bucketBy.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"bucket column $c not in schema")
      require(!partitionBy.contains(c),
        s"bucket column $c is a partition column (pick one layout role)")
    }
    bloomColumns.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"bloom column $c not in schema")
      require(!partitionBy.contains(c),
        s"bloom column $c is a partition column (already pruned exactly)")
      // fail at spec construction, not mid-write: bloom_agg supports
      // exactly these types (BloomAgg.checkInputDataTypes)
      val t = schema(c).dataType
      require(Seq(org.apache.spark.sql.types.ByteType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.BinaryType).contains(t),
        s"bloom column $c: unsupported type $t (integral/string/binary only)")
    }
    ndvColumns.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"ndv column $c not in schema")
      // fail at spec construction: the write-time sketch agg casts
      // temporals/integrals to long and passes strings/binary through
      val t = schema(c).dataType
      require(Seq(org.apache.spark.sql.types.ByteType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.DateType,
          org.apache.spark.sql.types.TimestampType,
          org.apache.spark.sql.types.TimestampNTZType,
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.BinaryType).contains(t),
        s"ndv column $c: unsupported type $t " +
          "(integral/temporal/string/binary)")
    }
  }

  /** The reference's star schema (README.md:18-32, script.py:78-82,
    * 144, 151-155) — the default layout. fact_telemetry is
    * DATE-PARTITIONED on epoch_date (engine addition; the reference's
    * Postgres leans on an index instead): the 3-day recent-keys scan
    * that guards every telemetry load then prunes to ~horizon
    * partitions instead of scanning all history.
    */
  val starSchema: Map[String, TableSpec] = Map(
    "dim_satellites" -> TableSpec(Schemas.dimSatellites,
      statColumns = Seq("norad_id")),
    "fact_space_weather" -> TableSpec(Schemas.factSpaceWeather),
    "fact_telemetry" -> TableSpec(
      Schemas.factTelemetry.add(StructField("epoch_date", DateType)),
      partitionBy = Seq("epoch_date"),
      statColumns = Seq("norad_id", "epoch_utc")))

  /** Reopen a warehouse directory from its persisted `_meta/` table
    * specs (written by [[Warehouse!.bootstrap]]) — no schema in code.
    * Falls back to [[starSchema]] for pre-metadata directories.
    */
  def open(spark: SparkSession, dir: String,
      retainReplaced: Boolean = false): Warehouse = {
    val metaDir = new Path(dir, "_meta")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loaded =
      if (!fs.exists(metaDir)) Map.empty[String, TableSpec]
      else fs.listStatus(metaDir).toSeq
        // `_`-prefixed entries are warehouse-level metadata (e.g. the
        // persisted checkpoint interval in `_warehouse.json`), not
        // table specs — table names never start with `_`
        .filter { st => val n = st.getPath.getName
          n.endsWith(".json") && !n.startsWith("_") }
        .map { st =>
          val in = fs.open(st.getPath)
          val text = try {
            new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8)
          } finally in.close()
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(text)
          def strs(field: String): Seq[String] = {
            if (!node.has(field)) return Nil
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            val it = node.get(field).elements()
            while (it.hasNext) buf += it.next().asText()
            buf.toSeq
          }
          val checks =
            if (!node.has("checks")) Map.empty[String, String]
            else {
              val buf = scala.collection.mutable.LinkedHashMap.empty[String, String]
              node.get("checks").fields().forEachRemaining { e =>
                buf += e.getKey -> e.getValue.asText() }
              buf.toMap
            }
          st.getPath.getName.stripSuffix(".json") -> TableSpec(
            org.apache.spark.sql.types.DataType
              .fromJson(node.get("schema").asText()).asInstanceOf[StructType],
            strs("partitionBy"), strs("statColumns"),
            strs("bloomColumns"),
            if (node.has("bloomExpectedItems"))
              node.get("bloomExpectedItems").asLong() else 1000000L,
            if (node.has("bloomFpp")) node.get("bloomFpp").asDouble()
            else 0.03,
            checks,
            strs("bucketBy"),
            if (node.has("numBuckets")) node.get("numBuckets").asInt() else 0,
            strs("retiredPhysical"),
            {
              if (!node.has("generated")) Map.empty[String, String]
              else {
                val buf =
                  scala.collection.mutable.LinkedHashMap.empty[String, String]
                node.get("generated").fields().forEachRemaining { e =>
                  buf += e.getKey -> e.getValue.asText() }
                buf.toMap
              }
            },
            strs("ndvColumns"),
            strs("primaryKey"),
            {
              if (!node.has("foreignKeys")) Nil
              else {
                val buf = Seq.newBuilder[ForeignKey]
                node.get("foreignKeys").elements().forEachRemaining { o =>
                  def arr(k: String): Seq[String] = {
                    val b = Seq.newBuilder[String]
                    o.get(k).elements().forEachRemaining(e => b += e.asText())
                    b.result()
                  }
                  buf += ForeignKey(arr("cols"), o.get("parent").asText(),
                    arr("parentCols"))
                }
                buf.result()
              }
            },
            {
              if (!node.has("identity")) None
              else {
                val o = node.get("identity")
                val ob = Seq.newBuilder[String]
                o.get("orderBy").elements()
                  .forEachRemaining(e => ob += e.asText())
                Some(Identity(o.get("column").asText(), ob.result(),
                  o.get("start").asLong()))
              }
            },
            {
              if (!node.has("unique")) Nil
              else {
                val buf = Seq.newBuilder[Seq[String]]
                node.get("unique").elements().forEachRemaining { g =>
                  val b = Seq.newBuilder[String]
                  g.elements().forEachRemaining(e => b += e.asText())
                  buf += b.result()
                }
                buf.result()
              }
            },
            {
              if (!node.has("defaults")) Map.empty[String, String]
              else {
                val buf =
                  scala.collection.mutable.LinkedHashMap.empty[String, String]
                node.get("defaults").fields().forEachRemaining { e =>
                  buf += e.getKey -> e.getValue.asText() }
                buf.toMap
              }
            })
        }.toMap
    val wh = new Warehouse(spark, dir, retainReplaced,
      if (loaded.nonEmpty) loaded else starSchema)
    // a crash between repartitionTable's commit and its spec publish
    // leaves _meta one layout behind the manifest stamp — the stamp is
    // the committed truth, so adopt it (idempotent, no-op normally)
    wh.reconcilePartitioning()
    wh
  }
}
