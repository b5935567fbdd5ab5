package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, BoundReference, Cast, EqualNullSafe, EqualTo,
  Expression, GenericInternalRow, GreaterThan, GreaterThanOrEqual, In,
  InSet, IsNull, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{
  BooleanType, ByteType, DataType, DateType, IntegerType, LongType,
  ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.Warehouse.FileEntry
import graft.util.BoundedCache

/** The warehouse's Delta-style FileIndex: Spark's scan planning asks
  * THIS for the file list instead of listing the filesystem — the
  * manifest already knows every live file, its size, and its column
  * stats, so a read costs zero filesystem listings and planning-time
  * skipping comes in two layers:
  *
  *   - PARTITION pruning: partition values are parsed from the
  *     manifest's relative paths (hive `k=v` dirs, Hive's own
  *     unescaping) and evaluated against Catalyst's partitionFilters —
  *     the same contract InMemoryFileIndex implements by listing;
  *   - FILE skipping: dataFilters' simple comparisons
  *     (=, <, <=, >, >=, in either operand order) against columns with
  *     manifest footer stats drop files whose [min, max] cannot
  *     overlap — [[Warehouse.readRange]]'s hint made automatic for
  *     every Catalyst-pushed predicate. Unknown filter shapes skip
  *     nothing (stats absence is always safe).
  *
  * Scale: planning state is the manifest entry list — the table-format
  * trade every lakehouse makes; file counts are bounded by compaction.
  * For tables big enough to carry a COLUMNAR checkpoint manifest,
  * [[LazyManifestFileIndex]] removes even that: the entry list is
  * never materialized on the driver until the scan's own filters have
  * pruned it distributed.
  */
class ManifestFileIndex(
    spark: SparkSession,
    tablePath: Path,
    entries: Seq[FileEntry],
    override val partitionSchema: StructType,
    genPruners: Map[String, (String, Long => Long)] = Map.empty)
  extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(tablePath)
  override def sizeInBytes: Long = entries.map(_.bytes).sum
  override def refresh(): Unit = ()
  override def inputFiles: Array[String] =
    entries.map(e => new Path(tablePath, e.rel).toString).toArray

  private def dirOf(rel: String): String =
    ManifestFileIndex.dirOf(rel, partitionSchema.length)

  private def partitionValues(dir: String): InternalRow =
    ManifestFileIndex.partitionValues(dir, partitionSchema)

  private def status(e: FileEntry): FileStatus =
    ManifestFileIndex.status(tablePath, e)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val ranges = ManifestFileIndex.statRanges(dataFilters)
    def keepFile(e: FileEntry): Boolean = ranges.forall { case (c, rs) =>
      e.stats.get(c).forall { case (mn, mx) =>
        rs.exists { case (lo, hi) => mx >= lo && mn <= hi } }
    }
    // HIDDEN PARTITIONING (Iceberg's signature): a predicate on the
    // BASE column of a generated partition column prunes partition
    // DIRS. For each pruner (p ← monotone f over base b) and each
    // pushed range [lo, hi] on b, a dir with value v for p can hold
    // matching rows only if f(lo) ≤ v ≤ f(hi) (f monotone
    // non-decreasing; sentinels pass through unmapped to dodge
    // overflow). Disjunctions (IN lists) derive per-point.
    val derivedPart: Seq[(String, Seq[(Long, Long)])] =
      genPruners.toSeq.flatMap { case (p, (b, f)) =>
        def m(x: Long): Long =
          if (x == Long.MinValue || x == Long.MaxValue) x else f(x)
        ranges.collect { case (c, rs) if c == b =>
          (p, rs.map { case (lo, hi) => (m(lo), m(hi)) })
        }
      }
    if (partitionSchema.isEmpty) {
      Seq(PartitionDirectory(InternalRow.empty,
        entries.filter(keepFile).map(status).toArray))
    } else {
      // the same bound-predicate evaluation InMemoryFileIndex uses
      val keepPartition: InternalRow => Boolean =
        partitionFilters.reduceOption(And) match {
          case None => _ => true
          case Some(pred) =>
            val bound = Predicate.createInterpreted(pred.transform {
              case a: AttributeReference =>
                val i = partitionSchema.indexWhere(_.name == a.name)
                BoundReference(i, partitionSchema(i).dataType, nullable = true)
            })
            row => bound.eval(row)
        }
      // a dir's long-encoded value for a partition column (days for
      // dates, raw for integrals) — None (keep) for nulls/other types
      def partLong(values: InternalRow, p: String): Option[Long] = {
        val i = partitionSchema.indexWhere(_.name == p)
        if (i < 0 || values.isNullAt(i)) None
        else partitionSchema(i).dataType match {
          case IntegerType | DateType => Some(values.getInt(i).toLong)
          case LongType | TimestampType | TimestampNTZType =>
            Some(values.getLong(i))
          case _ => None
        }
      }
      def keepDerived(values: InternalRow): Boolean =
        derivedPart.forall { case (p, rs) =>
          partLong(values, p).forall(v =>
            rs.exists { case (lo, hi) => v >= lo && v <= hi })
        }
      entries.groupBy(e => dirOf(e.rel)).toSeq.sortBy(_._1)
        .flatMap { case (dir, fl) =>
          val values = partitionValues(dir)
          if (!keepPartition(values) || !keepDerived(values)) None
          else Some(PartitionDirectory(values,
            fl.filter(keepFile).map(status).toArray))
        }
    }
  }
}

/** [[ManifestFileIndex]] without the driver-resident entry list — the
  * 100 TB planning path. Construction holds only the batch-bounded
  * delta state and one pre-aggregated size; the full entry list is
  * NEVER materialized on the driver. `listFiles` (Spark's scan-
  * planning callback, which arrives WITH the query's partition and
  * data filters) translates those filters into conditions a
  * distributed scan of the columnar checkpoint manifest can evaluate
  * (`prune`, provided by [[Warehouse]]), collects only the SURVIVING
  * entries, and delegates to an exact [[ManifestFileIndex]] over them
  * — the distributed prune is a sound over-approximation (it may keep
  * extra entries, never drop a matching one), the delegate applies the
  * full interpreted semantics.
  *
  * `full` (the [[Warehouse.loadAt]] fold) backs only the rare explicit
  * whole-list asks: `inputFiles` on the Dataset, or a `listFiles` with
  * no translatable filter (which needs every entry anyway).
  */
/** @param memoKey when set (a CONFIRMED-version cache key from the
  *   warehouse), built `PartitionDirectory` lists also memoize
  *   JVM-WIDE ([[LazyManifestFileIndex.dirMemo]]): a FRESH plan of the
  *   same version with the same (static, deterministic) filters reuses
  *   the constructed FileStatus objects instead of rebuilding
  *   O(|files|) of them — the warm-plan floor at 800k entries was the
  *   rebuild itself, not the (already-memoized) prune. None = no
  *   cross-plan memo (pending versions; non-warehouse callers).
  * @param dvRef extracts an entry's deletion-vector feed pair (rel-key,
  *   absolute sidecar path), None for un-vectored entries
  * @param dvFeed feeds one pair into the plan's growable DV lookup —
  *   called for every survivor on BOTH the build and the memo-hit path
  *   (a memo hit serves directories built under an earlier plan's
  *   lookup; the current plan's lookup still starts empty and must be
  *   fed, or vectored rows would resurface)
  */
class LazyManifestFileIndex(
    spark: SparkSession,
    tablePath: Path,
    override val partitionSchema: StructType,
    genPruners: Map[String, (String, Long => Long)],
    bytesHint: Long,
    prune: (Seq[Expression], Seq[Expression]) => Seq[FileEntry],
    full: () => Seq[FileEntry],
    memoKey: Option[String] = None,
    dvRef: FileEntry => Option[(String, String)] = _ => None,
    dvFeed: (String, String) => Unit = (_, _) => (),
    streamAll: () => Option[Iterator[FileEntry]] = () => None,
    streamFiltered: (Seq[Expression], Seq[Expression])
      => Option[Iterator[FileEntry]] = (_, _) => None)
  extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(tablePath)
  override def sizeInBytes: Long = bytesHint
  override def refresh(): Unit = ()
  override def inputFiles: Array[String] =
    streamAll() match {
      // the String array is the ask's own output; the streamed chunks
      // keep the INTERMEDIATE slim-entry state off the driver
      case Some(it) => it.map(e => new Path(tablePath, e.rel).toString).toArray
      case None => full().map(e => new Path(tablePath, e.rel).toString).toArray
    }

  /** Truly-unfiltered `listFiles` fed from a CHUNK-sorted iterator:
    * the slim entry list is never resident — within each chunk,
    * same-dir entries arrive contiguously (dir is a prefix of rel and
    * chunks are rel-sorted), so one pass folds each run of entries
    * into its `PartitionDirectory` and the driver holds one chunk of
    * entries + the directories Spark's scan contract requires anyway.
    * A dir split across chunks (hash repartitioning; cloned tables
    * with equal partition values under two source prefixes) emits one
    * directory per run with equal value rows, which
    * FileSourceScanExec concatenates exactly like one.
    */
  private def streamedDirs(it: Iterator[FileEntry])
      : (Seq[PartitionDirectory], Seq[(String, String)]) = {
    val pairs = Seq.newBuilder[(String, String)]
    def feed(e: FileEntry): FileEntry = {
      dvRef(e).foreach { p => pairs += p; dvFeed(p._1, p._2) }
      e
    }
    val dirs =
      if (partitionSchema.isEmpty) {
        val statuses = Array.newBuilder[FileStatus]
        it.foreach(e =>
          statuses += ManifestFileIndex.status(tablePath, feed(e)))
        Seq(PartitionDirectory(InternalRow.empty, statuses.result()))
      } else {
        val out = Seq.newBuilder[PartitionDirectory]
        var curDir: String = null
        var cur = Array.newBuilder[FileStatus]
        def flush(): Unit = if (curDir != null) {
          out += PartitionDirectory(
            ManifestFileIndex.partitionValues(curDir, partitionSchema),
            cur.result())
          cur = Array.newBuilder[FileStatus]
        }
        it.foreach { e0 =>
          val e = feed(e0)
          val d = ManifestFileIndex.dirOf(e.rel, partitionSchema.length)
          if (d != curDir) { flush(); curDir = d }
          cur += ManifestFileIndex.status(tablePath, e)
        }
        flush()
        out.result()
      }
    (dirs, pairs.result())
  }

  // one scan node's listFiles may be asked more than once with the
  // same filters (selectedPartitions + metadata asks) — don't pay the
  // distributed prune twice for identical conditions. (The same-
  // instance lookup was already fed, so no re-feed here.)
  @volatile private var memo: Option[(String, Seq[PartitionDirectory])] =
    None

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val key = (partitionFilters ++ dataFilters)
      .map(_.canonicalized.toString).mkString("&")
    memo match {
      case Some((k, cached)) if k == key => return cached
      case _ =>
    }
    // the cross-plan key must be exprId-FREE (fresh plans mint fresh
    // ids, so canonicalized strings never match) and VALUE-exact:
    // `sql` text is neither — it renders timestamp literals as
    // zone-less wall-clock in the session zone, so two different
    // micros can share one text (SET timeZone between plans, or DST
    // fall-back overlap within one zone). Normalize exprIds to zero
    // and use toString, which prints literals by their INTERNAL value
    // (raw micros/days), then suffix the session zone — zone-aware
    // CASTs inside a filter don't print their zone but change with it.
    // Only static, deterministic filters are eligible: a
    // dynamic-pruning subquery or non-deterministic predicate
    // re-evaluates per execution and never shares across plans.
    // Literals must also RENDER value-exact: complex-typed literals
    // (array/struct backed by GenericArrayData etc.) print identity-
    // or hash-based text, so keys containing them either never hit
    // (each fresh plan inserts a dead O(|files|) entry that churns the
    // LRU) or could collide and serve a wrong list — restrict to
    // atomic types whose toString is the value (the same set statLong
    // trusts, plus strings/decimals/bools; binary prints identity, so
    // it is excluded; a null of any type prints "null", also exact).
    def literalOk(l: Literal): Boolean = l.value == null || (l.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType |
           StringType | DateType | TimestampType | TimestampNTZType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _: org.apache.spark.sql.types.DayTimeIntervalType => true
      case _: org.apache.spark.sql.types.YearMonthIntervalType => true
      case _ => false
    })
    val stable = memoKey.flatMap { mk =>
      val all = partitionFilters ++ dataFilters
      if (all.forall(e => e.deterministic && e.find {
            case _: org.apache.spark.sql.catalyst.expressions
              .PlanExpression[_] => true
            case l: Literal => !literalOk(l)
            case _ => false
          }.isEmpty))
        scala.util.Try {
          val texts = all.map(_.transform {
            case a: AttributeReference =>
              a.withExprId(org.apache.spark.sql.catalyst.expressions
                .ExprId(0))
          }.toString).sorted
          mk + "#tz=" + spark.sessionState.conf.sessionLocalTimeZone +
            "#" + texts.mkString("&")
        }.toOption
      else None
    }
    stable.flatMap(LazyManifestFileIndex.dirMemo.get) match {
      case Some((dirs, pairs)) =>
        pairs.foreach { case (k0, p0) => dvFeed(k0, p0) }
        memo = Some((key, dirs))
        dirs
      case None =>
        // a TRULY unfiltered cold list (SELECT *, count(*)) needs every
        // entry with no skipping at all — feed it from the sorted
        // chunked stream so the slim list is never driver-resident
        // (O(chunk), not O(|files|)). A DATA-ONLY filtered ask may also
        // stream (weakly-selective filters keep ~O(|files|) survivors):
        // data filters re-evaluate per row in the scan, so the in-scan
        // stat/segment prune needs no driver-side exactness pass —
        // unlike PARTITION filters, whose listFiles result is
        // authoritative (rows are not re-checked against them), so any
        // partition-filtered ask keeps the prune + exact-delegate path.
        val streamed =
          if (partitionFilters.isEmpty && dataFilters.isEmpty)
            streamAll().map(streamedDirs)
          else if (partitionFilters.isEmpty)
            streamFiltered(partitionFilters, dataFilters).map(streamedDirs)
          else None
        val (exact, pairs) = streamed.getOrElse {
          val survivors = prune(partitionFilters, dataFilters)
          val ps = survivors.flatMap(dvRef(_))
          ps.foreach { case (k0, p0) => dvFeed(k0, p0) }
          (new ManifestFileIndex(spark, tablePath, survivors,
            partitionSchema, genPruners)
            .listFiles(partitionFilters, dataFilters), ps)
        }
        stable.foreach { k =>
          val dirMemo = LazyManifestFileIndex.dirMemo
          // never cache a list that alone exceeds the budget
          if (dirMemo.cost((exact, pairs)) <= dirMemo.budget)
            dirMemo.put(k, (exact, pairs))
        }
        memo = Some((key, exact))
        exact
    }
  }
}

object LazyManifestFileIndex {
  /** Cross-plan directory memo, budgeted in FILES held (statuses are a
    * few hundred bytes each — 2M ≈ the slim-list budget's scale).
    * [[Warehouse.invalidateCached]] releases a table's lists on
    * dropTable / lifetime changes rather than waiting on LRU pressure.
    */
  private[graft] val dirMemo = new BoundedCache[
      (Seq[PartitionDirectory], Seq[(String, String)])](
    2L * 1024 * 1024, _._1.iterator.map(_.files.length.toLong).sum)
}

object ManifestFileIndex {

  // The TRAILING partition components only: a shallow-cloned entry's
  // rel is an absolute path into the source table, so leading
  // components are arbitrary; for table-local rels (exactly the
  // partition dirs + file) this is the same value as before.
  private[pipeline] def dirOf(rel: String, nParts: Int): String =
    rel.split('/').init.takeRight(nParts).mkString("/")

  /** `k=v/...` dir → typed partition-value row (Hive unescape + cast
    * with the session's non-ANSI null-on-failure semantics; Hive's
    * default-partition name → null).
    */
  private[pipeline] def partitionValues(dir: String,
      partitionSchema: StructType): InternalRow = {
    val vals = dir.split('/').zipWithIndex.map { case (comp, i) =>
      val f = partitionSchema(i)
      val raw = ExternalCatalogUtils.unescapePathName(
        comp.stripPrefix(s"${f.name}="))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else Cast(Literal(UTF8String.fromString(raw)), f.dataType,
        Some("UTC")).eval(InternalRow.empty)
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  private[pipeline] def status(tablePath: Path, e: FileEntry): FileStatus =
    new FileStatus(e.bytes, false, 0, 1, 0L, new Path(tablePath, e.rel))

  /** Long-encode a literal for stat comparison (timestamp literals are
    * already epoch micros internally); None = type we don't stat.
    */
  private def statLong(v: Any, dt: DataType): Option[Long] = (v, dt) match {
    case (i: Int, IntegerType) => Some(i.toLong)
    case (l: Long, LongType) => Some(l)
    case (l: Long, TimestampType) => Some(l)
    // NTZ internal literals are epoch micros too (naive-UTC reading);
    // date internal literals are epoch days — both match the manifest's
    // footer-stat encoding exactly
    case (l: Long, TimestampNTZType) => Some(l)
    case (i: Int, DateType) => Some(i.toLong)
    case _ => None
  }

  /** Per-predicate (column, disjunction-of-[lo,hi]) constraints from
    * the filters' simple comparisons. A file survives a constraint when
    * its stat range intersects ANY of the ranges (single-range for
    * comparisons; one point range per value for IN lists, so an
    * `id IN (5, 9000)` skips the files covering 10..8999 that a naive
    * [min,max] envelope would keep).
    */
  private[pipeline] def statRanges(filters: Seq[Expression])
      : Seq[(String, Seq[(Long, Long)])] = {
    def flat(e: Expression): Seq[Expression] = e match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    def one(c: String, lo: Long, hi: Long) = Some((c, Seq((lo, hi))))
    // bound per-value skip work: a pathological IN list degrades to the
    // sound envelope instead of O(|list| × |files|) planning cost
    val maxPoints = 1024
    def points(c: String, vals: Seq[Option[Long]]) : Option[(String, Seq[(Long, Long)])] = {
      if (vals.isEmpty || vals.exists(_.isEmpty)) None // untyped value → no skip
      else {
        val xs = vals.map(_.get)
        if (xs.length <= maxPoints) Some((c, xs.map(x => (x, x))))
        else Some((c, Seq((xs.min, xs.max))))
      }
    }
    filters.flatMap(flat).flatMap {
      case EqualTo(a: AttributeReference, Literal(v, dt)) =>
        statLong(v, dt).flatMap(x => one(a.name, x, x))
      case EqualTo(Literal(v, dt), a: AttributeReference) =>
        statLong(v, dt).flatMap(x => one(a.name, x, x))
      case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
        statLong(v, dt).flatMap(x => one(a.name, x + 1, Long.MaxValue))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        statLong(v, dt).flatMap(x => one(a.name, x, Long.MaxValue))
      case LessThan(a: AttributeReference, Literal(v, dt)) =>
        statLong(v, dt).flatMap(x => one(a.name, Long.MinValue, x - 1))
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        statLong(v, dt).flatMap(x => one(a.name, Long.MinValue, x))
      case GreaterThan(Literal(v, dt), a: AttributeReference) =>
        statLong(v, dt).flatMap(x => one(a.name, Long.MinValue, x - 1))
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        statLong(v, dt).flatMap(x => one(a.name, Long.MinValue, x))
      case LessThan(Literal(v, dt), a: AttributeReference) =>
        statLong(v, dt).flatMap(x => one(a.name, x + 1, Long.MaxValue))
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        statLong(v, dt).flatMap(x => one(a.name, x, Long.MaxValue))
      // IN lists: the restricted-scan shape MV retraction repair and
      // dirty-group rescans plan — null values drop out (null never
      // matches IN), non-literal members abort the skip
      case In(a: AttributeReference, list)
          if list.forall(_.isInstanceOf[Literal]) =>
        points(a.name, list.collect {
          case Literal(v, dt) if v != null => statLong(v, dt) })
      case InSet(a: AttributeReference, hset) =>
        points(a.name, hset.toSeq.filter(_ != null)
          .map(v => statLong(v, a.dataType)))
      case _ => Nil // unknown shape: never skip on it
    }
  }

  /** [[statRanges]] collapsed to ONE [lo, hi] envelope per column —
    * the shape the distributed columnar-manifest prune pushes down
    * ([[Warehouse.prunedEntries]]). Disjunctions within a predicate
    * take their envelope (sound: a superset survives); conjunctions
    * across predicates intersect. The exact per-point semantics are
    * re-applied by the driver pass over the survivors.
    */
  private[pipeline] def envelopeRanges(filters: Seq[Expression])
      : Map[String, (Long, Long)] =
    statRanges(filters)
      .map { case (c, rs) => (c, (rs.map(_._1).min, rs.map(_._2).max)) }
      .groupBy(_._1)
      .map { case (c, es) =>
        c -> ((es.map(_._2._1).max, es.map(_._2._2).min)) }

  /** Partition-filter conjuncts as PATH-SUBSTRING constraints the
    * distributed prune can evaluate on the manifest's `rel` column
    * without parsing or casting: each inner Seq is a disjunction of
    * `/k=v/` segments (IN lists), every outer element must match.
    * Hive's own escaping makes a `k=v/` substring unambiguous — `=`
    * and `/` are escaped inside values — so `contains` can never
    * false-negative on a matching file (leading components of borrowed
    * absolute rels can only cause OVER-keeping, which the exact driver
    * pass on the survivors corrects).
    *
    * Only segments whose literal renders EXACTLY as the write path
    * rendered it ([[Warehouse]]'s partitionDir: external `toString` +
    * Hive escape) become constraints — string/integral/boolean/date
    * types, plus timestamps when `utcRender` (below). Anything else
    * (casts, disjunctive predicates) contributes NO constraint:
    * missing a prune is sound, inventing one is not.
    *
    * @param utcRender the session's `spark.sql.session.timeZone` is
    *   exactly "UTC" — the engine's write contract (GraftSession pins
    *   it), under which Spark's partitioned write renders TimestampType
    *   dir values through `Cast(v, StringType)` in UTC, making the
    *   rendering reproducible here via the same Cast. A non-UTC session
    *   contributes no timestamp constraint (status quo — sound).
    *   TimestampNTZ renders timezone-free, so it needs no gate.
    */
  private[pipeline] def partitionSegments(filters: Seq[Expression],
      partitionSchema: StructType,
      utcRender: Boolean = false): Seq[Seq[String]] = {
    def flat(e: Expression): Seq[Expression] = e match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    def isPart(a: AttributeReference): Boolean =
      partitionSchema.exists(_.name == a.name)
    def defaultSeg(c: String): String =
      s"$c=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
    // internal literal value → the exact `k=v` path segment the write
    // path produced, or None when the rendering is not reproducible
    def seg(c: String, v: Any, dt: DataType): Option[String] = {
      if (v == null) return Some(defaultSeg(c))
      val raw: Option[String] = (v, dt) match {
        case (s: UTF8String, StringType) => Some(s.toString)
        case (i: Int, IntegerType) => Some(i.toString)
        case (l: Long, LongType) => Some(l.toString)
        case (s: Short, ShortType) => Some(s.toString)
        case (b: Byte, ByteType) => Some(b.toString)
        case (b: Boolean, BooleanType) => Some(b.toString)
        case (d: Int, DateType) =>
          Some(java.time.LocalDate.ofEpochDay(d.toLong).toString)
        // the writer-exact rendering: Spark's dynamic-partition write
        // renders dir values via Cast-to-string (session TZ for
        // TimestampType — reproducible only under the UTC contract;
        // TZ-free for NTZ)
        case (l: Long, TimestampType) if utcRender =>
          Some(Cast(Literal(l, TimestampType), StringType, Some("UTC"))
            .eval(InternalRow.empty).asInstanceOf[UTF8String].toString)
        case (l: Long, TimestampNTZType) =>
          Some(Cast(Literal(l, TimestampNTZType), StringType, Some("UTC"))
            .eval(InternalRow.empty).asInstanceOf[UTF8String].toString)
        case _ => None
      }
      raw.map(r => ExternalCatalogUtils.getPartitionPathString(c, r))
    }
    def wrap(s: String): String = s"/$s/"
    filters.flatMap(flat).flatMap {
      case EqualTo(a: AttributeReference, Literal(v, dt))
          if isPart(a) && v != null =>
        seg(a.name, v, dt).map(s => Seq(wrap(s)))
      case EqualTo(Literal(v, dt), a: AttributeReference)
          if isPart(a) && v != null =>
        seg(a.name, v, dt).map(s => Seq(wrap(s)))
      case EqualNullSafe(a: AttributeReference, Literal(v, dt))
          if isPart(a) =>
        seg(a.name, v, dt).map(s => Seq(wrap(s)))
      case EqualNullSafe(Literal(v, dt), a: AttributeReference)
          if isPart(a) =>
        seg(a.name, v, dt).map(s => Seq(wrap(s)))
      case IsNull(a: AttributeReference) if isPart(a) =>
        Some(Seq(wrap(defaultSeg(a.name))))
      case In(a: AttributeReference, list)
          if isPart(a) && list.nonEmpty &&
            list.forall(_.isInstanceOf[Literal]) =>
        // nulls never match IN — constrain by the non-null alternatives
        val alts = list.collect { case Literal(v, dt) if v != null =>
          seg(a.name, v, dt) }
        if (alts.isEmpty || alts.exists(_.isEmpty)) None
        else Some(alts.map(a => wrap(a.get)))
      case InSet(a: AttributeReference, hset) if isPart(a) =>
        val alts = hset.toSeq.filter(_ != null)
          .map(v => seg(a.name, v, a.dataType))
        if (alts.isEmpty || alts.exists(_.isEmpty)) None
        else Some(alts.map(a => wrap(a.get)))
      case _ => None // unknown shape: no constraint (sound)
    }
  }

  /** HIDDEN PARTITIONING, distributed: `/k=v/` segment constraints for
    * GENERATED partition columns, derived from DATA filters on their
    * BASE columns — the same monotone-map derivation `listFiles`' exact
    * pass applies ([[ManifestFileIndex.listFiles]]'s `derivedPart`),
    * lowered to path segments the columnar-manifest prune can evaluate.
    * For pruner `p ← (b, f monotone non-decreasing)` and a pushed
    * envelope `[lo, hi]` on `b`, matching rows live only in dirs with
    * `f(lo) ≤ v ≤ f(hi)`; that derived range becomes an enumerated
    * disjunction of writer-exact segments when it is small enough to
    * enumerate — dates and integrals up to [[derivedEnumCap]] values,
    * timestamps only at a point (their step is not unit). An
    * un-enumerable range contributes NO constraint (sound); a
    * CONTRADICTORY envelope (`lo > hi` — conjuncts on the base column
    * that no row can satisfy) emits the EMPTY disjunction, which the
    * prune evaluates as keep-nothing: sound, because the data filters
    * themselves are unsatisfiable. Sentinel envelope bounds (an
    * unbounded comparison) contribute nothing: `f` must not be fed
    * Long.Min/MaxValue.
    * Null-valued dirs (null base → hive default dir) are excluded by
    * construction — sound, because a pushed comparison on `b` never
    * matches a null-`b` row, and a generated dir holds only rows whose
    * base maps to its value.
    */
  private[pipeline] val derivedEnumCap = 64L
  private[pipeline] def derivedSegments(dataFilters: Seq[Expression],
      genPruners: Map[String, (String, Long => Long)],
      partitionSchema: StructType,
      utcRender: Boolean = false): Seq[Seq[String]] = {
    if (genPruners.isEmpty) return Nil
    val env = envelopeRanges(dataFilters)
    def wrap(c: String, r: String): String =
      "/" + ExternalCatalogUtils.getPartitionPathString(c, r) + "/"
    genPruners.toSeq.sortBy(_._1).flatMap { case (p, (b, f)) =>
      val i = partitionSchema.indexWhere(_.name == p)
      if (i < 0) None
      else env.get(b).flatMap { case (lo0, hi0) =>
        if (lo0 > hi0) Some(Seq.empty) // contradictory: keep nothing
        else if (lo0 == Long.MinValue || hi0 == Long.MaxValue) None
        else {
          val (lo, hi) = (f(lo0), f(hi0))
          // overflow-safe span: a wrapped difference (huge integral
          // range) must not look enumerable
          val enumerable =
            lo <= hi && hi - lo >= 0L && hi - lo < derivedEnumCap
          partitionSchema(i).dataType match {
            case DateType if enumerable =>
              Some((lo to hi).map(d =>
                wrap(p, java.time.LocalDate.ofEpochDay(d).toString)))
            case IntegerType | LongType | ShortType | ByteType
                if enumerable =>
              Some((lo to hi).map(v => wrap(p, v.toString)))
            case TimestampType if lo == hi && utcRender =>
              Some(Seq(wrap(p,
                Cast(Literal(lo, TimestampType), StringType, Some("UTC"))
                  .eval(InternalRow.empty).asInstanceOf[UTF8String]
                  .toString)))
            case TimestampNTZType if lo == hi =>
              Some(Seq(wrap(p,
                Cast(Literal(lo, TimestampNTZType), StringType,
                    Some("UTC"))
                  .eval(InternalRow.empty).asInstanceOf[UTF8String]
                  .toString)))
            case _ => None
          }
        }
      }
    }
  }
}
