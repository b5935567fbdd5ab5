package graft.pipeline

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{NearDup, PQ, Similarity}

/** PERSISTED, INCREMENTALLY-MAINTAINED index artifacts — the missing
  * piece between the per-query ANN/dedup operators (`graft.ext`) and a
  * 100 TB corpus: [[NearDup.minhashSignatures]] re-signs the corpus per
  * run, [[Similarity.assignCells]] refits the quantizer per run, and at
  * scale that FIT/SIGN pass, not the probe, is the dominant cost. Here
  * the artifacts live as ordinary warehouse tables — so they inherit
  * manifests, atomic commits, time travel, and the change feed for
  * free — and are maintained INCREMENTALLY from the source table's
  * manifest diff ([[Warehouse!.readChanges]]): a refresh derives rows
  * only for files added since the version the index last reflected.
  *
  * Consistency bookkeeping rides the txn-watermark ledger (the Delta
  * setTransaction shape, [[Warehouse!.append]]): every index commit
  * records `txn_graft_index_<src> = <source version>` atomically WITH
  * the derived rows, so "which source version does this index reflect"
  * is answered by the index's own head manifest — crash-safe, and a
  * re-run of the same refresh is a watermark no-op.
  *
  * The MinHash index has TWO maintainers of one table and one ledger:
  * batch [[refreshMinhash]] (the merge below) and the streaming
  * dedupe-on-arrival, which appends each epoch's signatures in the
  * accepted docs' own transaction and stamps the ledger from it
  * ([[streamStamp]]).
  *
  * Maintenance is a MERGE keyed on the doc id: append-only sources only
  * insert; a source MERGE/UPDATE rewrites its partitions, the rewritten
  * rows reappear in the manifest diff, and the index merge REPLACES
  * their stale derived rows. Source DELETEs leave stale index entries
  * behind (they never reappear in an added file) — harmless at probe
  * time because every probe joins candidates back to the live source
  * (stale ids inner-join away), and reclaimable by [[compactIndex]].
  * Index tables are hash-partitioned on the id (`part = pmod(xxhash64
  * (id), nParts)` — a pure function of the merge key, as the merge
  * contract requires), so a refresh rewrites only the partitions its
  * batch touches, never the whole index.
  *
  * Incremental == rebuild is STRUCTURAL for every artifact here: each
  * derived row is a PURE function of its source row (MinHash
  * signatures) or of (source row, persisted model) (IVF cell under
  * FIXED centroids, PQ codes under a FIXED codebook) — no derived row
  * depends on which batch its source row arrived in. The models
  * themselves (centroids, codebooks) are fit ONCE at build time and
  * persisted; that is the published IVF/PQ lifecycle (train once,
  * encode forever), not a shortcut.
  *
  * Reference scope: the reference re-derives everything per run
  * (`/root/reference/script.py` has no persisted derived state); this
  * is the engine-side generalization its warehouse tables make cheap.
  */
object IndexStore {

  /** txn-ledger query id under which index commits record the source
    * version they reflect.
    */
  private def txnId(src: String) = s"graft_index_$src"

  /** The source version `idx` currently reflects, from the txn
    * watermark on its head commit — None for a never-refreshed index.
    */
  def indexedVersion(wh: Warehouse, idx: String, src: String): Option[Long] =
    wh.history(idx).lastOption
      .flatMap(_._2.get(s"txn_${txnId(src)}")).map(_.toLong)

  private def partExpr(idCol: String, nParts: Int): Column =
    pmod(xxhash64(col(idCol)), lit(nParts)).cast("int")

  /** Generic derived-table maintenance: derive rows for everything the
    * source added since the indexed version (or the whole source on
    * first build / after the diff base was vacuumed) and MERGE them in
    * keyed on `idCol`, recording the new watermark atomically with the
    * rows. Contract: source rows unique by `idCol` (the star-schema /
    * documents invariant), `derive` emits exactly one row per input id.
    *
    * @return the source version the index now reflects
    */
  private def refreshDerived(wh: Warehouse, src: String, idx: String,
      idCol: String, derive: DataFrame => DataFrame,
      stats: DataFrame => Map[String, String] = _ => Map.empty): Long = {
    val head = wh.versions(src).max
    val since = indexedVersion(wh, idx, src)
      // a vacuumed-away diff base forces a full re-derive (still
      // correct: merge replaces rows it already has)
      .filter(v => wh.versions(src).contains(v))
    if (since.contains(head)) return head // watermark no-op
    val changed = since match {
      case Some(v) => wh.readChanges(src, v)
      case None => wh.read(src)
    }
    // materialize the derived batch ONCE: merge evaluates its updates
    // plan three times (touched-partition collect, the anti-join build
    // side, the union arm), and the signature/assignment derivations
    // are the expensive part of a refresh — re-deriving per consumer
    // tripled the refresh cost. Derived rows are small (id + signature/
    // cell), so the checkpoint is bytes-bounded by the batch.
    val derived = derive(changed).localCheckpoint()
    // per-batch observations (drift tracking) ride the SAME commit as
    // the rows — one agg over the already-cached batch, crash-atomic
    wh.merge(idx, derived, Seq(idCol),
      txn = Some((txnId(src), head)), extraMeta = stats(derived))
    head
  }

  /** Drop index entries whose id no longer exists in the source (left
    * behind by source DELETEs — see class doc). The stale set is
    * data-sized after a large source DELETE, so it NEVER touches the
    * driver: one distributed anti-join derives it and
    * [[Warehouse!.deleteKeys]] applies it as a join inside the rewrite
    * (footprint = files containing matches; no `IN (…)` literal list,
    * no O(|stale|) driver memory). Probe correctness never requires
    * compaction — stale ids inner-join away — it only reclaims space.
    */
  def compactIndex(wh: Warehouse, src: String, idx: String,
      idCol: String): Long = {
    val live = wh.read(src).select(col(idCol))
    val stale = wh.read(idx).select(col(idCol))
      .join(live, Seq(idCol), "left_anti")
    wh.deleteKeys(idx, stale, Seq(idCol))
  }

  // ------------------------------------------------------------------
  // MinHash signature index
  // ------------------------------------------------------------------

  /** Create (if missing) the signature table `(id, part, sig)` and
    * bring it up to date with the source: full sign on first call,
    * manifest-diff increment afterwards. Signatures are per-row pure
    * ([[NearDup.minhashSignatures]]'s seeded Carter-Wegman family), so
    * the incremental table is bit-identical to a full rebuild.
    *
    * @return the source version the index now reflects
    */
  def refreshMinhash(wh: Warehouse, src: String, idx: String,
      idCol: String, textCol: String, n: Int = 3, numHashes: Int = 64,
      nParts: Int = 16): Long = {
    ensureMinhashTable(wh, src, idx, idCol)
    refreshDerived(wh, src, idx, idCol,
      minhashRows(_, idCol, textCol, n, numHashes, nParts))
  }

  /** Create the minhash signature table `(id, part, sig, sigkey)` if
    * missing — shared by [[refreshMinhash]] and the streaming
    * dedupe-on-arrival maintainer, so both write ONE index. `sigkey`
    * (the 64-bit hash of the full signature) is stored, not derived at
    * probe time: the streaming anti-join reads one long column per
    * accepted doc instead of re-hashing every stored signature per
    * micro-batch — and it is a declared BLOOM column, so the per-epoch
    * membership probe ([[Warehouse.probeKeys]]) opens only files whose
    * sidecar admits some batch key instead of scanning the whole index
    * (sigkey is a uniform hash: footer [min,max] ranges span the full
    * domain and can never skip — blooms are the only skipping story).
    * Pre-existing indexes without the declaration are upgraded in
    * place: [[Warehouse.setIndexColumns]] backfills the sidecars once.
    */
  def ensureMinhashTable(wh: Warehouse, src: String, idx: String,
      idCol: String): Boolean = {
    val created = wh.createTable(idx, Warehouse.TableSpec(
      StructType(Seq(
        StructField(idCol, wh.tables(src)(idCol).dataType),
        StructField("part", IntegerType),
        StructField("sig", ArrayType(LongType)),
        StructField("sigkey", LongType))),
      partitionBy = Seq("part"),
      bloomColumns = Seq("sigkey"),
      bloomExpectedItems = 262144L), ifNotExists = true)
    if (!created && !wh.tableSpec(idx).bloomColumns.contains("sigkey")) {
      wh.setIndexColumns(idx, bloomColumns =
        Some(wh.tableSpec(idx).bloomColumns :+ "sigkey"))
      ()
    }
    created
  }

  /** Index-shaped signature rows for a batch — the pure derivation both
    * maintainers share (incremental == rebuild holds BECAUSE this is
    * the only way signature rows are ever produced).
    */
  def minhashRows(batch: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, nParts: Int): DataFrame =
    NearDup.minhashSignatures(batch, idCol, textCol, n, numHashes)
      .select(col("_id").as(idCol), partExpr(idCol, nParts).as("part"),
        col("_sig").as("sig"), xxhash64(col("_sig")).as("sigkey"))

  /** The streaming maintainer's ledger stamp, an [[Warehouse!.appendAll]]
    * `landedMeta` hook for `idx` in a transaction that appends `src`
    * first: advance to `src`'s landed version `L` only when the stamp
    * is `L - 1`, or there is none and `src` held no rows before `L`.
    * Otherwise a foreign commit to `src`, unseen by the index, sits in
    * between: the ledger stays, and the next [[refreshMinhash]] signs
    * from there (merge-by-id absorbs the overlap with streamed rows).
    */
  private[graft] def streamStamp(wh: Warehouse, src: String, idx: String)
      : Map[String, Long] => Map[String, String] = landed => {
    val l = landed(src)
    val follows = indexedVersion(wh, idx, src) match {
      case Some(s) => s == l - 1
      case None => wh.metaRowCount(src, Some(l - 1)).contains(0L)
    }
    if (follows) Map(s"txn_${txnId(src)}" -> l.toString) else Map.empty
  }

  /** Bound the streaming maintainer's one-file-per-epoch accumulation:
    * when `idx`'s LIVE FILE COUNT exceeds `maxFiles`, bin-pack its
    * small files ([[Warehouse!.compact]] — content-invariant, commits
    * like any rewrite, and the rewritten files get fresh bloom
    * sidecars from the write path, so the strict-subset membership
    * probe keeps skipping). The count is a driver-held manifest fact;
    * the check costs nothing on the epochs that don't trigger. Crash/
    * replay-safe the way every maintenance rewrite is: a replayed
    * epoch just re-checks the (now small) file count and moves on.
    *
    * @return true when a compaction ran
    */
  def maybeCompactFiles(wh: Warehouse, idx: String,
      maxFiles: Int): Boolean = {
    if (maxFiles <= 0) return false
    if (wh.loadLatest(idx)._2.size <= maxFiles) return false
    wh.compact(idx)
    true
  }

  /** Near-dup pairs from the PERSISTED signatures: the LSH band join
    * runs over the index table (no re-signing — at 100 TB this is the
    * whole point), exact Jaccard verification joins candidates back to
    * the live source text. Identical result to
    * [[NearDup.minhashLshPairs]] over the current source because the
    * stored signatures ARE the signatures that run would compute.
    */
  def minhashProbePairs(wh: Warehouse, src: String, idx: String,
      idCol: String, textCol: String, n: Int = 3, numHashes: Int = 64,
      numBands: Int = 16, minJaccard: Double = 0.8): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val sigs = wh.read(idx)
      .select(col(idCol).as("_id"), col("sig").as("_sig"))
    val cands = NearDup.bandCandidates(sigs, numBands, numHashes / numBands)
    NearDup.verifyJaccard(cands, wh.read(src), idCol, textCol, n, minJaccard)
  }

  // ------------------------------------------------------------------
  // IVF index (persisted centroids + persisted cell assignments)
  // ------------------------------------------------------------------

  private def centroidsTable(idx: String) = s"${idx}_centroids"
  private def vectorsTable(idx: String) = s"${idx}_vectors"

  /** Nearest-centroid cell id as a PURE per-row expression: the
    * centroid list (nCells × dim doubles — tiny) rides the plan as a
    * literal, exactly like [[PQ.encodeExpr]]'s codebook, so assignment
    * is a shuffle-free map over the corpus — no broadcast join, no
    * window. Strict argmin with smallest-cell tie-break, deterministic
    * double arithmetic with fixed fold order: an incremental assign of
    * late rows equals the full assign bit-for-bit.
    */
  private def cellExpr(vec: Column, cents: Seq[Seq[Double]]): Column = {
    val cbLit = typedlit(cents)
    val dists = transform(cbLit, c =>
      aggregate(
        zip_with(vec.cast("array<double>"), c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Centroid rows, cell-ordered, collected (nCells × dim — model-
    * sized, the standard Delta-style driver-state shape).
    */
  private def loadCentroids(wh: Warehouse, idx: String): Seq[Seq[Double]] =
    wh.read(centroidsTable(idx)).orderBy("cell").collect().toSeq
      .map(_.getSeq[Double](1).toSeq)

  /** BUILD the IVF index: fit the coarse quantizer once (seeded-sample
    * k-means, the [[Similarity.assignCells]] stance), persist the
    * centroids, then assign the full corpus through [[cellExpr]] into
    * the vectors table. Subsequent [[refreshIvf]] calls assign only new
    * rows against the SAME persisted centroids — the published IVF
    * lifecycle (train once, assign forever); re-TRAINING is an explicit
    * rebuild, not a refresh.
    *
    * @return the source version the index now reflects
    */
  def buildIvf(wh: Warehouse, src: String, idx: String, idCol: String,
      vecCol: String, nCells: Int, fitFraction: Double = 0.1,
      minFitRows: Long = 256, nParts: Int = 16, seed: Long = 42L): Long = {
    require(nCells > 0, s"buildIvf: nCells must be positive, got $nCells")
    val corpus = wh.read(src)
    val spark = corpus.sparkSession
    val feats = corpus.select(
      org.apache.spark.ml.functions.array_to_vector(col(vecCol))
        .as("features"))
    val sampled = feats.sample(withReplacement = false, fitFraction, seed)
    val fitSet =
      if (fitFraction >= 1.0) feats
      else if (sampled.count() >= math.max(minFitRows, 4L * nCells)) sampled
      else feats // small-corpus fallback, as in assignCells
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(8)
      .setFeaturesCol("features").setPredictionCol("cell").fit(fitSet)
    val centRows = model.clusterCenters.zipWithIndex.toSeq.map {
      case (c, i) => Row(i, c.toArray.toSeq)
    }
    val centSchema = StructType(Seq(
      StructField("cell", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
    wh.createTable(centroidsTable(idx), Warehouse.TableSpec(centSchema),
      ifNotExists = true)
    wh.overwrite(centroidsTable(idx), spark.createDataFrame(
      spark.sparkContext.parallelize(centRows, 1), centSchema))
    // full (re)assignment under the NEW centroids as an OVERWRITE — a
    // REBUILD on an already-indexed corpus must not leave assignments
    // computed under the previous centroid table behind (the diff-based
    // refresh would be a watermark no-op and keep every stale cell).
    // The overwrite stamps the same txn watermark refreshIvf uses plus
    // the build-time drift baseline, atomically with the rows.
    val head = wh.versions(src).max
    wh.createTable(vectorsTable(idx), Warehouse.TableSpec(
      StructType(Seq(
        StructField(idCol, wh.tables(src)(idCol).dataType),
        StructField("part", IntegerType),
        StructField("cell", IntegerType),
        StructField("vec", wh.tables(src)(vecCol).dataType))),
      partitionBy = Seq("part")), ifNotExists = true)
    val cents = loadCentroids(wh, idx)
    val assigned = corpus.select(col(idCol), partExpr(idCol, nParts).as("part"),
      cellExpr(col(vecCol), cents).as("cell"), col(vecCol).as("vec"))
      .localCheckpoint()
    try {
      wh.overwrite(vectorsTable(idx), assigned,
        meta = Map(s"txn_${txnId(src)}" -> head.toString) ++
          driftMeta(assigned, cents, isBuild = true))
      head
    } finally assigned.unpersist()
  }

  /** The per-batch drift observation ([[refreshIvf]]'s scaladoc): mean
    * squared distance to the assigned centroid + row count, empty for
    * an empty batch.
    */
  private def driftMeta(batch: DataFrame, cents: Seq[Seq[Double]],
      isBuild: Boolean): Map[String, String] = {
    val cbLit = typedlit(cents)
    val d2 = aggregate(
      zip_with(col("vec").cast("array<double>"),
        element_at(cbLit, col("cell") + 1),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val r = batch.agg(avg(d2).as("m"), count(lit(1)).as("n")).head()
    if (r.isNullAt(0)) Map.empty
    else Map("ivfMeanD2" -> r.getDouble(0).toString,
      "ivfRows" -> r.getLong(1).toString) ++
      (if (isBuild) Map("ivfBuild" -> "true") else Map.empty)
  }

  /** Incremental IVF maintenance: assign rows the source added since
    * the indexed version against the PERSISTED centroids and merge
    * them into the vectors table. Equals a full re-assignment under the
    * same centroid table (per-row purity of [[cellExpr]]).
    *
    * DRIFT TRACKING: each refresh records the batch's mean squared
    * distance to its assigned centroid (`ivfMeanD2`) and row count on
    * the commit metadata, atomically with the rows (`isBuild` marks the
    * build-time baseline). Incremental assignment against frozen
    * centroids silently degrades RECALL as the embedding distribution
    * shifts — probe-all stays exact by the invariant, but nProbe<all
    * probes miss more — and a rising mean distance is the signal.
    * [[ivfDrift]] folds these into a staleness ratio; the history
    * surface (`DESCRIBE HISTORY`) shows the raw per-commit numbers.
    */
  def refreshIvf(wh: Warehouse, src: String, idx: String, idCol: String,
      vecCol: String, nParts: Int = 16, isBuild: Boolean = false): Long = {
    wh.createTable(vectorsTable(idx), Warehouse.TableSpec(
      StructType(Seq(
        StructField(idCol, wh.tables(src)(idCol).dataType),
        StructField("part", IntegerType),
        StructField("cell", IntegerType),
        StructField("vec", wh.tables(src)(vecCol).dataType))),
      partitionBy = Seq("part")), ifNotExists = true)
    val cents = loadCentroids(wh, idx)
    refreshDerived(wh, src, vectorsTable(idx), idCol,
      changed =>
        changed.select(col(idCol), partExpr(idCol, nParts).as("part"),
          cellExpr(col(vecCol), cents).as("cell"), col(vecCol).as("vec")),
      stats = driftMeta(_, cents, isBuild))
  }

  /** Staleness of a persisted IVF index: build-time vs latest-batch
    * mean assigned-centroid distance. None until a build-marked commit
    * exists. `ratio` ≈ 1 → the embedding distribution still matches the
    * quantizer; a ratio past ~2 means new batches land far from every
    * centroid (coarse cells → degraded recall at nProbe < nCells) and a
    * refit ([[buildIvf]]) is recommended. Metadata-only: two history
    * lookups, no data read.
    */
  final case class IvfDrift(buildMeanD2: Double, lastMeanD2: Double,
      lastRows: Long) {
    def ratio: Double =
      if (buildMeanD2 > 0) lastMeanD2 / buildMeanD2
      else if (lastMeanD2 == 0) 1.0
      else Double.PositiveInfinity
    def needsRefit(threshold: Double = 2.0): Boolean = ratio >= threshold
  }

  def ivfDrift(wh: Warehouse, idx: String): Option[IvfDrift] = {
    val metas = wh.history(vectorsTable(idx)).map(_._2).reverse
    for {
      b <- metas.collectFirst {
        case m if m.get("ivfBuild").contains("true") &&
          m.contains("ivfMeanD2") => m("ivfMeanD2").toDouble }
      l <- metas.collectFirst {
        case m if m.contains("ivfMeanD2") =>
          (m("ivfMeanD2").toDouble,
            m.getOrElse("ivfRows", "0").toLong) }
    } yield IvfDrift(b, l._1, l._2)
  }

  /** Top-k cosine from the PERSISTED index: each query ranks the
    * persisted centroids (pure expression — the centroid list is plan
    * data), probes its `nProbe` nearest cells, and scores only those
    * cells' vectors via the bucketed equi-join on `cell`. At
    * `nProbe == nCells` this equals exact brute force for ANY centroid
    * table (the probe-all invariant) — the property the spec gates.
    */
  def ivfProbeTopK(wh: Warehouse, idx: String, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nProbe: Int): DataFrame = {
    val cents = loadCentroids(wh, idx)
    // nProbe nearest cells per query, by (distance, cell) — the same
    // argmin arithmetic as cellExpr generalized to a top-n slice, still
    // a pure expression (struct arrays sort field-by-field, so the
    // cell id is the deterministic tie-break)
    val cbLit = typedlit(cents)
    val qv = col("qvec").cast("array<double>")
    val ranked = array_sort(zip_with(cbLit,
      sequence(lit(0), lit(cents.size - 1)),
      (c, i) => struct(
        aggregate(zip_with(qv, c, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("d2"),
        i.as("cell"))))
    val probeCells = transform(slice(ranked, 1, nProbe),
      s => s.getField("cell"))
    // two selects: probeCells references `qvec`, which the FIRST select
    // introduces — one select would make it a lateral alias reference
    val probes = queries
      .select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
      .select(col("qid"), col("qvec"), explode(probeCells).as("cell"))
    val scored = probes.join(wh.read(vectorsTable(idx)), "cell")
      .where(col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("id"),
        round(Similarity.cosine(col("vec"), col("qvec")), 6).as("cosine"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))))
      .where(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // PQ codebook persistence
  // ------------------------------------------------------------------

  /** Persist a PQ codebook as a warehouse table `(m, code, centroid)` —
    * the train-once artifact [[PQ.topK]]/[[PQ.ivfPqTopK]] embed as a
    * plan literal. Overwrites atomically; history keeps prior books.
    */
  def saveCodebook(wh: Warehouse, tbl: String, cb: PQ.Codebook): Unit = {
    val schema = StructType(Seq(
      StructField("m", IntegerType),
      StructField("code", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
    wh.createTable(tbl, Warehouse.TableSpec(schema), ifNotExists = true)
    val rows = for {
      (sub, mi) <- cb.zipWithIndex
      (cent, ci) <- sub.zipWithIndex
    } yield Row(mi, ci, cent)
    val spark = wh.read(tbl).sparkSession
    wh.overwrite(tbl, spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema))
  }

  /** Load a persisted codebook back to the exact in-memory shape
    * [[PQ.encodeExpr]] takes — doubles round-trip parquet losslessly,
    * so encode/ADC under the loaded book is bit-identical to the
    * fresh-fit book it came from.
    */
  def loadCodebook(wh: Warehouse, tbl: String): PQ.Codebook =
    wh.read(tbl).orderBy("m", "code").collect().toSeq
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toSeq).toSeq)
}
