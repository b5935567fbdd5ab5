package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.schema.Schemas

/** Input row for [[StreamingIngest.sessionize]]. */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** One open (not yet watermark-closed) session in the per-user state. */
case class OpenSession(start: Long, last: Long, n: Long, total: Double)

/** One CLOSED session — emitted only once the watermark proves no
  * further event can extend it. Column names match the batch q14 form.
  */
case class SessionRow(
    user_id: Long, session_start_ms: Long, n_events: Long, total_value: Double)

/** Structured-Streaming re-expression of the ingest pipeline (SURVEY.md
  * §2.11).
  *
  * The reference is a cron-triggered incremental micro-batch job
  * (`/root/reference/.github/workflows/data-pipeline.yml:7-9`, every 8 h)
  * whose exactly-once state is the warehouse itself, re-queried per run
  * with a 3-day lookback (`/root/reference/script.py:159`). The 1:1
  * streaming mapping:
  *
  *   - cron trigger            → file source + `Trigger.AvailableNow()`
  *     (each invocation drains whatever landed, then stops);
  *   - check-then-write dedup  → `dropDuplicatesWithinWatermark` keyed
  *     `(norad_id, epoch_utc)`;
  *   - 3-day lookback bound    → `withWatermark("epoch_utc", "3 days")` —
  *     the SAME bounded-state trade: late records beyond the horizon are
  *     re-admitted as possible duplicates, in exchange for state that
  *     never grows past the window.
  *
  * State lives in the checkpoint (RocksDB/HDFS-backed at scale), scales
  * with |keys within watermark| not |history|, and partitions by key —
  * this is the design that survives 1000 executors.
  */
object StreamingIngest {

  /** Streaming EP2: watermarked bounded-state telemetry dedup. Returns a
    * started query; callers `awaitTermination` (AvailableNow stops by
    * itself once the backlog is drained).
    */
  def telemetryStream(spark: SparkSession, sourceDir: String,
      targetDir: String, checkpointDir: String,
      horizonDays: Int = 3): StreamingQuery =
    spark.readStream
      .schema(Schemas.factTelemetry)
      .parquet(sourceDir)
      .withWatermark("epoch_utc", s"$horizonDays days")
      .dropDuplicatesWithinWatermark("norad_id", "epoch_utc")
      .writeStream
      .format("parquet")
      .option("path", targetDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming dim upsert via foreachBatch — the idempotent-sink pattern
    * for sinks that need a read-check (here: the EP1 anti-join against
    * the CURRENT warehouse state, which a blind append sink can't do).
    * Each micro-batch runs the same check-then-write the batch pipeline
    * uses; AvailableNow drains and stops.
    */
  def dimUpsertStream(spark: SparkSession, sourceDir: String,
      checkpointDir: String,
      warehouse: graft.pipeline.Warehouse): StreamingQuery =
    spark.readStream
      .schema(Schemas.dimSatellites)
      .parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val fresh = graft.dedup.Dedup.antiJoinNew(
          graft.dedup.Dedup.keepFirst(batch.toDF(), Seq("norad_id"),
            Seq(col("sat_name"))),
          warehouse.read("dim_satellites"), Seq("norad_id"))
        if (!fresh.isEmpty) { warehouse.append("dim_satellites", fresh); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming append with DERIVED-STATE maintenance: each micro-batch
    * appends to the warehouse table EXACTLY-ONCE (the txn-ledger fence
    * keyed on `queryId` + batch id — a re-delivered batch is a no-op)
    * and then brings the registered materialized views up to the new
    * head via [[graft.pipeline.MaterializedView.refresh]]. Refresh is
    * itself watermark-idempotent, so the compose converges under
    * at-least-once delivery: every view always reflects some committed
    * source version, and the NEXT refresh (this batch's or a later
    * one's) folds exactly the manifest diff since it.
    *
    * This is the streaming half of the warehouse-side derived-state
    * story: the batch half maintains on demand ([[graft.pipeline
    * .MaterializedView.refresh]] / [[graft.pipeline.IndexStore]]); here
    * the maintenance rides the ingest trigger, so downstream aggregate
    * readers (and the MV auto-rewrite route) see fresh state at
    * micro-batch granularity without ever rescanning the corpus.
    */
  def maintainedAppendStream(batches: DataFrame, checkpointDir: String,
      queryId: String, wh: graft.pipeline.Warehouse, table: String,
      views: Seq[graft.pipeline.MaterializedView.ViewDef])
      : StreamingQuery = {
    require(views.forall(_.src == table),
      s"maintainedAppendStream: every view must derive from $table")
    batches.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        wh.append(table, b.toDF(), txn = Some((queryId, id)))
        views.foreach(vd =>
          graft.pipeline.MaterializedView.refresh(wh, vd))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming CURATION: DEDUPE-ON-ARRIVAL for a document landing
    * stream — the streaming twin of the batch dedup ladder (q30/q32),
    * maintaining THE SAME persisted signature index the batch ladder
    * uses ([[graft.pipeline.IndexStore.refreshMinhash]]): one signature
    * store per corpus, two maintainers, zero double-signing. Each
    * micro-batch:
    *
    *   1. MinHash-signs its documents via
    *      [[graft.pipeline.IndexStore.minhashRows]] — the one shared
    *      derivation (deterministic CW family, identical signatures for
    *      identical content), each doc keyed by `sigkey`, the 64-bit
    *      hash of its full signature;
    *   2. keeps the FIRST doc per sigkey within the batch
    *      (deterministic min-id, the batch `keepFirst` contract);
    *   3. anti-joins survivors against the index's STORED `sigkey`
    *      column — one long per accepted doc, read not recomputed, and
    *      FILE-SKIPPED: the probe resolves through
    *      [[graft.pipeline.Warehouse.probeKeys]], whose bloom sidecars
    *      (sigkey is a declared bloom column) open only index files
    *      that might contain some batch key — per-epoch probe cost
    *      tracks the batch's key overlap, not the corpus;
    *   4. appends fresh docs to `accepted` and their signature rows to
    *      the index in ONE [[graft.pipeline.Warehouse!.appendAll]]
    *      transaction fenced on `(queryId, epoch)` — both or neither,
    *      and a replayed epoch lands once — which also stamps the
    *      index's `graft_index_*` ledger with the version `accepted`
    *      landed at ([[graft.pipeline.IndexStore.streamStamp]]), so a
    *      later batch `refreshMinhash` is a watermark no-op.
    *
    * Signature rows are APPENDED, not merged: they are proven fresh,
    * and a merge would copy-on-write every id-hash partition the batch
    * touches (~all of them) and their bloom sidecars, every epoch; the
    * append is O(batch), and `compactAfterFiles` bounds its files.
    *
    * DUPLICATE-ID CONTRACT (deliberate): the append is keyed by
    * NOTHING — a doc re-arriving with the same id but CHANGED content
    * (a new sigkey) passes the content anti-join and appends a SECOND
    * index row for that id, where `refreshMinhash`'s merge would
    * replace the first. That is the dedupe-on-arrival contract working
    * as intended (new content is new content; keying the probe on id
    * would wrongly drop changed docs from `accepted`), and it cannot
    * produce wrong PAIRS: every near-dup probe joins candidates back to
    * the LIVE source text for exact verification, so a stale signature
    * row can at worst propose a candidate the verifier then scores
    * against current text. It can skew candidate GENERATION (an id
    * surfaces via either signature) and wastes index bytes — reconcile
    * with [[graft.pipeline.IndexStore.compactIndex]] + `refreshMinhash`
    * (merge-by-id replaces stale rows) when id-uniqueness matters.
    *
    * `accepted` must not declare IDENTITY: `appendAll` refuses it (a
    * multi-table transaction cannot reassign ids after a lost race).
    *
    * Scale: signing is per-batch work; the anti-join reads ONE long
    * column of only the bloom-admitted index files (no signature
    * re-hash, no full-corpus scan per epoch).
    *
    * @param compactAfterFiles auto-compaction bound for the signature
    *   index: once its live file count exceeds this, the epoch folds
    *   its files after the transaction, in a commit of its own
    *   ([[graft.pipeline.IndexStore.maybeCompactFiles]]). 0 disables.
    */
  def dedupeOnArrivalStream(spark: SparkSession, sourceDir: String,
      schema: org.apache.spark.sql.types.StructType,
      wh: graft.pipeline.Warehouse, accepted: String, idx: String,
      checkpointDir: String, queryId: String = "dedupe_arrival",
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, numHashes: Int = 16, nParts: Int = 16,
      compactAfterFiles: Int = 64): StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epoch: Long) =>
        // fan a small micro-batch (often one landed file = one split)
        // to the session's parallelism before the 64-hash signing —
        // no-op once batches arrive in >= parallelism splits
        val df = graft.util.Fan.widen(batch.toDF())
        graft.pipeline.IndexStore.ensureMinhashTable(wh, accepted, idx, idCol)
        val signed = graft.pipeline.IndexStore.minhashRows(
          df, idCol, textCol, n, numHashes, nParts)
        val keyed = df.join(signed, idCol)
        // materialize the signed batch ONCE: the bloom probe's key
        // collection, the anti-join, and both appends all read it —
        // without this the probe would re-run the whole signing
        // pipeline a second time per epoch (signing is the dominant
        // linear cost)
        val firsts = graft.dedup.Dedup.keepFirst(
          keyed, Seq("sigkey"), Seq(col(idCol))).localCheckpoint()
        // bloom-pruned membership probe: only index files whose sigkey
        // sidecar admits some batch key are opened (None = nothing can
        // collide — the whole batch is fresh)
        val fresh = wh.probeKeys(idx, Seq("sigkey"),
            firsts.select("sigkey")) match {
          case None => firsts
          case Some(scan) => firsts.join(scan.select("sigkey"),
              Seq("sigkey"), "left_anti")
            .localCheckpoint() // read by both appends; stable mid-write
        }
        try {
          wh.appendAll(Seq(
              (accepted, fresh.select(df.columns.toSeq.map(col): _*), 0L),
              (idx, fresh.select(col(idCol), col("part"), col("sig"),
                col("sigkey")), 0L)),
            txn = Some((queryId, epoch)),
            landedMeta = Map(idx ->
              graft.pipeline.IndexStore.streamStamp(wh, accepted, idx)))
          graft.pipeline.IndexStore.maybeCompactFiles(wh, idx,
            compactAfterFiles)
          ()
        } finally { fresh.unpersist(); firsts.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming SESSIONIZATION with custom state — the
    * `flatMapGroupsWithState` surface (§2.11): gap-based sessions per
    * user, the streaming twin of the batch q14 window form, for session
    * semantics no built-in streaming aggregate expresses (dynamic
    * event-time gaps, not fixed windows).
    *
    * Per-user state is the list of OPEN sessions only. Each invocation
    * folds the micro-batch's (unordered) events plus prior open sessions
    * into a sorted merge — two sessions fuse when the gap between them is
    * under `gapMs` — then emits every session the current watermark has
    * sealed (`last + gap <= watermark`: no future event can extend it,
    * by the watermark contract) and keeps the rest, with an event-time
    * timeout at the earliest possible seal point so sessions close even
    * if the user never sends another event.
    *
    * Scale: state is per-key and bounded by OPEN sessions inside the
    * watermark horizon (closed sessions leave state immediately); keys
    * partition across executors; late events inside the watermark merge
    * retroactively and correctly because their session has not been
    * emitted yet. This is exactly the state discipline that survives an
    * unbounded stream.
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
      watermarkDelay: String): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[OpenSession], SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evts: Iterator[SessionEvent],
            state: GroupState[List[OpenSession]]) =>
          val incoming = evts
            .map(e => OpenSession(e.ts.getTime, e.ts.getTime, 1L, e.value))
            .toList
          val merged = (state.getOption.getOrElse(Nil) ++ incoming)
            .sortBy(s => (s.start, s.last))
            .foldLeft(List.empty[OpenSession]) { (acc, s) =>
              acc match {
                case h :: t if s.start - h.last < gapMs =>
                  OpenSession(h.start, math.max(h.last, s.last),
                    h.n + s.n, h.total + s.total) :: t
                case _ => s :: acc
              }
            }.reverse
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) = merged.partition(_.last + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // earliest instant any open session could seal; > wm by the
            // partition above, as setTimeoutTimestamp requires
            state.setTimeoutTimestamp(open.map(_.last).min + gapMs)
          }
          closed.iterator
            .map(s => SessionRow(user, s.start, s.n, s.total))
      }
  }

  /** Watermarked STREAM-STREAM interval join (§2.11): each left row
    * pairs with right rows of the same key whose event time falls in
    * `[leftTime - lookback, leftTime]` — "attach the errors that
    * preceded this event by up to an hour", both sides unbounded
    * streams.
    *
    * The time-range predicate plus the two watermarks is what makes
    * this runnable forever: Spark derives from them how long each
    * side's rows can still find partners and evicts state beyond that
    * horizon. Without the range condition the join state would grow
    * with the stream. Matches emit as both sides arrive (inner join —
    * no watermark wait on output).
    *
    * Caller renames the right side's columns (`rightKey`, `rightTime`)
    * so the joined schema is unambiguous.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      key: String, rightKey: String, leftTime: String, rightTime: String,
      lookback: String, watermark: String): DataFrame =
    left.withWatermark(leftTime, watermark)
      .join(right.withWatermark(rightTime, watermark),
        col(key) === col(rightKey) &&
          col(rightTime) >= col(leftTime) - expr(s"INTERVAL $lookback") &&
          col(rightTime) <= col(leftTime))

  /** Streaming event-time tumbling-window aggregation (the §2.11 window
    * surface): per-window, per-key counts with watermark-bounded state,
    * emitted on window close (append mode).
    */
  def windowedCounts(events: DataFrame, timeCol: String, keyCol: String,
      windowLength: String, watermark: String): DataFrame =
    events
      .withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"))
}
