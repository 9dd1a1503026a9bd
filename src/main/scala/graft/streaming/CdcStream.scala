package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.cdc.{CdcPipeline, CdcTableConfig, ChangeCompaction, PartialMerge, Scd2Store, SnapshotMerge, TypedProjection}

/** Structured-Streaming form of the CDC pipeline (SURVEY.md §2
  * A11/A12): the reference's scheduled stored-procedure loop becomes
  * a continuous query — `readStream` over the change feed,
  * per-micro-batch compaction + snapshot merge in `foreachBatch`,
  * exactly-once from the checkpoint + idempotent versioned publish
  * (the batchId-keyed publish skips a batch that already committed).
  *
  * Scale: each micro-batch shuffles only its own events (compaction);
  * its merge finds the replaced rows' positions in the touched buckets
  * and writes the batch's rows as a new segment — identical plan
  * shapes to the batch pipeline, so the same §5 properties hold; watermarking
  * bounds state for the stateful-dedup variant.
  */
object CdcStream {

  /** Compact + project one micro-batch of envelope rows and apply it
    * to the versioned parquet target through the batch pipeline's
    * apply path (`CdcPipeline.apply`): one pass over the compacted
    * batch (cached and typically tiny) counts it and collects its
    * touched PK-hash buckets, so the merge's matched-keys pass
    * broadcasts the delta keys instead of shuffling the full-width
    * target every micro-batch (ADVICE r2), and only those buckets are
    * read, in the target and in the SCD2 open store; each gains a
    * segment and a deletion vector (merge-on-read).
    * Exactly-once: the checkpoint replays at-least-once, and the
    * version pointer records the batchId that produced each committed
    * version, so a replayed batch (same batchId, same data —
    * file/Kafka sources are replayable) is skipped instead of
    * re-merged. Returns true when the batch was applied, false when
    * it was a replay of an already-committed batch.
    *
    * Declared `cfg.rollups` advance after the target publish, each
    * under its own target-version idempotence key, and the SCD2
    * history under the batch id, beside the merge once its open store
    * exists — see `CdcPipeline.maintainRollups` for the crash-window
    * analysis. A replay that finds the target committed but a rollup
    * or the history trailing (a crash between their publishes)
    * finishes them without re-merging: the rollup from the
    * time-traveled pre-merge version, instead of double-applying.
    */
  def mergeBatchToTarget(batch: DataFrame, batchId: Long, cfg: CdcTableConfig): Boolean = {
    // every replay decision comes from the pointers as they stand
    // before this batch writes anything
    val committedBatch = CdcPipeline.lastCommittedBatch(cfg.targetPath)
    val targetFresh = !committedBatch.exists(_ >= batchId)
    val curV = CdcPipeline.currentVersion(cfg.targetPath).getOrElse(-1L)
    // a crash between the target publish and a rollup/history publish
    // leaves that state trailing the pointer; the replayed batch must
    // finish it even though the merge itself is skipped
    val rollupsStale = cfg.rollups.exists(rs =>
      CdcPipeline.rollupAsOfVersion(cfg, rs.name) < curV)
    val scd2Stale = cfg.scd2.nonEmpty && Scd2Store.lastAppliedSeq(cfg) < batchId
    if (!targetFresh && !rollupsStale && !scd2Stale) false
    else {
      // Write-time expectations gate the micro-batch exactly like the
      // batch window (CdcPipeline.run): clean upserts + ungated
      // deletes feed merge/rollups/history; quarantine is keyed on
      // the batchId (one maintenance mode per target, so the window
      // keys never mix), and a replayed batch overwrites its own
      // quarantine directory instead of duplicating it.
      val projected = CdcPipeline.gateExpectations(
        cfg.project(batch), cfg, windowKey = batchId)._1
      val changes = ChangeCompaction.compactForMerge(projected, cfg.pk).cache()
      try {
        val summary = CdcPipeline.summarize(cfg, changes)
        // changesMatchCurrent: this batch produced the current version
        // (either just now, or before the crash being replayed — the
        // pointer records which batch made it).
        // targetExistedBefore = some OLDER batch built the target, so
        // a replay of the creating batch still takes the history's
        // incremental-from-empty path, never a divergent bootstrap.
        // The pointer alone can't see older batches when the CRASHED
        // attempt of this very batch already published the target
        // (committedBatch == batchId) — the store's version count can:
        // the creating batch publishes v0, so a version > 0 after this
        // batch's merge proves older batches ran, and a late
        // declaration's replayed declaring batch still bootstraps
        // instead of silently dropping every pre-declaration row
        // (ADVICE r6). A fresh batch publishes curV + 1, so that
        // version is > 0 exactly when curV >= 0; a replay publishes
        // nothing, so it is curV itself.
        CdcPipeline.apply(batch.sparkSession, cfg, projected, changes, summary,
          CdcPipeline.Replay(batchId = batchId, seqKey = batchId, targetFresh = targetFresh,
            changesMatchCurrent = targetFresh || committedBatch.contains(batchId),
            targetExistedBefore = committedBatch.exists(_ < batchId) ||
              (if (targetFresh) curV >= 0 else curV > 0),
            seqIsLoadTs = false), "cdc.stream")(())
        targetFresh
      } finally changes.unpersist()
    }
  }

  /** Projection + compaction of one micro-batch — the delta a merge
    * applies. Exposed for plan-shape specs.
    */
  private[graft] def compactBatch(batch: DataFrame, cfg: CdcTableConfig): DataFrame =
    ChangeCompaction.compactForMerge(cfg.project(batch), cfg.pk)

  /** PRODUCTION streaming merge: readStream envelope → foreachBatch →
    * versioned parquet target (`cfg.targetPath`), batchId-idempotent.
    * The reference's transactional MERGE+COMMIT (merge.sql:403–449)
    * in the Structured Streaming setting: a crash between merge and
    * checkpoint replays the batch, which the version pointer's
    * batchId then skips; a crash before publish leaves the previous
    * version live (= ROLLBACK).
    */
  def startMergeToTarget(env: DataFrame, cfg: CdcTableConfig,
      checkpoint: String): StreamingQuery =
    env.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeBatchToTarget(batch.toDF(), batchId, cfg)
        ()
      }
      .start()

  /** A87 streaming: sparse patch stream → versioned target with
    * column-level last-writer-wins, batchId-idempotent exactly like
    * the row-level sink (a replayed micro-batch is skipped by the
    * pointer's recorded batchId; the partial merge itself is also
    * idempotent under same-window re-application, so the two crash
    * windows — before and after the checkpoint — both converge).
    * Monotone micro-batches satisfy the cross-window contract
    * documented on [[graft.cdc.PartialMerge.mergeAndPublish]] as long
    * as the SOURCE delivers event time monotonically across batches
    * (Kafka per-partition order, file-source landing order).
    */
  def partialMergeBatchToTarget(batch: DataFrame, batchId: Long,
      targetDir: String, pkCols: Seq[String],
      fields: Seq[TypedProjection.FieldSpec],
      numBuckets: Option[Int] = None): Boolean =
    if (CdcPipeline.lastCommittedBatch(targetDir).exists(_ >= batchId)) false
    else {
      PartialMerge.mergeAndPublish(batch.sparkSession, targetDir, pkCols,
        fields, batch, batchId, numBuckets)
      true
    }

  /** The production sink for [[partialMergeBatchToTarget]]. */
  def startPartialMergeToTarget(env: DataFrame, targetDir: String,
      pkCols: Seq[String], fields: Seq[TypedProjection.FieldSpec],
      checkpoint: String, numBuckets: Option[Int] = None): StreamingQuery =
    env.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        partialMergeBatchToTarget(batch.toDF(), batchId, targetDir, pkCols,
          fields, numBuckets)
        ()
      }
      .start()

  /** One-shot scheduled drain: process everything available in the
    * feed, merge it, and STOP (Trigger.AvailableNow, blocking until
    * drained). This is the operational mode the reference actually
    * runs in — a scheduler invoking the merge procedure per table on
    * an interval — with the streaming engine's checkpointing giving
    * the incremental window for free: each invocation resumes at the
    * previous offset, processes only new data in rate-limited
    * micro-batches, and the batchId-idempotent publish keeps crash
    * replays exactly-once. Same running cost profile as a batch job
    * (no always-on cluster), same code path as the continuous stream.
    */
  def drainToTarget(env: DataFrame, cfg: CdcTableConfig, checkpoint: String): Unit =
    env.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeBatchToTarget(batch.toDF(), batchId, cfg)
        ()
      }
      .start()
      .awaitTermination()

  final case class DedupEvent(key: Long, pos: Long)
  final case class TimedEvent(key: Long, pos: Long, eventTime: java.sql.Timestamp)

  /** Production streaming dedup with a TTL: emit a key's first
    * occurrence within each `ttl`-long event-time window, evicting
    * state as the watermark passes lastSeen + ttl. This is the
    * bounded-memory form of `firstSeen`: state is O(keys active in
    * the TTL window), not O(all keys ever) — the difference between
    * running forever and OOMing on an unbounded stream. The caller
    * must `withWatermark` the input; eviction (and thus re-emission
    * of a key after the TTL) is driven by event time, so replays are
    * deterministic.
    */
  def firstSeenTtl(events: Dataset[TimedEvent], ttlMs: Long): Dataset[DedupEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[Long, DedupEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[TimedEvent], state: GroupState[Long]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            state.remove() // TTL elapsed: forget the key
            Iterator.empty
          } else {
            val batch = rows.toSeq
            val maxTime = batch.map(_.eventTime.getTime).max
            val out =
              if (state.exists) Iterator.empty
              else Iterator(DedupEvent(key, batch.minBy(_.pos).pos))
            state.update(maxTime)
            state.setTimeoutTimestamp(maxTime + ttlMs)
            out
          }
      }
  }

  /** Streaming exact dedup: emit each key's first occurrence only,
    * keeping seen-keys in keyed state (flatMapGroupsWithState). The
    * streaming analogue of `Dedup.exact`; state is one boolean per
    * key, so memory is |distinct keys| — `firstSeenTtl` is the
    * bounded-state production variant.
    */
  def firstSeen(events: Dataset[DedupEvent]): Dataset[DedupEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[Boolean, DedupEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[DedupEvent], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // Deterministic representative: smallest pos in the batch.
            Iterator(rows.minBy(_.pos))
          }
      }
  }
}
