package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental store-to-store replication (SURVEY.md §2 A82) — keep a
  * second bucketed store converged to a source store by replaying the
  * source's committed change feed, the Delta "incremental clone" /
  * mirroring pattern (and the cross-region DR posture the reference's
  * warehouse gets from its platform: its merge procedure writes ONE
  * table per run — merge.sql:403–436 — replication re-derives that
  * run's effect elsewhere without re-running the merge).
  *
  * Contract:
  *   - `replicate` pins the SOURCE version it converges to before
  *     reading anything, applies, then commits a cursor file under
  *     the replica (`_replication/src.cursor`, the A34
  *     process-then-commit discipline) recording (source path,
  *     applied source version).
  *   - Incremental cost: the replayed span is [[CdcPipeline.readChangeFeed]]
  *     (I/O ∝ buckets the source manifests disagree on), the span
  *     compacts to its FINAL per-key state before applying (N source
  *     commits apply as ONE replica commit — a key rewritten five
  *     times ships once), and the apply is the store's own
  *     touched-bucket delta publish (rewrite I/O ∝ changed keys'
  *     buckets, untouched replica buckets carry by reference).
  *   - A vacuumed gap (the feed would be partial) degrades HONESTLY
  *     to a full re-sync publish of the pinned source snapshot —
  *     never a partial feed silently applied.
  *   - Crash between the replica publish and the cursor commit
  *     re-delivers the identical span next call; re-applying it is
  *     content-idempotent (same upsert values rewrite to the same
  *     rows, deletes of absent keys match nothing), so the replica
  *     CONVERGES under at-least-once delivery — the A58 contract.
  *   - A replica is single-sourced: a cursor recording a different
  *     source path refuses loudly rather than interleaving feeds.
  *
  * Scale: nothing here reads the full source or replica after
  * bootstrap — feed spans, compaction state, and rewritten buckets
  * are all ∝ what changed; a replica that polls frequently does
  * small reads, one that lags does one larger, still-pruned read.
  */
object Replication {

  /** One replication call's outcome: the source version converged to,
    * the replica version that serves it, how (`bootstrap` /
    * `incremental` / `resync` / `noop`), and the compacted change
    * rows applied (0 for bootstrap/resync/noop).
    */
  final case class ReplicateOutcome(srcVersion: Long, dstVersion: Long,
      mode: String, changeRows: Long)

  private def cursorPath(dstDir: String): String =
    s"$dstDir/_replication/src.cursor"

  /** The replica's committed (source path, applied source version);
    * None when `dstDir` is not a replica (never replicated into).
    */
  def appliedSource(dstDir: String): Option[(String, Long)] = {
    val p = cursorPath(dstDir)
    if (!StoreFs.exists(p)) None
    else {
      val Array(src, v) = StoreFs.readString(p).trim.split("\n")
      Some((src, v.toLong))
    }
  }

  private def commitCursor(dstDir: String, srcDir: String, v: Long): Unit = {
    val p = cursorPath(dstDir)
    StoreFs.writeString(p + ".tmp", s"$srcDir\n$v")
    StoreFs.atomicReplace(p + ".tmp", p)
  }

  /** Converge `dstDir` to `srcDir`'s current committed version.
    * Returns None when the source has no committed version yet.
    */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String,
      pkCols: Seq[String]): Option[ReplicateOutcome] =
    CdcPipeline.currentVersion(srcDir).map { srcV =>
      appliedSource(dstDir) match {
        case None =>
          require(CdcPipeline.currentVersion(dstDir).isEmpty,
            s"$dstDir has committed versions but no replication cursor: " +
              "refusing to overwrite a store that is not a replica")
          bootstrap(spark, srcDir, dstDir, pkCols, srcV)
        case Some((recSrc, _)) if recSrc != srcDir =>
          throw new IllegalArgumentException(
            s"$dstDir replicates $recSrc, not $srcDir: a replica is " +
              "single-sourced")
        case Some((_, applied)) if applied >= srcV =>
          ReplicateOutcome(srcV,
            CdcPipeline.currentVersion(dstDir).getOrElse(-1L), "noop", 0L)
        case Some((_, applied)) =>
          CdcPipeline.readChangeFeed(spark, srcDir, pkCols, applied, srcV) match {
            case None => // vacuumed gap: partial feed would lie — full re-sync
              val snap = CdcPipeline.readSnapshotAt(spark, srcDir, srcV).getOrElse(
                throw new IllegalStateException(
                  s"source $srcDir v$srcV unreadable during resync"))
              val v = CdcPipeline.publish(snap, dstDir, pkCols,
                op = "replicate-resync")
              commitCursor(dstDir, srcDir, srcV)
              ReplicateOutcome(srcV, v, "resync", 0L)
            case Some(feed) => applyFeed(spark, srcDir, dstDir, pkCols, srcV, feed)
          }
      }
    }

  private def bootstrap(spark: SparkSession, srcDir: String, dstDir: String,
      pkCols: Seq[String], srcV: Long): ReplicateOutcome = {
    val snap = CdcPipeline.readSnapshotAt(spark, srcDir, srcV).getOrElse(
      throw new IllegalStateException(s"source $srcDir v$srcV unreadable"))
    // match the source's bucket count so key routing lines up and a
    // later bucket-level comparison/debug walk is 1:1
    val buckets = CdcPipeline.manifest(srcDir, srcV).map(_.numBuckets)
    val v = CdcPipeline.publish(snap, dstDir, pkCols, buckets = buckets,
      op = "replicate-bootstrap")
    commitCursor(dstDir, srcDir, srcV)
    ReplicateOutcome(srcV, v, "bootstrap", 0L)
  }

  private def applyFeed(spark: SparkSession, srcDir: String, dstDir: String,
      pkCols: Seq[String], srcV: Long, feed: DataFrame): ReplicateOutcome = {
    // compact the span to its final per-key state: the newest
    // commit's row per key wins ((key, commit) is unique — one diff
    // row per key per step — so max_by is deterministic); a key
    // deleted then re-inserted across the span applies as its final
    // upsert, one churned five times ships once
    val valueCols = feed.columns.toSeq.filterNot(c =>
      pkCols.contains(c) || c == "_commit_version")
    // cached: the compacted span is delta-sized and drives THREE
    // actions (count, touched-bucket collect, the merge write) —
    // uncached each would recompute the feed's bucket-diff joins
    val changes = feed.groupBy(pkCols.map(col): _*)
      .agg(expr("max_by(struct(" + valueCols.mkString(", ") +
        "), _commit_version)").as("_s"))
      .select(pkCols.map(col) ++ valueCols.map(c => col(s"_s.$c").as(c)): _*)
      .cache()
    try applyChanges(spark, srcDir, dstDir, pkCols, srcV, feed, changes)
    finally changes.unpersist()
  }

  private def applyChanges(spark: SparkSession, srcDir: String, dstDir: String,
      pkCols: Seq[String], srcV: Long, feed: DataFrame,
      changes: DataFrame): ReplicateOutcome = {
    val applied = applyCompacted(spark, dstDir, pkCols, changes,
      feed.columns.toSeq.filterNot(c =>
        c == CdcEnvelope.OpCol || c == "_commit_version"))
    commitCursor(dstDir, srcDir, srcV)
    applied match {
      case Some((v, n)) => ReplicateOutcome(srcV, v, "incremental", n)
      case None => ReplicateOutcome(srcV,
        CdcPipeline.currentVersion(dstDir).getOrElse(-1L), "incremental", 0L)
    }
  }

  /** Apply a compacted op-tagged change set (one row per key, `__op`
    * + `dataCols` payload) onto the replica as ONE touched-bucket
    * delta commit. None (no version) for an empty set — metadata-only
    * source commits advance cursors without version churn.
    */
  private def applyCompacted(spark: SparkSession, dstDir: String,
      pkCols: Seq[String], changes: DataFrame,
      dataCols: Seq[String]): Option[(Long, Long)] = {
    val changeRows = changes.count()
    if (changeRows == 0L) return None
    val m = CdcPipeline.currentManifest(dstDir).getOrElse(
      throw new IllegalStateException(s"replica $dstDir has no store"))
    val touched = CdcPipeline.bucketSet(changes, CdcPipeline.bucketExpr(pkCols, m.numBuckets))
    val v = CdcPipeline.rewriteBuckets(spark, dstDir, pkCols, m, touched,
        "replicate", deltaRows = Some(changeRows)) { _ =>
      // additive source schema evolution flows through: a feed carrying
      // columns the replica has never seen lands them in the new
      // segment (old replica rows read NULL, the published schema widens)
      val isDelete = col(CdcEnvelope.OpCol) === CdcEnvelope.Delete
      CdcPipeline.KeyedDelta.Upserts(changes.filter(!isDelete).select(dataCols.map(col): _*),
        Some(changes.filter(isDelete).select(pkCols.map(col): _*)))
    }.version
    Some((v, changeRows))
  }

  private def feedCursorPath(dstDir: String): String =
    s"$dstDir/_replication/feed.cursor"

  /** The streaming replica's committed (feed path, applied source
    * commit version); None before the first applied micro-batch.
    */
  def appliedFeed(dstDir: String): Option[(String, Long)] = {
    val p = feedCursorPath(dstDir)
    if (!StoreFs.exists(p)) None
    else {
      val Array(f, v) = StoreFs.readString(p).trim.split("\n")
      Some((f, v.toLong))
    }
  }

  /** Continuous replication (A84): consume an [[ChangeFeeds.exportChangeFeed]]
    * directory as a stream and keep the replica converged — the
    * composition of the A65 append-only export (exactly-once commit
    * dirs, kill+resume via the checkpoint) with A82's compacted
    * touched-bucket apply, inside `foreachBatch`. Each micro-batch
    * compacts to final per-key state (its commits apply as ONE
    * replica version); a high-water feed cursor drops rows at or
    * below the applied commit, so a REPLAYED micro-batch (crash
    * between the publish and the checkpoint commit) either re-applies
    * the identical span (content-convergent, the A82 argument) or
    * no-ops. Commit dirs are rename-published in strictly increasing
    * version order by ONE exporter cursor, so a listing that saw
    * commit v has seen every earlier commit — an older commit can
    * never FIRST appear after a newer one was applied, which is what
    * makes the high-water filter lossless (empty in-between commits
    * export zero rows and need no row-level contiguity). The replica
    * must be bootstrapped
    * first (A82 `replicate` or a deep clone at the export baseline).
    */
  def replicateStream(spark: SparkSession, feedDir: String, dstDir: String,
      pkCols: Seq[String], checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : Option[org.apache.spark.sql.streaming.StreamingQuery] = {
    require(CdcPipeline.currentVersion(dstDir).isDefined,
      s"$dstDir must be bootstrapped before streaming replication")
    ChangeFeeds.changeFeedStream(spark, feedDir).map { feed =>
      feed.writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val applied = appliedFeed(dstDir) match {
            case Some((f, v)) =>
              require(f == feedDir,
                s"$dstDir stream-replicates $f, not $feedDir")
              v
            case None => Long.MinValue
          }
          val fresh = batch.filter(col("_commit_version") > applied)
          val hi = fresh.agg(max("_commit_version")).collect()(0)
          if (!hi.isNullAt(0)) {
            val hiV = hi.getLong(0)
            val valueCols = fresh.columns.toSeq.filterNot(pkCols.contains)
            val changes = fresh.groupBy(pkCols.map(col): _*)
              .agg(expr("max_by(struct(" + valueCols.mkString(", ") +
                "), _commit_version)").as("_s"))
              .select(pkCols.map(col) ++
                valueCols.map(c => col(s"_s.$c").as(c)): _*)
              .cache()
            try applyCompacted(spark, dstDir, pkCols, changes,
              fresh.columns.toSeq.filterNot(c =>
                c == CdcEnvelope.OpCol || c == "_commit_version"))
            finally changes.unpersist()
            val p = feedCursorPath(dstDir)
            StoreFs.writeString(p + ".tmp", s"$feedDir\n$hiV")
            StoreFs.atomicReplace(p + ".tmp", p)
          }
        }
        .start()
    }
  }
}
