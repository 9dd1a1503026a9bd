package graft.cdc

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Applies a compacted change set onto a target snapshot — the
  * Spark re-expression of the reference's two MERGE statements
  * (upsert MERGE at bigquery_syntex_merge_sql/merge.sql:403–418,
  * delete MERGE at merge.sql:428–436).
  *
  * Parquet has no transactional MERGE, so the merge is computed
  * functionally: the next snapshot = target rows whose key saw no
  * change, plus the projected upserts; keys whose newest change is a
  * delete simply don't come back. `CdcPipeline` makes the swap
  * atomic-enough with a versioned directory + pointer file; on a
  * cluster with Delta/Iceberg the same change set feeds `MERGE INTO`.
  *
  * Scale notes (SURVEY.md §5): the anti-join shuffles on the PK — the
  * join Spark picks is hash on pk, and because the compacted delta is
  * usually ≪ target, AQE turns it into a broadcast of the delta's
  * keys, leaving the target un-shuffled. Keeping the target
  * hash-partitioned by pk on disk (writer uses repartition(pk))
  * makes successive merges reuse the layout.
  */
object SnapshotMerge {

  /** Below this many delta rows the anti-join explicitly broadcasts
    * the compacted key set (the target is never shuffled at all);
    * above it — or when the count is unknown — the join is hinted to
    * shuffled-hash. NEVER sort-merge: on an in-flight delta Catalyst
    * has no stats, guesses big, and SMJ sorts the full-width target
    * on both sides of the shuffle (measured 46 s vs 9.6 s at 10 M
    * rows, core_scale probe, r2; the r1 measurement that looked fine relied
    * on AQE having small-stats luck at sf0.01).
    */
  val LargeDeltaRows: Long = 1000000L

  /** target ⟵ changes. `changes` must be compacted (one row per key,
    * `ChangeCompaction.compactForMerge`) and carry `__op`; its payload
    * columns must be a superset of the target's columns. Pass
    * `deltaRows` when known (the pipeline counts it anyway) to pick
    * the join strategy for big backfill deltas.
    */
  def merge(target: DataFrame, changes: DataFrame, pkCols: Seq[String],
      deltaRows: Option[Long] = None): DataFrame = {
    val targetCols = target.columns.toSeq
    val keys = changes.select(pkCols.map(col): _*)
    val changedKeys = deltaRows match {
      case Some(nr) if nr <= LargeDeltaRows => broadcast(keys)
      case _ => keys.hint("shuffle_hash")
    }
    val upserts = changes
      .filter(col(CdcEnvelope.OpCol) =!= lit(CdcEnvelope.Delete))
      .select(targetCols.map(col): _*)
    target
      .join(changedKeys, pkCols, "left_anti")
      .unionByName(upserts)
  }

  /** PKs of `changes`' upserts already present in `target` — the
    * reference MERGE's matched-update set, which its job log records
    * as records_updated next to records_inserted (merge.sql:520–534).
    * Same delta-size-driven join-strategy choice as `merge`; target
    * side reads PK columns only (column-pruned scan).
    */
  def matchedUpsertKeys(target: DataFrame, changes: DataFrame, pkCols: Seq[String],
      deltaRows: Option[Long] = None): DataFrame = {
    val ups = changes
      .filter(col(CdcEnvelope.OpCol) =!= lit(CdcEnvelope.Delete))
      .select(pkCols.map(col): _*)
    val keys = deltaRows match {
      case Some(nr) if nr <= LargeDeltaRows => broadcast(ups)
      case _ => ups.hint("shuffle_hash")
    }
    target.select(pkCols.map(col): _*).join(keys, pkCols, "left_semi")
  }

  /** Schema-evolving merge: `changes` may carry payload columns the
    * target has never seen (the reference re-reads
    * INFORMATION_SCHEMA every run and splices the current column
    * list into its dynamic SQL — merge.sql:179–219 — so columns
    * added upstream flow through on the next run). Existing target
    * rows take NULL for the new columns; dropped columns are NOT
    * removed (additive evolution only, parquet-friendly). Same join
    * strategy as `merge`.
    */
  def mergeEvolving(target: DataFrame, changes: DataFrame, pkCols: Seq[String],
      deltaRows: Option[Long] = None): DataFrame = {
    val meta = Set(CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
      CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol)
    val keys = changes.select(pkCols.map(col): _*)
    val changedKeys = deltaRows match {
      case Some(nr) if nr <= LargeDeltaRows => broadcast(keys)
      case _ => keys.hint("shuffle_hash")
    }
    val upserts = changes
      .filter(col(CdcEnvelope.OpCol) =!= lit(CdcEnvelope.Delete))
      .select(changes.columns.toIndexedSeq.filterNot(meta.contains).map(col): _*)
    target
      .join(changedKeys, pkCols, "left_anti")
      .unionByName(upserts, allowMissingColumns = true)
  }

  /** Build a first snapshot from history alone: newest change per
    * key, dropping keys whose newest change is a delete.
    */
  def fromHistory(env: DataFrame, pkCols: Seq[String], targetCols: Seq[String]): DataFrame =
    ChangeCompaction.routed(env, pkCols)._1.select(targetCols.map(col): _*)
}
