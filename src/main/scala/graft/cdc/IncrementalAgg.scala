package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a derived aggregate table from CDC
  * deltas (the materialized-view side of the reference pipeline: a
  * reporting rollup kept current without recomputing it from the
  * 100 TB fact snapshot on every merge window).
  *
  * Maintains, per group, the distributive aggregate vector — row
  * count, long sum, non-null count (for avg), min/max, and mergeable
  * HLL sketches (for approximate distinct counts). The update cost is
  * ∝ |pre-merge rows passed in| + |delta| + |aggregate state|: the
  * retire step semi-joins the `preMergeTarget` it is given with the
  * broadcast compacted keys (column-pruned to pk+group+value), so it
  * scans all of it. A caller keeps that ∝ delta by passing only the
  * PK-hash buckets the keys touch, as the pipeline's rollup
  * maintenance does (`CdcPipeline.maintainRollups`); the state update
  * is a join between two small-by-construction tables (adjustments ⟗
  * groups).
  *
  * Measure families, by delete behavior:
  *  - count / sum / avg-count are INVERTIBLE: a retired row subtracts
  *    exactly what it added — pure delta math, no data read.
  *  - min/max are monotone under inserts (`least`/`greatest` fold the
  *    delta in with no data read) yet not invertible under deletes —
  *    deleting the current extreme needs the runner-up, which only
  *    the table knows. The maintenance rescans exactly the groups
  *    whose retired rows touched their recorded extreme.
  *  - HLL distinct sketches are MERGEABLE under inserts (register
  *    max is order-insensitive and merge-exact: union(sketch(A),
  *    sketch(B)) ≡ sketch(A ∪ B), see [[graft.ops.Sketches]]) but
  *    support no removal at all — ANY retired row makes its group's
  *    sketch uncertain (the retired value may have been the last
  *    instance), so every group with a retirement rescans. Both
  *    rescan sets are delta-bounded, found by a broadcast semi join
  *    that scans the post-merge snapshot; an insert-only window costs
  *    the same as the sum/count path.
  *
  * Reference anchor: the rollup views the reference refreshes after
  * each merge window (merge.sql:520–581 writes per-window counts to
  * the job log; this generalizes that to per-group measures).
  */
object IncrementalAgg {

  /** The measure set a maintained aggregate carries.
    *
    * `valueCols` → `sum_<c>`; `avgCols` → `cnt_<c>` (non-null count;
    * the paired `sum_<c>` is shared with valueCols when a column is
    * in both — avg is DERIVED at read as sum/cnt, never stored);
    * `varCols` → `sumsq_<c>` next to the shared `sum_<c>`/`cnt_<c>`
    * (population variance/stddev derive at read as sumsq/cnt −
    * (sum/cnt)² — the whole vector is invertible under deletes, so
    * variance needs no rescan either); `minCols`/`maxCols` →
    * `min_<c>`/`max_<c>`; `distinctCols` → `hll_<c>` binary sketches
    * (input must be an integral, string or binary column — Spark's
    * datasketches HLL takes no fractional types; read the estimate
    * via `hll_sketch_estimate`).
    */
  final case class Measures(
      valueCols: Seq[String] = Nil,
      avgCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil,
      varCols: Seq[String] = Nil) {
    /** Columns carrying a maintained sum (deduped: a column summed,
      * averaged and/or varianced keeps ONE `sum_<c>`). */
    def sumCols: Seq[String] = (valueCols ++ avgCols ++ varCols).distinct
    /** Columns carrying a maintained non-null count. */
    def cntCols: Seq[String] = (avgCols ++ varCols).distinct
    def mmCols: Seq[String] = (minCols ++ maxCols).distinct
    /** Raw columns the maintenance must read from target/changes. */
    def inputCols: Seq[String] = (sumCols ++ mmCols ++ distinctCols).distinct
    def needsRescan: Boolean = mmCols.nonEmpty || distinctCols.nonEmpty
    def nonEmpty: Boolean = inputCols.nonEmpty
    /** Published state schema (order is the stored one). */
    def stateCols(groupCols: Seq[String]): Seq[String] =
      (groupCols :+ "n_rows") ++ sumCols.map("sum_" + _) ++ cntCols.map("cnt_" + _) ++
        varCols.map("sumsq_" + _) ++
        minCols.map("min_" + _) ++ maxCols.map("max_" + _) ++ distinctCols.map("hll_" + _)
  }

  /** Initial state: one row per group with the declared measure
    * vector, from a full snapshot scan. Runs once at bootstrap;
    * afterwards only [[applyDelta]] touches it.
    */
  def fromSnapshot(snapshot: DataFrame, groupCols: Seq[String], m: Measures): DataFrame = {
    val measures =
      m.sumCols.map(c => sum(col(c)).as(s"sum_$c")) ++
        m.cntCols.map(c => count(col(c)).as(s"cnt_$c")) ++
        m.varCols.map(c => sum(col(c) * col(c)).as(s"sumsq_$c")) ++
        m.minCols.map(c => min(col(c)).as(s"min_$c")) ++
        m.maxCols.map(c => max(col(c)).as(s"max_$c")) ++
        m.distinctCols.map(c => hll_sketch_agg(col(c)).as(s"hll_$c"))
    snapshot.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), measures: _*)
  }

  def fromSnapshot(snapshot: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String], minCols: Seq[String], maxCols: Seq[String]): DataFrame =
    fromSnapshot(snapshot, groupCols,
      Measures(valueCols = valueCols, minCols = minCols, maxCols = maxCols))

  def fromSnapshot(snapshot: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String]): DataFrame =
    fromSnapshot(snapshot, groupCols, Measures(valueCols = valueCols))

  def fromSnapshot(snapshot: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    fromSnapshot(snapshot, groupCols, Measures(valueCols = Seq(valueCol)))

  /** Advance the aggregate state across one merge window.
    *
    * `changes` is the compacted change set (`compactForMerge` output:
    * one row per PK, `__op` retained, payload carrying the group and
    * value columns); `preMergeTarget` is the snapshot BEFORE this
    * window's merge, or any part of it that holds every row of the
    * changed PKs (the touched buckets), and is scanned whole. Every
    * changed PK retires its old contribution if the
    * row existed (found by the same delta-sized key lookup the merge
    * does), and each upsert adds its new contribution — an update
    * that moves a row between groups decrements one group and
    * increments the other. Groups whose count reaches zero drop out.
    * `postMergeTarget` is only evaluated when a min/max/distinct
    * measure forces a group rescan; the rescanned groups are
    * delta-bounded, but finding their rows scans `postMergeTarget`.
    */
  def applyDelta(state: DataFrame, preMergeTarget: DataFrame, changes: DataFrame,
      pkCols: Seq[String], groupCols: Seq[String], m: Measures,
      postMergeTarget: => DataFrame, deltaRows: Option[Long]): DataFrame = {
    val keys = changes.select(pkCols.map(col): _*)
    val changedKeys = deltaRows match {
      case Some(nr) if nr <= SnapshotMerge.LargeDeltaRows => broadcast(keys)
      case _ => keys.hint("shuffle_hash")
    }
    // typed NULL of c's type (never-true CASE), for the union legs
    def nul(df: DataFrame, c: String): Column = when(lit(false), df(c))
    // only present when HLL measures exist, so sum/min/max-only plans
    // are unchanged: 1 for a retired row — a group with any retire
    // must rescan its (removal-free) sketches
    def retMark(v: Long): Seq[Column] =
      if (m.distinctCols.isEmpty) Nil else Seq(lit(v).as("_nret"))
    // old contributions: target rows being replaced or deleted.
    // Column-pruned to pk+group+measures; the semi join never widens
    // or shuffles the target.
    val pre = preMergeTarget
      .select((pkCols ++ groupCols ++ m.inputCols).distinct.map(col): _*)
    val retired = pre
      .join(changedKeys, pkCols, "left_semi")
      .select(groupCols.map(col) :+ lit(-1L).as("_dn")
        :++ m.sumCols.map(c => (-col(c)).as(s"_dsum_$c"))
        :++ m.cntCols.map(c =>
          when(col(c).isNotNull, lit(-1L)).otherwise(lit(0L)).as(s"_dcnt_$c"))
        :++ m.varCols.map(c => (-(col(c) * col(c))).as(s"_dsumsq_$c"))
        :++ m.mmCols.map(c => col(c).as(s"_mm_ret_$c"))
        :++ m.mmCols.map(c => nul(pre, c).as(s"_mm_ins_$c"))
        :++ m.distinctCols.map(c => nul(pre, c).as(s"_hv_$c"))
        :++ retMark(1L): _*)
    val added = changes
      .filter(col(CdcEnvelope.OpCol) =!= lit(CdcEnvelope.Delete))
      .select(groupCols.map(col) :+ lit(1L).as("_dn")
        :++ m.sumCols.map(c => col(c).as(s"_dsum_$c"))
        :++ m.cntCols.map(c =>
          when(col(c).isNotNull, lit(1L)).otherwise(lit(0L)).as(s"_dcnt_$c"))
        :++ m.varCols.map(c => (col(c) * col(c)).as(s"_dsumsq_$c"))
        :++ m.mmCols.map(c => nul(changes, c).as(s"_mm_ret_$c"))
        :++ m.mmCols.map(c => col(c).as(s"_mm_ins_$c"))
        :++ m.distinctCols.map(c => col(c).as(s"_hv_$c"))
        :++ retMark(0L): _*)
    val adjPlan = retired.unionByName(added)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("_dn")).as("_dn"),
        m.sumCols.map(c => sum(col(s"_dsum_$c")).as(s"_dsum_$c"))
          :++ m.cntCols.map(c => sum(col(s"_dcnt_$c")).as(s"_dcnt_$c"))
          :++ m.varCols.map(c => sum(col(s"_dsumsq_$c")).as(s"_dsumsq_$c"))
          :++ m.minCols.map(c => min(col(s"_mm_ret_$c")).as(s"_retmin_$c"))
          :++ m.maxCols.map(c => max(col(s"_mm_ret_$c")).as(s"_retmax_$c"))
          :++ m.minCols.map(c => min(col(s"_mm_ins_$c")).as(s"_insmin_$c"))
          :++ m.maxCols.map(c => max(col(s"_mm_ins_$c")).as(s"_insmax_$c"))
          // the window's inserted values, sketched per group: folds
          // into the state sketch mergeably (no raw values kept)
          :++ m.distinctCols.map(c => hll_sketch_agg(col(s"_hv_$c")).as(s"_dhll_$c"))
          :++ (if (m.distinctCols.isEmpty) Nil
               else Seq(sum(col("_nret")).as("_nret"))): _*)
    // with a rescanning measure the adjustments feed the merged state
    // AND the rescan probe — pin the (delta-group-sized) result so
    // the pre-merge target is scanned exactly once either way
    val adj = if (!m.needsRescan) adjPlan else adjPlan.localCheckpoint(true)
    // state ⟗ adjustments on the group key: both sides are
    // aggregate-sized (≪ fact table); a full-outer hash join keeps
    // appearing and disappearing groups correct. shuffle_hash: a
    // full outer can't broadcast, and without the hint Catalyst
    // plans SMJ — sorting both sides for a key-equality merge
    // nothing needs sorted.
    val joined = state.join(adj.hint("shuffle_hash"), groupCols, "full_outer")
    val merged = joined
      .select(groupCols.map(col)
        :+ (coalesce(col("n_rows"), lit(0L)) + coalesce(col("_dn"), lit(0L))).as("n_rows")
        :++ m.sumCols.map { c =>
          (coalesce(col(s"sum_$c"), lit(0L)) +
            coalesce(col(s"_dsum_$c"), lit(0L))).as(s"sum_$c")
        }
        :++ m.cntCols.map { c =>
          (coalesce(col(s"cnt_$c"), lit(0L)) +
            coalesce(col(s"_dcnt_$c"), lit(0L))).as(s"cnt_$c")
        }
        :++ m.varCols.map { c =>
          (coalesce(col(s"sumsq_$c"), lit(0L)) +
            coalesce(col(s"_dsumsq_$c"), lit(0L))).as(s"sumsq_$c")
        }
        // inserts fold in monotonically (least/greatest skip NULLs);
        // deletions of non-extremes leave the extreme untouched
        :++ m.minCols.map(c => least(col(s"min_$c"), col(s"_insmin_$c")).as(s"min_$c"))
        :++ m.maxCols.map(c => greatest(col(s"max_$c"), col(s"_insmax_$c")).as(s"max_$c"))
        // sketches fold in mergeably; groups with retires are
        // recomputed below anyway, so the stale fold is overwritten
        :++ m.distinctCols.map { c =>
          when(col(s"hll_$c").isNull, col(s"_dhll_$c"))
            .when(col(s"_dhll_$c").isNull, col(s"hll_$c"))
            .otherwise(hll_union(col(s"hll_$c"), col(s"_dhll_$c"))).as(s"hll_$c")
        }: _*)
      .filter(col("n_rows") > 0)
    if (!m.needsRescan) merged
    else {
      // groups whose RETIRED rows touched their recorded extreme —
      // or retired anything at all, for removal-free HLL sketches —
      // are the only ones whose state is uncertain: rescan exactly
      // those from the post-merge snapshot, pruned by a broadcast
      // semi join (the rescan set is delta-bounded; an insert-only
      // window skips this branch entirely)
      val rescanCond = (m.minCols.map(c => col(s"_retmin_$c") <= col(s"min_$c"))
        :++ m.maxCols.map(c => col(s"_retmax_$c") >= col(s"max_$c"))
        :++ (if (m.distinctCols.isEmpty) Nil else Seq(col("_nret") > 0)))
        .map(e => coalesce(e, lit(false)))
        .reduce(_ || _)
      val rescan = joined.filter(rescanCond)
        .select(groupCols.map(col): _*).localCheckpoint(true)
      if (rescan.isEmpty) merged
      else {
        val exact = fromSnapshot(
          postMergeTarget.join(broadcast(rescan), groupCols, "left_semi"),
          groupCols, m)
        merged.join(broadcast(rescan), groupCols, "left_anti").unionByName(exact)
      }
    }
  }

  def applyDelta(state: DataFrame, preMergeTarget: DataFrame, changes: DataFrame,
      pkCols: Seq[String], groupCols: Seq[String], valueCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String],
      postMergeTarget: => DataFrame, deltaRows: Option[Long]): DataFrame =
    applyDelta(state, preMergeTarget, changes, pkCols, groupCols,
      Measures(valueCols = valueCols, minCols = minCols, maxCols = maxCols),
      postMergeTarget, deltaRows)

  def applyDelta(state: DataFrame, preMergeTarget: DataFrame, changes: DataFrame,
      pkCols: Seq[String], groupCols: Seq[String], valueCols: Seq[String],
      deltaRows: Option[Long]): DataFrame =
    applyDelta(state, preMergeTarget, changes, pkCols, groupCols,
      Measures(valueCols = valueCols),
      sys.error("postMergeTarget is only read for min/max/distinct rollups"), deltaRows)

  def applyDelta(state: DataFrame, preMergeTarget: DataFrame, changes: DataFrame,
      pkCols: Seq[String], groupCols: Seq[String], valueCol: String,
      deltaRows: Option[Long] = None): DataFrame =
    applyDelta(state, preMergeTarget, changes, pkCols, groupCols,
      Seq(valueCol), deltaRows)
}
