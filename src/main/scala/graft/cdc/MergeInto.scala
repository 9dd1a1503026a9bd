package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic MERGE INTO builder (SURVEY.md §2 A38) — the Delta-style
  * `whenMatched…/whenNotMatched…` surface over plain DataFrames,
  * generalizing the reference's fixed upsert+delete MERGE pair
  * (bigquery_syntex_merge_sql/merge.sql:403–436) to arbitrary
  * conditional clauses: conditional updates with per-column SET
  * expressions, conditional deletes, conditional inserts, first
  * matching clause wins (ANSI MERGE clause order).
  *
  * Spark re-expression: ONE join on the key (full-outer only when an
  * insert clause exists; left-outer otherwise, which stays
  * broadcastable for delta-sized sources) followed by a single
  * codegen'd keep-filter + CASE projection in the same stage — never
  * one pass per clause. Clause conditions and SET/VALUES expressions
  * reference the two sides via [[MergeInto.tgt]] / [[MergeInto.src]].
  * Key comparison is null-safe (`<=>`). Like ANSI/Delta MERGE, a
  * source with duplicate keys is rejected (non-deterministic
  * otherwise) — one aggregation over the delta-sized source, skippable
  * via [[skipDuplicateSourceCheck]] when the caller just compacted.
  *
  * Output schema = target schema; update/insert expressions are cast
  * to the target column's type.
  */
final class MergeInto private (
    target: DataFrame, source: DataFrame, on: Seq[String],
    matched: Seq[MergeInto.MatchedClause],
    notMatched: Seq[MergeInto.InsertClause],
    bySource: Seq[MergeInto.MatchedClause],
    dupCheck: Boolean,
    srcRows: Option[Long]) {
  import MergeInto._

  private def copied(m: Seq[MatchedClause] = matched,
      nm: Seq[InsertClause] = notMatched,
      bs: Seq[MatchedClause] = bySource, dc: Boolean = dupCheck,
      sr: Option[Long] = srcRows) =
    new MergeInto(target, source, on, m, nm, bs, dc, sr)

  /** UPDATE SET clause: columns absent from `set` carry the target
    * value. Expressions may reference both sides via tgt()/src().
    */
  def whenMatchedUpdate(set: Map[String, Column],
      condition: Column = lit(true)): MergeInto =
    copied(m = matched :+ MatchedClause(condition, set, delete = false))

  /** UPDATE SET * — every target column takes the same-named source
    * column (which must exist in the source).
    */
  def whenMatchedUpdateAll(condition: Column = lit(true)): MergeInto =
    whenMatchedUpdate(target.columns.map(c => c -> src(c)).toMap, condition)

  def whenMatchedDelete(condition: Column = lit(true)): MergeInto =
    copied(m = matched :+ MatchedClause(condition, Map.empty, delete = true))

  /** INSERT VALUES clause: columns absent from `values` insert NULL. */
  def whenNotMatchedInsert(values: Map[String, Column],
      condition: Column = lit(true)): MergeInto =
    copied(nm = notMatched :+ InsertClause(condition, values))

  /** INSERT * — every target column takes the same-named source column. */
  def whenNotMatchedInsertAll(condition: Column = lit(true)): MergeInto =
    whenNotMatchedInsert(target.columns.map(c => c -> src(c)).toMap, condition)

  /** WHEN NOT MATCHED BY SOURCE THEN UPDATE SET … (Delta's third
    * clause family): fires on TARGET rows no source row matched.
    * SET expressions may reference the target side only (the source
    * side is all-NULL there by construction). Scale note for
    * store-backed callers: a by-source clause has WHOLE-TABLE scope —
    * touched-bucket pruning is invalid with one present (every
    * target row must meet the join), which the statement path
    * enforces by widening to all buckets.
    */
  def whenNotMatchedBySourceUpdate(set: Map[String, Column],
      condition: Column = lit(true)): MergeInto =
    copied(bs = bySource :+ MatchedClause(condition, set, delete = false))

  def whenNotMatchedBySourceDelete(condition: Column = lit(true)): MergeInto =
    copied(bs = bySource :+ MatchedClause(condition, Map.empty, delete = true))

  def skipDuplicateSourceCheck(): MergeInto = copied(dc = false)

  /** Declare the source's row count (the caller usually has it — the
    * TVF/statement paths count the source anyway, and a store-backed
    * source reads it from parquet footers for free): the join then
    * gets an EXPLICIT strategy instead of hoping AQE sizes an
    * in-flight delta correctly — broadcast the prefixed source when
    * it clears BOTH [[MergeInto.BroadcastSourceRows]] and the
    * bytes-estimate ceiling (rows × schema defaultSize ≤
    * [[CdcPipeline.BroadcastAdmissionBytes]] — the row threshold was
    * calibrated for SnapshotMerge's key-columns-only broadcast, and
    * 1 M FULL-WIDTH rows can be multiple driver-side GB), shuffled-
    * hash otherwise (never sort-merge; the SnapshotMerge r2
    * measurement). Unset = the pre-r10 behavior (Catalyst + AQE
    * decide).
    */
  def sourceRows(n: Long): MergeInto = copied(sr = Some(n))

  /** The merged snapshot. One join + one codegen'd projection/filter;
    * plus (unless skipped) one aggregation over the source for the
    * ANSI duplicate-key rejection.
    */
  def run(): DataFrame = {
    require(on.nonEmpty, "MERGE needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE needs a clause")
    if (dupCheck) {
      val dup = source.groupBy(on.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"MERGE source has duplicate keys on (${on.mkString(", ")}): " +
          s"${dup.head.toSeq.init.mkString(", ")} — compact the source first " +
          "(ChangeCompaction) or call skipDuplicateSourceCheck()")
    }
    val tCols = target.columns.toSeq
    val fields = target.schema.fields.map(f => f.name -> f.dataType).toMap
    val t = target.select(
      tCols.map(c => col(c).as(s"$TPrefix$c")) :+ lit(true).as("_t_present"): _*)
    val s = source.select(
      source.columns.toSeq.map(c => col(c).as(s"$SPrefix$c"))
        :+ lit(true).as("_s_present"): _*)
    val joinCond = on.map(k => col(s"$TPrefix$k") <=> col(s"$SPrefix$k"))
      .reduce(_ && _)
    // No insert clause → unmatched source rows are no-ops: left-outer
    // keeps the join broadcast-eligible for delta-sized sources.
    // Admission by declared source size (r9 verdict #3): a LEFT
    // OUTER's non-preserved (source) side is broadcast-legal, so a
    // delta-sized source broadcasts and the target never shuffles; a
    // FULL OUTER preserves both sides — broadcast is illegal there,
    // so the declared-big (or any full-outer) source pins
    // shuffled-hash rather than letting a stats-blind planner pick a
    // full-width sort-merge.
    // Bytes-aware admission (r10 advice): the row ceiling alone was
    // calibrated for key-columns-only broadcasts; here the source is
    // FULL-WIDTH, so also require rows × schema-estimated row bytes
    // under the same 64 MB ceiling admitJoin uses for footer bytes.
    val estRowBytes = math.max(1L, source.schema.defaultSize.toLong)
    val sHinted = srcRows match {
      case Some(n) if n <= BroadcastSourceRows && notMatched.isEmpty &&
          n * estRowBytes <= CdcPipeline.BroadcastAdmissionBytes =>
        broadcast(s)
      case Some(_) => s.hint("shuffle_hash")
      case None => s
    }
    val joined =
      if (notMatched.isEmpty) t.join(sHinted, joinCond, "left_outer")
      else t.join(sHinted, joinCond, "full_outer")
    val isMatched = col("_t_present") && col("_s_present")

    // First matching clause decides survival; no firing clause = carry.
    val matchedKeep = matched.foldRight(lit(true)) { (cl, rest) =>
      when(cl.condition, lit(!cl.delete)).otherwise(rest)
    }
    val insertKeep = notMatched.foldRight(lit(false)) { (cl, rest) =>
      when(cl.condition, lit(true)).otherwise(rest)
    }
    // by-source clauses: target rows no source row matched; no
    // firing clause = carry (same first-match-wins fold as matched)
    val bySourceKeep = bySource.foldRight(lit(true)) { (cl, rest) =>
      when(cl.condition, lit(!cl.delete)).otherwise(rest)
    }
    val keep = when(isMatched, matchedKeep)
      .when(col("_t_present"), bySourceKeep)
      .otherwise(insertKeep)

    val outCols = tCols.map { c =>
      val carry = col(s"$TPrefix$c")
      val matchedValue = matched.foldRight(carry) { (cl, rest) =>
        when(cl.condition,
          cl.set.get(c).map(_.cast(fields(c))).getOrElse(carry)).otherwise(rest)
      }
      val insertValue = notMatched.foldRight(lit(null).cast(fields(c))) {
        (cl, rest) =>
          when(cl.condition,
            cl.values.get(c).map(_.cast(fields(c)))
              .getOrElse(lit(null).cast(fields(c)))).otherwise(rest)
      }
      val bySourceValue = bySource.foldRight(carry) { (cl, rest) =>
        when(cl.condition,
          cl.set.get(c).map(_.cast(fields(c))).getOrElse(carry)).otherwise(rest)
      }
      when(isMatched, matchedValue)
        .when(col("_t_present"), bySourceValue)
        .otherwise(insertValue)
        .as(c)
    }
    joined.filter(keep).select(outCols: _*)
  }
}

object MergeInto {
  private[cdc] val TPrefix = "_merge_t_"
  private[cdc] val SPrefix = "_merge_s_"

  /** Source-size ceiling for the explicit broadcast pick in
    * [[MergeInto.sourceRows]] — same threshold as SnapshotMerge's
    * delta heuristic (measured there at 10 M rows, core_scale probe, r2).
    */
  val BroadcastSourceRows: Long = SnapshotMerge.LargeDeltaRows

  private[cdc] final case class MatchedClause(
    condition: Column, set: Map[String, Column], delete: Boolean)
  private[cdc] final case class InsertClause(
    condition: Column, values: Map[String, Column])

  /** A target column, for use inside clause conditions / SET / VALUES. */
  def tgt(c: String): Column = col(s"$TPrefix$c")

  /** A source column, for use inside clause conditions / SET / VALUES. */
  def src(c: String): Column = col(s"$SPrefix$c")

  def apply(target: DataFrame, source: DataFrame, on: Seq[String]): MergeInto =
    new MergeInto(target, source, on, Seq.empty, Seq.empty, Seq.empty,
      dupCheck = true, srcRows = None)
}
