package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.TypedProjection.FieldSpec

/** A87 — partial-update (sparse) CDC merge with column-level
  * last-writer-wins.
  *
  * The reference's merge applies FULL-ROW images: every change event
  * carries every column (merge.sql:403–436 sets each target column
  * from the staged row unconditionally). Many real CDC feeds don't —
  * Debezium with `column.include.list` filtering, Mongo/DynamoDB
  * patch streams, and app-level "PATCH" events all ship only the
  * fields that changed. Replaying such a stream through a row-level
  * merge silently NULLs every unmentioned column; the correct
  * semantics are per-COLUMN: each declared field independently takes
  * the value of the latest event that actually set it.
  *
  * Semantics (deterministic under the (ts, pos) total order):
  *
  *  - A delete tombstone kills the row; fields set BEFORE the last
  *    delete never leak into a resurrected row (no zombie columns).
  *  - An upsert after the last delete asserts row existence even
  *    when it sets no fields (unset fields of a resurrected row are
  *    NULL, never the pre-delete values; rows never deleted fall
  *    back to the base snapshot per column).
  *  - JSON-null and absent are both "not set" (`get_json_object`
  *    cannot tell them apart; an explicit set-to-NULL protocol needs
  *    a sentinel value, which is a FieldSpec rule concern).
  *  - The raw STRING is argmax'd and the one surviving value is
  *    typed through the field's projection rule after — one typed
  *    cast per (pk, field), not per event.
  *
  * Scale shape: two delta-sized hash aggregations (last-delete
  * position, then per-field argmax as `max(struct(ts, pos, raw))` —
  * ONE agg pass for all fields, no explode, no window over the
  * delta) joined co-keyed on the PK, then ONE full-outer join with
  * the base on the PK — the same join a row-level merge already
  * pays. Base-side I/O is whatever the caller's base read costs; the
  * delta side is ∝ changed rows at any corpus size.
  */
object PartialMerge {

  /** Merge a sparse envelope onto a base snapshot.
    *
    * `base` columns must be exactly `pkCols ++ fields.map(_.as)` —
    * a base column the sparse stream cannot update would have
    * undefined post-resurrection semantics, so it is refused.
    */
  def merge(env: DataFrame, base: DataFrame, pkCols: Seq[String],
      fields: Seq[FieldSpec]): DataFrame = {
    val expected = (pkCols ++ fields.map(_.as)).toSet
    require(base.columns.toSet == expected,
      s"base columns ${base.columns.sorted.mkString(",")} must be exactly " +
        s"pk + declared fields (${expected.toSeq.sorted.mkString(",")})")
    val ord = struct(col(CdcEnvelope.TsCol), col(CdcEnvelope.PosCol))

    // per-PK last delete position (covers every PK in the delta)
    val ld = env.groupBy(pkCols.map(col): _*)
      .agg(max(when(col(CdcEnvelope.OpCol) === CdcEnvelope.Delete, ord)).as("__ld"))

    // upserts strictly after the last delete; one agg computes the
    // touch marker + every field's raw-string argmax
    val after = env.filter(col(CdcEnvelope.OpCol) =!= CdcEnvelope.Delete)
      .join(ld, pkCols)
      .filter(col("__ld").isNull || ord > col("__ld"))
    val fieldAggs = fields.map { f =>
      val raw = get_json_object(col(CdcEnvelope.DataCol), "$." + f.field)
      max(when(raw.isNotNull,
        struct(col(CdcEnvelope.TsCol), col(CdcEnvelope.PosCol), raw.as("v"))))
        .as(s"__lw_${f.as}")
    }
    val afterAgg = after.groupBy(pkCols.map(col): _*)
      .agg(max(ord).as("__touch"), fieldAggs: _*)
    val summary = ld.join(afterAgg, pkCols, "left")

    val withBase = base.withColumn("__b", lit(true))
      .join(summary, pkCols, "full_outer")
    withBase
      // row exists iff touched after its last delete, or carried from
      // an undeleted base row
      .filter(col("__touch").isNotNull ||
        (col("__b") === lit(true) && col("__ld").isNull))
      .select(pkCols.map(col) ++ fields.map { f =>
        val latest = TypedProjection.value(col(s"__lw_${f.as}").getField("v"), f)
        val carried = when(col("__ld").isNull && col("__b") === lit(true),
          col(f.as).cast(TypedProjection.outputType(f.rule)))
        coalesce(latest, carried).as(f.as)
      }: _*)
  }

  /** The store integration: apply a sparse window to the versioned
    * bucketed store with DELTA pricing — read only the buckets the
    * window's PKs hash into, partial-merge onto that subset, publish
    * rewritten buckets and carry the rest by reference (the same
    * contract as the row-level `mergeAndPublish`). First call
    * bootstraps from an empty typed base. Returns the committed
    * version.
    *
    * Cross-window contract (identical to the row-level pipeline's
    * watermark contract): windows must partition event time
    * monotonically — the published state keeps no per-field
    * timestamps, so a later window replaying OLDER events than an
    * already-applied one would overwrite newer values.
    */
  def mergeAndPublish(spark: org.apache.spark.sql.SparkSession, targetDir: String,
      pkCols: Seq[String], fields: Seq[FieldSpec], env: DataFrame,
      batchId: Long = -1L, numBuckets: Option[Int] = None,
      statsCols: Seq[String] = Nil): Long = {
    def emptyBase = {
      val typed = fields.foldLeft(env.select(pkCols.map(col): _*).limit(0)) {
        (d, f) => d.withColumn(f.as,
          lit(null).cast(TypedProjection.outputType(f.rule)))
      }
      typed
    }
    CdcPipeline.currentManifest(targetDir) match {
      case None =>
        CdcPipeline.publish(merge(env, emptyBase, pkCols, fields), targetDir,
          pkCols, batchId, numBuckets, statsCols)
      case Some(m) =>
        // The store's schema must be EXACTLY pk + declared fields
        // (r9 ADVICE): the subset pre-select below would otherwise
        // narrow a wider store before merge() could apply its
        // documented refusal — the delta write then commits the
        // narrowed schema, and the undeclared columns silently
        // vanish from reads (lost for good once their buckets
        // rewrite). Refuse loudly instead; a wider target needs its
        // extra fields declared (or a row-level merge).
        val storeCols = m.schema.fields.map(_.name).toSet
        val declared = (pkCols ++ fields.map(_.as)).toSet
        require(storeCols == declared,
          s"sparse merge field list (${declared.toSeq.sorted.mkString(",")}) " +
            s"must cover the target's schema exactly " +
            s"(${storeCols.toSeq.sorted.mkString(",")} at $targetDir) — " +
            "undeclared columns would be dropped from the published schema")
        val touched = CdcPipeline.bucketSet(env, CdcPipeline.bucketExpr(pkCols, m.numBuckets))
        CdcPipeline.rewriteBuckets(spark, targetDir, pkCols, m, touched, batchId = batchId,
            statsCols = statsCols) { stored =>
          // a field-wise patch of the stored rows: the touched buckets'
          // whole content, rewritten copy-on-write
          CdcPipeline.KeyedDelta.Content(
            merge(env, stored.select((pkCols ++ fields.map(_.as)).map(col): _*), pkCols, fields))
        }.version
    }
  }
}
