package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained JOIN view (A50) — the enrichment view
  * `fact LEFT JOIN dim` kept as a materialized bucketed store whose
  * maintenance cost is ∝ the DELTA on either side, never the view:
  * the N:1 star-join every serving layer materializes (orders with
  * their customer attributes, events with their user profile), which
  * single-table IVM (A23/A33) cannot express because a dim change
  * must touch FACT rows it has no key for.
  *
  * Semantics: the view is keyed by the fact PK (N:1 — each fact row
  * joins at most one dim row by `fkCol = dimPk`); a missing dim row
  * reads as NULL dim columns (LEFT join), and a dim DELETE returns
  * its referencing fact rows to that NULL state — never drops them.
  *
  * Maintenance, both directions delta-sized:
  *  - FACT delta (the CDC-compacted upsert+delete set): re-enrich
  *    only the delta against the current dim and merge it into the
  *    view's touched buckets (the same latest-per-PK merge the target
  *    itself uses) — I/O ∝ delta, the view is co-bucketed with the
  *    fact PK so routing is exact.
  *  - DIM delta: the hard direction. The view is bucketed by fact PK,
  *    so "which fact rows reference these dim keys" would be a full
  *    scan — instead a persisted FK INDEX (a second tiny bucketed
  *    store: distinct (fk, fact_bucket) pairs, bucketed BY fk) maps
  *    changed dim keys to the fact buckets that can contain their
  *    referers. Only those buckets are read; rows matching the
  *    changed fks re-enrich against the dim UPSERTS ONLY (deleted
  *    fks simply fail the join → NULLs), everything else carries by
  *    reference. The index is maintained append-only from fact
  *    deltas: a fact row that changes fk leaves its old (fk, bucket)
  *    pair behind as a FALSE POSITIVE — pruning degrades (reads an
  *    extra bucket), never lies; `rebuildIndex` (or any full
  *    bootstrap) restores exactness, the OPTIMIZE-time pattern.
  *
  * At 100 TB: fact deltas cost what the target merge already costs;
  * dim deltas cost the fact buckets actually containing affected
  * fks — worst case (a fk referenced in every bucket) a full rewrite,
  * which is the honest lower bound for a change that really does
  * touch every bucket.
  */
object JoinView {

  final case class JoinViewSpec(
      viewDir: String,
      factPk: Seq[String],
      fkCol: String,
      dimPk: String,
      dimCols: Seq[String],
      numBuckets: Int = 32)

  private def indexDir(spec: JoinViewSpec): String = s"${spec.viewDir}/_fkindex"
  private val FactBucketCol = "fact_bucket"

  /** dim keyed/projected for the view join: (fkCol, dimCols…). */
  private def dimSide(dim: DataFrame, spec: JoinViewSpec): DataFrame =
    dim.select(col(spec.dimPk).as(spec.fkCol) +: spec.dimCols.map(col): _*)

  private def enrich(fact: DataFrame, dim: DataFrame, spec: JoinViewSpec): DataFrame = {
    val clash = fact.columns.toSet.intersect(spec.dimCols.toSet)
    require(clash.isEmpty, s"dim columns collide with fact columns: ${clash.mkString(",")}")
    fact.join(dimSide(dim, spec), Seq(spec.fkCol), "left")
  }

  private def fkPairs(fact: DataFrame, spec: JoinViewSpec): DataFrame =
    fact.select(col(spec.fkCol),
      CdcPipeline.bucketExpr(spec.factPk, spec.numBuckets).as(FactBucketCol)).distinct()

  /** Full build: view = fact ⨝ dim published as a bucketed store
    * (co-bucketed with the fact PK), plus the exact fk index.
    */
  def bootstrap(spark: SparkSession, spec: JoinViewSpec,
      fact: DataFrame, dim: DataFrame): Long = {
    val v = CdcPipeline.publish(enrich(fact, dim, spec), spec.viewDir, spec.factPk,
      buckets = Some(spec.numBuckets))
    CdcPipeline.publish(fkPairs(fact, spec), indexDir(spec), Seq(spec.fkCol),
      buckets = Some(spec.numBuckets))
    v
  }

  def read(spark: SparkSession, spec: JoinViewSpec): Option[DataFrame] =
    CdcPipeline.readSnapshot(spark, spec.viewDir)

  /** The dim side read from its own store, pre-hinted by footer
    * metadata (r9 verdict #3 — admission instead of hope): under
    * [[CdcPipeline.BroadcastAdmissionBytes]] on disk the dim
    * broadcasts (the classic star-join shape — the fact side never
    * shuffles); above it the enrich join is pinned shuffled-hash
    * (broadcasting a 10 GB dim is a driver OOM, and a stats-blind
    * fallback to sort-merge would sort the full fact side). Usable
    * directly as the `dim` argument of [[bootstrap]] /
    * [[applyFactDelta]] — the hint rides through `enrich`'s
    * projection. None when no store exists at `dimDir`.
    */
  def dimFromStore(spark: SparkSession, dimDir: String,
      maxBytes: Long = CdcPipeline.BroadcastAdmissionBytes): Option[DataFrame] =
    for {
      (_, bytes) <- CdcPipeline.footerTotals(dimDir)
      d <- CdcPipeline.readSnapshot(spark, dimDir)
    } yield if (bytes <= maxBytes) broadcast(d) else d.hint("shuffle_hash")

  /** Drop accumulated false-positive index pairs by rebuilding from
    * the view itself (which holds every fact row): the OPTIMIZE-time
    * exactness restore.
    */
  def rebuildIndex(spark: SparkSession, spec: JoinViewSpec): Unit =
    read(spark, spec).foreach { v =>
      CdcPipeline.publish(fkPairs(v, spec), indexDir(spec), Seq(spec.fkCol),
        buckets = Some(spec.numBuckets), op = "join-view-index-rebuild")
    }

  /** Policy-gated index maintenance (the A64 hook for the view's fk
    * index, r8 verdict #3): rebuild once the accumulated
    * false-positive pairs provably cross `maxStalePct` of the index.
    * The trigger is METADATA-ONLY, from two footer fast counts
    * (A61): the index holds distinct (fk, fact_bucket) pairs and the
    * view holds every live fact row, so
    * `max(0, indexRows − viewRows)` is an exact LOWER bound on stale
    * pairs — distinct live pairs can never exceed live rows. A bound,
    * not the exact fraction (counting exactly would scan the view,
    * which is what this check exists to avoid); under-triggering
    * only costs pruning quality, the degrade-never-lie trade the
    * index already makes. Returns whether it rebuilt; an idle or
    * healthy view is a zero-Spark-job no-op.
    */
  def maintainIndex(spark: SparkSession, spec: JoinViewSpec,
      maxStalePct: Int = 20): Boolean = {
    val fire = (for {
      idxRows <- CdcPipeline.fastCount(indexDir(spec))
      viewRows <- CdcPipeline.fastCount(spec.viewDir)
    } yield {
      val staleLower = math.max(0L, idxRows - viewRows)
      idxRows > 0 && staleLower * 100 > maxStalePct.toLong * idxRows
    }).getOrElse(false)
    if (fire) rebuildIndex(spark, spec)
    fire
  }

  /** Apply a CDC-compacted fact delta (`__op` + fact columns,
    * latest-per-PK): re-enrich the delta against the CURRENT dim and
    * merge into the view's touched buckets; append new (fk, bucket)
    * pairs to the index. Both publishes ∝ delta.
    */
  def applyFactDelta(spark: SparkSession, spec: JoinViewSpec,
      changes: DataFrame, dim: DataFrame, deltaRows: Option[Long] = None): Long = {
    val m = CdcPipeline.currentManifest(spec.viewDir)
      .getOrElse(throw new IllegalStateException(s"no view at ${spec.viewDir} — bootstrap first"))
    val touched = CdcPipeline.bucketSet(changes,
      CdcPipeline.bucketExpr(spec.factPk, m.numBuckets))
    // deletes carry no payload worth enriching; upserts join the dim
    val ups = enrich(changes.filter(col(CdcEnvelope.OpCol) =!= CdcEnvelope.Delete)
      .drop(CdcEnvelope.OpCol), dim, spec)
    val dels = changes.filter(col(CdcEnvelope.OpCol) === CdcEnvelope.Delete)
    val v = CdcPipeline.rewriteBuckets(spark, spec.viewDir, spec.factPk, m, touched,
        "join-view-fact", deltaRows = deltaRows) { stored =>
      CdcPipeline.KeyedDelta.Upserts(ups.select(stored.columns.map(col): _*),
        Some(dels.select(spec.factPk.map(col): _*)))
    }.version
    // index append: new pairs only (upserted rows' fk routing)
    val newPairs = fkPairs(changes.filter(col(CdcEnvelope.OpCol) =!= CdcEnvelope.Delete), spec)
    val im = CdcPipeline.currentManifest(indexDir(spec))
      .getOrElse(throw new IllegalStateException("join view has no fk index"))
    val idxTouched = CdcPipeline.bucketSet(newPairs,
      CdcPipeline.bucketExpr(Seq(spec.fkCol), im.numBuckets))
    // the index holds (fk, bucket) pairs, several per fk: it is not
    // keyed by its bucketing column, so its buckets are rewritten whole
    if (idxTouched.nonEmpty)
      CdcPipeline.rewriteBuckets(spark, indexDir(spec), Seq(spec.fkCol), im, idxTouched,
        "join-view-index")(s => CdcPipeline.KeyedDelta.Content(s.unionByName(newPairs).distinct()))
    v
  }

  /** Apply a dim delta (`__op` + dimPk + dimCols, latest-per-key):
    * index lookup → affected fact buckets → re-enrich ONLY rows
    * referencing the changed keys against the dim upserts (a deleted
    * dim key fails the join → NULL dim columns), carry the rest.
    */
  def applyDimDelta(spark: SparkSession, spec: JoinViewSpec,
      dimChanges: DataFrame): Long = {
    val m = CdcPipeline.currentManifest(spec.viewDir)
      .getOrElse(throw new IllegalStateException(s"no view at ${spec.viewDir} — bootstrap first"))
    val fks = dimChanges.select(col(spec.dimPk).as(spec.fkCol)).distinct()
    val affectedBuckets = CdcPipeline.readKeys(spark, indexDir(spec), Seq(spec.fkCol), fks)
      .map(CdcPipeline.bucketSet(_, col(FactBucketCol)))
      .getOrElse(throw new IllegalStateException("join view has no fk index"))
    if (affectedBuckets.isEmpty) return m.readVersion // no referer anywhere: no-op
    val dimUps = dimChanges.filter(col(CdcEnvelope.OpCol) =!= CdcEnvelope.Delete)
      .drop(CdcEnvelope.OpCol)
    CdcPipeline.rewriteBuckets(spark, spec.viewDir, spec.factPk, m, affectedBuckets,
        "join-view-dim") { stored =>
      // the referencing rows, re-enriched, replace themselves
      val refreshed = enrich(
        stored.join(broadcast(fks), Seq(spec.fkCol), "left_semi")
          .drop(spec.dimCols: _*),
        dimUps, spec)
      CdcPipeline.KeyedDelta.Upserts(refreshed.select(stored.columns.map(col): _*))
    }.version
  }
}
