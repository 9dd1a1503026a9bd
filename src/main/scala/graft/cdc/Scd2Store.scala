package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Persisted, pipeline-maintained SCD Type-2 history (the storage
  * side of [[Scd2]]; declared via [[Scd2Spec]] on a
  * [[CdcTableConfig]]). The reference maintains its derived tables
  * inside the merge procedure (merge.sql:520–581); this does the same
  * for the type-2 history, with the open/closed split expressed in
  * the LAYOUT so per-run write I/O is delta-sized, never O(history):
  *
  * {{{
  *   <target>/_scd2/
  *     open/            versioned bucketed store (CdcPipeline layout):
  *                      ONE open slice per live PK, delta-published —
  *                      a run rewrites only the PK-hash buckets its
  *                      window touches
  *     closed/d<n>/     append-only: the slices advancement n closed,
  *                      PK-hash-bucket-partitioned (as-of-key lookups
  *                      prune); never rewritten by later runs
  * }}}
  *
  * Closed history is immutable by construction — a slice, once
  * closed, never changes — so it appends; only the open slices are
  * mutable state, and they are exactly a keyed snapshot, which is
  * what the versioned bucketed store already does ∝-delta.
  *
  * == Crash contract ==
  *
  * Advancement n writes `closed/d<n>` FIRST, then delta-publishes the
  * open store, whose atomic pointer swap (to version n, carrying the
  * window's idempotence key) is the commit point. Readers only admit
  * closed dirs `d<k>` with k ≤ the open store's committed version, so
  * a torn `closed/d<n>` write (crash before the open publish) is
  * invisible and simply overwritten by the replay.
  *
  * The idempotence key is the WINDOW (batch mode: the watermark
  * window end; streaming: the micro-batch id), NOT the target
  * version: a crashed batch run re-merges its window on replay — the
  * snapshot merge is idempotent, but re-closing an open slice at the
  * window's first event time would corrupt the intervals, so the
  * history must recognize the replayed window itself.
  *
  * Unlike rollup state, the history is NOT recomputable from the
  * current snapshot (intermediate versions exist only in the change
  * stream) — hence the [[Scd2Spec]] contract: declare at target
  * creation, or accept a bootstrap that starts history at the
  * declaration point.
  */
object Scd2Store {

  def path(cfg: CdcTableConfig): String = s"${cfg.targetPath}/_scd2"
  private[graft] def openPath(cfg: CdcTableConfig): String = s"${path(cfg)}/open"
  private[graft] def closedPath(cfg: CdcTableConfig): String = s"${path(cfg)}/closed"

  /** Idempotence key of the last advancement committed into the
    * history (-1 when no history exists yet).
    */
  def lastAppliedSeq(cfg: CdcTableConfig): Long =
    CdcPipeline.lastCommittedBatch(openPath(cfg)).getOrElse(-1L)

  private def payloadOf(cfg: CdcTableConfig, spec: Scd2Spec): Seq[String] =
    if (spec.payloadCols.nonEmpty) spec.payloadCols
    else cfg.targetCols.filterNot(cfg.pk.contains)

  private def histCols(cfg: CdcTableConfig, spec: Scd2Spec): Seq[String] =
    cfg.pk ++ payloadOf(cfg, spec) ++ Seq(Scd2.From, Scd2.To)

  /** Best-available type for a payload column the stored history has
    * not written yet (declared via a widened config — see the
    * schema-evolution note on [[readHistory]]): the target store's
    * committed schema when the target already carries the column,
    * else the config projection rule's output type, else string (a
    * passthrough column's type is unknown until first written).
    */
  private def declaredType(cfg: CdcTableConfig, name: String): DataType =
    CdcPipeline.currentManifest(cfg.targetPath)
      .flatMap(_.schema.fields.find(_.name == name).map(_.dataType))
      .orElse(cfg.fieldSpecs.find(_.as == name)
        .map(s => TypedProjection.outputType(s.rule)))
      .getOrElse(StringType)

  /** Select `cols` from `df`, adding any column the stored schema
    * does not yet carry as a typed NULL — the open store's
    * pinned-schema read contract, extended to declared-but-unadvanced
    * payload columns so a widened declaration is readable immediately
    * instead of erroring until the next advancement.
    */
  private def selectBackfilled(cfg: CdcTableConfig, df: DataFrame,
      cols: Seq[String]): DataFrame = {
    val have = df.columns.toSet
    df.select(cols.map(c =>
      if (have(c)) col(c) else lit(null).cast(declaredType(cfg, c)).as(c)): _*)
  }

  /** Closed-slice directories visible at the committed open version.
    * Two sources compose: the compaction pointer `_GEN` (when present)
    * names the combined dir holding everything closed up to its
    * recorded version, and per-advancement dirs `d<k>` cover the rest.
    * The torn-write guard is the version bound: `d<k>` is admitted iff
    * genVersion < k ≤ openVersion, so a crash between the closed write
    * and the open publish leaves an invisible dir the replay simply
    * overwrites.
    */
  private def committedClosedDirs(cfg: CdcTableConfig, openVersion: Long): Seq[String] = {
    val (genV, _, genDirs) = readGen(cfg)
    genDirs ++ StoreFs.listDirNames(closedPath(cfg))
      .filter(_.matches("d\\d+"))
      .filter { n =>
        val k = n.stripPrefix("d").toLong
        k > genV && k <= openVersion
      }
      .sorted
      .map(n => s"${closedPath(cfg)}/$n")
  }

  private def genPath(cfg: CdcTableConfig): String = s"${closedPath(cfg)}/_GEN"

  /** Compaction pointer: (version it covers, generation counter,
    * combined dir paths). The generation counter names each combined
    * dir (`g<n>`) uniquely, so a rewrite-in-place collision is
    * impossible even when compaction runs twice at one open version
    * (e.g. a retention pass with no advancement in between).
    */
  private def readGen(cfg: CdcTableConfig): (Long, Long, Seq[String]) =
    if (!StoreFs.exists(genPath(cfg))) (-1L, 0L, Nil)
    else {
      var v = -1L
      var g = 0L
      var dirs = Seq.empty[String]
      StoreFs.readString(genPath(cfg)).split("\n").foreach { l =>
        l.split("=", 2) match {
          case Array("version", x) => v = x.toLong
          case Array("gen", x) => g = x.toLong
          case Array("dirs", x) =>
            dirs = x.split(",").map(_.trim).filter(_.nonEmpty).toSeq
              .map(n => s"${closedPath(cfg)}/$n")
          case _ => ()
        }
      }
      (v, g, dirs)
    }

  /** Leaf bucket directories of the given closed dirs, keeping the
    * buckets `keep(closedDir)` admits (default: all). Reading leaves
    * (the same way `readBuckets` does) sidesteps multi-root partition
    * inference entirely.
    */
  private def closedLeafDirs(dirs: Seq[String],
      keep: String => Int => Boolean = _ => _ => true): Seq[String] =
    dirs.flatMap(d => CdcPipeline.listedBuckets(d).collect { case (b, leaf) if keep(d)(b) => leaf })

  /** Bucket count a closed dir was written with (its `_NB` marker;
    * dirs from before the marker existed fall back to the open
    * store's current count, which matches as long as the open store
    * was never rebucketed).
    */
  private def dirBuckets(dir: String, fallback: Int): Int = {
    val p = s"$dir/_NB"
    if (StoreFs.exists(p)) StoreFs.readString(p).trim.toInt else fallback
  }

  private def writeClosedDir(df: DataFrame, pkCols: Seq[String], numBuckets: Int,
      dir: String): Unit = {
    CdcPipeline.writeBuckets(df, pkCols, numBuckets, dir)
    StoreFs.writeString(s"$dir/_NB", numBuckets.toString)
    // `_RANGE` sidecar: the dir's [min, max] valid_to_us — the
    // time-range analogue of the open store's manifest stats, so
    // history range reads can skip whole closed dirs. Primary source:
    // the just-written parquet FOOTERS' column statistics (driver
    // metadata I/O, zero Spark jobs); fallback: a delta-sized
    // read-back aggregation. A dir without the sidecar is simply
    // never pruned.
    if (CdcPipeline.listedBuckets(dir).nonEmpty) {
      val range = StoreFs.footerLongRange(dir, Scd2.To).orElse {
        val w = df.sparkSession.read.parquet(dir)
          .agg(min(col(Scd2.To)), max(col(Scd2.To))).collect()(0)
        if (w.isNullAt(0)) None else Some((w.getLong(0), w.getLong(1)))
      }
      range.foreach { case (lo, hi) =>
        StoreFs.writeString(s"$dir/_RANGE", s"$lo $hi")
      }
    }
  }

  /** A closed dir's recorded [min, max] valid_to_us, None when the
    * sidecar is absent (pre-feature dirs).
    */
  private def dirRange(dir: String): Option[(Long, Long)] = {
    val p = s"$dir/_RANGE"
    if (!StoreFs.exists(p)) None
    else StoreFs.readString(p).trim.split("\\s+") match {
      case Array(lo, hi) => scala.util.Try((lo.toLong, hi.toLong)).toOption
      case _ => None
    }
  }

  /** The full history — closed slices ∪ open slices — exactly
    * `Scd2.fromHistory` over every window applied so far. None when
    * no history exists (SCD2 never declared / never advanced).
    *
    * Schema-evolution note: a widened payload declaration is written
    * from the NEXT advancement on (which re-pins the open store's
    * schema). Reads in the gap — declared but not yet advanced — see
    * the new column as a typed NULL (typed from the target's schema
    * or the config's projection rule; the reference tolerates the
    * same gap by re-reading INFORMATION_SCHEMA every run,
    * merge.sql:179–219), matching what pre-evolution slices read
    * forever after.
    */
  def readHistory(spark: SparkSession, cfg: CdcTableConfig): Option[DataFrame] =
    cfg.scd2.flatMap { spec =>
      CdcPipeline.currentVersion(openPath(cfg)).map { v =>
        val cols = histCols(cfg, spec)
        val open = selectBackfilled(cfg,
          CdcPipeline.readSnapshot(spark, openPath(cfg)).get, cols)
        val leaves = closedLeafDirs(committedClosedDirs(cfg, v))
        val closed =
          if (leaves.isEmpty) open.filter(lit(false))
          else spark.read.schema(open.schema).parquet(leaves: _*)
        closed.unionByName(open)
      }
    }

  /** Slices whose validity interval intersects `[fromUs, toUs]` —
    * the "history of the last month" read. I/O: every closed dir
    * records its [min, max] `valid_to_us` in a `_RANGE` sidecar, so
    * dirs whose every slice closed before `fromUs` are SKIPPED
    * entirely (at a year of hourly advancements, reading last week
    * touches ~1/50th of the dirs); open slices are always read.
    * Dirs without the sidecar (pre-feature layout) are read —
    * pruning degrades, never lies — and the interval filter applies
    * either way, so the result is exactly `readHistory` filtered.
    */
  def readHistoryRange(spark: SparkSession, cfg: CdcTableConfig, fromUs: Long,
      toUs: Option[Long] = None): Option[DataFrame] =
    cfg.scd2.flatMap { spec =>
      CdcPipeline.currentVersion(openPath(cfg)).map { v =>
        val cols = histCols(cfg, spec)
        val open = selectBackfilled(cfg,
          CdcPipeline.readSnapshot(spark, openPath(cfg)).get, cols)
        val dirs = committedClosedDirs(cfg, v).filter(d =>
          dirRange(d).forall { case (_, maxTo) => maxTo >= fromUs })
        val leaves = closedLeafDirs(dirs)
        val closed =
          if (leaves.isEmpty) open.filter(lit(false))
          else spark.read.schema(open.schema).parquet(leaves: _*)
        closed.unionByName(open)
          .filter((col(Scd2.To).isNull || col(Scd2.To) >= lit(fromUs)) &&
            col(Scd2.From) <= lit(toUs.getOrElse(Long.MaxValue)))
      }
    }

  /** The target as of `tsUs`, reconstructed from the persisted
    * history — timestamp time travel at ANY instant, not just publish
    * points (the versioned store's `readSnapshotAt` is version-
    * granular; this is event-time-granular).
    */
  def readAsOf(spark: SparkSession, cfg: CdcTableConfig, tsUs: Long): Option[DataFrame] =
    readHistory(spark, cfg).map(h => Scd2.asOf(h, tsUs))

  /** The history as it stood when the load watermark was `txUs` —
    * the TRANSACTION-time axis over the same persisted relation whose
    * valid-time axis [[readAsOf]] serves. In THIS store the
    * reconstruction is exact by the window contract, not an
    * approximation: advancements consume strictly increasing load
    * windows and a window (Wp, Wn] carries only events with
    * Wp < ts ≤ Wn, so every slice with valid_from ≤ txUs had been
    * loaded by the advancement that crossed txUs and none beyond it
    * — transaction time is a pure function of the event-time
    * watermark. The derived view keeps slices with valid_from ≤ txUs
    * and RE-OPENS (valid_to → null) closures the store had not yet
    * seen (valid_to > txUs). A store accepting out-of-order windows
    * would need per-slice generation stamps for this read —
    * documented trade; this pipeline's windows are ordered by
    * construction: `CdcPipeline.run` derives each load as the
    * (prev, now] window, so a non-advancing watermark yields an
    * EMPTY window and the run is a no-op (with `Scd2Store.maintain`
    * skipping replays via its seqKey guard) — the history never sees
    * an out-of-order or duplicated window either way.
    */
  def readHistoryAsKnownAt(spark: SparkSession, cfg: CdcTableConfig,
      txUs: Long): Option[DataFrame] =
    readHistory(spark, cfg).map(_
      .filter(col(Scd2.From) <= lit(txUs))
      .withColumn(Scd2.To,
        when(col(Scd2.To) <= lit(txUs), col(Scd2.To))))

  /** Bitemporal point read: the rows live at valid time `validUs`,
    * as the store knew them at load watermark `txUs` — the
    * composition of the two axes ([[readHistoryAsKnownAt]] then
    * [[Scd2.asOf]]).
    */
  def readBitemporal(spark: SparkSession, cfg: CdcTableConfig,
      txUs: Long, validUs: Long): Option[DataFrame] =
    readHistoryAsKnownAt(spark, cfg, txUs).map(h => Scd2.asOf(h, validUs))

  /** Bucket-pruned key lookup over the history: the slices of the
    * requested PKs (optionally only the slice live at `asOfUs`),
    * reading ONLY the PK-hash buckets the keys route to — in the open
    * store via its manifest, in each closed dir via its bucket
    * partition directories. I/O ∝ |keys| × advancements, never the
    * history. (A long-lived deployment bounds the advancement count
    * by compacting closed dirs — see [[compactClosed]].)
    */
  def readKeys(spark: SparkSession, cfg: CdcTableConfig, keys: DataFrame,
      asOfUs: Option[Long] = None): Option[DataFrame] =
    cfg.scd2.flatMap { spec =>
      CdcPipeline.currentManifest(openPath(cfg)).map { m =>
        val cols = histCols(cfg, spec)
        val open = selectBackfilled(cfg,
          CdcPipeline.readKeys(spark, openPath(cfg), cfg.pk, keys).get, cols)
        // same type-cast-before-hash contract as CdcPipeline.readKeys
        val storedType = m.schema.fields.map(f => f.name -> f.dataType).toMap
        val typedKeys = keys.select(cfg.pk.map(c => storedType.get(c)
          .map(t => col(c).cast(t).as(c)).getOrElse(col(c))): _*)
        // each closed dir records its own bucket count (`_NB`) — the
        // hash routing is per-dir, so lookups stay correct even if
        // the open store was rebucketed after some dirs were written
        val dirs = committedClosedDirs(cfg, m.readVersion)
        val countOf: Map[String, Int] = dirs.map(d => d -> dirBuckets(d, m.numBuckets)).toMap
        val touchedByCount: Map[Int, Set[Int]] = countOf.values.toSet.map { nb: Int =>
          nb -> CdcPipeline.keyBuckets(typedKeys, cfg.pk, nb)
        }.toMap
        val bucketDirs = closedLeafDirs(dirs, d => touchedByCount(countOf(d)))
        val closed =
          if (bucketDirs.isEmpty) open.filter(lit(false))
          else spark.read.schema(open.schema)
            .parquet(bucketDirs: _*)
            .join(broadcast(typedKeys), cfg.pk, "left_semi")
            .select(cols.map(col): _*)
        val all = closed.unionByName(open)
        asOfUs.map(ts => Scd2.asOf(all, ts)).getOrElse(all)
      }
    }

  /** Append-only change feed of the history: every slice CLOSED after
    * open-store version `sinceVersion` (exclusive, up to the current
    * commit). Each advancement's closed dir is immutable, so an
    * incremental consumer reads only the new dirs — never the
    * accumulated history. `sinceVersion` must not predate the last
    * `compactClosed` (whose `_GEN` pointer folds older dirs together);
    * a consumer that fell that far behind re-reads via `readHistory`.
    */
  def closedSince(spark: SparkSession, cfg: CdcTableConfig,
      sinceVersion: Long): Option[DataFrame] =
    cfg.scd2.flatMap { spec =>
      CdcPipeline.currentVersion(openPath(cfg)).map { v =>
        val (genV, _, _) = readGen(cfg)
        require(sinceVersion >= genV,
          s"closed dirs up to version $genV were compacted; feed from $sinceVersion " +
            "is no longer dir-addressable — read the full history instead")
        val cols = histCols(cfg, spec)
        val open = selectBackfilled(cfg,
          CdcPipeline.readSnapshot(spark, openPath(cfg)).get, cols)
        val dirs = committedClosedDirs(cfg, v).filter { d =>
          val n = d.substring(d.lastIndexOf('/') + 1)
          n.startsWith("d") && n.stripPrefix("d").toLong > sinceVersion
        }
        val leaves = closedLeafDirs(dirs)
        if (leaves.isEmpty) open.filter(lit(false))
        else spark.read.schema(open.schema).parquet(leaves: _*)
      }
    }

  /** Advance the persisted history for one merge window / micro-batch
    * — called by `CdcPipeline.apply`, the apply path of the batch
    * `run` and the streaming foreachBatch. Once the open store exists
    * the advance reads and writes only this store, so it runs beside
    * the target merge and the rollups and may commit before the
    * target does; a crash that leaves the history ahead of the target
    * converges on replay, which re-merges the target and skips the
    * history by `seqKey`. A first advance (which creates the open
    * store, or bootstraps a late declaration from the post-merge
    * target) runs after the target publish. `env` is the window's
    * PROJECTED (uncompacted) envelope: the history keeps every
    * event's slice, not just the compacted newest-per-PK. `seqKey` is
    * the window's idempotence key
    * (batch: the watermark window end; streaming: the batch id);
    * `targetExistedBefore` says prior windows were already merged
    * before this one (batch: a SUCCESS row predates this window;
    * streaming: the pointer carries an older batch id) — it routes a
    * first advancement to bootstrap-from-snapshot instead of
    * incremental-from-empty, and is false on a crash-replay of the
    * target-creating window, so replay and no-crash paths converge on
    * identical histories.
    *
    * `seqIsLoadTs` says the seqKey domain is the envelope's `load_ts`
    * (batch mode: the window end), enabling superset-replay
    * protection: a crash between the history publish and the job-log
    * SUCCESS row leaves the watermark behind, so a scheduler passing
    * fresh wall-clock re-runs a SUPERSET window (old watermark,
    * newNow] whose seqKey exceeds lastAppliedSeq — the already-
    * applied prefix would re-close slices at first-event times that
    * precede their valid_from, permanently (the history is not
    * recomputable). The window is cut on load_ts, so filtering to
    * load_ts > lastAppliedSeq excludes exactly that prefix. Streaming
    * batchIds are not in the load_ts domain — a checkpoint replay
    * carries the identical batch, so no filter is needed (or valid).
    *
    * `summary` is the `CdcPipeline.summarize` of the window's
    * compacted changes, taken before the target merge. Its row count
    * says whether the window is empty, and its bucket set for the
    * open store's bucket count names the open buckets to rewrite: the
    * compacted keys are exactly `env`'s keys. On a superset replay it
    * may name more buckets than the filtered suffix touches, which
    * only rewrites them with their open rows kept. A summary taken
    * before the open store was rebucketed is refused with
    * `ConcurrentWriteException`.
    */
  private[graft] def maintain(spark: SparkSession, cfg: CdcTableConfig, env: DataFrame,
      summary: CdcPipeline.ChangeSummary, seqKey: Long, targetExistedBefore: Boolean,
      seqIsLoadTs: Boolean = false): Unit =
    cfg.scd2.foreach { spec =>
      val lastApplied = lastAppliedSeq(cfg)
      if (lastApplied >= seqKey) () // replayed window: already applied
      else {
        val envEff =
          if (seqIsLoadTs && lastApplied >= 0)
            env.filter(col(CdcEnvelope.LoadTsCol) > lastApplied)
          else env
        val op = openPath(cfg)
        val openExists = CdcPipeline.currentVersion(op).isDefined
        if (!openExists && targetExistedBefore) bootstrap(spark, cfg, spec, seqKey)
        // a declared-from-the-start history is created even by an
        // EMPTY first window (advance publishes an empty open store),
        // so later windows always take the incremental path instead
        // of a lossy bootstrap; an empty window over an existing
        // store is a pure no-op
        else if (summary.rows > 0 || !openExists)
          advance(spark, cfg, spec, envEff, summary, seqKey)
        spec.autoCompactAt.foreach { bound =>
          CdcPipeline.currentVersion(op).foreach { v =>
            if (committedClosedDirs(cfg, v).size > math.max(1, bound)) {
              compactClosed(spark, cfg)
              ()
            }
          }
        }
      }
    }

  /** Late declaration: history begins at the CURRENT snapshot — one
    * open slice per live row, `valid_from_us` from `spec.tsCol` (0
    * when absent), no closed slices (the pre-declaration events are
    * gone; that is the declared contract).
    */
  private def bootstrap(spark: SparkSession, cfg: CdcTableConfig, spec: Scd2Spec,
      seqKey: Long): Unit = {
    val snap = CdcPipeline.readSnapshot(spark, cfg.targetPath).getOrElse(return)
    val fromExpr = spec.tsCol
      .map(c => coalesce(col(c).cast(LongType), lit(0L)))
      .getOrElse(lit(0L))
    val open0 = snap
      .select((cfg.pk ++ payloadOf(cfg, spec)).map(col): _*)
      .withColumn(Scd2.From, fromExpr)
      .withColumn(Scd2.To, lit(null).cast(LongType))
    CdcPipeline.publish(open0, openPath(cfg), cfg.pk, batchId = seqKey,
      buckets = spec.numBuckets.orElse(cfg.numBuckets))
    ()
  }

  /** Apply one window's events `env` to the history: the window's
    * closed slices, plus the open slice each window PK had until its
    * first event here, land in `closed/d<v+1>`; the window's open
    * slices become the open store's next version. Over an existing
    * open store that is one merge-on-read `CdcPipeline.rewriteBuckets`
    * over the buckets `summary` names: the new open slices are a new
    * segment and every window PK's stored open slice joins its
    * bucket's deletion vector, so the open store's write is ∝ the
    * window, not its buckets. A first window publishes the open store.
    */
  private def advance(spark: SparkSession, cfg: CdcTableConfig, spec: Scd2Spec,
      env: DataFrame, summary: CdcPipeline.ChangeSummary, seqKey: Long): Unit = {
    val pk = cfg.pk
    val pay = payloadOf(cfg, spec)
    val cols = histCols(cfg, spec)
    val op = openPath(cfg)
    // this window's slices: closed intermediates + (at most) one open
    // slice per PK; a trailing delete closes and opens nothing
    val newSlices = Scd2.fromHistory(env, pk, pay)
    // delta-sized: one row per PK in the window → broadcasts
    val firstEvt = env.groupBy(pk.map(col): _*)
      .agg(min(col(CdcEnvelope.TsCol)).as("_first_ts"))
    CdcPipeline.currentManifest(op) match {
      case None =>
        // first window of a target created WITH the declaration: the
        // window env IS the full change log so far
        val numBuckets = spec.numBuckets.orElse(cfg.numBuckets)
          .getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
        writeClosedDir(
          newSlices.filter(col(Scd2.To).isNotNull).select(cols.map(col): _*),
          pk, numBuckets, s"${closedPath(cfg)}/d0")
        CdcPipeline.publish(
          newSlices.filter(col(Scd2.To).isNull).select(cols.map(col): _*),
          op, pk, batchId = seqKey, buckets = Some(numBuckets))
        ()
      case Some(m) =>
        val v = m.readVersion
        // open-store I/O ∝ delta: the buckets the window's PKs hash to
        // are read for the slices this window closes, and the write is
        // merge-on-read — the window's open slices become a new segment
        // and every window PK's stored open slice joins its bucket's
        // deletion vector
        CdcPipeline.rewriteBuckets(spark, op, pk, m, summary.touched(op, m.numBuckets),
            batchId = seqKey, deltaRows = Some(summary.rows)) { openSubset =>
          // ADDITIVE schema evolution: a payload column declared after
          // the store existed is absent from the stored open slices —
          // allowMissingColumns unions backfill it with NULL (the same
          // contract the versioned store's pinned-schema reads give
          // carried pre-evolution buckets), and the post-union select
          // pins the new column order. Type changes are not supported.
          // the window's first event closes its PK's current slice
          val closedNow = openSubset.drop(Scd2.To)
            .join(broadcast(firstEvt), pk)
            .withColumnRenamed("_first_ts", Scd2.To)
          val newClosed = newSlices.filter(col(Scd2.To).isNotNull).select(cols.map(col): _*)
          // closed/d<v+1> BEFORE the open publish: the open store's
          // pointer swap to version v+1 is what makes it visible
          writeClosedDir(
            newClosed.unionByName(closedNow, allowMissingColumns = true)
              .select(cols.map(col): _*),
            pk, m.numBuckets, s"${closedPath(cfg)}/d${v + 1}")
          CdcPipeline.KeyedDelta.Replace(
            newSlices.filter(col(Scd2.To).isNull).select(cols.map(col): _*),
            firstEvt.select(pk.map(col): _*))
        }
        ()
    }
  }

  /** Layout maintenance for a long-lived history: rewrite the live
    * closed dirs into ONE combined dir (still bucket-partitioned) so
    * key lookups touch O(|keys|) files again instead of
    * O(advancements). Content is untouched — closed slices are
    * immutable facts — and the `_GEN` pointer swap is the ONLY
    * visibility change: a crash after writing `c<v>` but before the
    * swap leaves an unreferenced dir a retry overwrites.
    *
    * Superseded input dirs are NOT deleted here: a reader that
    * resolved its dir list just before the swap may still be
    * scanning them, and the store's contract lets readers run
    * concurrently with the single writer. They become orphans the
    * NEXT compaction sweeps — one full generation of grace, the
    * closed-dir analogue of `vacuum`'s keep-window. Returns the
    * number of input dirs combined (0 = nothing to do).
    *
    * `dropClosedBeforeUs` is the RETENTION horizon: slices whose
    * `valid_to_us` ≤ the horizon are dropped during the rewrite —
    * the data-removal op a history table eventually needs (storage
    * bounds, right-to-erasure). It is a declared loss: `asOf`/key
    * lookups at instants before the horizon become incomplete; the
    * open slices and everything closed after the horizon are
    * untouched, so the CURRENT reconstruction never changes. A
    * retention pass runs even when only one combined dir is live
    * (the generation counter gives the rewrite a fresh name).
    */
  def compactClosed(spark: SparkSession, cfg: CdcTableConfig,
      dropClosedBeforeUs: Option[Long] = None): Int =
    cfg.scd2.map { spec =>
      CdcPipeline.currentManifest(openPath(cfg)) match {
        case None => 0
        case Some(m) =>
          val live = committedClosedDirs(cfg, m.readVersion).toSet
          // orphan sweep: dirs superseded by a previous compaction's
          // pointer swap (kept one generation as reader grace), plus
          // torn advancement dirs above the committed version (their
          // replay rewrites them anyway)
          StoreFs.listDirNames(closedPath(cfg))
            .filter(n => n.matches("[dcg]\\d+"))
            .map(n => s"${closedPath(cfg)}/$n")
            .filterNot(live)
            .foreach(StoreFs.deleteRecursive)
          val dirs = live.toSeq.sorted
          if (dirs.size <= 1 && dropClosedBeforeUs.isEmpty) 0
          else if (dirs.isEmpty) 0
          else {
            val cols = histCols(cfg, spec)
            val open = selectBackfilled(cfg,
              CdcPipeline.readSnapshot(spark, openPath(cfg)).get, cols)
            val leaves = closedLeafDirs(dirs)
            val all0 =
              if (leaves.isEmpty) open.filter(lit(false))
              else spark.read.schema(open.schema).parquet(leaves: _*)
            val all = dropClosedBeforeUs
              .map(cut => all0.filter(col(Scd2.To) > lit(cut)))
              .getOrElse(all0)
            val (_, gen, _) = readGen(cfg)
            val combined = s"g${gen + 1}"
            writeClosedDir(all, cfg.pk, m.numBuckets, s"${closedPath(cfg)}/$combined")
            val tmp = s"${closedPath(cfg)}/._GEN.tmp"
            StoreFs.writeString(tmp, s"version=${m.readVersion}\ngen=${gen + 1}\ndirs=$combined\n")
            StoreFs.atomicReplace(tmp, genPath(cfg))
            // inputs stay on disk as reader grace; the next
            // compaction's orphan sweep removes them
            dirs.size
          }
      }
    }.getOrElse(0)
}
