package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable consumption of the store's change feeds.
  *
  * The pull feeds — [[Scd2Store.closedSince]],
  * [[CdcPipeline.snapshotDiff]], [[CdcPipeline.rollupDiff]] — return
  * DataFrames against version bookkeeping the CALLER must hold. This
  * is the bookkeeping: a per-consumer cursor file (under the store it
  * feeds from, via [[StoreFs]] like every other control file) whose
  * committed position advances process-then-commit, so a consumer
  * drives the feed like a micro-batch sink:
  *
  *   - a crash INSIDE the handler leaves the position untouched — the
  *     next call re-delivers the identical span (at-least-once;
  *     exactly-once end-to-end when the handler is idempotent or
  *     transactional, the same contract foreachBatch gives);
  *   - a crash AFTER the commit never re-reads the span — the next
  *     call starts past it (asserted on `inputFiles` in the specs).
  *
  * The reference's consumers poll its job-log/target tables by
  * timestamp (merge.sql:520–581 exposes per-run counters for exactly
  * this); on the versioned store the committed version IS the
  * offset, so the cursor is one atomic pointer per consumer.
  *
  * Scale shape: every span read is the underlying feed's — closed
  * dirs are append-only (I/O ∝ new slices), snapshot/rollup diffs
  * read only buckets the manifests disagree on (I/O ∝ changed
  * buckets) — so a consumer that polls frequently does small reads
  * and one that lags does one larger, still-pruned read.
  */
object ChangeFeeds {

  private def cursorPath(base: String, consumer: String): String = {
    require(consumer.matches("[A-Za-z0-9_-]+"),
      s"consumer name must be path-safe: $consumer")
    s"$base/_cursors/$consumer"
  }

  /** The consumer's committed position (a store version, inclusive);
    * None when the consumer never committed.
    */
  def position(base: String, consumer: String): Option[Long] = {
    val p = cursorPath(base, consumer)
    if (StoreFs.exists(p)) Some(StoreFs.readString(p).trim.toLong) else None
  }

  private def commit(base: String, consumer: String, v: Long): Unit = {
    val p = cursorPath(base, consumer)
    StoreFs.writeString(p + ".tmp", v.toString)
    StoreFs.atomicReplace(p + ".tmp", p)
  }

  /** Deliver every SCD2 slice closed since the consumer's committed
    * position — `closedSince(position)` handed to `f`, position
    * advanced to the open store's current version AFTER `f` returns.
    * Returns the newly committed version; None (without calling `f`)
    * when the consumer is already current or no history exists.
    *
    * A first-time consumer starts at `startAt` (-1 = the complete
    * closed history). `startAt` must not predate the last
    * `compactClosed` (its `_GEN` pointer folds older dirs together) —
    * `closedSince` rejects that loudly; such a consumer bootstraps
    * via [[Scd2Store.readHistory]] and then starts at the version it
    * read.
    */
  def consumeScd2Closed(spark: SparkSession, cfg: CdcTableConfig, consumer: String,
      startAt: Long = -1L)(f: DataFrame => Unit): Option[Long] =
    CdcPipeline.currentVersion(Scd2Store.openPath(cfg)).flatMap { cur =>
      val base = Scd2Store.path(cfg)
      val pos = position(base, consumer).getOrElse(startAt)
      if (pos >= cur) None
      else {
        f(Scd2Store.closedSince(spark, cfg, pos).get)
        commit(base, consumer, cur)
        Some(cur)
      }
    }

  /** Deliver the op-tagged row diff (i/u/d) between the consumer's
    * committed target version and the current one. A first call
    * BASELINES: it commits the current version and delivers nothing
    * ("changes from now on" — a consumer wanting the initial state
    * reads the snapshot first, which is the same contract Kafka's
    * `latest` start gives). Throws when the committed version's
    * manifest was vacuumed (the diff base is gone; re-baseline by
    * deleting the cursor and re-reading the snapshot) — a consumer
    * outliving `autoVacuumKeep` must poll at least once per keep
    * window.
    */
  def consumeSnapshotDiff(spark: SparkSession, cfg: CdcTableConfig,
      consumer: String)(f: DataFrame => Unit): Option[Long] =
    consumeDiff(spark, cfg.targetPath, cfg.pk, consumer)(f)

  /** [[consumeSnapshotDiff]] over a maintained rollup's state store —
    * one i/u/d row per group whose aggregates changed, positions in
    * the ROLLUP store's own version sequence.
    */
  def consumeRollupDiff(spark: SparkSession, cfg: CdcTableConfig, name: String,
      consumer: String)(f: DataFrame => Unit): Option[Long] = {
    val rs = cfg.rollups.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no such rollup: $name"))
    consumeDiff(spark, CdcPipeline.rollupPath(cfg, name), rs.groupCols, consumer)(f)
  }

  private def consumeDiff(spark: SparkSession, dir: String, pkCols: Seq[String],
      consumer: String)(f: DataFrame => Unit): Option[Long] =
    CdcPipeline.currentVersion(dir).flatMap { cur =>
      position(dir, consumer) match {
        case None => commit(dir, consumer, cur); None // baseline registration
        case Some(pos) if pos >= cur => None
        case Some(pos) =>
          val diff = CdcPipeline.snapshotDiff(spark, dir, pos, cur, pkCols)
            .getOrElse(throw new IllegalStateException(
              s"version $pos of $dir is gone (vacuumed); consumer '$consumer' " +
                "must re-baseline from the current snapshot"))
          f(diff)
          commit(dir, consumer, cur)
          Some(cur)
      }
    }

  /** Structured-streaming source over the SCD2 closed-slice history:
    * advancement n writes `closed/d<n>` once and never rewrites it —
    * append-only files are exactly the file-source contract, so
    * `readStream` gets incremental delivery, checkpointed offsets,
    * and kill+resume for free. Compaction's combined `g<n>` dirs are
    * EXCLUDED by the glob (their content was already delivered from
    * the `d` dirs they folded), and the orphan sweep deleting old
    * dirs is harmless — the checkpoint remembers processed files.
    * Delivery is at-least-once under WRITER crashes (a torn `d<n>`
    * from a crashed advancement is invisible to batch readers but
    * matched here, and its replay rewrites the same slices under new
    * file names); the cursor feed above is the exactly-once-committed
    * alternative. None when no history exists yet.
    */
  def scd2ClosedStream(spark: SparkSession, cfg: CdcTableConfig): Option[DataFrame] =
    Scd2Store.readHistory(spark, cfg).map { h =>
      spark.readStream
        .schema(h.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(CdcPipeline.bucketGlob(s"${Scd2Store.closedPath(cfg)}/d*"))
    }

  /** Continuous change-feed EXPORT (A65 — the missing half of the
    * Delta streaming source: the MAIN store's per-commit row changes
    * as an APPEND-ONLY directory the file-source streaming contract
    * consumes directly): each committed version in (cursor, current]
    * materializes its op-tagged changes (A42's one-step feed) into
    * its own `commit=<v>` dir, written to a `_tmp` sibling first and
    * RENAMED in — readers never see a half-written commit.
    * Exactly-once: the A34 process-then-commit cursor advances only
    * after every dir landed; a crash before the commit re-exports the
    * same versions, and an already-present final dir is SKIPPED (its
    * content is deterministic — same diff of the same manifests), so
    * the replay converges without rewriting delivered files (rewrites
    * would re-deliver under the file-source contract).
    *
    * First call registers the baseline at the CURRENT version and
    * exports nothing (consumers bootstrap from the snapshot — the
    * consumeSnapshotDiff contract); every later call exports exactly
    * the new commits. I/O ∝ buckets the per-step manifests disagree
    * on, never #steps × target. A vacuumed step fails loudly
    * (re-baseline), never a silent gap.
    */
  def exportChangeFeed(spark: SparkSession, targetDir: String, feedDir: String,
      pkCols: Seq[String], consumer: String = "cdf-export"): Seq[Long] =
    CdcPipeline.currentVersion(targetDir) match {
      case None => Seq.empty
      case Some(cur) =>
        position(targetDir, consumer) match {
          case None => commit(targetDir, consumer, cur); Seq.empty
          case Some(pos) if pos >= cur => Seq.empty
          case Some(pos) =>
            val exported = ((pos + 1) to cur).map { v =>
              val dst = s"$feedDir/commit=$v"
              if (!StoreFs.exists(dst)) {
                val step = CdcPipeline.readChangeFeed(spark, targetDir,
                  pkCols, v - 1, v).getOrElse(throw new IllegalStateException(
                    s"version ${v - 1} of $targetDir is gone (vacuumed); " +
                      s"consumer '$consumer' must re-baseline"))
                val tmp = s"$feedDir/_tmp_commit=$v"
                StoreFs.deleteRecursive(tmp)
                step.write.mode("overwrite").parquet(tmp)
                StoreFs.atomicReplace(tmp, dst)
              }
              v
            }
            commit(targetDir, consumer, cur)
            exported
        }
    }

  /** Structured-streaming reader over an [[exportChangeFeed]] feed:
    * commit dirs are append-only and rename-published, so the file
    * source delivers each commit's changes exactly once per
    * checkpoint, with kill+resume for free. None before the first
    * exported commit (no schema to read yet).
    */
  def changeFeedStream(spark: SparkSession, feedDir: String): Option[DataFrame] =
    if (StoreFs.listDirNames(feedDir).exists(_.startsWith("commit=")))
      Some(spark.readStream
        .schema(spark.read.parquet(s"$feedDir/commit=*").schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$feedDir/commit=*"))
    else None
}
