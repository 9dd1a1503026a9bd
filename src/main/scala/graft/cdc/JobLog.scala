package graft.cdc

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Run log + incremental watermark persistence — the Spark form of
  * the reference's `etl_job_log_incremental_date` table
  * (reference: merge_procedures_mysql/etl_job_log_incremental_date_mysql.sql,
  * bigquery_syntex_merge_sql/incremental-date.sql; written at
  * merge.sql:520–581). A tiny append-only parquet log; the next run's
  * window start = MAX(cdc_end_us) for the (cdc_table, target) pair
  * (merge.sql:111–115), epoch when absent.
  *
  * records_inserted / records_updated are the reference's MERGE
  * outcome split (merge.sql:520–534): an upsert counts as *updated*
  * iff its PK already existed in the pre-merge target, *inserted*
  * otherwise.
  */
object JobLog {

  final case class RunRecord(
      run_id: String,
      cdc_table: String,
      target_db: String,
      target_table: String,
      cdc_start_us: Long,
      cdc_end_us: Long,
      insert_ts_us: Long,
      run_status: String,
      error_msg: String,
      records_inserted: Long,
      records_updated: Long,
      records_deleted: Long)

  def read(spark: SparkSession, logDir: String): Option[DataFrame] = {
    // an existing-but-empty dir (fresh deployment) has no schema
    val hasData = parquetFiles(logDir).nonEmpty
    // mergeSchema: a log dir that predates the r3 insert/update split
    // has files without records_inserted/records_updated; the default
    // sampled-footer schema read could miss (or inconsistently
    // surface) the new columns on such mixed directories. The log is
    // tiny (one row per run), so merging every footer is free.
    if (hasData) Some(spark.read.option("mergeSchema", "true").parquet(logDir)) else None
  }

  /** Previous watermark for this (cdc_table, target), epoch if none —
    * exactly COALESCE(MAX(CDC_END_TS), '1970-01-01') of the
    * reference (merge.sql:114). A `logDir` that exists and is not a
    * directory is refused with `IllegalArgumentException`, never read
    * as an empty log.
    *
    * r15 (guide §1.2 / §5 — the driver gap between a store run's many
    * small jobs is planning, and the log is one row per run): reads
    * the log files driver-side through parquet-java instead of a
    * Spark read+agg job. The directory is bounded at O(autoCompactAt)
    * tiny files by [[compact]], so this is strictly metadata-scale
    * I/O; the MAX-over-SUCCESS-rows semantics (and the 0-when-absent
    * epoch) are unchanged, and files written by either the old Spark
    * path or [[append]]'s writer parse identically.
    */
  def lastWatermark(spark: SparkSession, logDir: String, cfg: CdcTableConfig): Long = {
    requireLogDir(logDir)
    val files = parquetFiles(logDir)
    if (files.isEmpty) return 0L
    val conf = spark.sparkContext.hadoopConfiguration
    var mx = 0L
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(f))
        .withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          def str(n: String): String =
            if (g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0)
              g.getString(n, 0) else null
          def lng(n: String): Option[Long] =
            if (g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0)
              Some(g.getLong(n, 0)) else None
          if (str("cdc_table") == cfg.cdcTable &&
              str("target_db") == cfg.targetDb &&
              str("target_table") == cfg.targetTable &&
              str("run_status") == "SUCCESS")
            lng("cdc_end_us").foreach(v => mx = math.max(mx, v))
          g = reader.read()
        }
      } finally reader.close()
    }
    mx
  }

  /** Parquet schema of one run row — field names, order and types
    * exactly as `Seq(rec).toDF()` wrote them (optional int64 /
    * binary-UTF8), so directories mixing old Spark-written files and
    * [[append]]'s driver-written ones read identically (mergeSchema,
    * DuckDB, parquet-java all see one schema).
    */
  private val rowSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary run_id (UTF8);
      |  optional binary cdc_table (UTF8);
      |  optional binary target_db (UTF8);
      |  optional binary target_table (UTF8);
      |  optional int64 cdc_start_us;
      |  optional int64 cdc_end_us;
      |  optional int64 insert_ts_us;
      |  optional binary run_status (UTF8);
      |  optional binary error_msg (UTF8);
      |  optional int64 records_inserted;
      |  optional int64 records_updated;
      |  optional int64 records_deleted;
      |}""".stripMargin)

  /** Appends one run row — and keeps the directory bounded: every
    * append leaves one more small file, so a target merged every
    * minute for a year is ~500k files of one row each, and the
    * footer-merging `read` (hence every watermark lookup) degrades
    * with the file count, not the row count. Once the directory holds
    * `autoCompactAt` files the append triggers [[compact]], so steady
    * state is O(autoCompactAt) files regardless of run count. Pass
    * `autoCompactAt = 0` to disable (callers that schedule `compact`
    * themselves).
    *
    * r15: the one-row file is written driver-side with parquet-java
    * (same columns, types and snappy codec as the Spark write it
    * replaces) — a Spark job for one row cost a full plan+schedule
    * cycle per merge run. Crash contract unchanged: the row is
    * written under a temp name and atomically renamed into place
    * ([[StoreFs.atomicReplace]]), so a concurrent or later reader
    * never sees a partial file.
    */
  def append(spark: SparkSession, logDir: String, rec: RunRecord,
      autoCompactAt: Int = 64): Unit = {
    requireLogDir(logDir)
    // Fresh name per APPEND (not per run_id): a crash-replayed run
    // must land as a second file/row — exactly what the Spark write
    // did — so the crash window stays "duplicates, never lost", and
    // compact()'s run_id dedup heals it.
    val fileId = java.util.UUID.randomUUID().toString
    val name = s"part-$fileId.snappy.parquet"
    val tmp = s"$logDir/.graft-tmp-$fileId"
    val g = new org.apache.parquet.example.data.simple.SimpleGroup(rowSchema)
    def s(n: String, v: String): Unit = if (v != null) { g.append(n, v); () }
    def l(n: String, v: Long): Unit = { g.append(n, v); () }
    s("run_id", rec.run_id); s("cdc_table", rec.cdc_table)
    s("target_db", rec.target_db); s("target_table", rec.target_table)
    l("cdc_start_us", rec.cdc_start_us); l("cdc_end_us", rec.cdc_end_us)
    l("insert_ts_us", rec.insert_ts_us)
    s("run_status", rec.run_status); s("error_msg", rec.error_msg)
    l("records_inserted", rec.records_inserted)
    l("records_updated", rec.records_updated)
    l("records_deleted", rec.records_deleted)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(tmp))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(rowSchema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try w.write(g) finally w.close()
    StoreFs.atomicReplace(tmp, s"$logDir/$name")
    if (autoCompactAt > 0) { compact(spark, logDir, minFiles = autoCompactAt); () }
  }

  /** Refuses a `logDir` that exists and is not a directory: listing a
    * regular file finds no log parts, so its watermark would read as
    * the epoch and the run would re-merge the whole source. A missing
    * `logDir` is a fresh log.
    */
  private def requireLogDir(logDir: String): Unit =
    if (StoreFs.existsAsNonDir(logDir))
      throw new IllegalArgumentException(s"job log path is not a directory: $logDir")

  // fully-qualified paths via the Hadoop FileSystem API, so the log
  // works on any scheme (a java.io listing on hdfs://s3a:// returns
  // null and auto-compaction would silently stop — ADVICE r5)
  private def parquetFiles(logDir: String): Seq[String] =
    StoreFs.listFilePaths(logDir, ".parquet")

  /** Rewrite the log's current files into ONE (when at least
    * `minFiles` have accumulated), under the pipeline's single-writer
    * contract. Crash-safe by ordering: the combined file is written
    * BEFORE the inputs are deleted, so a crash in between leaves
    * duplicate rows, never lost ones — and duplicates are harmless to
    * every consumer (`lastWatermark` is a MAX) and are healed by the
    * next compact's `run_id` dedup. Concurrent READERS of the
    * directory (other sessions) may transiently see those duplicates;
    * the writer itself never races because it is the one calling this.
    * Returns the number of input files removed (0 = below threshold).
    */
  def compact(spark: SparkSession, logDir: String, minFiles: Int = 16): Int = {
    val files = parquetFiles(logDir)
    if (files.size < minFiles) 0
    else {
      // pin the read to this exact file snapshot: the combined file we
      // append below must not feed its own input
      val all = spark.read.option("mergeSchema", "true")
        .parquet(files: _*)
        .dropDuplicates("run_id")
      all.coalesce(1).write.mode(SaveMode.Append).parquet(logDir)
      // FileSystem.delete on a checksum FS removes the .crc sibling
      // with the file — no hand-rolled cleanup
      files.foreach(StoreFs.deleteFile)
      files.size
    }
  }
}
