package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COPY INTO — idempotent bulk file ingestion onto the versioned
  * bucketed store (SURVEY.md §2 A75; Delta's `COPY INTO`, Snowflake
  * COPY lineage): "load whatever landed in the bucket since last
  * time, and make re-running always safe". The reference's load step
  * assumes an upstream loader delivered exactly-once into the landing
  * table; this is that loader's missing half — the thing that makes
  * at-least-once delivery exactly-once EFFECT on the store.
  *
  * Contract:
  *  - a source FILE is the dedup unit: identity = full path + byte
  *    size (a re-landed file with new content/size re-ingests; the
  *    same immutable object never double-applies). Ingested
  *    identities persist as one marker file each under
  *    `_ingested/<md5>.mark`; the skip decision is ONE ledger
  *    listing, never per-file round trips.
  *  - rows from fresh files UPSERT by PK as one merge-on-read keyed
  *    write (duplicate in-batch PKs are refused — two landed files
  *    claiming the same key in one copy has no defined winner), CHECK
  *    constraints gate the batch (A71 induction), touched buckets
  *    come from the SOURCE keys so publish I/O stays ∝ ingested
  *    delta exactly like every other store merge.
  *  - crash safety: markers are written AFTER the pointer swap. A
  *    crash between publish and markers re-runs the same files into
  *    an upsert of identical rows — a version advances, the STATE
  *    does not (exactly-once effect under at-least-once execution,
  *    the A58 discipline). Markers before the publish would be the
  *    unsafe order: a crash between them would drop the files
  *    forever.
  *  - an all-ingested call is a ZERO-Spark-job no-op (ledger listing
  *    only) — the polling loop costs driver metadata I/O.
  *
  * Scale shape (100 TB landing bucket): candidate listing is the
  * caller's (one `listStatus` of the landing prefix — object-store
  * list, not data I/O); ledger compare is set membership over
  * |ingested files| names; the data path reads ONLY fresh files and
  * merges them delta-sized. Source schema must match the store's
  * physical columns (names as sets; types cast per column) — a
  * landing file with extra/missing columns refuses loudly rather
  * than silently widening or NULL-filling what a schema-evolving
  * merge (A19) should decide.
  */
object CopyInto {

  /** Report of one copy call. `version` is the store's current
    * version after the call (unchanged when nothing was fresh).
    */
  final case class Result(version: Long, filesIngested: Long,
      filesSkipped: Long, rowsIngested: Long)

  private def ledgerDir(targetDir: String): String = s"$targetDir/_ingested"

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** File identity in the ingestion ledger: path + size. */
  private[cdc] def fileKey(path: String, bytes: Long): String =
    md5Hex(s"$path|$bytes")

  /** Ingest `files` (data files of `format`) into the store at
    * `targetDir`, skipping any file already recorded in the ledger.
    */
  def copyInto(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      files: Seq[String], format: String = "parquet"): Result = {
    val m = CdcPipeline.currentManifest(targetDir).getOrElse(
      throw new IllegalArgumentException(
        s"no graft store at $targetDir — COPY INTO needs an existing " +
          "store (bootstrap with publish/graft_create)"))
    val cur = m.readVersion
    val ledger = ledgerDir(targetDir)
    val seen = StoreFs.listFilePaths(ledger, ".mark")
      .map(p => p.substring(p.lastIndexOf('/') + 1).stripSuffix(".mark")).toSet
    val keyed = files.distinct.map { f =>
      val bytes = StoreFs.treeBytes(f)
      require(bytes > 0L || StoreFs.exists(f), s"COPY INTO source missing: $f")
      (f, bytes, fileKey(f, bytes))
    }
    val (skipped, fresh) = keyed.partition { case (_, _, k) => seen(k) }
    if (fresh.isEmpty) return Result(cur, 0L, skipped.size.toLong, 0L)

    val raw = spark.read.format(format).load(fresh.map(_._1): _*)
    // Physical target schema, exact column-set match, per-column cast.
    val target = m.schema
    val targetNames = target.fields.map(_.name).toSet
    val srcNames = raw.columns.toSet
    require(srcNames == targetNames,
      s"COPY INTO schema mismatch: missing=${(targetNames -- srcNames).toSeq.sorted
        .mkString(",")} extra=${(srcNames -- targetNames).toSeq.sorted.mkString(",")}")
    val source = raw.select(target.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)

    CdcPipeline.enforceConstraints(m, source, targetDir)
    val batch = CdcPipeline.keyedBatch(source, pkCols, m.numBuckets, "COPY INTO source")
    val rows = batch.rows
    val v =
      if (batch.buckets.isEmpty) cur
      else CdcPipeline.rewriteBuckets(spark, targetDir, pkCols, m, batch.buckets, "copy-into",
          deltaRows = Some(rows)) { _ =>
        // the rows replace the stored rows of their keys (UPDATE SET * /
        // INSERT *)
        CdcPipeline.KeyedDelta.Upserts(source)
      }.version
    // Markers last (see object doc: crash before these re-merges the
    // identical rows — state-idempotent; crash after never re-reads).
    fresh.foreach { case (f, bytes, k) =>
      StoreFs.writeString(s"$ledger/$k.mark", s"$f|$bytes")
    }
    Result(v, fresh.size.toLong, skipped.size.toLong, rows)
  }

  /** Directory form: ingest every immediate `*.{format-suffix}` data
    * file under `landingDir` (underscore/dot control files never
    * match the suffix listing). The shape a scheduled loader calls in
    * a loop.
    */
  def copyIntoDir(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      landingDir: String, format: String = "parquet"): Result = {
    val suffix = format match {
      case "parquet" => ".parquet"
      case "json" => ".json"
      case "csv" => ".csv"
      case other => "." + other
    }
    val files = StoreFs.listFilePaths(landingDir, suffix)
      .filterNot { p =>
        val n = p.substring(p.lastIndexOf('/') + 1)
        n.startsWith("_") || n.startsWith(".")
      }.sorted
    copyInto(spark, targetDir, pkCols, files, format)
  }
}
