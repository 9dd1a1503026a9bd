package graft.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets

/** Control-plane file operations of the versioned store (pointer,
  * manifest, vacuum, job-log compaction), on the Hadoop `FileSystem`
  * API so the store runs wherever the data does — `file://` in tests,
  * `hdfs://`/`s3a://` where a 100 TB deployment actually lives. The
  * reference's control plane is its warehouse's metadata (BigQuery
  * job atomicity / MySQL transactions — merge.sql:441–457); on
  * immutable files it is these few operations, and they must go
  * through the same FS abstraction as the data files or the store is
  * local-disk-only.
  *
  * Atomic-replace contract, per scheme:
  *  - `hdfs://`: `FileContext.rename(OVERWRITE)` is one atomic
  *    namenode op (`DistributedFileSystem` overrides the 3-arg
  *    rename) — readers see the old or the new pointer, never a torn
  *    one or a missing one.
  *  - `file://`: Hadoop's DEFAULT 3-arg rename — the one `LocalFs`
  *    inherits — is documented non-atomic: OVERWRITE is implemented
  *    as delete(dst) THEN rename(src, dst), so a concurrent pointer
  *    read lands in a window where the file does not exist
  *    (reproduced at ~10⁵ absent sightings/6 s under reader pressure
  *    by the `pointer_visibility` probe; surfaced as the r12 TxnSpec flake where
  *    `deleteWhere` returned None mid-retry). Local replaces
  *    therefore go through java.nio `ATOMIC_MOVE` — POSIX rename(2)
  *    replaces the destination atomically, so the pointer is never
  *    absent. The crc sidecar moves first, leaving only the
  *    new-crc-vs-old-data sub-window, which is exactly the transient
  *    ChecksumException class `readRetrying` already absorbs.
  *  - object stores (`s3a://`): rename is copy+delete, NOT atomic,
  *    but the final object PUT is — a reader sees the old pointer,
  *    the new pointer, or (in the copy window) a transient miss,
  *    never a partial file. Single-writer-per-target (the store's
  *    standing contract) keeps last-writer-wins sufficient; a
  *    deployment needing stronger pointer semantics puts ONLY the
  *    pointer on a consistent store (DynamoDB-style commit service —
  *    what Delta does on S3) while data files stay put.
  */
private[graft] object StoreFs {

  private def conf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** Scheme a path ACTUALLY resolves against: its explicit scheme,
    * else the scheme of `fs.defaultFS` — a scheme-less store path on
    * a cluster with `fs.defaultFS=hdfs://nn/` lives on HDFS, and
    * routing it to the java.nio local fast paths would fail with
    * NoSuchFileException (r13 ADVICE). Only when the DEFAULT fs is
    * itself local does a scheme-less path take the nio branch.
    */
  private def effectiveScheme(p: Path): String =
    Option(p.toUri.getScheme).getOrElse(
      Option(FileSystem.getDefaultUri(conf).getScheme).getOrElse("file"))

  private def isLocalScheme(p: Path): Boolean = {
    val s = effectiveScheme(p)
    s == "file" || s == "raw"
  }

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fs(p).exists(p)
  }

  /** On the LOCAL checksum FS, `atomicReplace`'s rename moves the
    * data file and its `.crc` sidecar as TWO metadata ops — a reader
    * landing between them sees new bytes against the old checksum
    * (observed as a transient ChecksumException under the N-writer
    * race). The window is microseconds and self-heals; control-file
    * reads retry through it. HDFS renames are one atomic op
    * (checksums live server-side), so the retry never fires there.
    *
    * Retry EXHAUSTION means the mismatch is not transient: a writer
    * crash between the sidecar move and the data move leaves the new
    * crc paired with the old data PERMANENTLY, and without recovery
    * every later read of the control file fails until the next
    * successful swap (r13 ADVICE). The sidecar is advisory for
    * control files (their content self-validates at the parse layer),
    * so exhaustion retires the orphaned crc and reads raw, once —
    * the same retirement `atomicReplace` applies to an unchecksummed
    * tmp against a surviving stale dst crc.
    */
  private def readRetrying[T](p: Path)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt > 5) {
            val crc = new Path(p.getParent, "." + p.getName + ".crc")
            if (!fs(p).delete(crc, false)) throw e
            return f
          }
          Thread.sleep(2L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def readString(path: String): String = {
    val p = new Path(path)
    readRetrying(p) {
      val in = fs(p).open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      finally in.close()
    }
  }

  /** Write (overwrite) a small control file, creating parents. */
  def writeString(path: String, s: String): Unit = {
    val p = new Path(path)
    val f = fs(p)
    val parent = p.getParent
    if (parent != null) { f.mkdirs(parent); () }
    val out = f.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def readBytes(path: String): Array[Byte] = {
    val p = new Path(path)
    readRetrying(p) {
      val in = fs(p).open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in)
      finally in.close()
    }
  }

  /** Write (overwrite) a small binary sidecar, creating parents. */
  def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    val p = new Path(path)
    val f = fs(p)
    val parent = p.getParent
    if (parent != null) { f.mkdirs(parent); () }
    val out = f.create(p, true)
    try out.write(bytes)
    finally out.close()
  }

  /** Exclusive create of a small control file: returns true iff this
    * call created it (someone else holds it → false) — the
    * mutual-exclusion primitive the writer lease and commit claims
    * build on. On HDFS `create(overwrite = false)` is atomic at the
    * namenode; on the LOCAL schemes Hadoop's ChecksumFileSystem
    * implements it as exists-then-create — a TOCTOU window two racing
    * threads both pass (observed: two writers both "claimed" a
    * version and interleaved one dir's `_temporary`), so local paths
    * go through java.nio CREATE_NEW (O_CREAT|O_EXCL — atomic at the
    * kernel) instead.
    */
  def createExclusive(path: String, s: String): Boolean = {
    val p = new Path(path)
    val uri = p.toUri
    if (isLocalScheme(p)) {
      val nio = java.nio.file.Paths.get(uri.getPath)
      try {
        Option(nio.getParent)
          .foreach(d => { java.nio.file.Files.createDirectories(d); () })
        java.nio.file.Files.write(nio, s.getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      val f = fs(p)
      val parent = p.getParent
      if (parent != null) { f.mkdirs(parent); () }
      try {
        val out = f.create(p, /* overwrite = */ false)
        try out.write(s.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException if exists(path) => false
      }
    }
  }

  /** Modification time of a file, epoch millis; None when absent. */
  def mtimeMs(path: String): Option[Long] = {
    val p = new Path(path)
    try Some(fs(p).getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Replace `dstPath` with `tmpPath` in one rename (see the
    * per-scheme contract in the object doc). On the local scheme this
    * MUST be the kernel's rename(2), not Hadoop's delete-then-rename
    * default — the destination being momentarily absent is the r12
    * TxnSpec store-visibility defect.
    */
  def atomicReplace(tmpPath: String, dstPath: String): Unit = {
    val dst = new Path(dstPath)
    if (isLocalScheme(dst)) {
      import java.nio.file.{Files, Paths, StandardCopyOption => Cp}
      val srcNio = Paths.get(new Path(tmpPath).toUri.getPath)
      val dstNio = Paths.get(dst.toUri.getPath)
      val srcCrc = srcNio.resolveSibling("." + srcNio.getFileName + ".crc")
      val dstCrc = dstNio.resolveSibling("." + dstNio.getFileName + ".crc")
      // sidecar first: a reader between the two moves sees old data
      // with the new crc — the transient ChecksumException window
      // readRetrying handles. Moving data first would leave new data
      // under the OLD crc, same window; but an un-checksummed tmp
      // against a SURVIVING stale dst crc would poison every later
      // read, so that case deletes the sidecar instead.
      if (Files.exists(srcCrc))
        Files.move(srcCrc, dstCrc, Cp.REPLACE_EXISTING, Cp.ATOMIC_MOVE)
      else Files.deleteIfExists(dstCrc)
      Files.move(srcNio, dstNio, Cp.REPLACE_EXISTING, Cp.ATOMIC_MOVE)
      ()
    } else {
      // scheme-less paths resolve against fs.defaultFS, so hand
      // FileContext the DEFAULT URI rather than a scheme-less one
      val fcUri =
        if (dst.toUri.getScheme == null) FileSystem.getDefaultUri(conf)
        else dst.toUri
      val fc = FileContext.getFileContext(fcUri, conf)
      fc.rename(new Path(tmpPath), dst, Options.Rename.OVERWRITE)
    }
  }

  /** Names of immediate subdirectories (empty when the path is
    * missing — a fresh target — rather than an error).
    */
  def listDirNames(path: String): Seq[String] = {
    val p = new Path(path)
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Immediate child files matching `suffix`, as fully-qualified path
    * strings (empty when the path is missing).
    */
  def listFilePaths(path: String, suffix: String): Seq[String] = {
    val p = new Path(path)
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(suffix))
      .map(_.getPath.toString)
  }

  /** Recursive delete; false when the path was already gone. On
    * checksum FSes (the local Hadoop FS) this removes the `.crc`
    * siblings too — the whole point of not hand-rolling it over
    * `java.io.File`.
    */
  def deleteRecursive(path: String): Boolean = {
    val p = new Path(path)
    fs(p).delete(p, true)
  }

  def deleteFile(path: String): Boolean = {
    val p = new Path(path)
    fs(p).delete(p, false)
  }

  /** Total bytes of every file under `path`, recursively — driver
    * metadata I/O (one content summary call), zero Spark jobs; 0 for
    * a missing path. Feeds the vacuum dry-run's per-version
    * reclaimable-bytes report.
    */
  def treeBytes(path: String): Long = {
    val p = new Path(path)
    val f = fs(p)
    if (!f.exists(p)) 0L else f.getContentSummary(p).getLength
  }

  /** Recursive directory copy (deep-clone path) — Hadoop `FileUtil`
    * so it works across schemes, including src and dst on different
    * filesystems.
    */
  def copyDir(src: String, dst: String): Unit = {
    val s = new Path(src); val d = new Path(dst)
    org.apache.hadoop.fs.FileUtil.copy(fs(s), s, fs(d), d,
      /* deleteSource = */ false, /* overwrite = */ true, conf)
  }

  /** Driver-side [min, max] of a long column across every parquet
    * file under `dir`, read from the file FOOTERS' column statistics
    * — metadata I/O only, zero Spark jobs. None when any chunk lacks
    * usable stats (caller falls back to an aggregation).
    */
  /** (row count, data bytes) of every parquet file under `dir`,
    * recursively — row counts from the footers' block metadata, bytes
    * from the file listing; driver metadata I/O, zero Spark jobs.
    * None when anything is unreadable (callers degrade to NULL, never
    * guess).
    */
  def footerRowsBytes(dir: String): Option[(Long, Long)] =
    scala.util.Try {
      val p = new Path(dir)
      val it = fs(p).listFiles(p, true)
      var rows = 0L
      var bytes = 0L
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          bytes += st.getLen
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(st.getPath, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.forEach(b => rows += b.getRowCount)
          finally r.close()
        }
      }
      (rows, bytes)
    }.toOption

  /** Per-FILE (absolute path, footer row count, bytes) of every
    * parquet file under `dir`, recursively — the per-file granularity
    * under [[footerRowsBytes]]'s totals. Driver metadata I/O, zero
    * Spark jobs; unreadable trees yield empty (callers degrade to an
    * absent listing, never guess).
    */
  def footerPerFile(dir: String): Seq[(String, Long, Long)] =
    scala.util.Try {
      val p = new Path(dir)
      val it = fs(p).listFiles(p, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(st.getPath, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          var rows = 0L
          try r.getFooter.getBlocks.forEach(b => rows += b.getRowCount)
          finally r.close()
          out += ((st.getPath.toString, rows, st.getLen))
        }
      }
      out.result()
    }.getOrElse(Seq.empty)

  def footerLongRange(dir: String, column: String): Option[(Long, Long)] =
    scala.util.Try {
      val p = new Path(dir)
      val it = fs(p).listFiles(p, true)
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var any = false
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(st.getPath, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.forEach { b =>
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == column) {
                val s = c.getStatistics
                require(s != null && !s.isEmpty && s.hasNonNullValue,
                  s"no usable stats for $column")
                lo = math.min(lo, s.genericGetMin.asInstanceOf[Number].longValue)
                hi = math.max(hi, s.genericGetMax.asInstanceOf[Number].longValue)
                any = true
              }
            }
          } finally r.close()
        }
      }
      require(any, s"no parquet stats for $column under $dir")
      (lo, hi)
    }.toOption
}
