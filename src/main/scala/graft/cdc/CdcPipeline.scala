package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, NumericType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** One incremental merge run — the whole of the reference procedure
  * `PS_SP_ETL_MERGE_JOB` (bigquery_syntex_merge_sql/merge.sql) /
  * `sp_cdc_merge_job` (mysql step-8), config-driven:
  *
  *   config → previous watermark → window scan → compaction →
  *   typed projection → snapshot merge → versioned swap → job log.
  *
  * Differences from the reference, deliberate (SURVEY.md §3/§5):
  *  - no dynamic SQL: the projection is Column builders from config;
  *  - one compaction pass routes upserts/deletes (the reference
  *    scans the source twice and left-joins the two views);
  *  - "transaction" = versioned snapshot directory + pointer file
  *    (parquet has no MERGE; a failed run never touches the live
  *    version, which is the reference's ROLLBACK — merge.sql:441–457);
  *  - the job-log row is written for both SUCCESS and FAILED runs.
  *
  * == Bucketed incremental publish ==
  *
  * A MERGE in the reference touches only matched rows; a naive
  * versioned-parquet swap rewrites the whole snapshot per run. The
  * target is therefore laid out as `numBuckets` PK-hash buckets
  * (directories `v{n}/_graft_bucket={b}`), and each version carries a
  * manifest mapping every bucket to its segments (the version
  * directories holding its files) and its deletion vector. A merge then
  *   1. computes the delta's touched bucket set (≤ numBuckets ids,
  *      collected driver-side),
  *   2. finds, in ONLY those buckets, the positions of the stored rows
  *      the delta replaces or deletes,
  *   3. writes the delta's rows as one new segment of their buckets
  *      and the positions as those buckets' deletion vectors,
  *   4. writes a manifest carrying every other segment and vector
  *      forward by reference.
  * Steps 2–4 are one function, [[rewriteBuckets]], that every keyed
  * write goes through (merge-on-read, with a fixed fold policy that
  * rewrites a bucket as one segment). Write I/O is ∝ the delta's rows
  * and read I/O ∝ touched buckets, not target size — the cost profile
  * of the reference's MERGE (merge.sql:403–436), which changes matched
  * rows in place, on an immutable-file store.
  * The pointer swap stays a one-line atomic move, so readers see the
  * old or the new manifest, never a torn state. Every reader and
  * writer starts from [[currentManifest]] (pointer, then the manifest
  * it names) and reaches files only through the store-layout
  * functions ([[versionRoot]], [[bucketDir]], [[listedBuckets]]). A
  * version without a manifest is absent to readers and refused by
  * writers: there is no second, flat layout.
  *
  * Writer contract: every version-producing write commits through
  * one path ([[commit]]), which claims `v<base+1>` and re-checks that
  * the pointer still sits at the base the write derived from. Two
  * concurrent writers to one target therefore serialize: the loser
  * throws [[ConcurrentWriteException]] before its version becomes
  * visible, and [[retryOnConflict]] re-derives it against the
  * winner's state. Readers and `vacuum` are safe concurrently with
  * any writer. The reference's scheduler runs the procedure serially
  * per table; graft stays correct without relying on that.
  */
object CdcPipeline {

  /** Label every Spark job a pipeline phase launches (guide §1.5 —
    * a store run is many small actions; without labels the UI and
    * JobProbe show only anonymized AQE call sites). Thread-local and
    * restored on exit, so concurrent runs label independently.
    */
  private[graft] def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  final case class RunResult(
      status: String, inserted: Long, updated: Long, deleted: Long,
      windowStartUs: Long, windowEndUs: Long, version: Long,
      quarantined: Long = 0L)

  private val VersionFile = "_VERSION"
  private val ManifestFile = "_MANIFEST"
  private val PkFile = "_PK"
  private[graft] val BucketCol = "_graft_bucket"

  /** Deletion vectors (A53), per bucket: `<version dir>/_dv/<b>.parquet`
    * holds one row per row position of bucket `b` that version deleted
    * — (data-file key, row index within that file) — written and read
    * on the driver ([[StoreFs.writePositions]]). The manifest lists each
    * bucket's vector files by version ref (`dv.<b>=v5,v7`, the same
    * "v7"-or-absolute resolution as segment refs); the bucket's vector
    * is their union (disjoint: a write only ever deletes live rows). A
    * commit writes only the positions it deletes, for the buckets it
    * changes, and carries every other file by reference. The
    * file key is the final TWO path segments
    * (`_graft_bucket=N/part-….parquet`), not the full path, so a store
    * survives being relocated — and not the bare name, because the
    * dynamic-partition writer reuses one task UUID for every bucket dir
    * it writes, making bare names COLLIDE across buckets.
    */
  private val DvDir = "_dv"
  private val DvFileCol = "__graft_dv_file"
  private val DvPosCol = "__graft_dv_pos"

  /** Merge-on-read fold policy of [[rewriteBuckets]], fixed: a bucket
    * is rewritten as one segment (copy-on-write) once it holds
    * `MaxSegments` segments, or once its deletion vector would cover
    * more than `MaxDvPct` percent of its footer rows. Bounds a read's
    * fan-in per bucket and the position lists the driver holds.
    */
  private[graft] val MaxSegments = 8
  private[graft] val MaxDvPct = 20

  /** Per-version manifest: bucket id → the bucket's segments, oldest
    * first. A segment is a version ref (e.g. "v3", or an absolute
    * version dir of another store for a bucket a shallow clone
    * carries) whose bucket directory ([[bucketDir]] of [[versionRoot]])
    * holds some of the bucket's rows; the bucket is the union of its
    * segments minus its deletion vector (`dvs`: bucket id → the refs
    * of the version dirs holding that bucket's vector files, oldest
    * first). A merge-on-read write appends a segment and a vector file;
    * a copy-on-write rewrite replaces the list with one segment and
    * drops the vector. The codec writes `bucket.3=v2,v7` and
    * `dv.3=v5,v7`; a
    * one-ref entry is a one-segment bucket. Every version a reader can
    * see has one; absent ids are empty buckets. Entries are decoded
    * only here, in [[segmentDirs]] and in the other store-layout
    * functions (StoreLayoutSpec).
    * `schemaJson` pins the snapshot schema so carried-over buckets
    * from before an additive schema evolution read with NULLs for the
    * new columns.
    *
    * `stats` (since r7) is the data-skipping index: per bucket, the
    * min/max of each declared stats column (numeric or string),
    * recomputed whenever a bucket is rewritten, widened by a new
    * segment's footer stats when one is appended, and carried by
    * reference with the bucket otherwise — so like the bucket
    * pointers themselves, maintenance I/O is ∝ delta. A missing
    * (bucket, column) entry means UNKNOWN (pre-stats version,
    * all-NULL bucket, or a column declared later): readers must scan
    * that bucket — pruning degrades, never lies.
    */
  private[graft] final case class Manifest(
      numBuckets: Int, schemaJson: String, buckets: Map[Int, Seq[String]],
      stats: Map[Int, Map[String, (String, String)]] = Map.empty,
      /** Commit metadata (since r8): `op` = which operation produced
        * this version (bootstrap/merge/rebucket/optimize/zorder/
        * delete/update/clone), `commit_us` = wall-clock publish time —
        * the DESCRIBE HISTORY substrate. Absent on pre-r8 versions;
        * readers must treat every key as optional.
        */
      meta: Map[String, String] = Map.empty,
      /** Which version dir this manifest was READ from (-1 when
        * constructed in memory). Not serialized — the reader stamps
        * it so delta publishes can verify their base is still the
        * current version at commit time (the A66 stale-base check).
        */
      readVersion: Long = -1L,
      dvs: Map[Int, Seq[String]] = Map.empty,
      /** The manifest's recorded `chain.hash` ("" when constructed in
        * memory or written before the chain): names this exact
        * committed state, so reads key their resolved scans by it.
        */
      chain: String = "") {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** Pointer contents: `<version>[ <batchId>]` — one line, swapped
    * atomically, so the committed version and the streaming batch
    * that produced it are one unit (no separate marker to tear).
    */
  private def pointer(targetDir: String): Option[(Long, Long)] = {
    val p = s"$targetDir/$VersionFile"
    if (StoreFs.exists(p)) {
      val toks = StoreFs.readString(p).trim.split("\\s+")
      Some((toks(0).toLong, if (toks.length > 1) toks(1).toLong else -1L))
    } else None
  }

  def currentVersion(targetDir: String): Option[Long] = pointer(targetDir).map(_._1)

  /** The store's primary-key columns, recorded once in a store-level
    * `_PK` sidecar. Like the bucket count, the PK is a LAYOUT
    * invariant — every bucket is pk-hash-addressed — so it belongs to
    * the store, not to a version. Written at first publish (and
    * healed by any later publish for stores predating the sidecar);
    * consumers are the SQL DML statements (`MERGE INTO` / `UPDATE` /
    * `DELETE FROM graft.{path}`), which unlike the procedure TVFs
    * carry no pk-list argument. None = store absent or pre-sidecar
    * and never rewritten.
    */
  def pkColumns(targetDir: String): Option[Seq[String]] = {
    val p = s"$targetDir/$PkFile"
    if (StoreFs.exists(p))
      Some(StoreFs.readString(p).trim.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    else None
  }

  /** The _PK sidecar is write-once; a later publish under a DIFFERENT
    * key would rebuild the bucket layout under the new key while the
    * SQL DML surface keeps trusting the old record for bucket
    * addressing and ON-clause validation — wrong touched-bucket
    * pruning with no error. Fail loudly instead (rename flows rewrite
    * the sidecar explicitly, outside the publish path). Called BEFORE
    * [[commit]] so a refused write never takes a claim.
    */
  private def validatePk(targetDir: String, pkCols: Seq[String]): Unit =
    if (pkCols.nonEmpty && StoreFs.exists(s"$targetDir/$PkFile")) {
      val recorded = pkColumns(targetDir).getOrElse(Seq.empty)
      require(recorded.map(_.toLowerCase) == pkCols.map(_.toLowerCase),
        s"store $targetDir is keyed (${recorded.mkString(", ")}) but this " +
          s"write declares pk (${pkCols.mkString(", ")}) — a key change " +
          "needs a new store (or an explicit column rename)")
    }

  private def recordPk(targetDir: String, pkCols: Seq[String]): Unit =
    if (pkCols.nonEmpty) {
      if (!StoreFs.exists(s"$targetDir/$PkFile"))
        StoreFs.writeString(s"$targetDir/$PkFile", pkCols.mkString(","))
      else validatePk(targetDir, pkCols)
    }

  /** Highest streaming batchId committed into this target (-1 when the
    * target was only ever written by batch runs).
    */
  def lastCommittedBatch(targetDir: String): Option[Long] = pointer(targetDir).map(_._2)

  private[graft] def manifest(targetDir: String, version: Long): Option[Manifest] = {
    val p = s"$targetDir/v$version/$ManifestFile"
    if (!StoreFs.exists(p)) None
    else {
      var nb = 0
      var schema = ""
      var chain = ""
      val bs = Map.newBuilder[Int, Seq[String]]
      val dvs = Map.newBuilder[Int, Seq[String]]
      val st = scala.collection.mutable.Map[Int, Map[String, (String, String)]]()
      val me = Map.newBuilder[String, String]
      StoreFs.readString(p).split("\n").foreach { l =>
        l.split("=", 2) match {
          case Array("numBuckets", v) => nb = v.toInt
          case Array("schema", v) => schema = v
          case Array(ChainHashKey, v) => chain = v
          case Array(k, v) if k.startsWith("bucket.") =>
            bs += (k.stripPrefix("bucket.").toInt -> v.split(",").toSeq)
          case Array(k, v) if k.startsWith("dv.") =>
            dvs += (k.stripPrefix("dv.").toInt -> v.split(",").toSeq)
          case Array(k, v) if k.startsWith("meta.") =>
            me += (statDec(k.stripPrefix("meta.")) -> statDec(v))
          case Array(k, v) if k.startsWith("stats.") =>
            // stats.<bucket>.<encCol>=<encMin> <encMax>
            (k.stripPrefix("stats.").split("\\.", 2), v.split(" ", 2)) match {
              case (Array(b, c), Array(lo, hi)) =>
                val bid = b.toInt
                st(bid) = st.getOrElse(bid, Map.empty) +
                  (statDec(c) -> ((statDec(lo), statDec(hi))))
              case _ => ()
            }
          case _ => ()
        }
      }
      Some(Manifest(nb, schema, bs.result(), st.toMap, me.result(),
        readVersion = version, dvs = dvs.result(), chain = chain))
    }
  }

  /** The pointer names a version with no manifest: the state [[fsck]]
    * reports as `bad_pointer`. Readers and writers refuse it instead of
    * serving or deriving from a partial table.
    */
  final class BadPointerException(val storeDir: String, val version: Long)
    extends IllegalStateException(s"$storeDir: the pointer names v$version, which has " +
      "no manifest (fsck: bad_pointer)")

  /** The store's current manifest: the pointer, then the manifest it
    * names. None when there is no store; throws [[BadPointerException]]
    * when the pointer names a version without a manifest.
    */
  private[graft] def currentManifest(storeDir: String): Option[Manifest] =
    currentVersion(storeDir).map(v =>
      manifest(storeDir, v).getOrElse(throw new BadPointerException(storeDir, v)))

  /** The manifest of `version` if that version is committed: at or
    * below the pointer. A staged commit above the pointer (a Txn
    * awaiting its swap) is not a version yet, so time travel, tags,
    * clones, restore and the change feed all see None for it.
    */
  private[graft] def committedManifest(storeDir: String, version: Long): Option[Manifest] =
    currentVersion(storeDir).filter(version <= _).flatMap(_ => manifest(storeDir, version))

  private def statEnc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def statDec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private[cdc] def writeManifest(targetDir: String, version: Long, m: Manifest): Unit = {
    val sb = new StringBuilder
    sb.append(s"numBuckets=${m.numBuckets}\n")
    sb.append(s"schema=${m.schemaJson}\n")
    m.buckets.toSeq.sortBy(_._1).foreach { case (b, segs) =>
      sb.append(s"bucket.$b=${segs.mkString(",")}\n")
    }
    m.dvs.toSeq.sortBy(_._1).foreach { case (b, refs) =>
      sb.append(s"dv.$b=${refs.mkString(",")}\n")
    }
    m.stats.toSeq.sortBy(_._1).foreach { case (b, cols) =>
      cols.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        sb.append(s"stats.$b.${statEnc(c)}=${statEnc(lo)} ${statEnc(hi)}\n")
      }
    }
    m.meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(s"meta.${statEnc(k)}=${statEnc(v)}\n")
    }
    // A85: tamper-evident commit chain. The two chain lines are
    // appended LAST so the hash covers every byte above them; the
    // manifest parser ignores unknown keys, so pre-chain readers and
    // pre-chain manifests both keep working. Parent resolution:
    // version 0 anchors at "genesis"; a parent written before the
    // chain existed records "unchained" (verifyChain reports the
    // boundary instead of pretending lineage it cannot prove).
    val parent =
      if (version == 0L) ChainGenesis
      else chainHashOf(targetDir, version - 1).getOrElse(ChainUnchained)
    val body = sb.toString
    sb.append(s"$ChainParentKey=$parent\n")
    sb.append(s"$ChainHashKey=${chainHex(parent + "\n" + body)}\n")
    StoreFs.writeString(s"$targetDir/v$version/$ManifestFile", sb.toString)
  }

  private[cdc] val ChainParentKey = "chain.parent"
  private[cdc] val ChainHashKey = "chain.hash"
  private[cdc] val ChainGenesis = "genesis"
  private[cdc] val ChainUnchained = "unchained"

  /** Chain hash = SHA-256 (r9 ADVICE: MD5 is collision-broken — an
    * attacker could craft two manifests with one hash, defeating
    * even the honest-mistake guarantee). Pre-r10 manifests carry MD5
    * hashes; verifyChain accepts either, so upgrading a store never
    * flags its own history.
    */
  private def chainHex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Legacy (pre-r10) chain hash, kept only so verifyChain can
    * validate histories written before the SHA-256 switch.
    */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The recorded `chain.hash` of a version's manifest, if the
    * manifest exists and carries one.
    */
  private def chainHashOf(targetDir: String, version: Long): Option[String] = {
    val p = s"$targetDir/v$version/$ManifestFile"
    if (!StoreFs.exists(p)) None
    else StoreFs.readString(p).split("\n")
      .collectFirst { case l if l.startsWith(s"$ChainHashKey=") =>
        l.stripPrefix(s"$ChainHashKey=") }
  }

  /** One verifyChain finding: which version, what is wrong. */
  final case class ChainIssue(version: Long, kind: String, detail: String)

  /** A85 — tamper-evident commit-chain audit: every manifest records
    * a SHA-256 over its own body salted with its parent's recorded
    * chain hash, so the readable history forms a hash chain
    * (the git-commit-DAG integrity idea applied to table versions).
    *
    * Trust model (the git model, stated plainly): the chain hashes
    * live in the same writable files they protect and carry no
    * secret, so an attacker with WRITE access can re-hash the whole
    * chain after editing it. What the chain detects is naive edits,
    * bit rot, and severed/replaced versions; TAMPER-evidence against
    * a writer requires anchoring the head hash externally (print it
    * to an audit log, a write-once store, or a signature) — exactly
    * as a git repo's integrity hangs off an externally-known HEAD.
    * `verifyChain` recomputes every link from the bytes on disk and
    * reports:
    *
    *  - `body-tampered` — the manifest's bytes no longer match its
    *    recorded hash (an edited bucket ref, a doctored stats range);
    *  - `link-broken` — a manifest's recorded parent differs from the
    *    parent manifest's recorded hash (a silently REPLACED version:
    *    each side self-consistent, lineage severed);
    *  - `unchained` — a pre-chain manifest (informational; the chain
    *    starts at the first chained version).
    *
    * Metadata-only: reads manifests, runs zero Spark jobs, never
    * looks at data files (FSCK/auditData own file-level integrity).
    * Vacuumed prefixes are fine — verification starts at the first
    * readable version, whose parent line is recorded but
    * unverifiable (reported as nothing: absence of the parent is a
    * GC fact, not tampering).
    */
  def verifyChain(targetDir: String): Seq[ChainIssue] = {
    val versions = versionDirs(targetDir)
      .filter(v => StoreFs.exists(s"$targetDir/v$v/$ManifestFile"))
    val issues = Seq.newBuilder[ChainIssue]
    // version → recorded chain hash of the previous chained manifest
    var prev: Option[(Long, Option[String])] = None
    versions.foreach { v =>
      val text = StoreFs.readString(s"$targetDir/v$v/$ManifestFile")
      val marker = s"\n$ChainParentKey="
      val at = text.indexOf(marker)
      if (at < 0) {
        issues += ChainIssue(v, "unchained", "manifest predates the commit chain")
        prev = Some((v, None))
      } else {
        val body = text.substring(0, at + 1)
        val tail = text.substring(at + 1).split("\n")
        def line(k: String) = tail.collectFirst {
          case l if l.startsWith(s"$k=") => l.stripPrefix(s"$k=") }
        (line(ChainParentKey), line(ChainHashKey)) match {
          case (Some(par), Some(h)) =>
            // SHA-256 since r10; 32-hex-char hashes are legacy MD5
            val expect =
              if (h.length == 32) md5Hex(par + "\n" + body)
              else chainHex(par + "\n" + body)
            if (expect != h)
              issues += ChainIssue(v, "body-tampered",
                "manifest bytes do not match their recorded chain hash")
            prev match {
              case Some((pv, Some(ph))) if pv == v - 1 && par != ph =>
                issues += ChainIssue(v, "link-broken",
                  s"recorded parent $par != v$pv chain hash $ph")
              case Some((pv, None)) if pv == v - 1 && par != ChainUnchained =>
                issues += ChainIssue(v, "link-broken",
                  s"recorded parent $par but v$pv is unchained")
              case None if v == 0L && par != ChainGenesis =>
                issues += ChainIssue(v, "link-broken",
                  s"v0 parent must be '$ChainGenesis', found $par")
              case _ => ()
            }
            prev = Some((v, Some(h)))
          case _ =>
            issues += ChainIssue(v, "unchained",
              "manifest carries no complete chain record")
            prev = Some((v, None))
        }
      }
    }
    issues.result()
  }

  /** PK-hash bucket of a row — Spark's Murmur3 `hash`, so the layout
    * is stable across sessions and the delta's touched-bucket set is
    * computable from the keys alone.
    */
  private[graft] def bucketExpr(pkCols: Seq[String], numBuckets: Int): Column =
    pmod(hash(pkCols.map(col): _*), lit(numBuckets))

  /** Buckets the rows of `keys` hash to: one id per row, collected as
    * ints with no aggregation (see [[readKeys]] for why that is
    * bounded). Only for key sets the caller also broadcasts.
    */
  private[graft] def keyBuckets(keys: DataFrame, pkCols: Seq[String],
      numBuckets: Int): Set[Int] =
    keys.select(bucketExpr(pkCols, numBuckets)).as[Int](Encoders.scalaInt).collect().toSet

  /** The distinct values of the int column `bucket` over `df`, from one
    * `collect_set` aggregation (a task holds at most one entry per id).
    * Every bucket set but [[keyBuckets]]' and [[summarize]]'s comes from
    * here. The group key is a constant, not global, so over an empty
    * input AQE drops the final stage and the set costs one job.
    */
  private[graft] def bucketSet(df: DataFrame, bucket: Column): Set[Int] =
    df.groupBy(lit(true)).agg(collect_set(bucket)).collect().flatMap(_.getSeq[Int](1)).toSet

  /** A keyed batch's row count and PK-hash bucket set. */
  private[graft] final case class KeyedBatch(rows: Long, buckets: Set[Int])

  /** [[KeyedBatch]] of `batch`, refusing a batch that repeats a PK: two
    * rows for one key have no defined result (the ANSI MERGE rule), and
    * a keyed write would store both. One aggregation — rows per key,
    * then their sum, the most repeated key and the keys' buckets — so
    * the check costs no job beyond the count and the bucket set the
    * write needs anyway. Every caller that hands [[rewriteBuckets]] rows
    * it did not compact itself (SQL INSERT, COPY INTO, the identity
    * merge) sizes its batch here; `what` names the batch in the error.
    */
  private[graft] def keyedBatch(batch: DataFrame, pkCols: Seq[String], numBuckets: Int,
      what: String): KeyedBatch = {
    val perKey = batch.groupBy(pkCols.map(col): _*).agg(count(lit(1)).as("n"))
    perKey.groupBy(lit(true))
      .agg(sum(col("n")), max(col("n")), max_by(struct(pkCols.map(col): _*), col("n")),
        collect_set(bucketExpr(pkCols, numBuckets)))
      .collect().headOption.fold(KeyedBatch(0L, Set.empty)) { r =>
        require(r.getLong(2) <= 1L,
          s"$what has duplicate keys on (${pkCols.mkString(", ")}): " +
            s"${r.getStruct(3).toSeq.mkString(", ")} — compact it first (one row per key)")
        KeyedBatch(r.getLong(1), r.getSeq[Int](4).toSet)
      }
  }

  private def swapPointer(targetDir: String, version: Long, batchId: Long): Unit = {
    val tmp = s"$targetDir/.$VersionFile.tmp"
    StoreFs.writeString(tmp, s"$version $batchId")
    StoreFs.atomicReplace(tmp, s"$targetDir/$VersionFile")
    releaseClaim(targetDir, version)
  }

  /** Optimistic commit claim (A52) — ALWAYS-ON conflict detection for
    * every version-producing write. Two concurrent writers that both
    * compute `next = cur + 1` would otherwise write interleaved files
    * into the SAME `v<next>` directory and the pointer race would
    * commit the mixture — silent corruption, not the "benign race"
    * the opt-in writer lease (A46) merely advises against. The claim
    * is one `_commits/v<N>.claim` file taken with atomic
    * create-no-overwrite BEFORE any data is written: the loser throws
    * [[ConcurrentWriteException]] immediately (no wasted work, no
    * collision); the winner's claim is deleted at pointer swap. A
    * crashed writer's claim expires after [[commitClaimStaleMs]]
    * (default 30 min — generous enough for a large publish; raise it
    * before multi-hour rewrites, the same contract as the lease) and
    * is broken by the next claimant; claims at/below the pointer are
    * completed commits' leftovers and are swept opportunistically.
    */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  @volatile var commitClaimStaleMs: Long = 30L * 60 * 1000

  private val CommitsDir = "_commits"

  private def claimPath(targetDir: String, version: Long): String =
    s"$targetDir/$CommitsDir/v$version.claim"

  private def claimVersion(targetDir: String, version: Long): Unit = {
    val cur = currentVersion(targetDir).getOrElse(-1L)
    StoreFs.listFilePaths(s"$targetDir/$CommitsDir", ".claim").foreach { p =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      scala.util.Try(name.stripPrefix("v").stripSuffix(".claim").toLong).toOption
        .filter(_ <= cur).foreach(_ => StoreFs.deleteFile(p))
    }
    val claim = claimPath(targetDir, version)
    def tryClaim(retry: Boolean): Unit =
      if (!StoreFs.createExclusive(claim, System.currentTimeMillis().toString)) {
        val stale = StoreFs.mtimeMs(claim)
          .exists(_ < System.currentTimeMillis() - commitClaimStaleMs)
        if (stale && retry) {
          StoreFs.deleteFile(claim) // crashed writer: break and take over
          tryClaim(retry = false)
        } else throw new ConcurrentWriteException(
          s"version $version of $targetDir is being published by another writer" +
            s" ($claim${if (stale) ", stale — broken on next attempt" else ""})")
      }
    tryClaim(retry = true)
  }

  private def releaseClaim(targetDir: String, version: Long): Unit =
    StoreFs.deleteFile(claimPath(targetDir, version))

  /** What one commit changed relative to the manifest it derived from
    * (`from` in [[commit]]). An op body writes only its data into
    * `v<next>` (bucket files, DV rows, index sidecars) and returns
    * this; [[commit]] builds the manifest.
    *
    *  - `rewritten`: buckets whose files the op replaced or emptied.
    *    They lose their stats, bloom/NDV sidecars and deletion vector
    *    (the rewrite read them DV-applied, so the vector is folded).
    *    Buckets the op wrote into `v<next>` point there alone; every
    *    other bucket of `from` carries by reference.
    *  - `appended`: buckets whose rows the op wrote into `v<next>` as
    *    one more segment (merge-on-read): they keep their carried
    *    segments, gain `v<next>`, and lose their bloom/NDV sidecars,
    *    which do not cover the new rows.
    *  - `segments` / `dvs`: explicit segment and vector-file lists that
    *    override the above (a branch publish re-points a bucket at the
    *    upstream's own files plus the ones it copied into `v<next>`).
    *  - `stats`: fresh stats of the rewritten buckets, widened stats of
    *    the appended ones.
    *  - `deletedFrom`: buckets that lost rows to a deletion vector
    *    without a rewrite. Superset-safe indexes (stats, bloom) stay;
    *    NDV sketches, which would overcount, drop. A vector file the op
    *    wrote to `v<next>/_dv/<b>.parquet` joins bucket `b`'s carried
    *    vector files when `b` is here, and is its whole vector
    *    otherwise; every other kept bucket keeps its vector files.
    *  - `set` / `unset`: op-specific meta edits, applied last. An op
    *    that sets an index key owns what lies under it, and commit
    *    carries nothing there.
    *  - `dropCols`: columns whose stats, default and indexes go.
    */
  private final case class Edit(
      rewritten: Set[Int] = Set.empty,
      appended: Set[Int] = Set.empty,
      segments: Map[Int, Seq[String]] = Map.empty,
      dvs: Map[Int, Seq[String]] = Map.empty,
      stats: Map[Int, Map[String, (String, String)]] = Map.empty,
      deletedFrom: Set[Int] = Set.empty,
      set: Map[String, String] = Map.empty,
      unset: Set[String] = Set.empty,
      dropCols: Set[String] = Set.empty,
      numBuckets: Option[Int] = None,
      schemaJson: Option[String] = None)

  /** The one commit path: every version-producing write goes through
    * here, in this order.
    *
    *  1. Claim `base + 1` and re-check that the pointer still sits at
    *     `base` (A66). `base` is the version the op derived its state
    *     from. Without the re-check, a commit landing between that
    *     read and the claim would be overwritten by state derived from
    *     the stale base; the racer's claim is already released at its
    *     swap, so the claim alone never fires.
    *  2. Refuse a `v<next>` that already holds a manifest: it is a
    *     staged commit awaiting completion (A55) — overwriting it
    *     would break Txn's roll-forward — or a writer that died
    *     between manifest and swap. Delete a manifest-less leftover of
    *     a crashed writer, whose sidecars would otherwise read as this
    *     version's.
    *  3. Run `body`. If it throws, release the claim and delete
    *     `v<next>`, so one failed write never blocks the next.
    *  4. Build the manifest from `from` (resolved against `fromDir`,
    *     the store it lives in) with one carry rule. `coldefault.*`,
    *     `constraint.*`, `colvirt.*` and `prop.*` carry verbatim;
    *     defaults drop once no bucket carries by reference, since they
    *     only fill pre-declaration buckets. Stats, bloom and NDV
    *     sidecars are pruned to the carried buckets, but an index's
    *     meta key survives with zero sidecars: it declares the index,
    *     which readers treat as all-must-read and [[maintain]]'s rebuild
    *     trigger needs to see (r8 verdict #2). Segment lists and
    *     per-bucket deletion vectors carry by reference, like the
    *     buckets; a rewritten bucket's vector is dropped. The op's
    *     [[Edit]] applies on top.
    *  5. Write the chain-hashed manifest, then swap the pointer, or
    *     leave the commit staged with its claim held when `swapNow`
    *     is false (Txn).
    *
    * The commit itself runs no Spark job: it is driver metadata I/O.
    */
  private def commit(targetDir: String, base: Long, from: Option[Manifest], op: String,
      fromDir: Option[String] = None, swapNow: Boolean = true, batchId: Long = -1L)
      (body: Long => Edit): Long = {
    val next = base + 1
    val dir = s"$targetDir/v$next"
    claimVersion(targetDir, next)
    def refuse(why: String): Nothing = {
      releaseClaim(targetDir, next)
      throw new ConcurrentWriteException(s"cannot commit v$next of $targetDir: $why")
    }
    val cur = currentVersion(targetDir).getOrElse(-1L)
    if (cur != base)
      refuse(s"base v$base is no longer current (pointer is at v$cur): a concurrent " +
        "commit landed after this operation read its snapshot — re-derive and retry")
    if (StoreFs.exists(s"$dir/$ManifestFile"))
      refuse("it already holds a manifest — a staged commit awaiting Txn.recover, or a " +
        "writer that died before its pointer swap (fsck: orphan_inflight); complete or " +
        "remove it first")
    try {
      StoreFs.deleteRecursive(dir)
      val e = body(next)
      val src = from.getOrElse(Manifest(0, "", Map.empty))
      val srcDir = fromDir.getOrElse(targetDir)
      val kept = src.buckets.keySet -- e.rewritten
      val carriedRef = (ref: String) => {
        val abs = versionRoot(srcDir, ref)
        localRef(targetDir, abs).getOrElse(abs)
      }
      val carried = src.buckets.collect { case (b, segs) if kept(b) => b -> segs.map(carriedRef) }
      val written = listedBuckets(dir).map(_._1).toSet
      val grown = written intersect e.appended
      val buckets = carried ++ written.toSeq.map(b =>
        b -> ((if (grown(b)) carried.getOrElse(b, Nil) else Nil) :+ s"v$next")) ++ e.segments
      val carriedDvs = src.dvs.collect { case (b, refs) if kept(b) => b -> refs.map(carriedRef) }
      // a vector file written for a bucket that lost rows without a
      // rewrite joins the bucket's carried files; any other replaces them
      val dvs = carriedDvs ++ writtenDvs(dir).map(b =>
        b -> ((if (e.deletedFrom(b)) carriedDvs.getOrElse(b, Nil) else Nil) :+ s"v$next")) ++ e.dvs
      val stats = (src.stats.filter(kv => kept(kv._1) && !grown(kv._1)) ++ e.stats)
        .map { case (b, cs) => b -> (cs -- e.dropCols) }.filter(_._2.nonEmpty)
      val dropKeys = e.unset ++ e.dropCols.flatMap(c =>
        Seq(DefaultPrefix + statEnc(c), Bloom.prefix + c, Ndv.prefix + c))
      val declared = src.meta.filter { case (k, _) =>
        Seq(ConstraintPrefix, VirtualPrefix, PropPrefix).exists(k.startsWith) ||
          (k.startsWith(DefaultPrefix) && kept.nonEmpty)
      }
      val indexes = for {
        idx <- Seq(Bloom, Ndv)
        (key, ref) <- src.meta.toSeq.sorted
        if key.startsWith(idx.prefix) && !e.set.contains(key) && !dropKeys(key)
      } yield {
        val keep = if (idx == Ndv) kept -- grown -- e.deletedFrom else kept -- grown
        idx.carry(srcDir, ref, key.stripPrefix(idx.prefix), keep, targetDir, next)
        key -> s"v$next"
      }
      writeManifest(targetDir, next, Manifest(e.numBuckets.getOrElse(src.numBuckets),
        e.schemaJson.getOrElse(src.schemaJson), buckets, stats,
        (declared ++ indexes) -- dropKeys ++ e.set +
          ("op" -> op) + ("commit_us" -> (System.currentTimeMillis() * 1000L).toString),
        dvs = dvs))
    } catch {
      case t: Throwable =>
        releaseClaim(targetDir, next)
        StoreFs.deleteRecursive(dir)
        throw t
    }
    if (swapNow) swapPointer(targetDir, next, batchId)
    next
  }

  /** Per-bucket min/max of the declared stats columns of the files
    * just written under `dir`. Integral (byte/short/int/long) and
    * string columns come from the files' parquet footers, read on the
    * driver with no Spark job ([[footerStats]]). Every other column,
    * and one whose footers lack usable statistics, is aggregated from
    * the written files by one scan (none when nothing is left over).
    * Supported column types: numeric and string; anything else (and
    * all-NULL buckets) yields no entry = unknown = never pruned.
    * Values serialize canonically (BigDecimal for numerics) so the
    * driver-side prune decision is exact.
    */
  private def bucketStats(spark: SparkSession, dir: String,
      statsCols: Seq[String]): Map[Int, Map[String, (String, String)]] = {
    val buckets = listedBuckets(dir)
    if (statsCols.isEmpty || buckets.isEmpty) Map.empty
    else {
      val footers = buckets.map { case (b, d) => b -> StoreFs.footers(d) }
      val fromFooters = statsCols.flatMap(c => footerStats(footers, c).map(c -> _)).toMap
      val aggregated = aggregatedStats(spark, dir, statsCols.filterNot(fromFooters.contains))
      buckets.map { case (b, _) =>
        b -> (fromFooters.flatMap { case (c, byBucket) => byBucket.get(b).map(c -> _) } ++
          aggregated.getOrElse(b, Map.empty))
      }.toMap.filter(_._2.nonEmpty)
    }
  }

  /** One column's per-bucket (min, max) from parquet footers, or None
    * when the aggregation must compute it: the column is not an
    * integral or string column of one physical type in every file, or
    * a column chunk with non-null values carries no min/max (parquet
    * drops binary statistics over 4 KB). Per bucket, the min of the
    * chunk minimums and the max of the chunk maximums, with strings
    * compared in UTF-8 binary order, the order of Spark's min/max. A
    * chunk whose null count equals its row count adds nothing, so an
    * all-NULL bucket has no entry. Values are boxed as the Spark type
    * the column reads as before [[statStr]], so the strings equal the
    * aggregation's.
    */
  private def footerStats(
      footers: Seq[(Int, Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata])],
      column: String): Option[Map[Int, (String, String)]] = {
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation,
      StringLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
    val types = footers.flatMap(_._2).map { f =>
      val schema = f.getFileMetaData.getSchema
      Option.when(schema.containsField(column))(schema.getType(schema.getFieldIndex(column)))
        .filter(_.isPrimitive).map { t =>
          (t.asPrimitiveType.getPrimitiveTypeName, Option(t.getLogicalTypeAnnotation))
        }
    }.distinct
    // bit width of the Spark integral type the column reads as; 0 = string
    val width: Option[Int] = types match {
      case Seq(Some((INT32, None))) => Some(32)
      case Seq(Some((INT64, None))) => Some(64)
      case Seq(Some((INT32 | INT64, Some(a: IntLogicalTypeAnnotation)))) if a.isSigned =>
        Some(a.getBitWidth)
      case Seq(Some((BINARY, Some(_: StringLogicalTypeAnnotation)))) => Some(0)
      case _ => None
    }
    def key(v: Any): Comparable[Any] = (v match {
      case b: Binary => org.apache.spark.unsafe.types.UTF8String.fromBytes(b.getBytes)
      case n: Number => java.lang.Long.valueOf(n.longValue)
    }).asInstanceOf[Comparable[Any]]
    def boxed(v: Any): Any = v match {
      case b: Binary => b.toStringUsingUTF8
      case n: Number => width match {
        case Some(8) => n.byteValue
        case Some(16) => n.shortValue
        case Some(32) => n.intValue
        case _ => n.longValue
      }
    }
    width.flatMap { _ =>
      val perBucket = footers.map { case (b, fs) =>
        val chunks = for {
          f <- fs
          block <- f.getBlocks.asScala
          chunk <- block.getColumns.asScala if chunk.getPath.toDotString == column
          s = chunk.getStatistics
          if s == null || !s.isNumNullsSet || s.getNumNulls != block.getRowCount
        } yield Option.when(s != null && s.hasNonNullValue)(
          (s.genericGetMin: Any, s.genericGetMax: Any))
        Option.when(!chunks.contains(None))(b -> chunks.flatten.reduceOption { (x, y) =>
          (if (key(y._1).compareTo(key(x._1)) < 0) y._1 else x._1,
            if (key(y._2).compareTo(key(x._2)) > 0) y._2 else x._2)
        })
      }
      Option.when(!perBucket.contains(None))(perBucket.flatten.collect {
        case (b, Some((lo, hi))) => b -> ((statStr(boxed(lo)), statStr(boxed(hi))))
      }.toMap)
    }
  }

  /** Per-bucket min/max of `statsCols` aggregated from the files under
    * `dir` — reading the delta-sized output back (one scan+agg, none
    * at all when `statsCols` is empty) instead of re-evaluating the
    * write's lineage. Columns of other than numeric or string type get
    * no entry.
    */
  private[cdc] def aggregatedStats(spark: SparkSession, dir: String,
      statsCols: Seq[String]): Map[Int, Map[String, (String, String)]] =
    if (statsCols.isEmpty) Map.empty
    else {
      val df = spark.read.parquet(dir) // BucketCol comes back as the partition col
      val cols = statsCols.filter(df.columns.contains).filter { c =>
        df.schema(c).dataType match {
          case _: NumericType | StringType => true
          case _ => false
        }
      }
      if (cols.isEmpty) Map.empty
      else {
        val aggs = cols.flatMap(c =>
          Seq(min(col(c)).as(s"_lo_$c"), max(col(c)).as(s"_hi_$c")))
        df.groupBy(col(BucketCol)).agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            val b = r.getInt(0)
            b -> cols.flatMap { c =>
              (Option(r.getAs[Any](s"_lo_$c")), Option(r.getAs[Any](s"_hi_$c"))) match {
                case (Some(lo), Some(hi)) => Some(c -> ((statStr(lo), statStr(hi))))
                case _ => None // all-NULL bucket: unknown, never pruned
              }
            }.toMap
          }.toMap.filter(_._2.nonEmpty)
      }
    }

  /** Canonical serialized form of a stat value: numerics through
    * BigDecimal (exact, parseable back for comparison), strings as-is.
    */
  private def statStr(v: Any): String = v match {
    case s: String => s
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.underlying.toPlainString
    case n => n.toString
  }

  /** Does a bucket's [lo, hi] stat range overlap the query range?
    * Missing or unparseable pieces are conservative (overlap = true)
    * — a NaN/Infinity extreme in a float column must widen the scan,
    * never crash or mis-prune it.
    */
  private def statOverlaps(dt: DataType, stat: (String, String),
      qLo: Option[Any], qHi: Option[Any]): Boolean = {
    def cmp(a: String, b: Any): Option[Int] = dt match {
      // Spark's min/max order strings by UTF-8 binary (code-point)
      // order; Java String.compareTo is UTF-16 code-unit order, and
      // the two disagree for supplementary-plane characters (an emoji
      // sorts BELOW U+E000..U+FFFF in UTF-16). Compare the same way
      // the stats were computed or pruning can lie.
      case StringType =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.toString)))
      case _ => scala.util.Try(new java.math.BigDecimal(a)
        .compareTo(new java.math.BigDecimal(statStr(b)))).toOption
    }
    val aboveLo = qLo.forall(lo => cmp(stat._2, lo).forall(_ >= 0)) // bucketMax >= qLo
    val belowHi = qHi.forall(hi => cmp(stat._1, hi).forall(_ <= 0)) // bucketMin <= qHi
    aboveLo && belowHi
  }

  /** Write `df` into `dir` as one directory per PK-hash bucket
    * (repartitioned on the bucket id so each bucket's rows co-locate
    * into a task before the partitioned write).
    */
  // `oneTask` writes every bucket from one task with no exchange: only
  // for rows known to be delta-sized (a merge-on-read segment of a
  // change set the driver already holds positions for). A size-gated
  // coalesce(1) for whole-bucket rewrites was tried in r15 and reverted
  // (marginal win; the N-concurrent-writers spec then lost an update
  // 1 run in 3, before one commit path closed that race).
  private[graft] def writeBuckets(df: DataFrame, pkCols: Seq[String], numBuckets: Int,
      dir: String, oneTask: Boolean = false): Unit = {
    val keyed = df.withColumn(BucketCol, bucketExpr(pkCols, numBuckets))
    (if (oneTask) keyed.coalesce(1) else keyed.repartition(col(BucketCol)))
      .write.partitionBy(BucketCol).mode(SaveMode.Overwrite).parquet(dir)
  }

  // ── Store layout: the one way from a store to its files ─────────
  // A manifest names each bucket's files by a version ref: "v3" is a
  // version dir of the store itself, an absolute path (a bucket a
  // shallow clone carries) is a version dir of another store. Refs,
  // bucket dirs and bucket-dir names resolve only here (StoreLayoutSpec
  // keeps every other file to that), so changing what a bucket entry
  // names is a change to these functions and the manifest codec.

  /** The version dir that `ref`, read from a manifest of the store at
    * `storeDir`, names.
    */
  private[graft] def versionRoot(storeDir: String, ref: String): String =
    if (ref.contains("/")) ref else s"$storeDir/$ref"

  /** The inverse of [[versionRoot]]: the local ref ("v3") that names
    * the version dir `root`, when it is one of `storeDir`'s own.
    */
  private def localRef(storeDir: String, root: String): Option[String] =
    Some(root.stripPrefix(s"$storeDir/")).filter(r => r != root && r.matches("v\\d+"))

  /** Bucket `b`'s directory under the version dir `root`. */
  private[graft] def bucketDir(root: String, b: Int): String = s"$root/$BucketCol=$b"

  /** A path glob over every bucket directory under `root`. */
  private[graft] def bucketGlob(root: String): String = s"$root/$BucketCol=*"

  /** The bucket directories under `root` that exist, as (bucket id,
    * dir) in id order. A bucket with no surviving rows writes no
    * directory, so a written version lists only its non-empty buckets.
    */
  private[graft] def listedBuckets(root: String): Seq[(Int, String)] =
    StoreFs.listDirNames(root).filter(_.startsWith(s"$BucketCol="))
      .map(n => n.stripPrefix(s"$BucketCol=").toInt -> s"$root/$n").sortBy(_._1)

  /** Bucket id of a row read with [[DvFileCol]] (its file's last two
    * path segments, `<bucket dir>/<file>`).
    */
  private def fileBucket: Column =
    substring_index(substring_index(col(DvFileCol), "/", 1), "=", -1).cast("int")

  /** Versions that have a directory in the store at `storeDir`, with
    * or without a manifest, ascending.
    */
  private def versionDirs(storeDir: String): Seq[Long] =
    StoreFs.listDirNames(storeDir).filter(_.matches("v\\d+")).map(_.stripPrefix("v").toLong).sorted

  /** Every segment of every bucket of `m`, a manifest of the store at
    * `storeDir`, as (bucket id, ref, bucket dir), in id order and each
    * bucket's segments oldest first.
    */
  private def manifestBuckets(storeDir: String, m: Manifest): Seq[(Int, String, String)] =
    m.buckets.toSeq.sortBy(_._1).flatMap { case (b, segs) =>
      segs.map(ref => (b, ref, bucketDir(versionRoot(storeDir, ref), b)))
    }

  /** The segment directories of bucket `b` of `m`, oldest first (none
    * for an empty bucket).
    */
  private[graft] def segmentDirs(storeDir: String, m: Manifest, b: Int): Seq[String] =
    m.buckets.getOrElse(b, Nil).map(ref => bucketDir(versionRoot(storeDir, ref), b))

  /** Every version ref `m` names: each bucket's segments and each
    * bucket's deletion vector — what keeps a version dir live.
    */
  private def manifestRefs(m: Manifest): Set[String] =
    m.buckets.values.flatten.toSet ++ m.dvs.values.flatten

  /** The buckets of `m` that hold a segment written by the version
    * `ref` names (for a version's own ref: the buckets it wrote).
    */
  private[graft] def bucketsWrittenAt(m: Manifest, ref: String): Set[Int] =
    m.buckets.collect { case (b, segs) if segs.contains(ref) => b }.toSet

  /** Bucket `b`'s deletion-vector file in the version dir `ref` names. */
  private def dvFile(storeDir: String, ref: String, b: Int): String =
    s"${versionRoot(storeDir, ref)}/$DvDir/$b.parquet"

  /** Every deletion vector of `m`, a manifest of the store at
    * `storeDir`, as (bucket id, ref, file) in id order.
    */
  private def dvFiles(storeDir: String, m: Manifest): Seq[(Int, String, String)] =
    m.dvs.toSeq.sortBy(_._1).flatMap { case (b, refs) =>
      refs.map(ref => (b, ref, dvFile(storeDir, ref, b)))
    }

  /** The buckets whose deletion vector a write left under the version
    * dir `root`.
    */
  private def writtenDvs(root: String): Seq[Int] =
    StoreFs.listFilePaths(s"$root/$DvDir", ".parquet")
      .map(p => p.substring(p.lastIndexOf('/') + 1).stripSuffix(".parquet"))
      .filter(_.matches("\\d+")).map(_.toInt).sorted

  /** Deleted row positions of `buckets` in `m`: data-file key → sorted
    * row indexes, read on the driver from each bucket's vector (no
    * Spark job). Empty when none of them has a vector.
    */
  private def dvPositions(storeDir: String, m: Manifest,
      buckets: Set[Int]): Map[String, Array[Long]] =
    buckets.toSeq.sorted.flatMap(b => m.dvs.getOrElse(b, Nil).flatMap(ref =>
      StoreFs.readPositions(dvFile(storeDir, ref, b))))
      .groupMap(_._1)(_._2).map { case (f, ps) => f -> ps.toArray.sorted }

  /** Write bucket `b`'s vector (`positions`: file key → row indexes)
    * into the version dir `root`, on the driver.
    */
  private def writeDv(root: String, b: Int, positions: Map[String, Array[Long]]): Unit =
    StoreFs.writePositions(s"$root/$DvDir/$b.parquet",
      positions.toSeq.sortBy(_._1).flatMap { case (f, ps) => ps.sorted.map(f -> _) })

  /** `a` ∪ `b` as position maps. */
  private def unionPositions(a: Map[String, Array[Long]],
      b: Map[String, Array[Long]]): Map[String, Array[Long]] =
    (a.keySet ++ b.keySet).map(f =>
      f -> (a.getOrElse(f, Array.empty[Long]) ++ b.getOrElse(f, Array.empty[Long])).distinct.sorted
    ).toMap

  /** Read the named buckets through the manifest (all buckets =
    * the full snapshot). The explicit schema keeps carried-over
    * pre-evolution files consistent (missing columns → NULL) and
    * skips footer merging. Every segment of each bucket is scanned,
    * and the buckets' deletion vectors are applied inside the scan:
    * the driver reads them (no Spark job) into a per-file position
    * filter ([[LivePosition]]) that ships with the tasks, so every
    * reader path sees merge-on-read deletes without knowing they
    * exist, and a read of a store with vectors starts the same jobs as
    * a read of one without.
    */
  private[graft] def readBuckets(spark: SparkSession, targetDir: String, m: Manifest,
      buckets: Set[Int]): DataFrame =
    cachedScan(spark, targetDir, m, buckets, positions = false)

  /** [[readBuckets]] plus the file-position identity of every row
    * ([[DvFileCol]], [[DvPosCol]] — data-file key + row index).
    */
  private[graft] def readBucketsWithPos(spark: SparkSession, targetDir: String,
      m: Manifest, buckets: Set[Int]): DataFrame =
    cachedScan(spark, targetDir, m, buckets, positions = true)

  private def cachedScan(spark: SparkSession, targetDir: String, m: Manifest,
      buckets: Set[Int], positions: Boolean): DataFrame = {
    def scan = scanSegments(spark, targetDir, m, buckets, dvPositions(targetDir, m, buckets),
      positions)
    if (m.chain.isEmpty) scan
    else {
      val key = (spark, targetDir, m.chain, buckets, positions)
      scans.synchronized(Option(scans.get(key))).getOrElse {
        val df = scan
        scans.synchronized(scans.put(key, df))
        df
      }
    }
  }

  /** Resolved scans of committed versions, by (session, store, the
    * manifest's chain hash, buckets, with positions): a committed
    * version's segments and vectors never change, so a repeated read
    * of one (the serving path's common case) skips the file listing
    * and the vector reads. Bounded; the least recently used scan goes
    * first.
    */
  private val scans = new java.util.LinkedHashMap[ScanKey, DataFrame](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[ScanKey, DataFrame]): Boolean =
      size > 256
  }
  private type ScanKey = (SparkSession, String, String, Set[Int], Boolean)

  /** Every segment of `buckets` in `m`, with the rows at `deleted`
    * positions (file key → sorted row indexes) filtered out, and with
    * [[DvFileCol]] and [[DvPosCol]] when `positions`. A scan asks for
    * `_metadata` only when it filters or returns positions: once a
    * DataFrame names `_metadata`, Spark materializes every field of
    * it for every row, even when nothing downstream reads them.
    */
  private def scanSegments(spark: SparkSession, targetDir: String, m: Manifest,
      buckets: Set[Int], deleted: Map[String, Array[Long]], positions: Boolean): DataFrame = {
    val chosen = buckets.toSeq.sorted.flatMap(b => m.buckets.getOrElse(b, Nil).map(b -> _))
    if (chosen.isEmpty) {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
      if (!positions) empty
      else empty.withColumn(DvFileCol, lit(null).cast(StringType))
        .withColumn(DvPosCol, lit(null).cast(LongType))
    } else {
      // initial-default fill (A57): group the chosen segments by WHICH
      // declared defaults apply to them (ref version < declaration
      // version ⇒ the file predates the column and its NULL means
      // "absent", not "explicitly null") — one scan per group,
      // usually 1–2 groups, unioned. An unparseable ref version
      // counts as post-declaration: degrade to NULL, never overwrite
      // a genuinely-written null.
      val defaults = columnDefaults(m)
      def applicable(ver: String): Seq[(String, String)] =
        if (defaults.isEmpty) Nil
        else refVersion(ver).toSeq.flatMap(rv =>
          defaults.collect { case (c, declV, d) if rv < declV => (c, d) })
      val types = m.schema.fields.map(f => f.name -> f.dataType).toMap
      chosen.groupBy { case (_, ver) => applicable(ver) }.toSeq
        .sortBy(_._1.mkString(","))
        .map { case (fills, grp) =>
          val files = spark.read.schema(m.schema)
            .parquet(grp.map { case (b, ver) => bucketDir(versionRoot(targetDir, ver), b) }: _*)
          val live = if (deleted.isEmpty) files
            else files.filter(LivePosition(col("_metadata.file_path"), col("_metadata.row_index"),
              deleted))
          val scan = if (!positions) live
            else live.select(col("*"),
              substring_index(col("_metadata.file_path"), "/", -2).as(DvFileCol),
              col("_metadata.row_index").as(DvPosCol))
          fills.foldLeft(scan) { case (df, (c, d)) =>
            df.withColumn(c, coalesce(col(c), lit(d).cast(types(c))))
          }
        }.reduce(_ unionByName _)
    }
  }

  /** Declared initial defaults: (column, declaration version, default
    * literal as text). Meta shape: `coldefault.<col>` → "<declV> <value>".
    */
  private def columnDefaults(m: Manifest): Seq[(String, Long, String)] =
    m.meta.collect {
      case (k, v) if k.startsWith(DefaultPrefix) =>
        val Array(declV, d) = v.split(" ", 2)
        (statDec(k.stripPrefix(DefaultPrefix)), declV.toLong, statDec(d))
    }.toSeq.sortBy(_._1)

  private val DefaultPrefix = "coldefault."

  private def refVersion(ver: String): Option[Long] = {
    val tail = ver.substring(ver.lastIndexOf('/') + 1)
    if (tail.matches("v\\d+")) Some(tail.stripPrefix("v").toLong) else None
  }

  def readSnapshot(spark: SparkSession, targetDir: String): Option[DataFrame] =
    currentManifest(targetDir).map(m =>
      applyVirtual(readBuckets(spark, targetDir, m, m.buckets.keySet), m))

  /** Append `m`'s virtual generated columns (A72) — one codegen'd
    * projection; identity when none declared. Applied by the PUBLIC
    * reader surface only: internal rewrite paths (merge subsets,
    * rebucket, optimize) read PHYSICAL rows so a computed column is
    * never accidentally materialized into files.
    */
  private def applyVirtual(df: DataFrame, m: Manifest): DataFrame =
    virtualCols(m).foldLeft(df) {
      case (d, (n, t, e)) => d.withColumn(n, expr(e).cast(t))
    }

  /** Point/key lookup against the current snapshot: reads ONLY the
    * buckets the requested keys hash to — I/O ∝ |key set| buckets
    * (one bucket per key in the worst case), never the target. The
    * PK-hash layout makes this exact: a key's row can live nowhere
    * but its hash bucket, the same routing the merge itself uses.
    * `keys` is a (small) DataFrame holding the PK columns; it
    * broadcasts into a semi join over the pruned scan. This is the
    * serving-path read the reference gets from its MySQL target's
    * PRIMARY KEY — re-expressed as bucket pruning on immutable files.
    *
    * The touched set is collected as one bucket id per key, with no
    * `distinct`: the same key set is broadcast into the semi join, so
    * the driver holds every key anyway, and one int per key is less
    * than that. Skipping the aggregation skips its shuffle: a
    * driver-local key list (`Seq(...).toDF`) folds into a local
    * relation and starts no Spark job before the scan, and a
    * distributed key set costs one map-only job.
    */
  def readKeys(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      keys: DataFrame): Option[DataFrame] =
    currentManifest(targetDir).map { m =>
      // cast the caller's keys to the STORED PK types before
      // hashing: Murmur3 of an INT differs from the same value as
      // BIGINT, so an uncast mismatch would scan the wrong buckets
      // and silently return nothing (ADVICE r5) — while the semi
      // join alone would have coerced and still matched.
      val storedType = m.schema.fields.map(f => f.name -> f.dataType).toMap
      val typedKeys = keys.select(pkCols.map(c => storedType.get(c)
        .map(t => col(c).cast(t).as(c)).getOrElse(col(c))): _*)
      val touched = keyBuckets(typedKeys, pkCols, m.numBuckets)
      applyVirtual(readBuckets(spark, targetDir, m, touched)
        .join(broadcast(typedKeys), pkCols, "left_semi"), m)
    }

  /** [[readKeys]] with the key set itself STORE-backed — the lookup
    * side's size is then known from parquet footers before any job
    * runs, and the plan is chosen by admission instead of hope
    * (r9 verdict #3): a small key store takes the classic path
    * (bucket-pruned scan + broadcast semi join, I/O ∝ |keys|
    * buckets); a key store over `maxBytes` skips BOTH the broadcast
    * (driver OOM at 10M+ keys) and the driver-side touched-bucket
    * collect (a saturating bucket set is all cost, no pruning) and
    * semi-joins the full snapshot shuffled-hash on the pk — the
    * plan that is actually right when the "lookup" is a quarter of
    * the table. None when either store is absent.
    */
  def readKeysFromStore(spark: SparkSession, targetDir: String,
      pkCols: Seq[String], keysDir: String,
      maxBytes: Long = BroadcastAdmissionBytes): Option[DataFrame] =
    for {
      (_, kBytes) <- footerTotals(keysDir)
      keys <- readSnapshot(spark, keysDir)
      result <-
        if (kBytes <= maxBytes) readKeys(spark, targetDir, pkCols, keys)
        else readSnapshot(spark, targetDir).map(
          _.hint("shuffle_hash")
            .join(keys.select(pkCols.map(col): _*).hint("shuffle_hash"),
              pkCols, "left_semi"))
    } yield result

  /** Range read over a NON-key column through the manifest's
    * data-skipping stats (the lakehouse file-stats pattern — Delta
    * `stats`, Iceberg manifest bounds — re-expressed on the bucketed
    * store): reads ONLY buckets whose recorded [min, max] for
    * `column` overlaps [lo, hi], then applies the residual filter.
    * Buckets with no stat entry for the column (pre-stats versions,
    * all-NULL buckets, columns declared later) are always read —
    * pruning degrades to a full scan, it never drops a matching row.
    * Either bound may be None (half-open range). At 100 TB this is
    * the difference between scanning every bucket for a
    * `WHERE event_date BETWEEN …` and touching only the slices whose
    * files can contain it.
    */
  def readRange(spark: SparkSession, targetDir: String, column: String,
      lo: Option[Any], hi: Option[Any]): Option[DataFrame] =
    currentManifest(targetDir).map { m =>
      val dt = m.schema.fields.find(_.name == column).map(_.dataType)
      val keep = m.buckets.keySet.filter { b =>
        m.stats.get(b).flatMap(_.get(column)) match {
          case Some(st) if dt.isDefined => statOverlaps(dt.get, st, lo, hi)
          case _ => true // unknown stats: must read
        }
      }
      val df = applyVirtual(readBuckets(spark, targetDir, m, keep), m)
      Seq(lo.map(col(column) >= lit(_)), hi.map(col(column) <= lit(_)))
        .flatten.reduceOption(_ && _).fold(df)(df.filter)
    }

  // ── Secondary bloom-filter point-lookup index (A54) ──────────────
  //
  // readKeys prunes to hash buckets, but ONLY for the PK — a point
  // lookup on any other column ("find this trace id / url / email")
  // must scan every bucket, and min/max stats (A36) can't prune
  // point probes on high-cardinality columns whose per-bucket ranges
  // all overlap. The bloom index is the standard lakehouse answer
  // (Delta BLOOMFILTER INDEX, parquet bloom pages): one small filter
  // per (bucket, column), built in ONE distributed pass
  // (`BloomBuildAgg`: partial filters fill map-side, merge is
  // bitwise OR, only |buckets| serialized filters move), stored as
  // `v<N>/_bloom/<col>/<bucket>.bf` sidecars and advertised in the
  // manifest meta (`bloom.<col>` → version ref). `readPoint` probes
  // the filters DRIVER-side (metadata I/O) and reads only buckets
  // that might contain a requested value, with the exact filter as
  // residual — false positives cost I/O, never correctness, and a
  // missing entry degrades to reading that bucket. Maintenance
  // follows the stats-index discipline: delta publishes carry
  // entries for carried buckets and DROP rewritten buckets' entries
  // (must-read until reindexed); merge-on-read deletes keep all
  // entries (a bloom over a superset is just extra FPs — safe).

  /** One per-bucket index family: sidecars at
    * `<version>/<dir>/<enc col>/<bucket>.<ext>`, advertised by the meta
    * key `<prefix><col>` → version ref ("v7" or an absolute version
    * dir). [[commit]] carries every family's sidecars for carried
    * buckets only — a rewritten bucket's entry would lie.
    */
  private final class SidecarIndex(val prefix: String, dir: String, ext: String) {
    def file(root: String, ref: String, column: String, b: Int): String =
      s"${versionRoot(root, ref)}/$dir/${statEnc(column)}/$b.$ext"
    /** Copy `column`'s sidecars of `buckets` from version `ref` of
      * `fromRoot` into `v<next>` of `toRoot`, by driver I/O; missing
      * entries stay missing.
      */
    def carry(fromRoot: String, ref: String, column: String, buckets: Set[Int],
        toRoot: String, next: Long): Unit =
      buckets.toSeq.sorted.foreach { b =>
        val src = file(fromRoot, ref, column, b)
        if (StoreFs.exists(src))
          StoreFs.writeBytes(file(toRoot, s"v$next", column, b), StoreFs.readBytes(src))
      }
  }

  private val Bloom = new SidecarIndex("bloom.", "_bloom", "bf")
  private val Ndv = new SidecarIndex("ndv.", "_ndv", "hll")

  /** Build (or rebuild) the bloom index for `column` and publish it
    * as a metadata version. One Spark pass over `buckets` (default:
    * every bucket — the full build); the bucket id comes from the
    * scanned file's partition dir, so no PK columns are needed, and
    * the scan is DV-applied — deleted rows never enter the filters.
    * Buckets OUTSIDE the scanned set keep their existing sidecars by
    * carry — that is the incremental REPAIR path (r9): after a merge
    * drops a handful of rewritten buckets' entries, re-indexing costs
    * I/O ∝ the degraded buckets, not the table (the same ∝-delta
    * discipline as every other maintenance op; a full-snapshot rescan
    * to heal 3 of 64 buckets would never fly at 100 TB).
    * `expectedPerBucket` sizes the filters (Spark's BloomFilter
    * formula; size from DESCRIBE HISTORY rows / numBuckets in
    * production). String and integral columns only.
    */
  def buildBloomIndex(spark: SparkSession, targetDir: String, column: String,
      expectedPerBucket: Long = 100000L, fpp: Double = 0.01,
      buckets: Option[Set[Int]] = None): Option[Long] =
    currentManifest(targetDir).map { m =>
      val dt = m.schema.fields.find(_.name == column).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(s"no such column: $column"))
      val probe = dt match {
        case StringType | LongType => col(column)
        case _: NumericType => col(column).cast(LongType)
        case other => throw new IllegalArgumentException(
          s"bloom index needs a string or integral column, got $other")
      }
      val scanSet = buckets.map(_.intersect(m.buckets.keySet))
        .getOrElse(m.buckets.keySet)
      val snap = readBucketsWithPos(spark, targetDir, m, scanSet)
      val entries =
        if (scanSet.isEmpty) Array.empty[Row]
        else snap
          .select(fileBucket.as("b"), probe.as("v"))
          .groupBy("b")
          .agg(graft.functions.BloomBuildAgg(col("v"), expectedPerBucket, fpp).as("bf"))
          .collect()
      val key = Bloom.prefix + column
      commit(targetDir, m.readVersion, Some(m), "bloom-index") { next =>
        // THIS column's index is owned here (other columns' carry
        // through commit): a full build replaces it, an incremental
        // repair carries the UNscanned buckets' surviving sidecars and
        // the fresh builds land on top — a rebuilt bucket never keeps
        // a stale filter
        if (buckets.nonEmpty) m.meta.get(key).foreach(ref =>
          Bloom.carry(targetDir, ref, column, m.buckets.keySet -- scanSet, targetDir, next))
        entries.foreach(r => StoreFs.writeBytes(
          Bloom.file(targetDir, s"v$next", column, r.getInt(0)), r.getAs[Array[Byte]](1)))
        Edit(set = Map("bloom_col" -> column, key -> s"v$next"))
      }
    }

  /** Point lookup on a NON-key column through the bloom index: reads
    * only buckets whose filter might contain one of `values` (plus
    * any bucket with a missing entry — degrade, never lie), then the
    * exact `IN` filter removes bloom false positives. Without an
    * index for the column this is an honest full scan + filter.
    */
  def readPoint(spark: SparkSession, targetDir: String, column: String,
      values: Seq[Any]): Option[DataFrame] = {
    require(values.nonEmpty, "readPoint needs at least one probe value")
    currentManifest(targetDir).map { m =>
      // coerce probes to the STORED type — a string "42" probing a
      // bigint column must hash and compare as the long, not the text
      // (the SQL TVF hands everything over as strings)
      val dt = m.schema.fields.find(_.name == column).map(_.dataType)
      val typed = values.map(v => (dt, v) match {
        case (Some(LongType), s: String) => s.trim.toLong
        case (Some(IntegerType), s: String) => s.trim.toInt
        case (Some(StringType), x) => x.toString
        case _ => v
      })
      val residual: DataFrame => DataFrame = _.filter(col(column).isin(typed: _*))
      val keep = m.meta.get(Bloom.prefix + column) match {
        case Some(ref) =>
          m.buckets.keySet.filter { b =>
            val p = Bloom.file(targetDir, ref, column, b)
            if (!StoreFs.exists(p)) true // missing entry: must read
            else {
              val f = org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(StoreFs.readBytes(p)))
              typed.exists {
                case s: String =>
                  f.mightContainBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                case l: Long => f.mightContainLong(l)
                case i: Int => f.mightContainLong(i.toLong)
                case _ => true // unprobeable type: must read
              }
            }
          }
        case None => m.buckets.keySet
      }
      residual(applyVirtual(readBuckets(spark, targetDir, m, keep), m))
    }
  }

  /** Build (or incrementally repair) per-bucket NDV sketches for
    * `columns` and publish them as a metadata version (A83 — the
    * ANALYZE/compute-statistics surface: the column cardinalities a
    * cost-based planner, a join-strategy heuristic, or a capacity
    * dashboard needs, kept FRESH at delta cost instead of recomputed
    * by a nightly full scan). One Spark pass over `buckets` (default
    * all) computes a DataSketches HLL per (column, bucket) via
    * `hll_sketch_agg` — partials fill map-side, shuffle ∝ buckets ×
    * sketch bytes, never rows; the scan is DV-applied so deleted
    * rows never count. Sketches land as `v<N>/_ndv/<col>/<b>.hll`
    * sidecars; per-bucket granularity is what makes the index
    * maintainable: delta publishes DROP rewritten buckets' entries
    * and carry the rest (degrade-never-lie), so repairing after a
    * merge re-sketches ONLY the degraded buckets (`buckets =
    * Some(missing)` — the A70 incremental-heal shape), and the
    * table-level estimate is the UNION of bucket sketches (HLL union
    * is exact over its own merges — no double counting across
    * buckets).
    */
  def buildNdvIndex(spark: SparkSession, targetDir: String, columns: Seq[String],
      buckets: Option[Set[Int]] = None): Option[Long] = {
    require(columns.nonEmpty, "buildNdvIndex needs at least one column")
    currentManifest(targetDir).map { m =>
      columns.foreach(c => require(m.schema.fieldNames.contains(c),
        s"no such column: $c"))
      val scanSet = buckets.map(_.intersect(m.buckets.keySet))
        .getOrElse(m.buckets.keySet)
      val snap = readBucketsWithPos(spark, targetDir, m, scanSet)
      val entries =
        if (scanSet.isEmpty) Array.empty[Row]
        else snap
          .groupBy(fileBucket.as("b"))
          .agg(hll_sketch_agg(col(columns.head)).as(columns.head),
            columns.tail.map(c => hll_sketch_agg(col(c)).as(c)): _*)
          .collect()
      commit(targetDir, m.readVersion, Some(m), "ndv-index") { next =>
        // the rebuilt columns' indexes are owned here (other columns'
        // carry through commit): they keep their sketches only OUTSIDE
        // the scanned set (incremental repair), and the fresh sketches
        // land on top
        if (buckets.nonEmpty) columns.foreach(c => m.meta.get(Ndv.prefix + c).foreach(ref =>
          Ndv.carry(targetDir, ref, c, m.buckets.keySet -- scanSet, targetDir, next)))
        entries.foreach { r =>
          columns.zipWithIndex.foreach { case (c, i) =>
            Option(r.get(i + 1)).foreach(sk => StoreFs.writeBytes(
              Ndv.file(targetDir, s"v$next", c, r.getInt(0)), sk.asInstanceOf[Array[Byte]]))
          }
        }
        // Zero-cardinality sentinel (r9 ADVICE): a SCANNED bucket can
        // legitimately produce no sketch — fully DV-deleted (no rows
        // survive the position filter) or an all-NULL column (hll_sketch_agg
        // → null). Without a file, coverage never reaches full and
        // maintain()'s ndvRebuildPct trigger re-runs the heal on every
        // pass, committing a version each time without converging. An
        // EMPTY .hll file records "scanned, zero cardinality";
        // ndvStats counts it as covered and excludes it from the union.
        for (c <- columns; b <- scanSet.toSeq.sorted) {
          val p = Ndv.file(targetDir, s"v$next", c, b)
          if (!StoreFs.exists(p)) StoreFs.writeBytes(p, Array.emptyByteArray)
        }
        Edit(set = columns.map(c => Ndv.prefix + c -> s"v$next").toMap +
          ("ndv_cols" -> columns.sorted.mkString(",")))
      }
    }
  }

  /** One column's NDV statistics: estimate + honest coverage. */
  final case class NdvReport(column: String, estimate: Long,
      coveredBuckets: Int, totalBuckets: Int) {
    def fullCoverage: Boolean = coveredBuckets == totalBuckets
  }

  /** The table-level NDV estimate for an indexed column: union the
    * surviving per-bucket sketches (one config-sized Spark
    * aggregation over |buckets| sketch blobs — `hll_union_agg` →
    * `hll_sketch_estimate`). Coverage is reported honestly: buckets
    * whose entry was dropped by a rewrite are NOT guessed at — the
    * estimate covers exactly `coveredBuckets` of `totalBuckets`, and
    * a consumer wanting the full number heals first ([[maintain]]'s
    * `ndvRebuildPct` or an explicit incremental [[buildNdvIndex]]).
    * None when the column is not NDV-indexed.
    */
  def ndvStats(spark: SparkSession, targetDir: String,
      column: String): Option[NdvReport] =
    currentManifest(targetDir).flatMap { m =>
      m.meta.get(Ndv.prefix + column).map { ref =>
        val present = m.buckets.keySet.toSeq.sorted.flatMap { b =>
          val p = Ndv.file(targetDir, ref, column, b)
          if (StoreFs.exists(p)) Some(StoreFs.readBytes(p)) else None
        }
        // zero-length files are the zero-cardinality sentinel (see
        // buildNdvIndex): covered, but not a union input
        val sketches = present.filter(_.nonEmpty)
        val est =
          if (sketches.isEmpty) 0L
          else {
            import spark.implicits._
            sketches.toDF("sk")
              .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
              .collect()(0).getLong(0)
          }
        NdvReport(column, est, present.size, m.buckets.size)
      }
    }

  /** A88 — planner-grade equi-join size estimate between two stores. */
  final case class JoinEstimate(rowsA: Long, rowsB: Long,
      ndvA: Long, ndvB: Long, estimatedRows: Long,
      fullCoverage: Boolean)

  /** Estimate `|A ⋈ B|` on an equi-key from METADATA ONLY — the
    * System R containment estimate `|A|·|B| / max(ndv_A, ndv_B)`
    * every cost-based optimizer starts from, sourced entirely from
    * artifacts the store already maintains: row counts from parquet
    * footers ([[fastCount]] — exact, DV-adjusted) and NDVs from the
    * A83 per-bucket HLL index ([[ndvStats]] — union of surviving
    * sketches). Zero data I/O: at 100 TB this answers "can the build
    * side broadcast / how many shuffle partitions does this join
    * need" in seconds, before any scan is scheduled.
    *
    * Honesty: None when either store lacks a committed version, a
    * footer is unreadable, or the column is not NDV-indexed on
    * either side — never a guess. Partial sketch coverage (buckets
    * dropped by rewrites and not yet healed) UNDERestimates the NDV
    * and so OVERestimates the join — conservative for admission
    * decisions — and is surfaced via `fullCoverage` so a caller
    * wanting tight numbers heals first (maintain's ndvRebuildPct).
    * Zero-NDV sides (empty store) estimate 0.
    */
  def estimateJoinRows(spark: SparkSession, dirA: String, dirB: String,
      column: String): Option[JoinEstimate] =
    for {
      ra <- fastCount(dirA)
      rb <- fastCount(dirB)
      na <- ndvStats(spark, dirA, column)
      nb <- ndvStats(spark, dirB, column)
    } yield {
      val denom = math.max(na.estimate, nb.estimate)
      val est = if (denom == 0L) 0L else (BigInt(ra) * BigInt(rb) / denom).toLong
      JoinEstimate(ra, rb, na.estimate, nb.estimate, est,
        na.fullCoverage && nb.fullCoverage)
    }

  /** Broadcast admission ceiling for a store-backed join side, in
    * ON-DISK bytes (parquet-compressed). Deliberately below Spark's
    * 8 GB broadcast hard limit by a wide margin: columnar compression
    * commonly expands 3–10× in memory, and the driver holds the
    * build side twice during construction. 64 MB compressed ≈ the
    * conservative end of Delta's own file-size-based admission.
    */
  val BroadcastAdmissionBytes: Long = 64L << 20

  /** Cost-based join admission from store METADATA alone (r9 verdict
    * #3 — the A88 estimate finally consuming itself): decide the
    * physical strategy of `storeA ⋈ storeB ON col` before any scan
    * is scheduled. Inputs are parquet-footer totals ([[footerTotals]]
    * — exact rows, on-disk bytes) and, when both sides carry the A83
    * NDV index, the System R output estimate ([[estimateJoinRows]]).
    *
    * Decision: broadcast the SMALLER side iff its bytes fit under
    * `maxBytes`; otherwise shuffled-hash (never sort-merge — the
    * SnapshotMerge r2 measurement stands: SMJ sorts the full-width
    * big side for no benefit on hash-joinable keys). The NDV estimate
    * rides along for the caller ("will the OUTPUT explode") — it
    * does not veto a broadcast, because build-side admission is an
    * INPUT-size question; None estimate (unindexed column) leaves
    * the bytes decision intact rather than blocking it.
    */
  final case class JoinAdmission(
      broadcastSide: Option[String], // "a" | "b" | None = shuffle both
      rowsA: Long, bytesA: Long, rowsB: Long, bytesB: Long,
      estimate: Option[JoinEstimate])

  def admitJoin(spark: SparkSession, dirA: String, dirB: String,
      column: String, maxBytes: Long = BroadcastAdmissionBytes): Option[JoinAdmission] =
    for {
      (ra, ba) <- footerTotals(dirA)
      (rb, bb) <- footerTotals(dirB)
    } yield {
      val side =
        if (ba <= bb && ba <= maxBytes) Some("a")
        else if (bb < ba && bb <= maxBytes) Some("b")
        else None
      JoinAdmission(side, ra, ba, rb, bb,
        estimateJoinRows(spark, dirA, dirB, column))
    }

  /** `storeA ⋈ storeB ON col` with the strategy [[admitJoin]] chose —
    * the store-to-store join a SQL user reaches via
    * `graft_join(pathA, pathB, col)`. Equi-inner-join; both reads go
    * through the full manifest machinery (DVs, virtual columns). The
    * un-broadcast side is explicitly `shuffle_hash`-hinted so a
    * stats-blind Catalyst cannot fall back to sort-merge.
    */
  def readJoin(spark: SparkSession, dirA: String, dirB: String,
      column: String, maxBytes: Long = BroadcastAdmissionBytes): Option[DataFrame] =
    for {
      adm <- admitJoin(spark, dirA, dirB, column, maxBytes)
      a <- readSnapshot(spark, dirA)
      b <- readSnapshot(spark, dirB)
    } yield adm.broadcastSide match {
      case Some("a") => b.join(broadcast(a), Seq(column))
      case Some("b") => a.join(broadcast(b), Seq(column))
      case _ => a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq(column))
    }

  /** Time-travel: the snapshot as of `version` (≤ the current
    * pointer). Any version whose manifest survives `vacuum`'s
    * keep-window reads exactly as it was published — carried buckets
    * resolve through that version's own manifest, so later publishes
    * never disturb it. None when the version has no manifest: vacuumed,
    * never existed, or lost its manifest (a version dir alone is never
    * read).
    */
  def readSnapshotAt(spark: SparkSession, targetDir: String, version: Long): Option[DataFrame] =
    committedManifest(targetDir, version)
      .map(m => applyVirtual(readBuckets(spark, targetDir, m, m.buckets.keySet), m))

  /** Time-travel by TIMESTAMP (A67 — Delta `TIMESTAMP AS OF` /
    * Iceberg snapshot-as-of-time on the bucketed store; the reference
    * keys its windows by wall-clock too, step-8:170–181): serve the
    * LATEST committed version whose recorded `commit_us` is <=
    * `tsUs`. Choosing the version is driver metadata only (manifest
    * meta, zero Spark jobs); the read itself is `readSnapshotAt`, so
    * carried buckets, deletion vectors, and column defaults all apply
    * identically. Versions with no parseable manifest or no
    * `commit_us` meta (pre-A45 publishes) cannot be placed on the
    * time axis and are SKIPPED — time travel degrades to the explicit
    * version API for them, never a guess. None when `tsUs` precedes
    * every placeable commit: "before the table existed" must not
    * silently serve the earliest state (the refusal discipline).
    * Commit times come from the committing writer's clock; under the
    * one-writer-at-a-time commit protocol (A52/A66) they are monotone
    * in version order per host, and the tie-break is max VERSION
    * among qualifying commits, so equal-timestamp commits resolve to
    * the later one (Delta's behavior). A timestamp AFTER the latest
    * placeable commit serves that latest commit — Iceberg's
    * as-of-time semantics (Delta instead errors past the newest
    * commit; callers wanting that refusal can compare against
    * `currentVersion` first).
    */
  def readSnapshotAsOfTime(spark: SparkSession, targetDir: String,
      tsUs: Long): Option[DataFrame] =
    versionAsOfTime(targetDir, tsUs).flatMap(readSnapshotAt(spark, targetDir, _))

  /** The version `readSnapshotAsOfTime` would serve — exposed so
    * callers can compose the time axis with the version-keyed
    * surfaces ("what changed since yesterday 09:00" =
    * `readChangeFeed(versionAsOfTime(t).get, currentVersion.get)`).
    *
    * Versions that cannot be placed on the time axis (no parseable
    * manifest or no `commit_us` meta — pre-A45 publishes) are skipped,
    * which can silently resolve to an OLDER state than the skipped
    * version represents. Rather than guess, this surfaces the hazard:
    * [[unplaceableVersions]] lists exactly the skipped versions so a
    * caller (or audit) can decide whether time travel is trustworthy
    * on this store; `readSnapshotAsOfTime` keeps serving the placeable
    * answer (r8 ADVICE).
    */
  def versionAsOfTime(targetDir: String, tsUs: Long): Option[Long] =
    currentVersion(targetDir).flatMap { cur =>
      versionDirs(targetDir).filter(v => v <= cur && commitUsOf(targetDir, v).exists(_ <= tsUs))
        .lastOption
    }

  private def commitUsOf(targetDir: String, v: Long): Option[Long] =
    manifest(targetDir, v)
      .flatMap(_.meta.get("commit_us"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)

  /** Committed versions `versionAsOfTime` cannot place on the time
    * axis (unparseable manifest / missing `commit_us`). Non-empty
    * means a time-travel read may resolve past states that skip these
    * versions — the caller's signal to fall back to the explicit
    * version API for them.
    */
  def unplaceableVersions(targetDir: String): Seq[Long] =
    currentVersion(targetDir).map { cur =>
      versionDirs(targetDir).filter(v => v <= cur && commitUsOf(targetDir, v).isEmpty)
    }.getOrElse(Nil)

  /** Buckets whose content can differ between two manifests: their
    * segment lists or their deletion-vector refs disagree. A bucket
    * carried by reference points at the SAME immutable files and the
    * same vector in both versions, so it cannot have changed — the
    * diff only ever reads buckets the intervening writes touched, and
    * finding them is a manifest comparison that starts no job (a
    * merge-on-read delete changes only a vector ref).
    */
  private[graft] def changedBuckets(from: Manifest, to: Manifest): Set[Int] =
    (from.buckets.keySet ++ to.buckets.keySet ++ from.dvs.keySet ++ to.dvs.keySet)
      .filter(b => from.buckets.get(b) != to.buckets.get(b) || from.dvs.get(b) != to.dvs.get(b))

  /** Change feed between two committed versions (the CDF/
    * `table_changes` analogue of the versioned store): one row per PK
    * whose row was inserted (`i`), updated (`u` — any column
    * differs), or deleted (`d`) between `fromVersion` and
    * `toVersion`, carrying the row image (the new one; the old one
    * for deletes).
    *
    * Scale shape: bucket-version references make "unchanged" a
    * metadata fact — only buckets the manifests disagree on are read,
    * from both versions, and the PK-bucketed layout means the
    * full-outer join co-partitions on exactly the bucket key. Read
    * and join I/O ∝ touched buckets, never the target.
    */
  def snapshotDiff(spark: SparkSession, targetDir: String, fromVersion: Long,
      toVersion: Long, pkCols: Seq[String]): Option[DataFrame] =
    (committedManifest(targetDir, fromVersion), committedManifest(targetDir, toVersion)) match {
      case (Some(mf), Some(mt)) =>
        val touched = changedBuckets(mf, mt)
        val before = readBuckets(spark, targetDir, mf, touched)
        val after = readBuckets(spark, targetDir, mt, touched)
        val cols = mt.schema.fieldNames.toSeq
        val b = before.select(cols.map(c => col(c).as(s"_b_$c")): _*)
        val a = after.select(cols.map(c => col(c).as(s"_a_$c")): _*)
        val joinCond = pkCols.map(k => b(s"_b_$k") <=> a(s"_a_$k")).reduce(_ && _)
        val payload = cols.filterNot(pkCols.contains)
        val differs = payload
          .map(c => !(col(s"_b_$c") <=> col(s"_a_$c")))
          .reduceOption(_ || _).getOrElse(lit(false))
        val image = cols.map(c =>
          coalesce(col(s"_a_$c"), col(s"_b_$c")).as(c))
        Some(b.join(a, joinCond, "full_outer")
          .withColumn(CdcEnvelope.OpCol,
            when(col(s"_b_${pkCols.head}").isNull, lit("i"))
              .when(col(s"_a_${pkCols.head}").isNull, lit("d"))
              .otherwise(lit("u")))
          .filter(col(s"_b_${pkCols.head}").isNull ||
            col(s"_a_${pkCols.head}").isNull || differs)
          .select(image :+ col(CdcEnvelope.OpCol): _*))
      case _ => None
    }

  /** Multi-version change feed (A42) — Delta's
    * `table_changes(t, fromVersion, toVersion)` on the versioned
    * store: the per-commit row-level changes of every version step in
    * (fromVersion, toVersion], each op-tagged row carrying the
    * `_commit_version` that produced it, in one DataFrame a
    * downstream consumer can replay commit by commit (filter on
    * `_commit_version`, order by it). Composes [[snapshotDiff]] per
    * step, so each step reads ONLY the buckets its two manifests
    * disagree on — total I/O ∝ what actually changed across the
    * range, never #steps × target. None when any version in the range
    * was vacuumed away (a partial feed would silently lie about the
    * missing commits); an empty range is an empty feed. A current
    * version without a manifest is not a vacuumed one: that throws
    * [[BadPointerException]], as every reader of the current state does.
    */
  def readChangeFeed(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      fromVersion: Long, toVersion: Long): Option[DataFrame] = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val steps = (fromVersion until toVersion).map { v =>
      snapshotDiff(spark, targetDir, v, v + 1, pkCols)
        .map(_.withColumn("_commit_version", lit(v + 1)))
    }
    if (steps.exists(_.isEmpty)) {
      currentManifest(targetDir) // throws when the gap is a lost current manifest
      None
    }
    else if (steps.isEmpty)
      committedManifest(targetDir, toVersion).map(m =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          m.schema.add(CdcEnvelope.OpCol, StringType).add("_commit_version", LongType)))
    else Some(steps.flatten.reduce(_ unionByName _))
  }

  /** The `op` of a CREATE OR REPLACE publish (see [[publish]]). */
  private[graft] val ReplaceOp = "replace"

  /** Publish `df` as the next FULL snapshot version and move the
    * pointer: every bucket is written and the manifest points them
    * all at the new version. Used for first builds and full
    * overwrites; incremental runs go through [[rewriteBuckets]]. Declared
    * metadata carries like any other commit (INSERT OVERWRITE keeps
    * constraints, generated columns and
    * properties), except for `op = ReplaceOp`: CREATE OR REPLACE is a
    * redefinition and starts from empty metadata.
    */
  private[graft] def publish(df: DataFrame, targetDir: String, pkCols: Seq[String],
      batchId: Long = -1L, buckets: Option[Int] = None,
      statsCols: Seq[String] = Nil, op: String = "publish",
      swapNow: Boolean = true): Long = {
    validatePk(targetDir, pkCols)
    val prev = currentManifest(targetDir)
    val base = prev.fold(-1L)(_.readVersion)
    // Bucket count is fixed at first publish (a repartition-in-place
    // of the whole target would be needed to change it; ~parallelism
    // is the right default at any scale where this runs).
    val numBuckets = prev.map(_.numBuckets).orElse(buckets)
      .getOrElse(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val from = prev.filter(_ => op != ReplaceOp)
    commit(targetDir, base, from, op, swapNow = swapNow, batchId = batchId) { next =>
      val dir = s"$targetDir/v$next"
      labeled(df.sparkSession, "store.publish: bucket write") {
        writeBuckets(df, pkCols, numBuckets, dir)
      }
      recordPk(targetDir, pkCols)
      Edit(rewritten = from.fold(Set.empty[Int])(_.buckets.keySet),
        stats = labeled(df.sparkSession, "store.publish: bucket stats") {
          bucketStats(df.sparkSession, dir, statsCols)
        }, numBuckets = Some(numBuckets), schemaJson = Some(df.schema.json))
    }
  }

  /** What a keyed write ([[rewriteBuckets]]) changes in its touched
    * buckets.
    */
  private[graft] sealed trait KeyedDelta
  private[graft] object KeyedDelta {
    /** `rows`, one per PK (see [[keyedBatch]]), replace the stored rows
      * of their PKs, and the stored rows of the PKs in `deleted` (PK
      * columns only) go.
      */
    final case class Upserts(rows: DataFrame, deleted: Option[DataFrame] = None)
      extends KeyedDelta
    /** The stored rows of the PKs in `keys` (PK columns only) go, and
      * `rows`, whose PKs are all among `keys`, are written: an upsert
      * that needs no replaced-row count, so `rows` are not read to find
      * the positions.
      */
    final case class Replace(rows: DataFrame, keys: DataFrame) extends KeyedDelta
    /** `rows` carry only PKs the store does not hold, each once (the
      * caller has checked), so no stored row goes.
      */
    final case class Inserts(rows: DataFrame) extends KeyedDelta
    /** `rows` are the touched buckets' whole new content: each touched
      * bucket is rewritten as one segment (copy-on-write).
      */
    final case class Content(rows: DataFrame) extends KeyedDelta
  }

  /** A committed keyed write: its version, and how many stored rows
    * the new rows of an [[KeyedDelta.Upserts]] replaced (a merge's
    * records_updated).
    */
  private[graft] final case class KeyedWrite(version: Long, replaced: Long)

  private val UpCol = "__graft_up"

  /** The one keyed delta write, merge-on-read. `f` gets the `touched`
    * buckets of `m` (the manifest the write derives from, DV-applied)
    * and returns the keyed delta. For [[KeyedDelta.Upserts]] one pass
    * over the touched buckets (`store.merge: matched keys`) collects
    * the positions of the stored rows whose PKs the delta names, and
    * how many of them new rows replace. The delta's rows are then
    * written as one new segment of each bucket they land in
    * (`store.rewriteBuckets: bucket write`), and each bucket that lost
    * rows gets a new deletion vector — its old one plus the positions,
    * written by the driver. Every other bucket carries by reference, so
    * write I/O ∝ the delta, not the buckets it touches. A bucket's
    * stats are its old stats widened by the new segment's footer stats.
    *
    * Fold: a touched bucket is instead rewritten as one segment (its
    * stored rows minus the replaced ones, plus its new rows; the vector
    * goes) when it already holds [[MaxSegments]] segments or its vector
    * would pass [[MaxDvPct]] percent of its footer rows; every touched
    * bucket is when the change set's size passes
    * `SnapshotMerge.LargeDeltaRows`, where the positions would not fit
    * the driver, or when `f` returns [[KeyedDelta.Content]]. The size is
    * the caller's `deltaRows`, or, when it passes none, the delta's keys
    * counted first (`store.merge: delta size`) — the positions are
    * collected only for a delta known to be small.
    *
    * `f` runs before the version claim, so its eager work (a count, a
    * check, a side write) precedes the commit. The commit refuses a
    * moved pointer ([[ConcurrentWriteException]]; re-derive, e.g. under
    * [[retryOnConflict]]) and rows written to a bucket outside
    * `touched`, whose stored rows were never read and would be lost.
    * An empty `touched` still commits a version.
    */
  private[graft] def rewriteBuckets(spark: SparkSession, targetDir: String,
      pkCols: Seq[String], m: Manifest, touched: Set[Int], op: String = "merge",
      batchId: Long = -1L, statsCols: Seq[String] = Nil, swapNow: Boolean = true,
      deltaRows: Option[Long] = None)
      (f: DataFrame => KeyedDelta): KeyedWrite = {
    val oldDv = touched.toSeq.map(b => b -> dvPositions(targetDir, m, Set(b))).toMap
    val allDv = oldDv.values.foldLeft(Map.empty[String, Array[Long]])(_ ++ _)
    val delta = f(scanSegments(spark, targetDir, m, touched, allDv, positions = false))
    validatePk(targetDir, pkCols)
    def keysOf(df: DataFrame, up: Boolean): DataFrame =
      df.select(pkCols.map(col) :+ lit(up).as(UpCol): _*)
    // the PKs whose stored rows go: the new rows' (marked up) and the
    // deleted ones
    val goneKeys: Option[DataFrame] = delta match {
      case KeyedDelta.Upserts(rows, deleted) =>
        val ups = keysOf(alignTypes(rows, m.schema), up = true)
        Some(deleted.fold(ups)(d => ups.unionByName(keysOf(d, up = false))))
      case KeyedDelta.Replace(_, keys) => Some(keysOf(keys, up = false))
      case _ => None
    }
    // the positions pass collects to the driver, so a delta whose size
    // the caller does not know is counted first: past LargeDeltaRows it
    // takes the copy-on-write path, which runs on the executors
    val size = deltaRows.orElse(goneKeys.map(k =>
      labeled(spark, "store.merge: delta size")(k.count())))
    val large = size.exists(_ > SnapshotMerge.LargeDeltaRows)
    def dvRows(b: Int): Long = oldDv(b).values.map(_.length.toLong).sum
    // the fold policy, for bucket `b` losing `lost` more rows
    def mustFold(b: Int, lost: Long): Boolean =
      segmentDirs(targetDir, m, b).size >= MaxSegments ||
        dvFiles(targetDir, m).count(_._1 == b) >= MaxSegments ||
        (dvRows(b) + lost > 0 &&
          (dvRows(b) + lost) * 100 > MaxDvPct.toLong * segmentRows(targetDir, m, b))
    // the stored rows of `buckets` minus `deleted`, plus `rows`, in
    // `rows`' columns: the content of buckets rewritten as one segment
    def folded(rows: DataFrame, buckets: Set[Int], deleted: Map[String, Array[Long]]) =
      if (buckets.isEmpty) rows
      else rows.unionByName(scanSegments(spark, targetDir, m, buckets, deleted, positions = false),
        allowMissingColumns = true).select(rows.columns.map(col): _*)
    type Lost = Map[Int, Map[String, Array[Long]]]
    // the pass that finds the positions of the stored rows whose PKs
    // `keys` names, by bucket, and how many of them a new row replaces.
    // It is analyzed here, on the calling thread, so that running it on
    // another thread resolves no function: a caller inside SQL analysis
    // (a table function) holds the session catalog's lock.
    def positions(keys: DataFrame): () => (Lost, Long) = {
      val pass = scanSegments(spark, targetDir, m, touched, allDv, positions = true)
        .select(pkCols.map(col) ++ Seq(fileBucket.as("_b"), col(DvFileCol), col(DvPosCol)): _*)
        .join(broadcast(keys), pkCols)
        .select(col("_b"), col(DvFileCol), col(DvPosCol), col(UpCol))
      pass.queryExecution.assertAnalyzed()
      () => {
        val hits = labeled(spark, "store.merge: matched keys")(pass.collect())
        (hits.groupBy(_.getInt(0)).map { case (b, rs) =>
          b -> rs.groupMap(_.getString(1))(_.getLong(2)).map { case (f, ps) => f -> ps.distinct.sorted }
        }, hits.filter(_.getBoolean(3)).map(r => (r.getString(1), r.getLong(2))).distinct.length.toLong)
      }
    }
    // (content to write, buckets rewritten as one segment, the other
    // buckets' newly deleted positions and the replaced-row count when
    // known now, or the pass that finds them beside the write)
    type Plan = (DataFrame, Set[Int], (Lost, Long), Option[() => (Lost, Long)])
    // `rows` replace the stored rows of `keys`; `counted`: count the
    // replaced rows in the large-delta path too
    def upsert(rows: DataFrame, keys: DataFrame, counted: Boolean): Plan =
      if (large) {
        val stored = scanSegments(spark, targetDir, m, touched, allDv, positions = false)
        val replaced = if (!counted) 0L else labeled(spark, "store.merge: matched keys") {
          stored.select(pkCols.map(col): _*)
            .join(rows.select(pkCols.map(col): _*).hint("shuffle_hash"), pkCols, "left_semi")
            .count()
        }
        val kept = stored.join(keys.select(pkCols.map(col): _*).hint("shuffle_hash"),
          pkCols, "left_anti")
        (rows.unionByName(kept, allowMissingColumns = true).select(rows.columns.map(col): _*),
          touched, (Map.empty, replaced), None)
      } else if (size.exists(n => touched.forall(b => !mustFold(b, n)))) {
        // no bucket folds even if every change lands in it: the rows
        // are the whole write, and the positions pass runs beside it
        (rows, Set.empty, (Map.empty, 0L), Some(positions(keys)))
      } else {
        val (lost, replaced) = positions(keys)()
        val fold = touched.filter(b => mustFold(b, lost.get(b).fold(0L)(_.values.map(_.length.toLong).sum)))
        val dropped = fold.foldLeft(allDv)((acc, b) => unionPositions(acc, lost.getOrElse(b, Map.empty)))
        (folded(rows, fold, dropped), fold, (lost -- fold, replaced), None)
      }
    val (content, fold, known, findBeside): Plan = delta match {
      case KeyedDelta.Content(rows) => (rows, touched, (Map.empty, 0L), None)
      case KeyedDelta.Inserts(rows0) =>
        val rows = alignTypes(rows0, m.schema)
        val fold = touched.filter(mustFold(_, 0L))
        (folded(rows, fold, allDv), fold, (Map.empty, 0L), None)
      case KeyedDelta.Upserts(rows, _) =>
        upsert(alignTypes(rows, m.schema), goneKeys.get, counted = true)
      case KeyedDelta.Replace(rows, _) =>
        upsert(alignTypes(rows, m.schema), goneKeys.get, counted = false)
    }
    var (lost, replaced) = known
    val version = commit(targetDir, m.readVersion, Some(m), op, swapNow = swapNow,
        batchId = batchId) { next =>
      val dir = s"$targetDir/v$next"
      def write(): Unit = labeled(spark, "store.rewriteBuckets: bucket write") {
        writeBuckets(content, pkCols, m.numBuckets, dir,
          oneTask = fold.isEmpty && size.isDefined && !large)
      }
      def writeDvs(): Unit = lost.foreach { case (b, ps) => writeDv(dir, b, ps) }
      findBeside match {
        case Some(find) =>
          // the vectors are written beside the segment write too
          beside(spark) {
            val (l, r) = find()
            lost = l
            replaced = r
            writeDvs()
          }(write())
        case None =>
          write()
          writeDvs()
      }
      val stray = listedBuckets(dir).map(_._1).filterNot(touched)
      if (stray.nonEmpty) throw new IllegalStateException(
        s"$op on $targetDir wrote bucket(s) ${stray.mkString(", ")} outside the " +
          s"touched set ${touched.toSeq.sorted.mkString("{", ", ", "}")}: their stored " +
          "rows were never read, so the commit would drop them")
      recordPk(targetDir, pkCols)
      val appended = touched -- fold
      val fresh = labeled(spark, "store.rewriteBuckets: bucket stats") {
        bucketStats(spark, dir, statsCols)
      }
      Edit(rewritten = fold, appended = appended, deletedFrom = lost.keySet,
        stats = fresh.map { case (b, st) =>
          b -> (if (appended(b) && m.buckets.contains(b))
            widenStats(m.schema, m.stats.getOrElse(b, Map.empty), st) else st)
        }.filter(_._2.nonEmpty),
        schemaJson = Some(content.schema.json))
    }
    KeyedWrite(version, replaced)
  }

  /** Footer rows of bucket `b`'s segments in `m`: the fold check's
    * denominator.
    */
  private def segmentRows(storeDir: String, m: Manifest, b: Int): Long =
    segmentDirs(storeDir, m, b).map(d => StoreFs.footerRowsBytes(d).fold(0L)(_._1)).sum

  /** `rows` with each column the stored `schema` also has cast to its
    * stored type, so a new segment reads like the segments beside it.
    */
  private def alignTypes(rows: DataFrame, schema: StructType): DataFrame = {
    val stored = schema.fields.map(f => f.name -> f.dataType).toMap
    if (rows.schema.fields.forall(f => stored.get(f.name).forall(_ == f.dataType))) rows
    else rows.select(rows.schema.fields.toSeq.map(f =>
      stored.get(f.name).filter(_ != f.dataType)
        .fold(col(f.name))(t => col(f.name).cast(t).as(f.name))): _*)
  }

  /** A bucket's stats after a segment with stats `added` joins rows
    * whose stats were `old`: per column the wider range, kept only
    * where both sides know it (a side without an entry is unknown or
    * all-NULL, and widening against it could lie).
    */
  private def widenStats(schema: StructType, old: Map[String, (String, String)],
      added: Map[String, (String, String)]): Map[String, (String, String)] =
    old.keySet.intersect(added.keySet).flatMap { c =>
      schema.fields.find(_.name == c).map(_.dataType).map { dt =>
        val (ol, oh) = old(c)
        val (al, ah) = added(c)
        // statOverlaps compares one stat string against a value; a
        // range [x, x] overlaps (-inf, v] iff x <= v
        def le(a: String, b: String): Boolean = statOverlaps(dt, (a, a), None, Some(b))
        c -> ((if (le(ol, al)) ol else al, if (le(ah, oh)) oh else ah))
      }
    }.toMap

  /** Columns the manifest's stats index tracks — what a rewrite of
    * some buckets recomputes for them.
    */
  private def trackedStats(m: Manifest): Seq[String] =
    m.stats.values.flatMap(_.keys).toSeq.distinct

  /** Change the target's frozen bucket count — the layout-maintenance
    * op for a target that outgrew its first-publish sizing (64
    * buckets at 1 GB each is right at 64 GB and wrong at 10 TB). One
    * full read → re-bucket → publish of the next version; every later
    * delta publish then uses the new count. Readers are never broken:
    * old versions keep their own manifests (and bucket counts), the
    * pointer swap is atomic, and an in-flight delta publish against
    * the old layout fails its commit's base check (the caller
    * re-derives against the new layout). Returns the new version,
    * None when the target doesn't exist yet.
    */
  def rebucket(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      newBuckets: Int): Option[Long] = {
    require(newBuckets > 0, s"bucket count must be positive: $newBuckets")
    currentManifest(targetDir).map { m =>
      val snap = readBuckets(spark, targetDir, m, m.buckets.keySet)
      commit(targetDir, m.readVersion, Some(m), "rebucket") { next =>
        val dir = s"$targetDir/v$next"
        writeBuckets(snap, pkCols, newBuckets, dir)
        // every bucket is rewritten, so stats recompute from scratch for
        // whatever columns the previous manifest tracked
        Edit(rewritten = m.buckets.keySet, stats = bucketStats(spark, dir, trackedStats(m)),
          numBuckets = Some(newBuckets))
      }
    }
  }

  /** Predicate DELETE (A41) — the Delta `DELETE FROM … WHERE` shape
    * on the bucketed store, copy-on-write by contract
    * ([[deleteWhereMoR]] is the merge-on-read delete): ONE
    * column-pruned scan of the snapshot
    * finds the buckets that actually contain matching rows (and their
    * match counts — the same find-touched-files pass Delta's DELETE
    * runs), then ONLY those buckets are read full-width, filtered,
    * and republished; every untouched bucket carries forward by
    * manifest reference with its stats. Rewrite I/O ∝ affected
    * buckets, not target size; a predicate matching nothing publishes
    * nothing. A bucket whose every row matches drops out of the
    * manifest entirely. Returns (new version, deleted-row count) —
    * (current version, 0) for a no-match predicate. None when the
    * target doesn't exist.
    *
    * This is the GDPR/retention path ("erase user X", "drop rows
    * older than Y") the CDC merge can't express: a merge needs a
    * change event per deleted PK, a predicate delete needs none.
    */
  def deleteWhere(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      predicate: Column): Option[(Long, Long)] =
    rewriteWhere(spark, targetDir, pkCols, predicate, "delete") { (_, subset) =>
      KeyedDelta.Content(subset.filter(!predicate))
    }

  /** (deletion-vector rows, table rows) of the current version, both
    * from parquet FOOTERS — driver metadata I/O, zero Spark jobs
    * (A56's policy check must be free enough to run after every MoR
    * delete). None when there is no store, no vector, or any footer
    * is unreadable — callers must then NOT auto-fold (degrade to
    * explicit maintenance, never to a guessed rewrite).
    */
  def dvStats(targetDir: String): Option[(Long, Long)] =
    for {
      m <- currentManifest(targetDir)
      if m.dvs.nonEmpty
      dvRows <- footerDvRows(targetDir, m)
      (tableRows, _) <- footerBucketTotals(targetDir, m)
    } yield (dvRows, tableRows)

  /** (footer rows, bytes) summed over every bucket of `m`, a manifest
    * of the store at `storeDir`; None on any unreadable footer.
    */
  private def footerBucketTotals(storeDir: String, m: Manifest): Option[(Long, Long)] =
    manifestBuckets(storeDir, m).foldLeft(Option((0L, 0L))) { case (acc, (_, _, dir)) =>
      for ((ar, ab) <- acc; (r, by) <- StoreFs.footerRowsBytes(dir)) yield (ar + r, ab + by)
    }

  /** Rows of `m`'s deletion vectors from their footers: 0 without
    * any, None when one is unreadable.
    */
  private def footerDvRows(storeDir: String, m: Manifest): Option[Long] =
    dvFiles(storeDir, m).foldLeft(Option(0L)) { case (acc, (_, _, file)) =>
      for (a <- acc; (r, _) <- StoreFs.footerRowsBytes(file)) yield a + r
    }

  /** Metadata-only `SELECT count(*)` (A61 — the count shortcut every
    * lakehouse serves from its log instead of a scan): rows of the
    * current snapshot from the parquet FOOTERS of the referenced
    * bucket dirs, minus the deletion vector's position count (a MoR
    * delete removes rows the footers still contain; every DV entry is
    * a live-file position, so the subtraction is exact). Zero Spark
    * jobs, seconds against 100 TB. None when there is no store or any
    * footer is unreadable — degrade to the scan, never a guess.
    */
  def fastCount(targetDir: String): Option[Long] =
    footerTotals(targetDir).map(_._1)

  /** (live rows, on-disk bytes) of the current snapshot, from parquet
    * footers + manifest only — the same zero-data-I/O walk as
    * [[fastCount]], additionally summing file sizes. Rows are
    * DV-adjusted (MoR-deleted rows excluded); bytes are the raw
    * compressed footprint of the referenced files (DV'd rows still
    * occupy their bytes until folded) — the conservative direction
    * for broadcast admission. None on any unreadable footer.
    */
  def footerTotals(targetDir: String): Option[(Long, Long)] =
    for {
      m <- currentManifest(targetDir)
      (rows, bytes) <- footerBucketTotals(targetDir, m)
      dvRows <- footerDvRows(targetDir, m)
    } yield (rows - dvRows, bytes)

  /** Fold the deletion vectors into the data files (A56): OPTIMIZE
    * exactly the buckets that have one (a manifest read, no job) —
    * each is rewritten as one segment from a DV-applied read, so the
    * commit retires every vector and the read-side position filter
    * disappears. Rewrite I/O ∝ affected buckets, clustering by
    * `sortCols` (default: the PK). Returns the folding version; None
    * when there is no vector.
    */
  def foldDv(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      sortCols: Seq[String] = Nil): Option[Long] =
    for {
      m <- currentManifest(targetDir)
      if m.dvs.nonEmpty
      next <- optimize(spark, targetDir, pkCols,
        if (sortCols.nonEmpty) sortCols else pkCols, buckets = Some(m.dvs.keySet))
    } yield next

  /** MERGE-ON-READ predicate DELETE (A53) — the Delta
    * deletion-vector / Iceberg positional-delete shape on the
    * bucketed store: instead of rewriting every bucket the predicate
    * touches ([[deleteWhere]]'s copy-on-write price), publish a new
    * version that carries EVERY bucket by reference and adds the
    * matching rows' (bucket, file, row-index) positions to the
    * version's deletion-vector sidecar. Write I/O ∝ MATCHED ROWS
    * (a few bytes each), not affected buckets — the right trade for
    * the small-but-wide deletes (GDPR erasure of one user spread
    * over every bucket, trickle retention) where copy-on-write
    * rewrites the whole table to drop 0.1% of it.
    *
    * Every reader path applies the vectors transparently
    * ([[readBucketsWithPos]]): snapshots, key/range reads, time
    * travel, diffs, merges and clones all see the rows as gone.
    * Successive MoR deletes accumulate — each commit rewrites the
    * vectors of the buckets it hits (old entries plus new) into its
    * own version dir and carries every other bucket's by reference;
    * the liveness walk keeps every referenced vector. The read-side
    * filter persists until a rewriting op folds a bucket's vector into
    * its files: [[optimize]] and copy-on-write rewrites fold rewritten
    * buckets' vectors, full rewrites ([[rebucket]], [[renameColumn]],
    * `optimize` over all buckets) clear them all. Manifest bucket
    * STATS are untouched — a DV only removes rows, so recorded min/max
    * stay conservative supersets and pruning degrades, never lies.
    *
    * Returns (new version, deleted-row count) — (current version, 0)
    * and no new version for a no-match predicate. None when the
    * target doesn't exist. The positions are collected to the driver,
    * which writes each hit bucket's vector: by contract they stay far
    * smaller than the data
    * (a delete fraction worth more than a few percent of the table
    * should take the copy-on-write path and pay the rewrite once).
    * `autoFoldPct` enforces that contract automatically (A56): when
    * set, the commit is followed by a [[foldDv]] as soon as the
    * vector exceeds that percentage of the table's physical rows —
    * both counts read from parquet footers, so the check itself is
    * free. The returned version is then the folding version.
    */
  def deleteWhereMoR(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      predicate: Column, autoFoldPct: Option[Int] = None): Option[(Long, Long)] =
    deleteMoR(spark, targetDir, pkCols, _.filter(predicate), autoFoldPct)

  /** [[deleteWhereMoR]] with the doomed subjects supplied as a
    * DataFrame instead of a literal predicate (r9 verdict #5 — the
    * GDPR-queue scale path): the hit scan is a LEFT SEMI join
    * against the distinct key set, broadcast under
    * [[BroadcastAdmissionBytes]]-scale batches and shuffled-hash
    * above (`broadcastKeys = false`). A 10k-subject batch as an
    * `isin` list would compile 10k literals into one codegen'd
    * predicate — brushing the JVM's 64 KB method ceiling and
    * re-JITting every batch; the semi join is one hashed build
    * whatever the batch size. `keys` is a one-column DataFrame of
    * subject values matched against `targetCol`.
    */
  def deleteKeysMoR(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      targetCol: String, keys: DataFrame, autoFoldPct: Option[Int] = None,
      broadcastKeys: Boolean = true): Option[(Long, Long)] = {
    require(keys.columns.length == 1,
      s"deleteKeysMoR keys must be one column, got ${keys.columns.mkString(",")}")
    val keySet = keys.toDF(targetCol).distinct()
    val hinted = if (broadcastKeys) broadcast(keySet) else keySet.hint("shuffle_hash")
    deleteMoR(spark, targetDir, pkCols,
      _.join(hinted, Seq(targetCol), "left_semi"), autoFoldPct)
  }

  private def deleteMoR(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      hitFilter: DataFrame => DataFrame,
      autoFoldPct: Option[Int]): Option[(Long, Long)] =
    currentManifest(targetDir).map { m =>
      val snap = readBucketsWithPos(spark, targetDir, m, m.buckets.keySet)
      // one collect: the positions are delta-sized by contract, and the
      // driver holds them to write the hit buckets' vectors
      val hits = hitFilter(snap)
        .select(fileBucket, col(DvFileCol), col(DvPosCol)).collect()
      val n = hits.length.toLong
      if (n == 0L) (m.readVersion, 0L)
      else {
        val lost = hits.groupBy(_.getInt(0)).map { case (b, rs) =>
          b -> rs.groupMap(_.getString(1))(_.getLong(2)).map { case (f, ps) => f -> ps.sorted }
        }
        commit(targetDir, m.readVersion, Some(m), "delete_mor") { next =>
          // only this delete's positions are written, one file per hit
          // bucket; every earlier vector file carries by reference
          lost.foreach { case (b, ps) => writeDv(s"$targetDir/v$next", b, ps) }
          // blooms stay valid over a superset — just extra FPs; NDV
          // sketches over a superset become upper bounds, so the sketch
          // of every bucket this delete hits DROPS instead
          Edit(deletedFrom = lost.keySet)
        }
        // A56 fold policy: once the accumulated vectors cross
        // `autoFoldPct` percent of the table (both row counts from
        // footers — free), pay the bucket rewrite NOW and retire the
        // read-side filter. Unreadable footers skip the fold —
        // maintenance degrades to explicit foldDv, never guesses.
        autoFoldPct.foreach { pct =>
          dvStats(targetDir).foreach { case (dvRows, tableRows) =>
            if (dvRows * 100L > pct.toLong * tableRows)
              foldDv(spark, targetDir, pkCols)
          }
        }
        (currentVersion(targetDir).get, n)
      }
    }

  /** Predicate UPDATE (A41) — `UPDATE … SET col = expr WHERE pred`:
    * the same affected-bucket discovery as [[deleteWhere]], then a
    * merge-on-read write: the matching rows, with the SET expressions
    * applied (cast to the column's stored type — assignments must not
    * drift the schema), become a new segment of their buckets and
    * their old images join the buckets' deletion vectors. SET must not
    * touch PK columns: that's a delete+insert (the row would change
    * buckets), which MERGE expresses and in-place rewrite must refuse.
    */
  def updateWhere(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      predicate: Column, set: Map[String, Column]): Option[(Long, Long)] = {
    require(set.nonEmpty, "updateWhere needs at least one SET assignment")
    require(!set.keys.exists(pkCols.contains),
      s"SET must not assign PK columns (${set.keys.filter(pkCols.contains).mkString(",")}): " +
        "a PK change re-routes the row's bucket — express it as delete+insert via MERGE")
    rewriteWhere(spark, targetDir, pkCols, predicate, "update") { (m, subset) =>
      val types = subset.schema.fields.map(f => f.name -> f.dataType).toMap
      // a SET key that is not a stored column would silently no-op
      // (and a virtual generated column, A72, is COMPUTED — assigning
      // it has nothing to write): refuse loudly instead
      val unknown = set.keys.filterNot(types.contains)
      require(unknown.isEmpty,
        s"SET targets non-stored column(s): ${unknown.toSeq.sorted.mkString(",")}" +
          " (generated columns are computed on read — update their inputs)")
      val updated = subset.filter(predicate).select(subset.columns.toIndexedSeq.map { c =>
        set.get(c).map(e => e.cast(types(c)).as(c)).getOrElse(col(c))
      }: _*)
      // A71: an UPDATE introduces new cell values — enforce the
      // table's CHECK constraints on the updated rows before
      // publishing (unmodified rows pass by induction)
      enforceConstraints(m, updated, targetDir)
      KeyedDelta.Upserts(updated)
    }
  }

  /** Shared affected-bucket write: find matching buckets + counts in
    * one scan, hand exactly those buckets to `delta`, publish the rest
    * by reference.
    */
  private def rewriteWhere(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      predicate: Column, op: String)
      (delta: (Manifest, DataFrame) => KeyedDelta): Option[(Long, Long)] =
    currentManifest(targetDir).map { m =>
      val snap = readBuckets(spark, targetDir, m, m.buckets.keySet)
      // one job: matching buckets AND their match counts. Catalyst
      // prunes the scan to the predicate + PK columns.
      val hits = snap.filter(predicate)
        .groupBy(bucketExpr(pkCols, m.numBuckets).as("b")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      if (hits.isEmpty) (m.readVersion, 0L)
      else {
        val w = rewriteBuckets(spark, targetDir, pkCols, m, hits.keySet, op,
          statsCols = trackedStats(m), deltaRows = Some(hits.values.sum))(delta(m, _))
        (w.version, hits.values.sum)
      }
    }

  /** OPTIMIZE (A40) — rewrite the current snapshot's buckets with
    * their rows CLUSTERED by `sortCols` (the Delta `OPTIMIZE …
    * ZORDER BY` / Iceberg `rewrite_data_files` sort-order pattern on
    * the bucketed store, single-dimension linear order):
    *
    *  - Within each rewritten bucket the rows are sorted by
    *    `sortCols` and split at `maxRecordsPerFile`, so each file —
    *    and each parquet ROW GROUP inside it — covers a tight,
    *    near-disjoint range of the clustering column. Any later scan
    *    with a pushed-down predicate on that column (every
    *    `readRange` residual, every user filter) then skips whole
    *    row groups via the footer stats Spark's parquet reader
    *    already consults: bucket-level manifest pruning bounds WHICH
    *    buckets are read, clustering bounds how much OF a read
    *    bucket does I/O. At 100 TB that second level is the
    *    difference between scanning a 100 GB bucket and its few
    *    matching row groups.
    *  - `sortCols` join the manifest's tracked stats columns for the
    *    rewritten buckets, so readRange prunes on the clustered
    *    column at bucket granularity too.
    *  - Fragmentation repair: many small delta publishes leave a
    *    bucket's rows in many small files; the rewrite compacts them
    *    (small-file compaction is OPTIMIZE's original job).
    *  - Clone localization: a shallow clone's absolute cross-store
    *    references become local files, making the clone
    *    self-contained without a deep copy (`buckets = None` rewrites
    *    everything; afterwards the source pin can be dropped safely
    *    — see `dropClonePin`).
    *
    * `buckets` restricts the rewrite (incremental OPTIMIZE — run it
    * bucket-range by bucket-range on a huge target); untouched
    * buckets carry forward by reference with their stats, exactly
    * like a delta publish. Content is bit-identical by construction
    * (same rows, same bucket routing — only order and file layout
    * change), so every reader contract (readKeys routing, time
    * travel, snapshotDiff) is unaffected. Publishes the next version;
    * the previous one stays readable until vacuumed. Returns that
    * version, None when the target doesn't exist.
    */
  def optimize(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      sortCols: Seq[String], maxRecordsPerFile: Long = 0L,
      buckets: Option[Set[Int]] = None): Option[Long] = {
    require(sortCols.nonEmpty, "optimize needs at least one clustering column")
    optimizeBy(spark, targetDir, pkCols, sortCols.map(col), sortCols,
      maxRecordsPerFile, buckets)
  }

  /** Multi-dimension OPTIMIZE (A43) — Delta `ZORDER BY (a, b, …)`:
    * clusters each bucket along the Z-ORDER CURVE of 2–4 columns
    * instead of a linear sort. A linear sort by (a, b) gives files
    * tight in `a` but spanning ALL of `b`; the Z-curve interleaves the
    * dimensions' bits, so every file covers a small hyper-rectangle
    * and range reads filtered on ANY clustered dimension skip row
    * groups — the layout for "filter sometimes by time, sometimes by
    * key, sometimes both".
    *
    * Key construction (all codegen'd, no UDF): each dimension is
    * min/max-scaled to a 16-bit rank (one config-sized bounds agg
    * over the chosen buckets — the Delta-style approximation;
    * monotone in the original value, which is all a sort key needs),
    * bits spread by the constant-mask shift cascade, then interleaved
    * into one long. All clustered dims join the manifest stats index.
    * Numeric or timestamp-like (castable-to-double) dims only.
    */
  def optimizeZorder(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      zCols: Seq[String], maxRecordsPerFile: Long = 0L,
      buckets: Option[Set[Int]] = None): Option[Long] = {
    require(zCols.size >= 2 && zCols.size <= 4,
      s"zorder interleaves 2-4 dimensions, got ${zCols.size}")
    currentManifest(targetDir).flatMap { m =>
      val chosen = buckets.fold(m.buckets.keySet)(_ intersect m.buckets.keySet)
      val snap = readBuckets(spark, targetDir, m, chosen)
      optimizeBy(spark, targetDir, pkCols, Seq(zorderKey(snap, zCols)), zCols,
        maxRecordsPerFile, Some(chosen), opLabel = "zorder")
    }
  }

  /** The interleaved Z-key of `zCols` over df's value ranges: one
    * bounds agg, then a pure column expression.
    */
  private[graft] def zorderKey(df: DataFrame, zCols: Seq[String]): Column = {
    val aggs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val dims = zCols.zipWithIndex.map { case (c, i) =>
      val (mn, mx) = (row.getDouble(2 * i), row.getDouble(2 * i + 1))
      val span = if (mx > mn) mx - mn else 1.0
      // 16-bit rank, clamped; NULLs rank 0 (sort first, like NULLS FIRST)
      val rank = coalesce(
        least(greatest(((col(c).cast("double") - lit(mn)) / lit(span) * lit(65535.0))
          .cast("long"), lit(0L)), lit(65535L)), lit(0L))
      spreadBits(rank, zCols.size)
    }
    dims.zipWithIndex.map { case (d, i) => shiftleft(d, i) }
      .reduce((a, b) => a.bitwiseOR(b)).as("_z")
  }

  /** Spread a 16-bit value's bits `stride` apart — bit j of the input
    * lands at position j·stride (the morton spread for any 2–4 dim
    * count). Unrolled to 16 shift/mask/or terms: one flat codegen'd
    * long expression, no UDF, no loop at runtime.
    */
  private def spreadBits(v: Column, stride: Int): Column =
    if (stride == 1) v
    else (0 until 16).map { j =>
      shiftleft(shiftright(v, j).bitwiseAND(lit(1L)), j * stride)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Shared clustered-rewrite core of [[optimize]]/[[optimizeZorder]]:
    * sort the chosen buckets by `sortExprs`, track `trackCols` in the
    * manifest stats.
    */
  private def optimizeBy(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      sortExprs: Seq[Column], trackColsNew: Seq[String], maxRecordsPerFile: Long,
      buckets: Option[Set[Int]], opLabel: String = "optimize"): Option[Long] =
    currentManifest(targetDir).map { m =>
      val chosen = buckets.fold(m.buckets.keySet)(_ intersect m.buckets.keySet)
      val snap = readBuckets(spark, targetDir, m, chosen)
      commit(targetDir, m.readVersion, Some(m), opLabel) { next =>
        val dir = s"$targetDir/v$next"
        val writer = snap.withColumn(BucketCol, bucketExpr(pkCols, m.numBuckets))
          .repartition(col(BucketCol))
          // BucketCol leads the sort: a shuffle partition can hold
          // several buckets (hash collision), and the dynamic-partition
          // writer splits files per bucket value — leading with it keeps
          // each bucket's rows contiguous so the per-bucket sort order
          // survives into the files
          .sortWithinPartitions(col(BucketCol) +: sortExprs: _*)
          .write.partitionBy(BucketCol).mode(SaveMode.Overwrite)
        (if (maxRecordsPerFile > 0)
          writer.option("maxRecordsPerFile", maxRecordsPerFile)
        else writer).parquet(dir)
        // rewritten buckets: same rows, so previous stats still hold —
        // but recompute for the union of tracked + clustering columns
        // so the manifest index learns the new dimension(s)
        Edit(rewritten = chosen,
          stats = bucketStats(spark, dir, (trackedStats(m) ++ trackColsNew).distinct))
      }
    }

  /** ALTER TABLE … DROP COLUMN (A49) — METADATA-ONLY on the bucketed
    * store: publish a new version that carries every bucket by
    * reference with a NARROWED pinned schema. Zero data bytes move —
    * the Delta-with-column-mapping behavior, reached here without a
    * name-indirection layer because every read already goes through
    * the manifest's pinned schema (`readBuckets` passes it to the
    * parquet reader, which simply never materializes unlisted
    * columns). Old versions keep their manifests, so time travel
    * still serves the column and RESTORE resurrects it. Carried
    * stats entries for dropped columns are stripped (a later
    * `readRange` on the dropped column fails loudly at analysis —
    * never a silent wrong prune). PK columns refuse: the merge keys
    * on them.
    */
  def dropColumns(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      drop: Seq[String]): Option[Long] = {
    require(drop.nonEmpty, "dropColumns needs at least one column")
    require(!drop.exists(pkCols.contains),
      s"cannot drop PK columns: ${drop.filter(pkCols.contains).mkString(",")}")
    currentManifest(targetDir).map { m =>
      val schema = m.schema
      val missing = drop.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty, s"no such columns: ${missing.mkString(",")}")
      val newSchema = StructType(schema.fields.filterNot(f => drop.contains(f.name)))
      require(newSchema.nonEmpty, "cannot drop every column")
      // A71 dependency guard: a CHECK constraint referencing a dropped
      // column would dangle — refuse (drop the constraint first)
      val dropLc = drop.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      val dangling = constraintsOf(m).filter {
        case (_, p) => constraintRefs(p).exists(dropLc.contains)
      }
      require(dangling.isEmpty,
        "cannot drop column(s) referenced by CHECK constraint(s): " +
          s"${dangling.keys.toSeq.sorted.mkString(",")} — drop the constraint first")
      // same dependency guard for virtual generated columns (A72)
      val danglingVirt = virtualCols(m).filter {
        case (_, _, e) => constraintRefs(e).exists(dropLc.contains)
      }
      require(danglingVirt.isEmpty,
        "cannot drop column(s) referenced by generated column(s): " +
          s"${danglingVirt.map(_._1).sorted.mkString(",")} — drop the generated column first")
      // a dropped column's stats, default, bloom and NDV indexes go with it
      commit(targetDir, m.readVersion, Some(m), "drop-columns") { _ =>
        Edit(set = Map("dropped" -> drop.sorted.mkString(",")), dropCols = drop.toSet,
          schemaJson = Some(newSchema.json))
      }
    }
  }

  /** ALTER TABLE … ADD COLUMN with an initial DEFAULT (A57) —
    * METADATA-ONLY: publish a new version that carries every bucket
    * by reference under a WIDENED schema plus a
    * `coldefault.<col> = "<declVersion> <default>"` meta entry. Zero
    * data bytes move. Read-time semantics are Iceberg's
    * initial-default: files written BEFORE the declaration (bucket
    * ref version < declaration version — the manifest knows each
    * bucket's vintage) read the default; files written after read
    * what the writer stored, so an explicitly-written NULL stays
    * NULL. readBuckets resolves this per bucket group in one extra
    * scan branch; later rewrites materialize the fill into the files
    * and the meta entry rides along harmlessly (post-declaration refs
    * never match it). Old versions keep their manifests: time travel
    * reads the narrow schema, RESTORE reverts the column. Numeric or
    * string columns; a NULL default is just ADD COLUMN (omit the
    * default — carried files already read NULL via the pinned
    * schema). A CONFIG-driven pipeline table must also declare the
    * column (fieldSpecs/passthrough) — the merge publishes the
    * config's column set, so an undeclared ad-hoc column narrows
    * away on the next run (config is the schema authority, A13/A19).
    */
  def addColumnWithDefault(spark: SparkSession, targetDir: String,
      name: String, dataType: DataType, default: Any): Option[Long] =
    currentManifest(targetDir).map { m =>
      val schema = m.schema
      require(!schema.fieldNames.contains(name), s"column exists: $name")
      require(!virtualCols(m).exists(_._1 == name),
        s"generated column exists: $name")
      require(dataType.isInstanceOf[NumericType] || dataType == StringType,
        s"initial defaults support numeric or string columns, got $dataType")
      commit(targetDir, m.readVersion, Some(m), "add-column") { next =>
        Edit(set = Map("added" -> name,
          DefaultPrefix + statEnc(name) -> s"$next ${statEnc(String.valueOf(default))}"),
          schemaJson = Some(schema.add(name, dataType).json))
      }
    }

  /** ALTER TABLE … RENAME COLUMN (A49) — a FULL-REWRITE publish: the
    * parquet files key columns by NAME and the store deliberately has
    * no column-mapping indirection (one fewer layer every read pays
    * for), so a rename is one read → rename → republish, the same
    * honest price Delta charges without column mapping. Bucket
    * ROUTING is unchanged even when a PK column is renamed (the hash
    * is over values, not names — `pkCols` here are the PRE-rename
    * names; pass the new name to later calls). Tracked stats follow
    * the rename. Old versions still read under the old name.
    */
  def renameColumn(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      from0: String, to: String): Option[Long] = {
    currentManifest(targetDir).map { m =>
      val schema = m.schema
      // resolve the source name case-insensitively, like Spark column
      // resolution — `from` below is the schema's actual spelling
      val from = schema.fieldNames.find(_.equalsIgnoreCase(from0)).getOrElse(
        throw new IllegalArgumentException(s"no such column: $from0"))
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column exists: $to")
      // A71 dependency guard: constraint predicates are stored as SQL
      // text and would silently dangle under a renamed column
      val fromLc = from.toLowerCase(java.util.Locale.ROOT)
      val renRefs = constraintsOf(m).filter {
        case (_, p) => constraintRefs(p).contains(fromLc)
      }
      require(renRefs.isEmpty,
        s"cannot rename column referenced by CHECK constraint(s): " +
          s"${renRefs.keys.toSeq.sorted.mkString(",")} — drop the constraint first")
      val renVirt = virtualCols(m).filter {
        case (n, _, e) => n == from || n == to || constraintRefs(e).contains(fromLc)
      }
      require(renVirt.isEmpty,
        s"cannot rename a generated column or one its expression references: " +
          s"${renVirt.map(_._1).sorted.mkString(",")} — drop the generated column first")
      val snap = readBuckets(spark, targetDir, m, m.buckets.keySet)
        .withColumnRenamed(from, to)
      val newPk = pkCols.map(c => if (c.equalsIgnoreCase(from)) to else c)
      commit(targetDir, m.readVersion, Some(m), "rename-column") { next =>
        val dir = s"$targetDir/v$next"
        writeBuckets(snap, newPk, m.numBuckets, dir)
        // the renamed column's indexes go (their keys name the old column)
        Edit(rewritten = m.buckets.keySet,
          stats = bucketStats(spark, dir, trackedStats(m).map(c => if (c == from) to else c)),
          set = Map("renamed" -> s"$from>$to"), dropCols = Set(from),
          schemaJson = Some(snap.schema.json))
      }
    }
  }

  // ==== A71: persistent CHECK constraints ===========================
  // The Delta `ALTER TABLE … ADD CONSTRAINT <name> CHECK (<expr>)`
  // surface: a named SQL predicate attached to the TABLE (carried in
  // the manifest meta as `constraint.<name>`), validated against the
  // whole snapshot when declared and enforced on every subsequent
  // DATA-CHANGING write — the reference's only integrity mechanism is
  // the all-or-nothing batch failure (merge.sql:441–457); a table
  // constraint makes the invariant part of the table, not of one
  // pipeline's config. Deliberately distinct from A39 expectations:
  //  - CHECK follows the SQL standard — a NULL predicate PASSES
  //    (constraints state invariants; unknowns are not violations),
  //    where expectations are quality gates and fail NULLs.
  //  - CHECK refuses the COMMIT (nothing published, store untouched);
  //    expectations divert rows and let the batch proceed.
  // Enforcement is delta-sized by induction: rows already in the
  // store passed when written (declaration validates the full
  // snapshot once), so each write checks only the rows it introduces
  // — merge upserts, post-SET update rows — never the carried 100 TB.
  // Zero Spark jobs when a table declares no constraints (the common
  // case: one driver-side manifest-meta check).

  final class ConstraintViolationException(val table: String,
      val counts: Map[String, Long])
    extends RuntimeException(
      s"CHECK constraint violated for $table: " +
        counts.toSeq.sortBy(_._1).map { case (n, c) => s"$n=$c" }.mkString(", "))

  private val ConstraintPrefix = "constraint."

  private def constraintsOf(m: Manifest): Map[String, String] =
    m.meta.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** Declared constraints of the current version: name → predicate
    * SQL. Empty when the store doesn't exist or declares none.
    */
  def checkConstraints(targetDir: String): Map[String, String] =
    currentManifest(targetDir)
      .map(constraintsOf).getOrElse(Map.empty)

  /** Lower-cased top-level column names a constraint predicate
    * references (parse-level, no session needed) — the drop/rename
    * guard's dependency check.
    */
  private def constraintRefs(predicate: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(predicate).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
      }.toSet

  /** ADD CONSTRAINT: validate the CURRENT snapshot satisfies the
    * predicate (one column-pruned scan counting violations — the same
    * full-table proof Delta runs at declaration), then publish a
    * METADATA-ONLY version carrying `constraint.<name>`. Zero data
    * bytes move; old versions are unconstrained history. Throws
    * [[ConstraintViolationException]] when existing rows violate
    * (nothing published), IllegalArgumentException on a duplicate
    * name. None when the target doesn't exist.
    */
  def addCheckConstraint(spark: SparkSession, targetDir: String,
      name: String, predicate: String): Option[Long] = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"constraint name must be path-safe: $name")
    currentManifest(targetDir).map { m =>
      require(!constraintsOf(m).contains(name),
        s"constraint exists: $name (drop it first to redefine)")
      // write-time enforcement sees PHYSICAL rows only — a predicate
      // over a virtual column (A72) could never be checked there
      val virt = virtualCols(m).map(_._1.toLowerCase(java.util.Locale.ROOT)).toSet
      val onVirtual = constraintRefs(predicate).intersect(virt)
      require(onVirtual.isEmpty,
        s"CHECK may reference only physical columns; generated: " +
          onVirtual.toSeq.sorted.mkString(",") +
          " — constrain the expression's physical inputs instead")
      val snap = readBuckets(spark, targetDir, m, m.buckets.keySet)
      val bad = snap.filter(!coalesce(expr(predicate), lit(true))).count()
      if (bad > 0)
        throw new ConstraintViolationException(targetDir, Map(name -> bad))
      commit(targetDir, m.readVersion, Some(m), "add-constraint") { _ =>
        Edit(set = Map(ConstraintPrefix + name -> predicate))
      }
    }
  }

  /** DROP CONSTRAINT — metadata-only. None when the store or the
    * constraint doesn't exist (idempotent-friendly: probe with
    * [[checkConstraints]]).
    */
  def dropCheckConstraint(targetDir: String, name: String): Option[Long] =
    currentManifest(targetDir).flatMap { m =>
      if (!constraintsOf(m).contains(name)) None
      else {
        Some(commit(targetDir, m.readVersion, Some(m), "drop-constraint") { _ =>
          Edit(set = Map("unconstrained" -> name), unset = Set(ConstraintPrefix + name))
        })
      }
    }

  // ——— Table properties (A77 — Delta TBLPROPERTIES) ———————————————
  // Versioned key→value metadata on the table: `prop.<key>` manifest
  // entries, carried across every publish kind like constraints and
  // generated columns, REVERTED by RESTORE (they are per-version log
  // state, exactly Delta's semantics — contrast the A76 identity
  // sidecar, which is deliberately global). The `graft.maintain.*`
  // namespace is live configuration: [[maintainAuto]] resolves its
  // policy from stored properties, which is how Delta's
  // `autoOptimize`/`symlinkFormatManifest.enabled` table flags work.

  private[cdc] val PropPrefix = "prop."

  private def propsOf(m: Manifest): Map[String, String] =
    m.meta.collect { case (k, v) if k.startsWith(PropPrefix) =>
      k.stripPrefix(PropPrefix) -> statDec(v) }

  /** Current table properties (empty when none or no store). */
  def tableProperties(targetDir: String): Map[String, String] =
    currentManifest(targetDir)
      .map(propsOf).getOrElse(Map.empty)

  /** SET TBLPROPERTIES — metadata-only new version; last write wins
    * per key. Values are arbitrary strings (encoded like stats, so
    * newlines/pipes survive).
    */
  def setTableProperties(targetDir: String,
      props: Map[String, String]): Option[Long] = {
    require(props.nonEmpty, "no properties to set")
    props.keys.foreach(k => require(k.nonEmpty && !k.exists(_.isWhitespace),
      s"property key must be non-empty and whitespace-free: '$k'"))
    currentManifest(targetDir).map { m =>
      commit(targetDir, m.readVersion, Some(m), "set-properties") { _ =>
        Edit(set = props.map { case (k, v) => PropPrefix + k -> statEnc(v) })
      }
    }
  }

  /** UNSET TBLPROPERTIES — metadata-only; None when the store is
    * missing or no listed key is set (idempotent-friendly).
    */
  def unsetTableProperties(targetDir: String,
      keys: Seq[String]): Option[Long] =
    currentManifest(targetDir).flatMap { m =>
      val present = propsOf(m).keySet.intersect(keys.toSet)
      if (present.isEmpty) None
      else {
        Some(commit(targetDir, m.readVersion, Some(m), "unset-properties") { _ =>
          Edit(unset = keys.map(PropPrefix + _).toSet)
        })
      }
    }

  /** Resolve a [[MaintenancePolicy]] from the `graft.maintain.*`
    * table properties over `base` (unset keys keep base's value):
    * integer knobs `dvFoldPct`, `smallFilesPerBucket`, `keepVersions`,
    * `bloomRebuildPct` (value `off` disables the step), boolean
    * `symlinkManifest`, csv `sortCols`. A malformed value throws —
    * a property-driven scheduler must fail loudly, not silently run
    * the default.
    */
  def policyFromProperties(targetDir: String,
      base: MaintenancePolicy = MaintenancePolicy()): MaintenancePolicy = {
    val p = tableProperties(targetDir)
    def intKnob(key: String, cur: Option[Int]): Option[Int] =
      p.get(s"graft.maintain.$key") match {
        case None => cur
        case Some("off") => None
        case Some(v) => Some(v.toInt)
      }
    base.copy(
      dvFoldPct = intKnob("dvFoldPct", base.dvFoldPct),
      smallFilesPerBucket = intKnob("smallFilesPerBucket", base.smallFilesPerBucket),
      keepVersions = intKnob("keepVersions", base.keepVersions),
      bloomRebuildPct = intKnob("bloomRebuildPct", base.bloomRebuildPct),
      ndvRebuildPct = intKnob("ndvRebuildPct", base.ndvRebuildPct),
      sortCols = p.get("graft.maintain.sortCols")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(base.sortCols),
      symlinkManifest = p.get("graft.maintain.symlinkManifest")
        .map(_.toBoolean).getOrElse(base.symlinkManifest),
      ttlColumn = p.get("graft.ttl.column").orElse(base.ttlColumn),
      ttlMaxAgeUs = p.get("graft.ttl.maxAgeUs").map(_.toLong)
        .orElse(base.ttlMaxAgeUs))
  }

  /** [[maintain]] with the policy resolved from table properties —
    * the scheduler entry point (Delta's table-flag auto modes): the
    * table declares its own maintenance configuration, the scheduler
    * just calls this everywhere.
    */
  def maintainAuto(spark: SparkSession, targetDir: String,
      pkCols: Seq[String]): Option[MaintenanceReport] =
    currentVersion(targetDir).flatMap(_ =>
      maintain(spark, targetDir, pkCols, policyFromProperties(targetDir)))

  /** GENERATE symlink-format manifest (A74) — Delta's `GENERATE
    * symlink_format_manifest`: write the CURRENT snapshot's data-file
    * list to `_symlink_format_manifest/manifest` (one absolute path
    * per line, atomically replaced) so engines that can't walk the
    * version store — Presto/Trino/Hive external tables, a plain
    * parquet reader — serve the exact committed snapshot. Driver
    * metadata I/O only.
    *
    * Honesty guard: a raw file list CANNOT express merge-on-read
    * state — deletion-vector rows would resurrect (A53) and
    * unmaterialized column defaults would read NULL (A57) — so
    * generation REFUSES while either is outstanding (fold the DV /
    * OPTIMIZE the fills first; both are one maintenance call).
    * Virtual generated columns (A72) are presentation-layer and
    * simply absent from the external view — narrower, never wrong.
    * Returns the file list, None when the store doesn't exist.
    */
  def generateSymlinkManifest(targetDir: String): Option[Seq[String]] =
    currentManifest(targetDir).map { m =>
      require(m.dvs.isEmpty,
        "cannot export a symlink manifest while a deletion vector is " +
          "outstanding: external readers would resurrect deleted rows — " +
          "fold it first (foldDv / maintain)")
      require(columnDefaults(m).isEmpty,
        "cannot export a symlink manifest with unmaterialized column " +
          "defaults: external readers would see NULL — OPTIMIZE first")
      val files = manifestBuckets(targetDir, m).flatMap { case (_, _, dir) =>
        StoreFs.listFilePaths(dir, ".parquet").sorted
      }
      val dir = s"$targetDir/_symlink_format_manifest"
      val tmp = s"$dir/.manifest.tmp"
      StoreFs.writeString(tmp, files.mkString("\n"))
      StoreFs.atomicReplace(tmp, s"$dir/manifest")
      files
    }

  /** DESCRIBE DETAIL (A73) — the one-row operational summary every
    * lakehouse serves (`DESCRIBE DETAIL` in Delta, `metadata` tables
    * in Iceberg): physical layout (buckets/files/bytes), footer row
    * count with the DV-adjusted LIVE count (A61's arithmetic), and
    * the full declared-metadata inventory — constraints (A71),
    * generated columns (A72), column defaults (A57), bloom-indexed
    * columns (A54), DV presence (A53) — plus the last commit's op and
    * time. Driver metadata + parquet-footer I/O ONLY (zero Spark
    * jobs): seconds against a 100 TB store, because nothing here
    * reads data pages.
    */
  def describeDetail(spark: SparkSession, targetDir: String): Option[DataFrame] =
    currentManifest(targetDir).map { m =>
      val v = m.readVersion
      // (path, rows, bytes) per data file; an unreadable bucket counts 0
      val files = manifestBuckets(targetDir, m).flatMap { case (_, _, dir) =>
        StoreFs.footerPerFile(dir)
      }
      val rows = files.map(_._2).sum
      val dvRows = footerDvRows(targetDir, m).getOrElse(0L)
      val readable = (0L to v).count(manifest(targetDir, _).isDefined).toLong
      import spark.implicits._
      Seq((v, m.numBuckets.toLong, files.size.toLong, files.map(_._3).sum,
        rows, rows - dvRows, dvRows,
        m.schema.fields.length.toLong,
        constraintsOf(m).keys.toSeq.sorted.mkString(","),
        virtualCols(m).map(_._1).mkString(","),
        columnDefaults(m).map(_._1).mkString(","),
        m.meta.keys.filter(_.startsWith("bloom.")).toSeq
          .map(_.stripPrefix("bloom.")).sorted.mkString(","),
        propsOf(m).toSeq.sorted.map { case (k, pv) => s"$k=$pv" }
          .mkString(","),
        m.meta.getOrElse("op", ""),
        m.meta.get("commit_us").map(_.toLong).getOrElse(-1L),
        readable))
        .toDF("version", "num_buckets", "num_files", "bytes",
          "footer_rows", "live_rows", "dv_rows", "schema_fields",
          "constraints", "generated_columns", "column_defaults",
          "bloom_columns", "properties", "last_op", "commit_us",
          "readable_versions")
    }

  // ==== A72: virtual generated columns ==============================
  // The Delta GENERATED-column surface, taken VIRTUAL (computed on
  // read, zero stored bytes — BigQuery/Trino "expression column"
  // style): `colvirt.<name>` meta carries (type JSON, SQL expr) and
  // EVERY reader path appends the column via one codegen'd projection
  // on the scan ([[readBucketsWithPos]]), so snapshots, key/range/
  // point lookups, time travel and diffs all see it without a single
  // rewritten file. Deliberately decoupled from the PHYSICAL schema:
  // a merge that republishes the config's column set cannot narrow a
  // virtual column away, and a full rewrite that happens to
  // materialize the computed values changes nothing — the expression
  // stays authoritative (readers recompute over whatever is stored).
  // Time travel before the declaration reads without the column (old
  // manifests lack the meta) — the A57 vintage semantic for free.

  private val VirtualPrefix = "colvirt."

  /** Declared virtual columns: (name, type, expr SQL). */
  private def virtualCols(m: Manifest): Seq[(String, DataType, String)] =
    m.meta.collect {
      case (k, v) if k.startsWith(VirtualPrefix) =>
        val Array(t, e) = v.split(" ", 2)
        (k.stripPrefix(VirtualPrefix), DataType.fromJson(statDec(t)), statDec(e))
    }.toSeq.sortBy(_._1)

  /** Declared virtual columns of the current version: name →
    * (type, expression SQL). Empty when none / no store.
    */
  def generatedColumns(targetDir: String): Map[String, (DataType, String)] =
    currentManifest(targetDir)
      .map(m => virtualCols(m).map { case (n, t, e) => n -> ((t, e)) }.toMap)
      .getOrElse(Map.empty)

  /** ADD a virtual generated column — METADATA-ONLY (one manifest,
    * zero data bytes, zero Spark jobs). The expression may reference
    * only PHYSICAL columns (chaining virtual-on-virtual would make
    * read-side evaluation order-dependent — declare the composed
    * expression instead). None when the store doesn't exist.
    */
  def addGeneratedColumn(targetDir: String, name: String,
      dataType: DataType, exprSql: String): Option[Long] =
    currentManifest(targetDir).map { m =>
      val phys = m.schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      require(!m.schema.fieldNames.contains(name), s"column exists: $name")
      require(!virtualCols(m).exists(_._1 == name),
        s"generated column exists: $name")
      val refs = constraintRefs(exprSql)
      val bad = refs -- phys
      require(bad.isEmpty,
        s"generated column may reference only physical columns; unknown: " +
          bad.toSeq.sorted.mkString(","))
      commit(targetDir, m.readVersion, Some(m), "add-generated") { _ =>
        Edit(set = Map("generated" -> name,
          VirtualPrefix + name -> s"${statEnc(dataType.json)} ${statEnc(exprSql)}"))
      }
    }

  /** DROP a virtual generated column — metadata-only. None when the
    * store or the column doesn't exist.
    */
  def dropGeneratedColumn(targetDir: String, name: String): Option[Long] =
    currentManifest(targetDir).flatMap { m =>
      if (!virtualCols(m).exists(_._1 == name)) None
      else {
        Some(commit(targetDir, m.readVersion, Some(m), "drop-generated") { _ =>
          Edit(set = Map("ungenerated" -> name), unset = Set(VirtualPrefix + name))
        })
      }
    }

  /** Enforce `m`'s constraints on the rows a write INTRODUCES (merge
    * upserts / post-SET update rows). ONE conditional-aggregate pass
    * computes every constraint's violation count (|constraints|
    * cells, the A39 shape); throws with the full per-name diagnosis
    * BEFORE anything is written. Driver-only no-op when the manifest
    * declares none.
    */
  private[graft] def enforceConstraints(m: Manifest, rows: DataFrame,
      table: String): Unit = {
    val cs = constraintsOf(m)
    if (cs.nonEmpty) {
      val cells = cs.toSeq.sortBy(_._1).map { case (n, p) =>
        sum(when(!coalesce(expr(p), lit(true)), 1L).otherwise(0L)).as(n)
      }
      val r = rows.agg(cells.head, cells.tail: _*).collect()(0)
      val violated = cs.keys.toSeq.sorted.zipWithIndex.collect {
        case (n, i) if !r.isNullAt(i) && r.getLong(i) > 0 => n -> r.getLong(i)
      }.toMap
      if (violated.nonEmpty)
        throw new ConstraintViolationException(table, violated)
    }
  }

  /** Store integrity audit (A48) — the `FSCK` analogue for the
    * bucketed store: walk the metadata and report every inconsistency
    * between what the manifests promise and what the filesystem
    * holds. Driver metadata I/O only — no Spark jobs, so it runs in
    * seconds against a 100 TB store (the data files are never read;
    * a referenced BUCKET DIR that exists but lost data files surfaces
    * at read time as a parquet error, which is loud — fsck's job is
    * the silent failures: dangling references, torn publishes,
    * stale coordination files).
    *
    * Findings (empty result = healthy):
    *  - `dangling_ref` (error): a readable version's manifest
    *    names a segment (a bucket dir of some version) that no longer
    *    exists — reads of that version will fail; if it is the CURRENT
    *    version the table is down. The restore/vacuum pairing prevents
    *    this; a manual delete or a foreign vacuum does not.
    *  - `dangling_dv` (error): a readable version's manifest names a
    *    bucket's deletion vector that no longer exists — its deleted
    *    rows would resurface.
    *  - `torn_version` (warn): a version dir at-or-below the pointer
    *    with no readable manifest — a publish that died between
    *    writeBuckets and writeManifest; invisible to readers,
    *    reclaimable.
    *  - `orphan_inflight` (warn): a version dir ABOVE the pointer —
    *    an in-flight publish, or one that died before its pointer
    *    swap. Expected transiently; stale ones leak space.
    *  - `stale_pin` (error): a clone pin referencing a version dir
    *    that is gone — the pinned clone can no longer read; the pin
    *    was registered after the dirs were already vacuumed, or a
    *    manual delete bypassed vacuum.
    *  - `stale_lock` (warn): a writer lease older than `staleMs` — a
    *    crashed writer; the next writer breaks it, fsck just surfaces
    *    it early.
    *  - `bad_pointer` (error): the `_VERSION` pointer exists but does
    *    not parse, or points at a version with no manifest (every
    *    reader and writer then refuses with [[BadPointerException]]).
    */
  def fsck(spark: SparkSession, targetDir: String,
      staleMs: Long = 15L * 60 * 1000): DataFrame = {
    import spark.implicits._
    val out = Seq.newBuilder[(String, String, String, String)]
    def report(sev: String, check: String, subject: String, detail: String): Unit =
      out += ((sev, check, subject, detail))
    val curOpt = scala.util.Try(currentVersion(targetDir)).toOption.flatten
    if (StoreFs.exists(s"$targetDir/$VersionFile") && curOpt.isEmpty)
      report("error", "bad_pointer", VersionFile, "pointer exists but does not parse")
    curOpt.foreach { cur =>
      if (manifest(targetDir, cur).isEmpty)
        report("error", "bad_pointer", s"v$cur",
          "pointer names a version with no readable manifest")
      val versions = versionDirs(targetDir)
      versions.filter(_ > cur).foreach(v =>
        report("warn", "orphan_inflight", s"v$v",
          "version dir above the pointer (in-flight or abandoned publish)"))
      versions.filter(_ <= cur).foreach { v =>
        manifest(targetDir, v) match {
          case None =>
            report("warn", "torn_version", s"v$v",
              "version dir with no readable manifest (died pre-manifest)")
          case Some(m) =>
            manifestBuckets(targetDir, m).foreach { case (b, ref, dir) =>
              if (!StoreFs.exists(dir))
                report("error", "dangling_ref", s"v$v",
                  s"manifest references missing segment $ref of bucket $b" +
                    (if (v == cur) " (CURRENT version — table is unreadable)" else ""))
            }
            dvFiles(targetDir, m).foreach { case (b, ref, file) =>
              if (!StoreFs.exists(file))
                report("error", "dangling_dv", s"v$v",
                  s"manifest advertises bucket $b's deletion vector in $ref but it is missing" +
                    (if (v == cur) " (CURRENT version — deleted rows would resurface)"
                     else ""))
            }
        }
      }
      // A85 commit chain: tampered bodies and severed lineage surface
      // in the one-stop audit ("unchained" legacy manifests stay out
      // of fsck — they are a fact, not a defect; verifyChain reports
      // them for callers who care about the boundary)
      verifyChain(targetDir).filter(_.kind != "unchained").foreach { i =>
        report("error", s"chain_${i.kind.replace('-', '_')}", s"v${i.version}",
          i.detail)
      }
      // clone pins: every version dir a pin lists must still exist
      clonePins(targetDir).foreach { case (pin, ref) =>
        if (!StoreFs.exists(s"$targetDir/$ref"))
          report("error", "stale_pin", pin, s"pin references missing dir $ref (pinned clone cannot read)")
      }
      val lock = s"$targetDir/_LOCK"
      if (StoreFs.exists(lock) &&
          StoreFs.mtimeMs(lock).exists(_ < System.currentTimeMillis() - staleMs))
        report("warn", "stale_lock", "_LOCK",
          "writer lease past its stale window (crashed writer)")
      // commit claims above the pointer past their stale window: a
      // publish that died mid-write (the next writer will break it)
      StoreFs.listFilePaths(s"$targetDir/$CommitsDir", ".claim").foreach { p =>
        val name = p.substring(p.lastIndexOf('/') + 1)
        val v = scala.util.Try(
          name.stripPrefix("v").stripSuffix(".claim").toLong).toOption
        if (v.exists(_ > cur) &&
            StoreFs.mtimeMs(p).exists(_ < System.currentTimeMillis() - staleMs))
          report("warn", "stale_claim", name,
            "commit claim past its stale window (crashed publish)")
      }
    }
    out.result().toDF("severity", "check", "subject", "detail")
  }

  /** DATA-level integrity audit (A60 — the scan-side complement of
    * the metadata-only [[fsck]]): ONE distributed pass over the
    * current snapshot verifying the two invariants every other
    * operator silently assumes and no read path re-checks:
    *
    *  - **routing**: every row sits in the bucket directory its PK
    *    hash says it should ([[bucketExpr]] vs the `_graft_bucket=N`
    *    segment of the file it was read from). A mis-routed row is
    *    invisible to [[readKeys]]/[[readPoint]] (they prune to the
    *    hash-computed bucket) and silently double-counts under a
    *    later merge — exactly the silent-wrong-answer class fsck
    *    hunts at the metadata level.
    *  - **PK uniqueness**: no primary key occurs twice in the
    *    DV-applied snapshot (the latest-per-PK merge guarantees it by
    *    construction; an interleaved torn publish breaks it).
    *
    * Cost is declared: one full scan + one hash agg keyed by PK
    * (shuffle ∝ distinct keys — the audit price, run it like
    * OPTIMIZE, not on the serving path). Reads are DV-applied, so a
    * MoR-deleted duplicate does not false-positive. Returns one row
    * per violation CLASS with a count and a bounded sample of
    * offending keys — never a row per violation (an audit of a
    * corrupted 100 TB table must not itself be 100 TB).
    */
  def auditData(spark: SparkSession, targetDir: String,
      pkCols: Seq[String], sampleKeys: Int = 5): Option[DataFrame] = {
    import spark.implicits._
    currentManifest(targetDir).map { m =>
      // what is on disk now, not a resolved scan of this version: the
      // audit looks for files that should not be there
      val all = m.buckets.keySet
      val snap = scanSegments(spark, targetDir, m, all, dvPositions(targetDir, m, all),
        positions = true)
      val withBucket = snap.withColumn("_read_bucket", fileBucket)
      val mis = withBucket
        .filter(bucketExpr(pkCols, m.numBuckets) =!= col("_read_bucket"))
        .select(concat_ws("|", pkCols.map(col): _*).as("k"))
      val dup = snap.groupBy(pkCols.map(col): _*)
        .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
        .select(concat_ws("|", pkCols.map(col): _*).as("k"))
      def cls(name: String, df: DataFrame, detail: String) = {
        val n = df.count()
        val sample =
          if (n == 0) "" else df.orderBy("k").limit(sampleKeys)
            .as[String].collect().mkString(",")
        (if (n == 0) "ok" else "error", name, n, sample, detail)
      }
      Seq(
        cls("misrouted_rows", mis,
          "rows outside the bucket their PK hashes to (invisible to pruned lookups)"),
        cls("duplicate_pks", dup,
          "primary keys with >1 live row in the snapshot")
      ).toDF("severity", "check", "violations", "sample_keys", "detail")
    }
  }

  /** Writer lease (A46) — opt-in mutual exclusion for a whole
    * multi-commit bracket: the commit claim (object doc) serializes
    * single commits, but a maintenance pass of several commits, or a
    * scheduler bug that double-fires a table's merge, deserves one
    * loud failure up front instead. `withWriterLease`
    * brackets any maintenance op in an exclusive `_LOCK` file
    * (atomic create-no-overwrite — the same primitive HDFS leases and
    * Delta's LogStore mutual exclusion build on): a second writer
    * throws [[WriterLockedException]] immediately; a lease left by a
    * crashed writer expires after `staleMs` (default 15 min — longer
    * than any sane publish, shorter than an ops page) and is broken
    * by the next caller. Reads never look at the lock. Token-checked
    * release: only the holder's bracket deletes its own lease.
    */
  final class WriterLockedException(msg: String) extends RuntimeException(msg)

  def withWriterLease[T](targetDir: String, staleMs: Long = 15L * 60 * 1000)
      (f: => T): T = {
    val lock = s"$targetDir/_LOCK"
    val token = java.util.UUID.randomUUID().toString
    def acquire(retry: Boolean): Unit =
      if (!StoreFs.createExclusive(lock, token)) {
        val stale = StoreFs.mtimeMs(lock)
          .exists(_ < System.currentTimeMillis() - staleMs)
        if (stale && retry) {
          StoreFs.deleteFile(lock) // break the crashed writer's lease
          acquire(retry = false)
        } else throw new WriterLockedException(
          s"another writer holds $lock" +
            (if (stale) " (stale, broken on next attempt)" else ""))
      }
    acquire(retry = true)
    try f
    finally if (scala.util.Try(StoreFs.readString(lock)).toOption.contains(token))
      StoreFs.deleteFile(lock)
  }

  /** DESCRIBE HISTORY (A45) — one row per still-readable version of
    * the target, newest first: which operation produced it
    * (bootstrap `publish`, incremental `merge`, `rebucket`,
    * `optimize`/`zorder`, predicate `delete`/`update`, `clone`/
    * `deep-clone`), its wall-clock commit time, and the
    * rewritten/carried bucket split (`rewritten` = buckets the version
    * wrote a segment to; the write-amplification record: a healthy
    * incremental target shows small `rewritten` counts on every
    * merge), and its live rows and bytes from the footers. Driver metadata only — reads the version
    * manifests, zero Spark jobs; versions older than the vacuum
    * window drop out, pre-metadata versions read with NULL op/time.
    * The Delta `DESCRIBE HISTORY` / Iceberg snapshots-table surface.
    */
  def describeHistory(spark: SparkSession, targetDir: String): Option[DataFrame] =
    currentVersion(targetDir).map { cur =>
      import spark.implicits._
      versionDirs(targetDir).filter(_ <= cur).reverse
        .flatMap { v =>
          manifest(targetDir, v).map { m =>
            val own = bucketsWrittenAt(m, s"v$v").size
            // snapshot size from parquet FOOTERS (A45, late r8): row/byte
            // totals over the version's segments, rows net of its
            // deletion vectors — driver metadata I/O, zero Spark jobs;
            // unreadable files degrade the version's stats to NULL,
            // never a guess
            val sized = for {
              (rows, bytes) <- footerBucketTotals(targetDir, m)
              dvRows <- footerDvRows(targetDir, m)
            } yield (rows - dvRows, bytes)
            (v, m.meta.get("op"), m.meta.get("commit_us").map(_.toLong),
              m.numBuckets, own, m.buckets.size - own, sized.map(_._1), sized.map(_._2))
          }
        }
        .toDF("version", "op", "commit_us", "num_buckets",
          "rewritten_buckets", "carried_buckets", "rows", "bytes")
    }

  /** Optimistic concurrency completion (A66 — the retry half of the
    * commit protocol; A52's claims DETECT the version race, this
    * SERIALIZES the loser): re-run `body` after a backoff whenever it
    * loses a commit claim. Correct by construction for every
    * snapshot-in/version-out operation this store exposes
    * (deleteWhere/updateWhere/optimize/merge/maintain): each reads
    * the CURRENT snapshot and publishes its successor, so a re-run
    * against the winner's committed state IS a serial execution
    * after the winner — no conflict matrix needed, because no op
    * here writes state derived from a stale read (the Delta
    * read-set/write-set check exists for engines that would
    * otherwise commit stale derivations; our loser recomputes from
    * scratch, paying its own delta-sized cost again instead).
    * Deliberately NOT a spin against a held writer LEASE (A46): a
    * lease signals a long maintenance bracket — callers decide;
    * claims signal a momentary commit race — retry is the answer.
    * Throws the last ConcurrentWriteException after `maxRetries`.
    */
  def retryOnConflict[T](maxRetries: Int = 5, backoffMs: Long = 50L)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(backoffMs * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** What [[maintain]] should do and when (A64). Every knob is the
    * trigger for one maintenance primitive; `None`/empty disables it.
    */
  final case class MaintenancePolicy(
      dvFoldPct: Option[Int] = Some(10),
      smallFilesPerBucket: Option[Int] = Some(4),
      sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      keepVersions: Option[Int] = Some(3),
      expireOlderThanUs: Option[Long] = None,
      /** Rebuild a column's bloom index (A54) once MORE than this
        * percentage of the current buckets lack a sidecar — delta
        * publishes and OPTIMIZE drop rewritten buckets' entries
        * (degrade-never-lie), so a store that merges nightly loses
        * point-lookup pruning bucket by bucket unless something
        * reindexes (r8 verdict #2). The check is driver metadata
        * only; the rebuild is [[buildBloomIndex]]'s one Spark pass.
        */
      bloomRebuildPct: Option[Int] = Some(30),
      bloomExpectedPerBucket: Long = 100000L,
      bloomFpp: Double = 0.01,
      /** Repair a column's NDV sketch index (A83) once MORE than this
        * percentage of the current buckets lack a sidecar — the same
        * degrade-then-heal discipline as `bloomRebuildPct`, priced ∝
        * the degraded buckets via the incremental [[buildNdvIndex]].
        */
      ndvRebuildPct: Option[Int] = Some(30),
      /** Regenerate the A74 symlink-format manifest at the END of the
        * pass (Delta's `symlinkFormatManifest.enabled` auto-mode), so
        * external engines track the table without a separate step.
        * Runs only when the final state is exportable — no deletion
        * vector, no unmaterialized defaults (the pass itself often
        * clears a DV via the fold step); otherwise skipped, reported
        * as None, and any PREVIOUS manifest is left in place (stale
        * but consistent — it lists a still-readable old version until
        * vacuum outruns it, which `keepVersions` ≥ 2 prevents within
        * one pass).
        */
      symlinkManifest: Boolean = false,
      /** Row-level TTL (A79 — the data-retention policy BigTable/HBase
        * serve natively and lakehouses run as scheduled DELETEs):
        * drop rows whose `ttlColumn` (a BIGINT epoch-µs column) is
        * older than `ttlMaxAgeUs` at pass time. Trigger gating is
        * FREE when the column carries manifest stats (A36): the pass
        * runs the delete only if some bucket's recorded minimum
        * predates the cutoff — a store with nothing expired skips
        * with zero Spark jobs; stat-less buckets check conservatively
        * (one column-pruned scan, which is what the delete pays
        * anyway). The delete itself is A41's copy-on-write path —
        * rewrites ∝ buckets holding expired rows.
        */
      ttlColumn: Option[String] = None,
      ttlMaxAgeUs: Option[Long] = None,
      /** Pass-time "now" for the TTL cutoff — injectable so tests and
        * replayed maintenance windows are deterministic; None = wall
        * clock.
        */
      ttlNowUs: Option[Long] = None)

  /** What [[maintain]] actually did. A fully-idle store yields the
    * all-empty report — calling maintain in a loop is free.
    */
  final case class MaintenanceReport(
      foldedDvVersion: Option[Long],
      optimizedBuckets: Set[Int], optimizeVersion: Option[Long],
      bloomRebuilt: Seq[String],
      expired: Seq[Long], vacuumed: Seq[Long],
      /** Files exported to the symlink manifest this pass (None =
        * auto-manifest off, or the state was not exportable).
        */
      manifestFiles: Option[Int] = None,
      /** (version, rows) of the TTL delete this pass (None = TTL off
        * or the stats pre-check proved nothing expired).
        */
      ttlDeleted: Option[(Long, Long)] = None,
      /** Columns whose NDV sketch index (A83) was incrementally
        * repaired this pass.
        */
      ndvRebuilt: Seq[String] = Nil)

  /** One-call maintenance driver (A64 — the scheduler slot every
    * lakehouse grows: Delta's auto-compaction + log retention,
    * Iceberg's maintenance actions — composed from the store's own
    * gated primitives, in the order that avoids wasted work):
    *
    *  0. TTL-delete rows past `ttlColumn`/`ttlMaxAgeUs` (A79 —
    *     manifest-stats trigger, free when nothing expired; rows
    *     dropped here never pay the passes below),
    *  1. fold the deletion vector when it crosses `dvFoldPct` of the
    *     table (A56 — footer stats, free check; folding first so the
    *     small-file pass sees the folded layout),
    *  2. OPTIMIZE exactly the buckets fragmented past
    *     `smallFilesPerBucket` files (A40; `sortCols` default = the
    *     PK — pure compaction when no better clustering is declared),
    *  3. rebuild any bloom index (A54) degraded past
    *     `bloomRebuildPct` missing sidecars — after the rewrites so
    *     the new filters cover the layout they produced,
    *  4. expire pre-horizon snapshots (A62), 5. vacuum to
    *     `keepVersions` (A21).
    *
    * The whole pass runs under the writer lease (A46) so it can never
    * race the pipeline's own publishes; each step is individually
    * idempotent and trigger-gated, so maintain on an idle store is a
    * metadata-only no-op (the report says exactly what fired).
    * Returns None when there is no store.
    */
  def maintain(spark: SparkSession, targetDir: String, pkCols: Seq[String],
      policy: MaintenancePolicy = MaintenancePolicy()): Option[MaintenanceReport] =
    currentVersion(targetDir).map { _ =>
      withWriterLease(targetDir) {
        // TTL delete FIRST (A79): rows dropped here never pay the
        // fold/compaction work below. The trigger is a manifest-stats
        // walk — free — and conservative where stats are unknown.
        val ttlDeleted = (policy.ttlColumn, policy.ttlMaxAgeUs) match {
          case (Some(c), Some(age)) =>
            val now = policy.ttlNowUs
              .getOrElse(System.currentTimeMillis() * 1000L)
            val cutoff = now - age
            val maybeExpired =
              currentManifest(targetDir)
                .forall(m => m.buckets.keys.exists { b =>
                  m.stats.get(b).flatMap(_.get(c)) match {
                    case Some((lo, _)) =>
                      scala.util.Try(BigDecimal(lo)).toOption
                        .forall(_ < BigDecimal(cutoff))
                    case None => true // unknown stats: must check
                  }
                })
            if (!maybeExpired) None
            else deleteWhere(spark, targetDir, pkCols, col(c) < lit(cutoff))
              .filter(_._2 > 0L)
          case _ => None
        }
        val folded = policy.dvFoldPct.flatMap { pct =>
          dvStats(targetDir).flatMap { case (dvRows, tableRows) =>
            if (tableRows > 0 && dvRows * 100 >= pct.toLong * tableRows)
              foldDv(spark, targetDir, pkCols, policy.sortCols)
            else None
          }
        }
        val frag: Set[Int] = policy.smallFilesPerBucket match {
          case None => Set.empty
          case Some(limit) =>
            (for {
              m <- currentManifest(targetDir).toSeq
              b <- m.buckets.keySet.toSeq
              if segmentDirs(targetDir, m, b)
                .map(StoreFs.listFilePaths(_, ".parquet").size).sum > limit
            } yield b).toSet
        }
        val optV =
          if (frag.isEmpty) None
          else optimize(spark, targetDir, pkCols,
            sortCols = if (policy.sortCols.nonEmpty) policy.sortCols else pkCols,
            maxRecordsPerFile = policy.maxRecordsPerFile,
            buckets = Some(frag))
        // bloom reindex AFTER fold/optimize so the fresh filters cover
        // the layout those rewrites just produced (indexing first
        // would drop the new entries again in the same pass). The
        // missing-fraction check is sidecar existence against the
        // CURRENT manifest — driver metadata I/O, zero Spark jobs.
        val bloomRebuilt: Seq[String] = policy.bloomRebuildPct match {
          case None => Nil
          case Some(pct) =>
            val degraded = for {
              m <- currentManifest(targetDir).toSeq
              key <- m.meta.keys.filter(_.startsWith(Bloom.prefix)).toSeq.sorted
              column = key.stripPrefix(Bloom.prefix)
              missing = m.buckets.keySet.filter(b =>
                !StoreFs.exists(Bloom.file(targetDir, m.meta(key), column, b)))
              if m.buckets.nonEmpty &&
                missing.size.toLong * 100 > pct.toLong * m.buckets.size
            } yield (column, missing)
            // incremental repair: scan ONLY the degraded buckets,
            // carry the surviving sidecars — heal I/O ∝ what degraded
            degraded.foreach { case (c, missing) =>
              buildBloomIndex(spark, targetDir, c,
                policy.bloomExpectedPerBucket, policy.bloomFpp,
                buckets = Some(missing))
            }
            degraded.map(_._1)
        }
        val ndvRebuilt: Seq[String] = policy.ndvRebuildPct match {
          case None => Nil
          case Some(pct) =>
            val degraded = for {
              m <- currentManifest(targetDir).toSeq
              key <- m.meta.keys.filter(_.startsWith(Ndv.prefix)).toSeq.sorted
              column = key.stripPrefix(Ndv.prefix)
              missing = m.buckets.keySet.filter(b =>
                !StoreFs.exists(Ndv.file(targetDir, m.meta(key), column, b)))
              if m.buckets.nonEmpty &&
                missing.size.toLong * 100 > pct.toLong * m.buckets.size
            } yield (column, missing)
            // one incremental repair pass covers ALL degraded columns
            // sharing a bucket scan when their missing sets coincide;
            // repairs stay per-column to keep each scan ∝ its own
            // degradation
            degraded.foreach { case (c, missing) =>
              buildNdvIndex(spark, targetDir, Seq(c), buckets = Some(missing))
            }
            degraded.map(_._1)
        }
        val expired = policy.expireOlderThanUs
          .map(expireSnapshots(targetDir, _)).getOrElse(Seq.empty)
        val vacuumed = policy.keepVersions
          .map(vacuum(targetDir, _)).getOrElse(Seq.empty)
        // auto-manifest LAST: it must describe the state this pass
        // leaves behind, and the fold step above may have just made
        // the table exportable
        val manifestFiles =
          if (!policy.symlinkManifest) None
          else currentManifest(targetDir)
            .filter(m => m.dvs.isEmpty && columnDefaults(m).isEmpty)
            .flatMap(_ => generateSymlinkManifest(targetDir).map(_.size))
        MaintenanceReport(folded, frag, optV, bloomRebuilt, expired, vacuumed,
          manifestFiles, ttlDeleted, ndvRebuilt)
      }
    }

  /** Per-file metadata listing (A80 — Iceberg's `table$files`
    * metadata table; the per-file granularity under A73's DESCRIBE
    * DETAIL totals): one row per LIVE data file of the current
    * snapshot — bucket, owning version ref (how many generations the
    * file has been carried), absolute path, footer row count, bytes.
    * The ops surface for small-file diagnosis ("which buckets
    * fragment"), carry-age auditing, and external inventory. Driver
    * metadata + parquet footers only, zero Spark jobs — the same
    * honesty discipline as fastCount: counts come from footers, not
    * a scan, and a deletion vector means footer rows OVERCOUNT live
    * rows, so the listing refuses (fold first) rather than lie.
    */
  def describeFiles(spark: SparkSession, targetDir: String): Option[DataFrame] =
    currentManifest(targetDir).map { m =>
      import spark.implicits._
      require(m.dvs.isEmpty,
        "describeFiles counts footer rows; a deletion vector is " +
          "outstanding and live rows would overcount — fold it first " +
          "(foldDv / maintain)")
      manifestBuckets(targetDir, m).flatMap { case (b, ref, dir) =>
        StoreFs.footerPerFile(dir).sortBy(_._1).map { case (f, r, by) => (b, ref, f, r, by) }
      }.toDF("bucket", "version_ref", "file", "rows", "bytes")
    }

  /** Schema history (A63 — the schema-evolution audit DESCRIBE
    * HISTORY doesn't give: WHAT changed shape, when): one row per
    * still-readable version × field, each tagged `added` /
    * `type_changed` / `kept` against the previous readable version,
    * plus a `dropped` row (carrying the old type) for fields that
    * vanished — so "when did column X appear/disappear/retype" is one
    * filter, and a reader pinned to an old schema can see exactly
    * which versions still serve it. RENAME surfaces as its honest
    * drop+add pair (the store deliberately has no name-mapping layer
    * — A49). Driver metadata only: manifests' pinned schemas, zero
    * Spark jobs; versions without a readable manifest are skipped
    * (fsck reports them).
    */
  def describeSchemaHistory(spark: SparkSession,
      targetDir: String): Option[DataFrame] =
    currentVersion(targetDir).map { cur =>
      import spark.implicits._
      val versions = versionDirs(targetDir).filter(_ <= cur)
      val schemas = versions.flatMap(v =>
        manifest(targetDir, v).map(m =>
          v -> m.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap))
      val rows = Seq.newBuilder[(Long, String, String, String)]
      schemas.zipWithIndex.foreach { case ((v, cols), i) =>
        val prev = if (i == 0) Map.empty[String, String] else schemas(i - 1)._2
        cols.toSeq.sortBy(_._1).foreach { case (name, tpe) =>
          val change = prev.get(name) match {
            case None if i == 0 => "initial"
            case None => "added"
            case Some(`tpe`) => "kept"
            case Some(_) => "type_changed"
          }
          rows += ((v, name, tpe, change))
        }
        prev.toSeq.sortBy(_._1).foreach { case (name, tpe) =>
          if (!cols.contains(name)) rows += ((v, name, tpe, "dropped"))
        }
      }
      rows.result().toDF("version", "field", "type", "change")
    }

  /** Garbage-collect version directories no longer reachable: a
    * version dir is LIVE iff it is the current version, one of the
    * `keepVersions` most recent (time-travel/reader grace window), or
    * named by a kept manifest — as a segment of some bucket or as a
    * bucket's deletion vector (a carried segment keeps its old
    * version dir alive indefinitely — reference counting is the
    * manifest itself). The reference's MERGE mutates in place and
    * needs no GC; an immutable-file target does — this is the VACUUM
    * analogue, and without it every delta run leaks the superseded
    * copies of its touched buckets forever. Deleting only
    * UNreferenced dirs means a concurrent reader of the current (or
    * any kept) version is never broken. Returns the deleted version
    * numbers.
    */
  def vacuum(targetDir: String, keepVersions: Int = 2): Seq[Long] = {
    val cur = currentVersion(targetDir).getOrElse(return Nil)
    // every kept version must stay fully READABLE, so its manifest's
    // carried-bucket references are live too, not just its own dir;
    // version dirs pinned by registered shallow clones stay live until
    // the pin is dropped (clone references are reads from ANOTHER
    // store this vacuum cannot see — the pin file is how they count).
    // keepVersions is clamped to ≥1: the CURRENT version is never
    // reclaimable, so a non-positive window would contradict the
    // invariant the liveness walk enforces (r8 ADVICE).
    val keep = math.max(1, keepVersions)
    val keptVersions = (math.max(0L, cur - keep + 1) to cur).toSeq
    reclaimExcept(targetDir, cur, keptVersions)
  }

  /** Time-based snapshot expiration (A62 — Iceberg
    * `expire_snapshots(older_than)` / Delta's
    * `delta.logRetentionDuration` on the bucketed store): retire every
    * version whose recorded wall-clock commit time is strictly before
    * `olderThanUs`, keeping the CURRENT version unconditionally. The
    * count-based [[vacuum]] answers "how many readers might lag";
    * this answers the ops question "keep no more history than N
    * days" — both share the same reference-counted reclaim, so a
    * version DIR carried by a kept manifest or pinned by a clone
    * survives either policy: the reclaim never tears data a kept
    * version reads (and an expired version whose dir survives by
    * reference stays time-travelable — this bounds STORAGE and the
    * version list, it is not a data-erasure tool; that's
    * deleteWhere/Erasure). Conservative on missing evidence: a
    * version with no
    * parseable manifest or no `commit_us` meta (pre-A45 publishes) is
    * KEPT — expiring on absent evidence would delete data a reader
    * may still reach. Returns the reclaimed version numbers.
    */
  def expireSnapshots(targetDir: String, olderThanUs: Long): Seq[Long] = {
    val cur = currentVersion(targetDir).getOrElse(return Nil)
    val versions = versionDirs(targetDir).filter(_ <= cur)
    val kept = versions.filter { v =>
      v == cur || manifest(targetDir, v)
        .flatMap(_.meta.get("commit_us")).map(_.toLong)
        .forall(_ >= olderThanUs)
    }
    reclaimExcept(targetDir, cur, kept)
  }

  /** VACUUM DRY RUN (A68 — Delta's `VACUUM … DRY RUN` safety
    * surface): exactly the versions the same-parameter [[vacuum]]
    * would reclaim, with the bytes each would free — computed by the
    * IDENTICAL liveness walk (kept window + carried-bucket references
    * + clone pins), so the preview can never disagree with the
    * delete; nothing is touched. Driver metadata I/O only (manifests
    * + one content summary per doomed dir, zero Spark jobs) — the
    * "what would this reclaim, and is it about to eat something
    * big?" check an operator runs before GC'ing a 100 TB store.
    * Returns (version, bytes) sorted by version.
    */
  def vacuumPreview(targetDir: String, keepVersions: Int = 2): Seq[(Long, Long)] = {
    val cur = currentVersion(targetDir).getOrElse(return Nil)
    // same ≥1 clamp as vacuum — the preview must NEVER list a version
    // the delete would refuse to touch (the current one).
    val keep = math.max(1, keepVersions)
    val keptVersions = (math.max(0L, cur - keep + 1) to cur).toSeq
    reclaimable(targetDir, cur, keptVersions)
      .map(d => (d.stripPrefix("v").toLong, StoreFs.treeBytes(s"$targetDir/$d")))
      .sortBy(_._1)
  }

  /** Shared liveness walk of [[vacuum]]/[[expireSnapshots]]/
    * [[vacuumPreview]]: every version dir at or below the pointer
    * that is neither in `keptVersions`, nor named by a kept
    * manifest's segments or deletion vectors, nor listed by a
    * registered clone pin. Pure — the reclaimers delete what this returns, the
    * dry run only reports it.
    */
  private def reclaimable(targetDir: String, cur: Long,
      keptVersions: Seq[Long]): Seq[String] = {
    // tagged versions (A78) are named state: they and their carried
    // bucket references stay live — a tag must stay READABLE, not
    // merely listed — until dropTag
    val live: Set[String] =
      (keptVersions ++ taggedVersions(targetDir)).flatMap(v =>
        manifest(targetDir, v).fold(Set.empty[String])(manifestRefs) + s"v$v").toSet ++
        clonePins(targetDir).map(_._2)
    // never touch versions ABOVE the pointer: v{cur+1} may be an
    // in-flight publish that hasn't swapped the pointer yet
    versionDirs(targetDir).filter(_ <= cur).map(v => s"v$v").filterNot(live)
  }

  /** Shared reclaim core of [[vacuum]]/[[expireSnapshots]]: delete
    * what [[reclaimable]] lists.
    */
  private def reclaimExcept(targetDir: String, cur: Long,
      keptVersions: Seq[Long]): Seq[Long] = {
    val doomed = reclaimable(targetDir, cur, keptVersions)
    doomed.foreach(d => StoreFs.deleteRecursive(s"$targetDir/$d"))
    doomed.map(_.stripPrefix("v").toLong).sorted
  }

  private val ClonesDir = "_clones"

  /** (pin name, version dir) of every clone pin registered at `storeDir`. */
  private def clonePins(storeDir: String): Seq[(String, String)] =
    StoreFs.listFilePaths(s"$storeDir/$ClonesDir", "").flatMap { p =>
      StoreFs.readString(p).split("\n").filter(_.matches("v\\d+"))
        .map(p.substring(p.lastIndexOf('/') + 1) -> _)
    }

  private def clonePinToken(destDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(destDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Snapshot CLONE (the lakehouse zero-copy-clone pattern — Delta
    * `CLONE`, Iceberg snapshot ref — on the bucketed store). Shallow
    * (default): the clone is ONE manifest write — its bucket entries
    * point at the source's version directories by absolute path, so
    * cloning a 100 TB target moves zero data bytes; the clone then
    * lives its own life (delta publishes rewrite its touched buckets
    * locally and keep carrying the rest). A pin file registered under
    * the source (`_clones/<token>`) lists the referenced version dirs
    * and the source's `vacuum` keeps them alive until [[dropClonePin]]
    * — without it a source GC would tear files out from under the
    * clone. Deep: bucket dirs are copied (bytes ∝ snapshot) and no
    * pin is needed. Stats, schema, and bucket count carry either way
    * (the content is identical, so the data-skipping index stays
    * exact). Cloning a clone re-uses its absolute references as-is
    * AND writes its own pin at every store those references resolve
    * into (r8, ADVICE r7): each clone's survival depends only on its
    * OWN pins, so dropping an intermediate clone's pin never exposes
    * a grand-clone to the original source's vacuum.
    * Refuses an existing dest. Returns the clone's version (0), None
    * when the source has no store (or no manifest at `atVersion`).
    */
  def cloneSnapshot(sourceDir: String, destDir: String,
      deep: Boolean = false, atVersion: Option[Long] = None): Option[Long] = {
    require(!StoreFs.exists(s"$destDir/$VersionFile"),
      s"clone destination already holds a store: $destDir")
    atVersion.fold(currentManifest(sourceDir))(committedManifest(sourceDir, _)).map { m =>
      // a clone's version timeline restarts at v0, so the source's
      // "declaration version vs bucket-ref version" comparison that
      // resolves initial defaults (A57) becomes meaningless across
      // the boundary — refuse until a rewrite (OPTIMIZE over all
      // buckets / rebucket) has materialized the defaults into files
      require(columnDefaults(m).isEmpty,
        s"cannot clone a store with unmaterialized column defaults " +
          s"(${columnDefaults(m).map(_._1).mkString(",")}): OPTIMIZE first")
      // the commit carries every segment and every deletion vector as
      // an absolute reference into the source (a shallow clone pins
      // them all below), and COPIES the index sidecars into the clone's
      // own v0; a deep clone copies segments and vectors into v0
      commit(destDir, -1L, Some(m), if (deep) "deep-clone" else "clone",
        fromDir = Some(sourceDir)) { _ =>
        if (deep) {
          manifestBuckets(sourceDir, m).foreach { case (b, _, dir) =>
            StoreFs.copyFilesInto(dir, bucketDir(s"$destDir/v0", b))
          }
          m.dvs.keySet.foreach(b => writeDv(s"$destDir/v0", b, dvPositions(sourceDir, m, Set(b))))
        } else {
          // every store this clone's references resolve into gets a pin
          // keyed by THIS clone: source-local refs pin at sourceDir,
          // inherited absolute refs (cloning a clone) pin at the store
          // that owns them — so each clone stands on its own pins and
          // dropClonePin on an intermediate clone can never tear files
          // out from under a grand-clone (ADVICE r7)
          manifestRefs(m).toSeq.map(versionRoot(sourceDir, _))
            .groupBy(abs => abs.substring(0, abs.lastIndexOf('/')))
            .foreach { case (store, roots) =>
              val names = roots.map(r => r.substring(r.lastIndexOf('/') + 1)).distinct.sorted
              StoreFs.writeString(s"$store/$ClonesDir/${clonePinToken(destDir)}",
                names.mkString("\n"))
            }
        }
        Edit()
      }
    }
  }

  /** CREATE TABLE LIKE (A81 — Delta's schema-only clone): a NEW empty
    * store carrying the source's SHAPE — schema, bucket count, CHECK
    * constraints, virtual generated columns, table properties — but
    * none of its data, history, or pins. One manifest write; the
    * first merge into it is an ordinary bootstrap-sized publish and
    * is already constraint-gated by the carried declarations. NOT
    * carried, by design: column DEFAULTS (their declaration-version
    * semantics compare against data versions that don't exist here —
    * same refusal reasoning as cloneSnapshot, but an empty table can
    * simply drop them: there are no pre-declaration rows to read),
    * stats, DV and index sidecars (no data — a bloom/NDV declaration
    * carries with zero sidecars, so [[maintain]] builds the index once
    * data lands), and the identity high-water (a new table allocates
    * from its seed). Refuses an existing dest.
    */
  def createLike(sourceDir: String, destDir: String): Option[Long] = {
    require(!StoreFs.exists(s"$destDir/$VersionFile"),
      s"createLike destination already holds a store: $destDir")
    currentManifest(sourceDir).map { m =>
      // every bucket "rewritten" to empty: no data, stats, DV or index
      // sidecars carry — only the declarations
      commit(destDir, -1L, Some(m), "create-like", fromDir = Some(sourceDir)) { _ =>
        Edit(rewritten = m.buckets.keySet, set = Map("like_of" -> sourceDir))
      }
    }
  }

  /** Finish a STAGED publish (A55): point the table at `version` iff
    * it is still ahead of the pointer — idempotent (recovery replays
    * call it again) and regression-proof (a table that somehow moved
    * past the staged version is left alone). Returns whether the
    * pointer moved.
    */
  private[graft] def completeStaged(targetDir: String, version: Long,
      batchId: Long): Boolean = {
    val advance = currentVersion(targetDir).forall(_ < version) &&
      manifest(targetDir, version).nonEmpty
    if (advance) swapPointer(targetDir, version, batchId)
    else releaseClaim(targetDir, version)
    advance
  }

  /** Throw away a STAGED publish before commit: release the commit
    * claim and delete the invisible version dir. Safe — the pointer
    * never referenced it.
    */
  private[graft] def abortStaged(targetDir: String, version: Long): Unit = {
    releaseClaim(targetDir, version)
    StoreFs.deleteRecursive(s"$targetDir/v$version")
    ()
  }

  /** Release ONE clone's hold on ONE store's version dirs — call per
    * (store, clone) pair when that clone is deleted or has rewritten
    * every bucket it borrowed from that store. The next `vacuum`
    * there may then reclaim them. Safe with nested clones: every
    * clone pins the stores it references under its own token
    * (cloneSnapshot), so dropping this clone's pin never affects a
    * grand-clone's — a clone of a clone keeps reading after its
    * parent's pins are dropped.
    */
  def dropClonePin(sourceDir: String, destDir: String): Boolean =
    StoreFs.deleteFile(s"$sourceDir/$ClonesDir/${clonePinToken(destDir)}")

  /** RESTORE (A47) — Delta `RESTORE TABLE … TO VERSION AS OF v` on
    * the bucketed store: roll the table back to an earlier committed
    * state by publishing a NEW version whose manifest carries the old
    * version's bucket references — roll-FORWARD semantics. No data
    * bytes move (the restore is one manifest write, like a shallow
    * clone of one's own past), history is preserved (the bad versions
    * stay readable for forensics until vacuum), time travel keeps
    * working, and `snapshotDiff(bad, restored)` is exactly the
    * inverse of the mistake being undone. The restored version's
    * bucket count and schema are the OLD ones — a restore across a
    * rebucket or schema evolution reverts those too, matching Delta.
    *
    * Refuses (None) when the target has no such version or any
    * referenced bucket dir has been vacuumed — a partial restore
    * would silently serve a torn table. Restoring the current version
    * is a committed no-op marker (still publishes, so the intent is
    * in the history). Returns the NEW version number.
    */
  def restoreSnapshot(targetDir: String, version: Long): Option[Long] =
    committedManifest(targetDir, version).flatMap { m =>
      // every segment and every deletion vector must survive
      val refs = manifestBuckets(targetDir, m).map(_._3) ++
        dvFiles(targetDir, m).map(_._3)
      if (!refs.forall(StoreFs.exists)) None // vacuumed out from under us
      else {
        // restore derives from an OLD manifest by design; its base is
        // the CURRENT pointer (A66 claim-then-check). Declarations
        // restore WITH the state: the rolled-back version's constraint
        // set (not the abandoned head's) is what its data provably
        // satisfies
        Some(commit(targetDir, currentVersion(targetDir).get, Some(m), "restore") { _ =>
          Edit(set = Map("restore_of" -> version.toString))
        })
      }
    }

  // ==== A78: named refs — tags, branches, write-audit-publish ====

  private val RefsDir = "_refs"
  private def tagPath(targetDir: String, name: String): String =
    s"$targetDir/$RefsDir/tag.${statEnc(name)}"
  private def branchRefPath(targetDir: String, name: String): String =
    s"$targetDir/$RefsDir/branch.${statEnc(name)}"
  private val UpstreamFile = "_upstream"

  /** TAG (A78 — Iceberg `CREATE TAG` / Delta's named-version idiom):
    * give a committed version a durable NAME. A tag is one ref file
    * (`_refs/tag.<name>` → version) taken with atomic
    * create-no-overwrite, so concurrent same-name taggers race
    * safely; duplicates refuse loudly. The load-bearing part is GC
    * integration: [[vacuum]]/[[expireSnapshots]]/[[vacuumPreview]]
    * share ONE liveness walk ([[reclaimable]]) and that walk counts
    * every tagged version AND its carried bucket references live — a
    * tagged version stays fully READABLE (not merely listed) until
    * [[dropTag]], which is what makes tags usable as audit pins and
    * reproducible-training-run anchors on a store that GCs nightly.
    * Returns the tagged version; None when the store (or requested
    * version) has no manifest.
    */
  def createTag(targetDir: String, name: String,
      version: Option[Long] = None): Option[Long] = {
    val v = version.fold(currentManifest(targetDir))(committedManifest(targetDir, _))
      .getOrElse(return None).readVersion
    require(StoreFs.createExclusive(tagPath(targetDir, name), v.toString),
      s"tag '$name' already exists on $targetDir")
    Some(v)
  }

  def tagVersion(targetDir: String, name: String): Option[Long] = {
    val p = tagPath(targetDir, name)
    if (StoreFs.exists(p))
      scala.util.Try(StoreFs.readString(p).trim.toLong).toOption
    else None
  }

  def dropTag(targetDir: String, name: String): Boolean =
    StoreFs.deleteFile(tagPath(targetDir, name))

  /** Time travel by NAME: `readSnapshotAt` the tagged version. */
  def readSnapshotAtTag(spark: SparkSession, targetDir: String,
      name: String): Option[DataFrame] =
    tagVersion(targetDir, name).flatMap(readSnapshotAt(spark, targetDir, _))

  /** All named refs on a store: ("tag", name, "v<N>") and
    * ("branch", name, branchDir), name-sorted within kind.
    */
  def listRefs(targetDir: String): Seq[(String, String, String)] =
    StoreFs.listFilePaths(s"$targetDir/$RefsDir", "").flatMap { p =>
      val f = p.substring(p.lastIndexOf('/') + 1)
      f.split("\\.", 2) match {
        case Array("tag", enc) =>
          Some(("tag", statDec(enc), s"v${StoreFs.readString(p).trim}"))
        case Array("branch", enc) =>
          Some(("branch", statDec(enc), StoreFs.readString(p).split("\n")(0)))
        case _ => None
      }
    }.sortBy(r => (r._1, r._2))

  /** Versions pinned by tags — shared with [[reclaimable]] so every
    * GC policy honors them.
    */
  private def taggedVersions(targetDir: String): Seq[Long] =
    StoreFs.listFilePaths(s"$targetDir/$RefsDir", "")
      .filter(p => p.substring(p.lastIndexOf('/') + 1).startsWith("tag."))
      .flatMap(p => scala.util.Try(StoreFs.readString(p).trim.toLong).toOption)

  /** BRANCH (A78 — Iceberg branch refs; the isolation half of
    * write-audit-publish): fork the store's current state into its
    * own writable lineage. The fork is a shallow [[cloneSnapshot]]
    * (ONE manifest write, zero data bytes, pins keep the source's
    * vacuum honest), plus two records: the source-side ref
    * (`_refs/branch.<name>` → branchDir + fork version, atomic
    * create so duplicate names refuse) and the branch-side
    * `_upstream` file ([[publishBranch]]'s fast-forward contract).
    * The branch is a full store — every operator (MERGE, DELETE,
    * expectations, OPTIMIZE, audits) works on it unchanged; that is
    * the A of WAP. Returns the fork version.
    */
  def createBranch(sourceDir: String, branchDir: String,
      name: String): Option[Long] = {
    val forkV = currentVersion(sourceDir).getOrElse(return None)
    require(StoreFs.createExclusive(branchRefPath(sourceDir, name),
      s"$branchDir\n$forkV"),
      s"branch '$name' already exists on $sourceDir")
    cloneSnapshot(sourceDir, branchDir) match {
      case Some(_) =>
        StoreFs.writeString(s"$branchDir/$UpstreamFile", s"$sourceDir\n$forkV")
        Some(forkV)
      case None =>
        StoreFs.deleteFile(branchRefPath(sourceDir, name))
        None
    }
  }

  /** (upstream dir, fork version) recorded at [[createBranch]]. */
  def branchUpstream(branchDir: String): Option[(String, Long)] = {
    val p = s"$branchDir/$UpstreamFile"
    if (!StoreFs.exists(p)) None
    else {
      val t = StoreFs.readString(p).split("\n")
      Some((t(0), t(1).trim.toLong))
    }
  }

  /** PUBLISH a branch back to its upstream — the P of
    * write-audit-publish, fast-forward-only (the Iceberg
    * `fast_forward` procedure's semantics): iff the upstream pointer
    * still sits at the fork version, commit the branch's CURRENT
    * state there as ONE new version; if any commit landed upstream
    * since the fork, throw [[ConcurrentWriteException]] — silently
    * merging divergent lineages is exactly the lost update A66
    * exists to kill (re-branch and replay instead). Cost discipline:
    * buckets the branch never rewrote still reference the upstream's
    * OWN version dirs (rewired from the clone's absolute refs back
    * to relative — zero bytes); buckets the branch wrote are COPIED
    * into the new upstream version dir (bytes ∝ branch delta, and
    * the upstream never depends on the branch's directory — the pin
    * direction stays branch→source, so dropping the branch after
    * publish is always safe). DV and index sidecars are copied the
    * same way; constraints/virtual columns/properties carry from the
    * BRANCH (the audited state is what publishes). The upstream
    * commit goes through [[commit]] like every other publish, so it
    * is claim-checked against `forkV`. Returns the new upstream
    * version.
    */
  def publishBranch(branchDir: String): Option[Long] = {
    val (sourceDir, forkV) = branchUpstream(branchDir).getOrElse(return None)
    val cur = currentVersion(sourceDir).getOrElse(return None)
    if (cur != forkV)
      throw new ConcurrentWriteException(
        s"upstream $sourceDir moved to v$cur since the branch forked at " +
          s"v$forkV: fast-forward refused — re-branch from the new head " +
          "and replay")
    currentManifest(branchDir).map { bm =>
      require(columnDefaults(bm).isEmpty,
        "cannot fast-forward a branch with unmaterialized column defaults" +
          ": OPTIMIZE the branch first")
      commit(sourceDir, cur, Some(bm), "branch-publish", fromDir = Some(branchDir)) { next =>
        // segments and vector files the branch wrote are copied into
        // v<next> (∝ branch delta; a bucket's branch files land in one
        // dir and one vector file); the commit rewires the rest back to
        // the upstream's own dirs
        val upstream = (ref: String) => localRef(sourceDir, versionRoot(branchDir, ref))
        val regrown = bm.buckets.collect { case (b, segs) if segs.exists(upstream(_).isEmpty) =>
          segs.filter(upstream(_).isEmpty).foreach(ref =>
            StoreFs.copyFilesInto(bucketDir(versionRoot(branchDir, ref), b),
              bucketDir(s"$sourceDir/v$next", b)))
          b -> (segs.flatMap(upstream) :+ s"v$next")
        }
        val branchDvs = dvFiles(branchDir, bm).filter(f => upstream(f._2).isEmpty).groupBy(_._1)
        branchDvs.foreach { case (b, files) =>
          writeDv(s"$sourceDir/v$next", b, files.flatMap(f => StoreFs.readPositions(f._3))
            .groupMap(_._1)(_._2).map { case (f, ps) => f -> ps.toArray })
        }
        val redv = branchDvs.keySet.map(b =>
          b -> (dvFiles(branchDir, bm).filter(_._1 == b).map(_._2).flatMap(upstream) :+ s"v$next")
        ).toMap
        Edit(set = Map("branch_of" -> branchDir), segments = regrown, dvs = redv)
      }
    }
  }

  /** Drop a branch ref: removes the source-side name and the
    * branch's clone pins on the source (the branch directory itself
    * is the caller's to delete — it may still be wanted as a plain
    * store). After an unpublished drop the next source vacuum may
    * reclaim what only the branch was keeping alive.
    */
  def dropBranch(sourceDir: String, name: String): Boolean = {
    val p = branchRefPath(sourceDir, name)
    if (!StoreFs.exists(p)) false
    else {
      val branchDir = StoreFs.readString(p).split("\n")(0)
      dropClonePin(sourceDir, branchDir)
      StoreFs.deleteFile(p)
    }
  }

  private[graft] final case class MergeOutcome(version: Long, updated: Long)

  /** What a compacted change set holds, from one aggregation
    * ([[summarize]]): its upsert and delete counts, and for each
    * bucket count of the stores it will be merged into, the buckets
    * its keys hash to (at most that many ids each).
    */
  private[graft] final case class ChangeSummary(upserts: Long, deletes: Long,
      bucketsByCount: Map[Int, Set[Int]]) {
    def rows: Long = upserts + deletes

    /** The buckets of `storeDir` (currently `numBuckets` wide) these
      * changes touch. A count the summary lacks means the store was
      * rebucketed after the summary was taken: refused as a stale
      * base, like any commit that lost a race.
      */
    def touched(storeDir: String, numBuckets: Int): Set[Int] =
      bucketsByCount.getOrElse(numBuckets, throw new ConcurrentWriteException(
        s"$storeDir now has $numBuckets buckets, but its changes were summarized " +
          s"for ${bucketsByCount.keys.toSeq.sorted.mkString("[", ", ", "]")}: " +
          "the store was rebucketed meanwhile; summarize again and retry"))
  }

  /** One pass over compacted `changes`: the op split and the touched
    * buckets of the target and, when SCD2 is declared and its open
    * store exists, of that store. The bucket counts come from their
    * current manifests (driver reads). [[mergeAndPublish]] and
    * `Scd2Store.maintain` take the result instead of computing their
    * bucket sets again.
    */
  private[graft] def summarize(cfg: CdcTableConfig, changes: DataFrame): ChangeSummary = {
    def bucketCount(dir: String): Option[Int] = currentManifest(dir).map(_.numBuckets)
    val counts = (bucketCount(cfg.targetPath).toSeq ++
      cfg.scd2.flatMap(_ => bucketCount(Scd2Store.openPath(cfg)))).distinct
    val op = if (changes.columns.contains(CdcEnvelope.OpCol)) col(CdcEnvelope.OpCol)
      else lit(CdcEnvelope.Upsert)
    val row = changes.agg(count(when(op =!= CdcEnvelope.Delete, 1)),
      count(when(op === CdcEnvelope.Delete, 1)) +:
        counts.map(nb => collect_set(bucketExpr(cfg.pk, nb))): _*).collect()(0)
    ChangeSummary(row.getLong(0), row.getLong(1),
      counts.zipWithIndex.map { case (nb, i) => nb -> row.getSeq[Int](i + 2).toSet }.toMap)
  }

  /** A71: CHECK constraints gate the rows a merge of `changes` into
    * cfg's target (currently at manifest `m`) INTRODUCES — upserts
    * only, deletes carry no payload. Delta-sized by induction; zero
    * jobs when none are declared. Throws
    * [[ConstraintViolationException]] before anything is written.
    */
  private def gateConstraints(cfg: CdcTableConfig, changes: DataFrame, m: Manifest): Unit =
    if (constraintsOf(m).nonEmpty)
      enforceConstraints(m,
        (if (changes.columns.contains(CdcEnvelope.OpCol))
          changes.filter(col(CdcEnvelope.OpCol) =!= CdcEnvelope.Delete)
        else changes).select(cfg.targetCols.filter(changes.columns.contains).map(col): _*),
        cfg.targetPath)

  /** Merge compacted `changes` into cfg's target and publish the next
    * version — the merge step of [[apply]], which has already run
    * [[gateConstraints]] on the same base (`gated`). With a bucketed
    * target this is one merge-on-read [[rewriteBuckets]] over the
    * buckets the delta touches, taken from `summary` (the [[summarize]]
    * of `changes`), which refuses with [[ConcurrentWriteException]]
    * when the target's bucket count is not one it was taken for: the
    * upserts become a new segment of their buckets and the stored rows
    * of every changed key join its bucket's deletion vector, so the
    * target is never shuffled or rewritten. The summary's row count
    * picks the key-set join strategy (a typical small delta
    * broadcasts) and the fold policy. The records_updated split —
    * upsert PKs already present in the pre-merge target, the reference
    * MERGE's matched-update count (merge.sql:520–534) — is the
    * replaced-row count of the same pass.
    */
  private[graft] def mergeAndPublish(spark: SparkSession, cfg: CdcTableConfig,
      changes: DataFrame, summary: ChangeSummary, batchId: Long = -1L,
      swapNow: Boolean = true, gated: Boolean = false): MergeOutcome =
    currentManifest(cfg.targetPath) match {
      case None =>
        val merged = SnapshotMerge.fromHistory(changes, cfg.pk, cfg.targetCols)
        MergeOutcome(publish(merged, cfg.targetPath, cfg.pk, batchId, cfg.numBuckets,
          cfg.statsCols, swapNow = swapNow), 0L)
      case Some(m) =>
        if (!gated) gateConstraints(cfg, changes, m)
        // config evolution: a target column declared after the stored
        // snapshot was written (the reference picks up upstream column
        // adds by re-reading INFORMATION_SCHEMA every run —
        // merge.sql:179–219) is simply in the new segment: the
        // published schema widens and older segments read it as NULL
        val w = rewriteBuckets(spark, cfg.targetPath, cfg.pk, m,
            summary.touched(cfg.targetPath, m.numBuckets), batchId = batchId,
            statsCols = cfg.statsCols, swapNow = swapNow, deltaRows = Some(summary.rows)) { _ =>
          val isDelete = col(CdcEnvelope.OpCol) === lit(CdcEnvelope.Delete)
          KeyedDelta.Upserts(changes.filter(!isDelete).select(cfg.targetCols.map(col): _*),
            Some(changes.filter(isDelete).select(cfg.pk.map(col): _*)))
        }
        MergeOutcome(w.version, w.replaced)
    }

  /** Apply cfg's write-time expectations ([[Expectations]], A39) to a
    * projected change window/micro-batch: gates the UPSERT rows
    * before anything downstream sees them — the returned clean set
    * (plus the ungated deletes: they carry only the PK, so payload
    * predicates would read NULL and quarantine every retraction)
    * feeds the merge, the rollups AND the SCD2 history identically,
    * so a quarantined row can never leak into any maintained surface.
    * Quarantined rows persist under `_quarantine/w=<windowKey>`
    * (overwrite-idempotent per window). Throws
    * [[Expectations.ExpectationFailedException]] when a Fail-actioned
    * expectation is violated, BEFORE any write. Returns the gated
    * frame and the quarantined-row count; identity when no
    * expectations are declared.
    */
  private[graft] def gateExpectations(projected: DataFrame, cfg: CdcTableConfig,
      windowKey: Long): (DataFrame, Long) =
    if (cfg.expectations.isEmpty) (projected, 0L)
    else {
      val ups = projected.filter(col(CdcEnvelope.OpCol) =!= CdcEnvelope.Delete)
      val dels = projected.filter(col(CdcEnvelope.OpCol) === CdcEnvelope.Delete)
      Expectations.check(ups, cfg.expectations, s"${cfg.targetDb}.${cfg.targetTable}")
      val sp = Expectations.split(ups, cfg.expectations)
      (sp.clean.unionByName(dels), writeQuarantine(sp.quarantined, cfg, windowKey))
    }

  /** Root of the target's quarantine area: one directory per merge
    * window, named `w=<windowEndUs>` so partition discovery surfaces
    * the window as a `w` column on read. The `_quarantine` prefix
    * keeps it invisible to the target's `v\d+` version maintenance
    * (like `_rollups`/`_clones`).
    */
  def quarantinePath(cfg: CdcTableConfig): String =
    s"${cfg.targetPath}/_quarantine"

  /** Persist a window's quarantined rows (with their
    * [[Expectations.ViolationsCol]] diagnosis) under the target —
    * overwrite of THIS window's directory, so a crash-replay of the
    * window rewrites rather than duplicates (the same idempotence
    * contract the merge itself has). Empty quarantine writes nothing.
    * Returns the diverted row count.
    */
  private def writeQuarantine(quarantined: DataFrame, cfg: CdcTableConfig,
      windowEndUs: Long): Long = {
    val n = quarantined.count()
    if (n > 0)
      quarantined.write.mode(SaveMode.Overwrite)
        .parquet(s"${quarantinePath(cfg)}/w=$windowEndUs")
    n
  }

  /** Every quarantined row across all windows (None before the first
    * non-empty quarantine): the input columns as they entered the
    * gate, the violated-expectation names, and the discovered `w`
    * window column — the debugging/backfill view: fix upstream,
    * re-inject the rows, delete the window directory.
    */
  def readQuarantine(spark: SparkSession, cfg: CdcTableConfig): Option[DataFrame] = {
    val root = quarantinePath(cfg)
    if (StoreFs.listDirNames(root).exists(_.startsWith("w=")))
      // partition inference types small keys INT; the window key
      // contract is long (epoch-µs window end / batch id)
      Some(spark.read.parquet(root).withColumn("w", col("w").cast("long")))
    else None
  }

  /** Quarantine retention — drop all but the `keepWindows` most
    * recent quarantine window directories, returning the dropped
    * window keys. Deliberately NOT wired into `autoVacuum`:
    * quarantined rows are DATA awaiting diagnosis/re-injection, not
    * derivable state like superseded versions — silently expiring
    * them would turn the gate into a black hole. Call this explicitly
    * once a window's rows have been handled.
    */
  def vacuumQuarantine(cfg: CdcTableConfig, keepWindows: Int): Seq[Long] = {
    require(keepWindows >= 0, s"keepWindows must be >= 0: $keepWindows")
    val root = quarantinePath(cfg)
    val windows = StoreFs.listDirNames(root)
      .filter(_.startsWith("w=")).map(_.stripPrefix("w=").toLong).sorted
    val doomed = windows.dropRight(keepWindows)
    doomed.foreach(w => StoreFs.deleteRecursive(s"$root/w=$w"))
    doomed
  }

  /** Directory of the maintained rollup `name` — itself a versioned
    * bucketed store (pointer, manifests, vacuum-able) nested under the
    * target, so the state shares the target's crash contract and a
    * `readSnapshot`/`vacuum` on it behaves like any other store. The
    * `_rollups` prefix keeps it invisible to the target's own
    * `v\d+`-matching maintenance.
    */
  def rollupPath(cfg: CdcTableConfig, name: String): String =
    s"${cfg.targetPath}/_rollups/$name"

  /** Current state of a maintained rollup: one row per group with
    * `n_rows` and one `sum_<col>` per declared value column, exactly
    * `IncrementalAgg.fromSnapshot(derive(target))` at the rollup's
    * committed target version. Declared `avgCols`/`distinctCols`
    * additionally surface as DERIVED read-time columns — `avg_<col>`
    * (= sum/cnt, exact, NULL for an all-NULL group) and
    * `approx_distinct_<col>` (the HLL sketch's estimate) — computed
    * from the stored vector, never stored themselves.
    */
  def readRollup(spark: SparkSession, cfg: CdcTableConfig, name: String): Option[DataFrame] =
    readSnapshot(spark, rollupPath(cfg, name)).map { state =>
      cfg.rollups.find(_.name == name).fold(state) { rs =>
        val withAvg = rs.avgCols.foldLeft(state)((df, c) =>
          df.withColumn(s"avg_$c",
            when(col(s"cnt_$c") > 0,
              col(s"sum_$c").cast("double") / col(s"cnt_$c").cast("double"))))
        val withVar = rs.varCols.foldLeft(withAvg) { (df, c) =>
          val mean = col(s"sum_$c").cast("double") / col(s"cnt_$c").cast("double")
          val v = col(s"sumsq_$c").cast("double") / col(s"cnt_$c").cast("double") -
            mean * mean
          df.withColumn(s"var_$c", when(col(s"cnt_$c") > 0, v))
            .withColumn(s"stddev_$c", when(col(s"cnt_$c") > 0, sqrt(v)))
        }
        rs.distinctCols.foldLeft(withVar)((df, c) =>
          df.withColumn(s"approx_distinct_$c",
            coalesce(hll_sketch_estimate(col(s"hll_$c")), lit(0L))))
      }
    }

  /** Bucket-pruned key lookup on a maintained rollup's state — the
    * same serving-path read as `readKeys`, keyed on the rollup's
    * group columns (a rollup store is a versioned bucketed store
    * whose "PK" is the group key).
    */
  def readRollupKeys(spark: SparkSession, cfg: CdcTableConfig, name: String,
      keys: DataFrame): Option[DataFrame] = {
    val rs = cfg.rollups.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no such rollup: $name"))
    readKeys(spark, rollupPath(cfg, name), rs.groupCols, keys)
  }

  /** Change feed over a maintained rollup's state between two of its
    * committed versions (the rollup store's own version numbers — one
    * per advancement): `snapshotDiff` keyed on the group columns, so
    * a downstream consumer sees one row per group whose aggregates
    * changed, op-tagged i/u/d, reading only the buckets the two
    * manifests disagree on.
    */
  def rollupDiff(spark: SparkSession, cfg: CdcTableConfig, name: String,
      fromVersion: Long, toVersion: Long): Option[DataFrame] = {
    val rs = cfg.rollups.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no such rollup: $name"))
    snapshotDiff(spark, rollupPath(cfg, name), fromVersion, toVersion, rs.groupCols)
  }

  /** Target version a rollup's state reflects (the rollup store's
    * pointer reuses the batchId slot for this — one atomic line holds
    * state version AND idempotence key, so there is no separate
    * marker to tear).
    */
  def rollupAsOfVersion(cfg: CdcTableConfig, name: String): Long =
    lastCommittedBatch(rollupPath(cfg, name)).getOrElse(-1L)

  /** Bring every declared rollup up to the target's CURRENT version —
    * called by [[apply]] after (or instead of, on a replay) the
    * target publish, on the same thread as the merge.
    *
    * Crash safety: the rollup commit is its own atomic pointer swap
    * carrying the target version it reflects. The steady-state SCD2
    * history advance runs beside the merge and the rollups and
    * commits to its own store, so it may land before, between or
    * after them. Every crash window converges on replay:
    *   - crash before the target publish → the target and rollups
    *     did not move; the history may have advanced, and the replay
    *     skips it by its idempotence key;
    *   - crash between target publish and rollup publish → the replay
    *     skips the merge (batchId guard) but sees the rollup trailing
    *     by one version and applies the delta against the PRE-merge
    *     version read by time travel (the default vacuum keep-window
    *     holds it);
    *   - replay of a fully-committed batch → rollup is current,
    *     nothing is touched (never double-applied).
    *
    * `changesMatchCurrent` says `changes` is the delta that produced
    * the current target version; when it isn't (an out-of-band caller
    * replaying an old batch), or the rollup trails by more than one
    * version (declared after the target existed, or its pre-state was
    * vacuumed), the state is recomputed from the current snapshot —
    * cost ∝ target, the always-correct repair path. The steady-state
    * path reads, of the pre-merge version, only the buckets `summary`
    * says the changes touch (every row they can retire lives there),
    * so its read of the pre-image is ∝ touched buckets, not target.
    */
  private[graft] def maintainRollups(spark: SparkSession, cfg: CdcTableConfig,
      changes: DataFrame, summary: ChangeSummary,
      changesMatchCurrent: Boolean): Unit = {
    if (cfg.rollups.isEmpty) return
    val curV = currentVersion(cfg.targetPath).getOrElse(return)
    cfg.rollups.foreach { rs =>
      // derive pass-through contract (see RollupSpec doc): checked on
      // the schema only (no job), so a violation names the rollup at
      // the maintenance site instead of surfacing as an unresolved
      // column deep inside applyDelta.
      val derivedCols = rs.derive(changes).columns.toSet
      val needed = cfg.pk :+ CdcEnvelope.OpCol
      val dropped = needed.filterNot(derivedCols)
      require(dropped.isEmpty,
        s"rollup '${rs.name}': derive must pass through PK and ${CdcEnvelope.OpCol} " +
          s"columns of the change set; missing ${dropped.mkString(", ")}")
      val dir = rollupPath(cfg, rs.name)
      val asOf = lastCommittedBatch(dir).getOrElse(-1L)
      if (asOf < curV) {
        // a stored state whose columns don't match the spec (the
        // rollup's measure set evolved) can't be advanced by delta —
        // fall through to the recompute path
        val stored = readSnapshot(spark, dir)
          .filter(_.columns.toSeq == rs.stateCols)
        val incremental: Option[DataFrame] =
          if (changesMatchCurrent && asOf == curV - 1 &&
              (stored.nonEmpty || lastCommittedBatch(dir).isEmpty)) {
            val preOpt =
              if (asOf < 0) Some(changes.select(cfg.targetCols.map(col): _*).filter(lit(false)))
              else readTouchedAt(spark, cfg.targetPath, asOf, summary)
            preOpt.map { pre =>
              val state0 = stored.getOrElse(
                IncrementalAgg.fromSnapshot(
                  rs.derive(pre).filter(lit(false)), rs.groupCols, rs.measures))
              IncrementalAgg.applyDelta(state0, rs.derive(pre), rs.derive(changes),
                cfg.pk, rs.groupCols, rs.measures,
                rs.derive(readSnapshot(spark, cfg.targetPath).get), Some(summary.rows))
            }
          } else None
        val state1 = incremental.getOrElse(
          IncrementalAgg.fromSnapshot(
            rs.derive(readSnapshot(spark, cfg.targetPath)
              .getOrElse(changes.select(cfg.targetCols.map(col): _*).filter(lit(false)))),
            rs.groupCols, rs.measures))
        publish(state1, dir, rs.groupCols, batchId = curV, buckets = rs.numBuckets,
          statsCols = rs.statsCols)
        ()
      }
    }
  }

  /** The buckets of `targetDir`'s version `version` that `summary`'s
    * keys hash to — every row those changes can match. A version
    * whose bucket count the summary lacks reads whole. None when the
    * version has no manifest (vacuumed).
    */
  private def readTouchedAt(spark: SparkSession, targetDir: String, version: Long,
      summary: ChangeSummary): Option[DataFrame] =
    manifest(targetDir, version).map { m =>
      val buckets = summary.bucketsByCount.getOrElse(m.numBuckets, m.buckets.keySet)
      applyVirtual(readBuckets(spark, targetDir, m, buckets), m)
    }

  /** Vacuum the target and every rollup store down to
    * `cfg.autoVacuumKeep` versions (no-op when unset). Keep is
    * clamped to ≥ 2 so the rollup catch-up's time travel to
    * version−1 always finds its manifest. The SCD2 open-slice store
    * is a versioned store too and gets the same GC (its closed dirs
    * are append-only history and are never vacuumed — compaction, not
    * GC, is their maintenance: `Scd2Store.compactClosed`).
    */
  private[graft] def autoVacuum(cfg: CdcTableConfig): Unit =
    cfg.autoVacuumKeep.foreach { keep =>
      val k = math.max(2, keep)
      vacuum(cfg.targetPath, k)
      cfg.rollups.foreach(rs => vacuum(rollupPath(cfg, rs.name), k))
      cfg.scd2.foreach(_ => vacuum(Scd2Store.openPath(cfg), k))
    }

  /** How one [[apply]] treats its changes. Each surface decides it on
    * the driver from the pre-merge pointers, before anything is
    * written, and keeps its own idempotence key and replay rules.
    *
    *  - `batchId`: recorded in the target pointer (streaming: the
    *    micro-batch id; batch runs: -1).
    *  - `seqKey`: the SCD2 history's idempotence key (batch: the
    *    window end; streaming: the batch id).
    *  - `targetFresh`: the target has not committed these changes, so
    *    they are merged; false on a replay that found them committed.
    *  - `changesMatchCurrent`: once merged, these changes produced the
    *    target's current version (see [[maintainRollups]]).
    *  - `targetExistedBefore`, `seqIsLoadTs`: see `Scd2Store.maintain`.
    */
  private[graft] final case class Replay(batchId: Long, seqKey: Long, targetFresh: Boolean,
      changesMatchCurrent: Boolean, targetExistedBefore: Boolean, seqIsLoadTs: Boolean)

  /** The one apply path of the batch [[run]] and the streaming
    * micro-batch (`CdcStream.mergeBatchToTarget`): merge the compacted
    * `changes` into the target and publish (when `r.targetFresh`),
    * advance the rollups, advance the SCD2 history by the
    * UNcompacted `projected` (every event keeps its slice), then
    * vacuum. `summary` is the [[summarize]] of `changes`; `surface`
    * prefixes each phase's job description (`<surface>: rollups`).
    *
    * The merge and the rollups form one chain on the calling thread:
    * the rollups read the version the merge published. The
    * steady-state history advance — its open store exists and has
    * not applied `r.seqKey` — reads and writes only the history
    * store, so it runs [[beside]] that chain, after `side`. Otherwise
    * (no SCD2, a replayed key, or a first advance that creates the
    * open store or bootstraps a late declaration from the post-merge
    * target) `side` runs first and the history after the rollups.
    * The CHECK-constraint gate runs before either branch, so a
    * rejected merge writes nothing anywhere. Returns the merge outcome
    * (None when the target was not fresh) and `side`'s result.
    */
  private[graft] def apply[T](spark: SparkSession, cfg: CdcTableConfig, projected: DataFrame,
      changes: DataFrame, summary: ChangeSummary, r: Replay, surface: String)
      (side: => T): (Option[MergeOutcome], T) = {
    def phase[A](name: String)(body: => A): A = labeled(spark, s"$surface: $name")(body)
    val historyBeside = cfg.scd2.nonEmpty &&
      currentVersion(Scd2Store.openPath(cfg)).isDefined && Scd2Store.lastAppliedSeq(cfg) < r.seqKey
    if (r.targetFresh) phase("merge+publish") {
      currentManifest(cfg.targetPath).foreach(gateConstraints(cfg, changes, _))
    }
    def mergeThenRollups(): Option[MergeOutcome] = {
      val outcome = Option.when(r.targetFresh)(phase("merge+publish") {
        mergeAndPublish(spark, cfg, changes, summary, r.batchId, gated = true)
      })
      phase("rollups") {
        maintainRollups(spark, cfg, changes, summary, r.changesMatchCurrent)
      }
      outcome
    }
    def history(): Unit = phase("scd2 advance") {
      Scd2Store.maintain(spark, cfg, projected, summary, r.seqKey, r.targetExistedBefore,
        r.seqIsLoadTs)
    }
    val result =
      if (historyBeside) beside(spark) { val t = side; history(); t } (mergeThenRollups())
      else {
        val t = side
        val outcome = mergeThenRollups()
        history()
        (outcome, t)
      }
    autoVacuum(cfg)
    result
  }

  /** Spark local properties a [[beside]] worker starts with: the
    * caller's job group, description, scheduler pool and job tags.
    */
  private val BranchProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool", "spark.job.tags")

  /** Run `side` on one new thread while `main` runs on the calling
    * thread, and return both results. The worker starts with the
    * caller's active session and Spark local properties, so its jobs
    * are grouped, labeled, pooled and cancelled with the caller's.
    * Both branches have always finished when this returns or throws;
    * a failure is rethrown as the one that happened first, with the
    * other branch's failure suppressed.
    */
  private def beside[M, S](spark: SparkSession)(side: => S)(main: => M): (M, S) = {
    val sc = spark.sparkContext
    val props = BranchProps.map(k => k -> sc.getLocalProperty(k))
    val first = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def attempt[A](body: => A): Either[Throwable, A] =
      try Right(body)
      catch { case t: Throwable => first.compareAndSet(null, t); Left(t) }
    var sideOut: Either[Throwable, S] = null
    val worker = new Thread(() => {
      SparkSession.setActiveSession(spark)
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sideOut = attempt(side)
    }, "graft-apply-side")
    worker.setDaemon(true)
    worker.start()
    val mainOut = attempt(main)
    var interrupted = false
    while (worker.isAlive)
      try worker.join()
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    (mainOut, sideOut) match {
      case (Right(m), Right(s)) => (m, s)
      case _ =>
        val err = first.get
        Seq(mainOut, sideOut).collect { case Left(t) if t ne err => t }
          .foreach(err.addSuppressed)
        throw err
    }
  }

  /** Run one incremental merge for `cfg`, reading envelope rows from
    * `source` (already in CdcEnvelope shape), windowed to
    * (last watermark, nowUs].
    */
  def run(spark: SparkSession, cfg: CdcTableConfig, source: DataFrame,
      logDir: String, nowUs: Long): RunResult = {
    if (!cfg.isActive) // is_active gate, merge.sql:92–94
      return RunResult("SKIPPED", 0, 0, 0, 0, 0, currentVersion(cfg.targetPath).getOrElse(-1))
    val startUs = labeled(spark, "cdc.run: watermark") {
      JobLog.lastWatermark(spark, logDir, cfg)
    }
    var changes: DataFrame = null
    var projected: DataFrame = null
    try {
      val win = CdcEnvelope.window(source, startUs, nowUs, cfg.partitionField)
      // the config's typed projection (see CdcTableConfig.project)
      val projectedRaw = cfg.project(win)
      // Write-time expectations (A39): Fail-actioned checks throw
      // here, before any write, and land in the job log as a FAILED
      // run via the catch below — the reference's all-or-nothing
      // failure path.
      // r14 (guide §5 — cache what is reused AND expensive): the gated
      // window projection (JSON field extraction per row) feeds the
      // compaction, the merge AND the SCD2 history advance — without
      // the cache each consumer re-parses the window's props. Delta-
      // sized (one window of changes), unpersisted in the finally,
      // which runs only after both apply branches have finished.
      val (projectedGated, nQuarantined) = labeled(spark, "cdc.run: expectations") {
        gateExpectations(projectedRaw, cfg, nowUs)
      }
      projected = projectedGated.cache()
      changes = ChangeCompaction.compactForMerge(projected, cfg.pk).cache()
      // one aggregation job computes both op-split counts and the
      // touched buckets of the target and the SCD2 open store (and
      // materializes the cache); the merge, the rollups and the
      // history advance reuse it instead of collecting their bucket
      // sets again.
      val summary = labeled(spark, "cdc.run: op counts") {
        summarize(cfg, changes)
      }
      val nUps = summary.upserts
      val nDel = summary.deletes
      // r15 (guide §2.4 — don't rescan what is already materialized):
      // with no expectations declared the gated projection has exactly
      // the window's rows (TypedProjection is row-preserving and keeps
      // LoadTsCol), so the load_ts bounds come from the CACHED
      // projection instead of re-running the window scan + JSON parse.
      // With expectations the quarantine may have removed the extreme
      // rows, so the original window is aggregated as before.
      val boundsSrc = if (cfg.expectations.isEmpty) projected else win
      // The window end keys the history: a crash-replay of this window
      // re-merges the target idempotently but must not re-apply
      // history deltas. targetExistedBefore = a SUCCESS row predates
      // this window (startUs > 0), so a crash-replay of the target-
      // creating window still builds its history incrementally from
      // the window env, not from a bootstrap. seqIsLoadTs: the window
      // end IS a load_ts bound, so a replay whose scheduler passed
      // fresh wall-clock (superset window, larger seqKey) applies only
      // the not-yet-applied suffix. The window's changes always
      // produce the next target version, so the rollups advance by
      // delta (reference: the derived-table refresh inside the
      // procedure, merge.sql:520–581). Only the job-log row needs the
      // load_ts bounds, so they are taken on the history's branch.
      val replay = Replay(batchId = -1L, seqKey = nowUs, targetFresh = true,
        changesMatchCurrent = true, targetExistedBefore = startUs > 0, seqIsLoadTs = true)
      val (merged, bounds) = apply(spark, cfg, projected, changes, summary, replay, "cdc.run") {
        labeled(spark, "cdc.run: window bounds") {
          boundsSrc.agg(min(col(CdcEnvelope.LoadTsCol)), max(col(CdcEnvelope.LoadTsCol)))
            .collect()(0)
        }
      }
      val outcome = merged.get
      val (cdcStart, cdcEnd) =
        if (bounds.isNullAt(0)) (nowUs, nowUs) else (bounds.getLong(0), bounds.getLong(1))
      // insert/update split: updated = upserts whose PK pre-existed
      // in the target; inserted = genuinely new PKs (the reference
      // logs both — merge.sql:520–534).
      val inserted = nUps - outcome.updated
      // Watermark advances to the *window end*, not max(load_ts) —
      // an empty window must still move time forward.
      labeled(spark, "cdc.run: job log append") {
        JobLog.append(spark, logDir, JobLog.RunRecord(
          java.util.UUID.randomUUID().toString, cfg.cdcTable, cfg.targetDb, cfg.targetTable,
          cdcStart, nowUs, nowUs, "SUCCESS", "", inserted, outcome.updated, nDel))
      }
      RunResult("SUCCESS", inserted, outcome.updated, nDel, startUs, nowUs, outcome.version,
        nQuarantined)
    } catch {
      case e: Throwable =>
        // a failing log write must not mask the run's own failure
        try JobLog.append(spark, logDir, JobLog.RunRecord(
          java.util.UUID.randomUUID().toString, cfg.cdcTable, cfg.targetDb, cfg.targetTable,
          startUs, nowUs, nowUs, "FAILED", String.valueOf(e.getMessage), 0, 0, 0))
        catch { case logErr: Throwable => e.addSuppressed(logErr) }
        throw e
    } finally {
      if (changes != null) changes.unpersist()
      if (projected != null) projected.unpersist()
    }
  }

  /** Run every active config against its source — the platform loop
    * the reference drives via a scheduler calling the procedure per
    * (db, table, cdc_table). `sources` resolves a config's
    * `sourcePath` to its envelope DataFrame. Failures are isolated
    * per table (logged FAILED by `run`, surfaced in the result).
    */
  def runAll(spark: SparkSession, configs: Seq[CdcTableConfig],
      sources: CdcTableConfig => DataFrame, logDir: String,
      nowUs: Long): Map[String, Either[Throwable, RunResult]] =
    configs.map { cfg =>
      val key = s"${cfg.targetDb}.${cfg.targetTable}"
      key -> (try Right(run(spark, cfg, sources(cfg), logDir, nowUs))
      catch { case e: Throwable => Left(e) })
    }.toMap
}
