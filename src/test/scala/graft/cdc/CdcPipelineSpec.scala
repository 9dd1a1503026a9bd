package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{LocalSpark, Tables => T}
import java.nio.file.Files

/** A13/A14: the config-driven pipeline run end-to-end on the events
  * table — incremental runs converge to the one-shot result, the
  * watermark advances, and both outcomes land in the job log.
  */
class CdcPipelineSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import TypedProjection.{FieldSpec, Cast}

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def cfg(target: String) = CdcTableConfig(
    cdcTable = "events_cdc", sourcePath = "events", targetDb = "graft",
    targetTable = "events_snapshot", targetPath = target,
    pk = Seq("user_id"),
    fieldSpecs = Seq(FieldSpec("k", Cast(LongType))),
    passthrough = Seq("event_id", "value"))

  private val w0 = CdcEnvelope.epochUs("2024-01-08T00:00:00Z")
  private val w1 = CdcEnvelope.epochUs("2024-01-16T00:00:00Z")
  private val w2 = CdcEnvelope.epochUs("2024-01-31T00:00:00Z")

  test("two incremental runs converge to the one-shot snapshot; watermark advances") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))

    // incremental: epoch→w1 then w1→w2
    val incTarget = tmp(); val incLog = tmp()
    val c1 = cfg(incTarget)
    val r1 = CdcPipeline.run(spark, c1, env, incLog, w1)
    assert(r1.status === "SUCCESS" && r1.windowStartUs === 0L && r1.windowEndUs === w1)
    val r2 = CdcPipeline.run(spark, c1, env, incLog, w2)
    assert(r2.windowStartUs === w1, "watermark must advance to the previous window end")
    assert(r2.version === r1.version + 1)

    // one-shot: epoch→w2
    val oneTarget = tmp(); val oneLog = tmp()
    val r3 = CdcPipeline.run(spark, cfg(oneTarget), env, oneLog, w2)
    assert(r3.status === "SUCCESS")

    val inc = CdcPipeline.readSnapshot(spark, incTarget).get
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val one = CdcPipeline.readSnapshot(spark, oneTarget).get
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(inc === one, "incremental must converge to one-shot")

    // job log has two SUCCESS rows for the incremental target
    val log = JobLog.read(spark, incLog).get
    assert(log.filter(col("run_status") === "SUCCESS").count() === 2)
  }

  test("declared rollups: run() maintains durable IVM state across incremental windows") {
    import spark.implicits._
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(
      rollups = Seq(RollupSpec("by_k", Seq("k"), Seq("event_id", "user_id"), numBuckets = Some(2))))
    def state(): Map[Long, (Long, Long, Long)] =
      CdcPipeline.readRollup(spark, c, "by_k").get
        .select("k", "n_rows", "sum_event_id", "sum_user_id")
        .as[(Long, Long, Long, Long)].collect()
        .map { case (k, n, s, u) => k -> ((n, s, u)) }.toMap
    def recompute(): Map[Long, (Long, Long, Long)] =
      IncrementalAgg.fromSnapshot(
          CdcPipeline.readSnapshot(spark, target).get, Seq("k"),
          Seq("event_id", "user_id"))
        .select("k", "n_rows", "sum_event_id", "sum_user_id")
        .as[(Long, Long, Long, Long)].collect()
        .map { case (k, n, s, u) => k -> ((n, s, u)) }.toMap

    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    assert(state() === recompute(), "window 1: state must equal full recompute")
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    assert(state() === recompute(), "window 2: delta-maintained state must equal full recompute")
    assert(state().nonEmpty)
    assert(CdcPipeline.rollupAsOfVersion(c, "by_k") ===
      CdcPipeline.currentVersion(target).get)
    // config-table rollup declaration round-trips (fields, not case
    // equality — the derive function member defeats ==)
    val parsed = CdcConfig.parseRollups("by_k:k:event_id; daily:day+k:amount+qty")
    assert(parsed.map(r => (r.name, r.groupCols, r.valueCols)) ===
      Seq(("by_k", Seq("k"), Seq("event_id")),
        ("daily", Seq("day", "k"), Seq("amount", "qty"))))
  }

  test("incremental publish: a small delta rewrites few buckets and splits insert/update counts") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    // 32 buckets regardless of the 4-partition test session — the
    // bucket count is a property of the target layout, not the session
    val c = cfg(target).copy(numBuckets = Some(32))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val initial = (1L to 200L).map(u => (u, "u", 100L, u, 100L, s"""{"k":${u * 10}}""", u, 1.0))
    val delta = Seq(
      (5L, "u", 200L, 1000L, 1500L, """{"k":555}""", 1000L, 5.0), // update existing
      (501L, "u", 200L, 1001L, 1500L, """{"k":5010}""", 1001L, 5.0), // insert new
      (6L, "d", 200L, 1002L, 1500L, """{"k":60}""", 1002L, 0.0)) // delete existing

    val r1 = CdcPipeline.run(spark, c, env(initial), log, 1000L)
    assert(r1.inserted === 200L && r1.updated === 0L && r1.deleted === 0L)
    val r2 = CdcPipeline.run(spark, c, env(delta), log, 2000L)
    // the MERGE outcome split: 501 is new, 5 pre-existed, 6 deleted
    assert(r2.inserted === 1L && r2.updated === 1L && r2.deleted === 1L)

    // publish I/O ∝ delta: the delta's 3 PKs touch ≤ 3 buckets; the
    // other ~29 of the initial load's buckets carry by manifest
    // reference instead of being rewritten
    def bucketDirs(ver: Long): Set[String] =
      Option(new java.io.File(s"$target/v$ver").listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("_graft_bucket="))
        .map(_.getName).toSet
    val b0 = bucketDirs(r1.version); val b1 = bucketDirs(r2.version)
    assert(b0.size > 10, s"initial load should spread over many buckets, got ${b0.size}")
    assert(b1.size <= 3, s"delta rewrote ${b1.size} buckets, expected <= 3")

    // and the snapshot is exactly right across carried + fresh buckets
    val snap = CdcPipeline.readSnapshot(spark, target).get
    assert(snap.count() === 200L) // 200 - 1 delete + 1 insert
    assert(snap.filter(col("user_id") === 5).select("k").as[Long].head() === 555L)
    assert(snap.filter(col("user_id") === 6).count() === 0L)
    assert(snap.filter(col("user_id") === 501).count() === 1L)
    // job log carries the 4-way counts
    val rec = JobLog.read(spark, log).get.orderBy(col("cdc_end_us").desc).limit(1)
    assert(rec.select("records_inserted", "records_updated", "records_deleted")
      .as[(Long, Long, Long)].head() === ((1L, 1L, 1L)))
  }

  test("empty window still advances the watermark") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target)
    CdcPipeline.run(spark, c, env, log, w2)
    // second run over a window with no events (data ends 2024-01-30)
    val w3 = CdcEnvelope.epochUs("2024-02-15T00:00:00Z")
    val r = CdcPipeline.run(spark, c, env, log, w3)
    assert(r.status === "SUCCESS" && r.inserted === 0L)
    assert(JobLog.lastWatermark(spark, log, c) === w3)
  }

  test("inactive config is skipped without touching the target") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val r = CdcPipeline.run(spark, cfg(target).copy(isActive = false), env, log, w1)
    assert(r.status === "SKIPPED")
    assert(CdcPipeline.currentVersion(target).isEmpty)
  }

  test("config parsing: pk split + rule lists") {
    assert(CdcConfig.parsePk("a, b ,c") === Seq("a", "b", "c"))
    val specs = CdcConfig.specsFromLists(Map(
      "epoc_cols" -> "created_at, updated_at",
      "bit_to_int_col" -> "active"))
    assert(specs.map(s => (s.field, s.rule)).toSet === Set(
      ("created_at", TypedProjection.EpochSeconds),
      ("updated_at", TypedProjection.EpochSeconds),
      ("active", TypedProjection.BitToInt)))
  }

  test("a version without a manifest is absent to readers and refused by writers") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(8))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val initial = (1L to 100L).map(u => (u, "u", 100L, u, 100L, s"""{"k":$u}""", u, 1.0))
    CdcPipeline.run(spark, c, env(initial), log, 1000L) // v0: 8 buckets
    Seq(7L, 8L).zipWithIndex.foreach { case (u, i) => // v1, v2: one bucket each
      CdcPipeline.run(spark, c, env(Seq((u, "u", 200L + i, 500L + i, 1100L + i,
        s"""{"k":${1000 + u}}""", 500L + i, 2.0))), log, 2000L + i * 1000L)
    }
    val m2 = CdcPipeline.manifest(target, 2L).get
    assert(m2.buckets.values.count(!_.contains("v2")) >= 6, "v2 must carry most buckets")
    def lose(v: Long): Unit = Files.delete(java.nio.file.Paths.get(s"$target/v$v/_MANIFEST"))

    // an older version without a manifest is absent to time travel,
    // while the current one still reads whole
    lose(1L)
    assert(CdcPipeline.readSnapshotAt(spark, target, 1L).isEmpty)
    assert(CdcPipeline.readSnapshot(spark, target).get.count() === 100L)

    // the current version without a manifest: every reader and writer
    // refuses with the one error instead of serving a partial table
    lose(2L)
    def refuses(what: String)(body: => Any): Unit = {
      val e = intercept[Throwable](body)
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[CdcPipeline.BadPointerException]),
        s"$what must refuse with BadPointerException, got $e")
      assert(e.getMessage.contains("bad_pointer") || chain.exists(_.getMessage.contains("bad_pointer")))
    }
    val keys = Seq(7L).toDF("user_id")
    refuses("readSnapshot")(CdcPipeline.readSnapshot(spark, target).map(_.count()))
    refuses("readKeys")(CdcPipeline.readKeys(spark, target, c.pk, keys).map(_.count()))
    refuses("readRange")(
      CdcPipeline.readRange(spark, target, "k", Some(1L), Some(50L)).map(_.count()))
    refuses("readChangeFeed")(
      CdcPipeline.readChangeFeed(spark, target, c.pk, 0L, 2L).map(_.count()))
    refuses("JoinView")(JoinView.applyFactDelta(spark,
      JoinView.JoinViewSpec(target, c.pk, "k", "dk", Seq("seg")),
      Seq((7L, 1L, "u")).toDF("user_id", "k", CdcEnvelope.OpCol), Seq((1L, "a")).toDF("dk", "seg")))
    refuses("IdentityColumns")(IdentityColumns.declare(spark, target, "event_id"))
    refuses("SQL graft.{path}")(spark.sql(s"SELECT count(*) FROM graft.`$target`").collect())

    val watermark = JobLog.lastWatermark(spark, log, c)
    val delta = env(Seq((9L, "u", 300L, 600L, 4100L, """{"k":9}""", 600L, 3.0)))
    refuses("run")(CdcPipeline.run(spark, c, delta, log, 5000L))
    assert(CdcPipeline.currentVersion(target) === Some(2L), "run must publish nothing")
    assert(!Files.exists(java.nio.file.Paths.get(s"$target/v3")))
    assert(JobLog.read(spark, log).get.filter(col("run_status") === "FAILED").count() === 1L)
    assert(JobLog.lastWatermark(spark, log, c) === watermark, "a refused run keeps the watermark")
    refuses("CdcStream micro-batch")(graft.streaming.CdcStream.mergeBatchToTarget(delta, 0L, c))
    assert(CdcPipeline.currentVersion(target) === Some(2L))
  }

  test("vacuum deletes unreachable versions but keeps every carried-bucket reference") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(32))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val initial = (1L to 100L).map(u => (u, "u", 100L, u, 100L, s"""{"k":$u}""", u, 1.0))
    CdcPipeline.run(spark, c, env(initial), log, 1000L) // v0: full
    // three tiny delta runs -> v1, v2, v3, each touching ~1 bucket
    (1 to 3).foreach { i =>
      val d = Seq((i.toLong, "u", 100L + i, 500L + i, 1000L + i * 100L,
        s"""{"k":${1000 + i}}""", 500L + i, 9.0))
      CdcPipeline.run(spark, c, env(d), log, 1000L + i * 200L)
    }
    val before = CdcPipeline.readSnapshot(spark, target).get
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val deleted = CdcPipeline.vacuum(target, keepVersions = 1)
    // v0 must SURVIVE even though it's old: the current manifest still
    // carries most buckets from it. v1/v2 are unreachable iff their
    // buckets were superseded and they're outside the grace window.
    assert(!deleted.contains(0L), "v0 is still referenced by carried buckets")
    assert(!deleted.contains(3L), "the current version is never deleted")
    val after = CdcPipeline.readSnapshot(spark, target).get
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(after === before, "vacuum must not change the visible snapshot")
    // force v1 to become garbage: rewrite key 1 again (supersedes
    // v1's only bucket), then vacuum — v1 must be collected by now
    // (already in `deleted` if keys 2/3 shared its bucket).
    val d4 = Seq((1L, "u", 200L, 900L, 2000L, """{"k":7777}""", 900L, 9.9))
    CdcPipeline.run(spark, c, env(d4), log, 3000L) // v4 supersedes v1's bucket
    val deleted2 = CdcPipeline.vacuum(target, keepVersions = 1)
    assert((deleted ++ deleted2).contains(1L),
      s"v1's bucket was superseded, expected it collected: $deleted / $deleted2")
    val finalSnap = CdcPipeline.readSnapshot(spark, target).get
    assert(finalSnap.filter(col("user_id") === 1).select("k").as[Long].head() === 7777L)
    assert(finalSnap.count() === 100L)
  }

  test("vacuum dry run (A68): preview lists exactly what vacuum reclaims with real sizes, deleting nothing") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(32))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val initial = (1L to 100L).map(u => (u, "u", 100L, u, 100L, s"""{"k":$u}""", u, 1.0))
    CdcPipeline.run(spark, c, env(initial), log, 1000L) // v0: full
    (1 to 3).foreach { i =>
      val d = Seq((i.toLong, "u", 100L + i, 500L + i, 1000L + i * 100L,
        s"""{"k":${1000 + i}}""", 500L + i, 9.0))
      CdcPipeline.run(spark, c, env(d), log, 1000L + i * 200L)
    }
    val preview = CdcPipeline.vacuumPreview(target, keepVersions = 1)
    // the dry run deletes nothing and sizes every doomed dir honestly
    preview.foreach { case (v, bytes) =>
      assert(StoreFs.exists(s"$target/v$v"), s"dry run must not touch v$v")
      assert(bytes > 0L, s"v$v must report its real reclaimable bytes")
    }
    assert(!preview.map(_._1).contains(0L), "v0 is carried-referenced: not reclaimable")
    assert(!preview.map(_._1).contains(3L), "the current version is never reclaimable")
    val before = CdcPipeline.readSnapshot(spark, target).get
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    // the preview IS the reclaim set: same-parameter vacuum deletes
    // exactly the listed versions, and an immediate re-preview is empty
    val deleted = CdcPipeline.vacuum(target, keepVersions = 1)
    assert(preview.map(_._1) === deleted)
    assert(CdcPipeline.vacuumPreview(target, keepVersions = 1).isEmpty)
    val after = CdcPipeline.readSnapshot(spark, target).get
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(after === before, "neither preview nor vacuum changes the visible snapshot")
  }

  test("restoreSnapshot rolls forward to the old state; refuses vacuumed versions") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(8))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val initial = (1L to 60L).map(u => (u, "u", 100L, u, 100L, s"""{"k":$u}""", u, 1.0))
    CdcPipeline.run(spark, c, env(initial), log, 1000L) // v0
    val d1 = Seq((1L, "u", 200L, 500L, 1100L, """{"k":111}""", 500L, 2.0))
    CdcPipeline.run(spark, c, env(d1), log, 2000L) // v1
    val v1Snap = CdcPipeline.readSnapshot(spark, target).get
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    // the mistake: delete half the table (v2)
    val Some((_, deleted)) =
      CdcPipeline.deleteWhere(spark, target, Seq("user_id"), col("user_id") % 2 === 0)
    assert(deleted === 30L)
    // restore past it — a NEW version, not a pointer rewind
    assert(CdcPipeline.restoreSnapshot(target, 1L) === Some(3L))
    assert(CdcPipeline.currentVersion(target) === Some(3L))
    val restored = CdcPipeline.readSnapshot(spark, target).get
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(restored === v1Snap, "restored snapshot must equal the v1 state")
    // history preserved: the bad version is still time-travel readable
    assert(CdcPipeline.readSnapshotAt(spark, target, 2L).get.count() === 30L)
    // the restore appears in DESCRIBE HISTORY as a zero-rewrite commit
    val h = CdcPipeline.describeHistory(spark, target).get
      .filter(col("version") === 3).select("op", "rewritten_buckets").head()
    assert(h.getString(0) === "restore" && h.getInt(1) === 0)
    // diff(v2, v3) is exactly the inverse of the mistake: 30 inserts
    val diff = CdcPipeline.snapshotDiff(spark, target, 2L, 3L, Seq("user_id")).get
    assert(diff.filter(col(CdcEnvelope.OpCol) === "i").count() === 30L)
    assert(diff.filter(col(CdcEnvelope.OpCol) =!= "i").count() === 0L)
    // vacuum keeps everything the restored manifest references
    CdcPipeline.vacuum(target, keepVersions = 1)
    assert(CdcPipeline.readSnapshot(spark, target).get
      .orderBy("user_id").collect().map(_.toSeq).toSeq === v1Snap)
    // restoring a version whose dirs were actually vacuumed → None.
    // Rebucket twice so v0..v3's dirs become unreferenced, vacuum them
    // out, then ask for v1 back.
    CdcPipeline.rebucket(spark, target, Seq("user_id"), 4)  // v4: full rewrite
    CdcPipeline.rebucket(spark, target, Seq("user_id"), 8)  // v5: full rewrite
    // keep v4+v5 (both self-contained rewrites) — v0..v3 become garbage
    CdcPipeline.vacuum(target, keepVersions = 2)
    assert(CdcPipeline.restoreSnapshot(target, 1L) === None,
      "a restore that would serve vacuumed dirs must refuse, not tear")
    // restore across the rebucket reverts the bucket count too
    assert(CdcPipeline.restoreSnapshot(target, 4L) === Some(6L))
    val m6 = CdcPipeline.describeHistory(spark, target).get
      .filter(col("version") === 6).select("num_buckets").head().getInt(0)
    assert(m6 === 4, "restore reverts layout (bucket count) with the data")
  }

  test("fsck: healthy store is empty; each planted inconsistency is reported") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(8))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val initial = (1L to 40L).map(u => (u, "u", 100L, u, 100L, s"""{"k":$u}""", u, 1.0))
    CdcPipeline.run(spark, c, env(initial), log, 1000L) // v0
    val d1 = Seq((1L, "u", 200L, 500L, 1100L, """{"k":111}""", 500L, 2.0))
    CdcPipeline.run(spark, c, env(d1), log, 2000L) // v1 (carries most of v0)
    assert(CdcPipeline.fsck(spark, target).count() === 0L, "healthy store")

    def checks(staleMs: Long = 15L * 60 * 1000): Map[String, Long] =
      CdcPipeline.fsck(spark, target, staleMs).groupBy("check").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // orphan above the pointer
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$target/v99"))
    // torn publish: a version dir at/below the pointer without a manifest
    val v1Manifest = StoreFs.readString(s"$target/v1/_MANIFEST")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$target/v1/_MANIFEST"))
    // stale pin listing a vacuumed dir
    StoreFs.writeString(s"$target/_clones/deadbeef", "v77")
    // stale writer lease (any lock is stale at staleMs = -1)
    StoreFs.writeString(s"$target/_LOCK", "crashed-writer-token")
    val got = checks(staleMs = -1L)
    assert(got.get("orphan_inflight") === Some(1L), got.toString)
    assert(got.get("torn_version") === Some(1L), got.toString)
    assert(got.get("stale_pin") === Some(1L), got.toString)
    assert(got.get("stale_lock") === Some(1L), got.toString)
    // v1 lost its manifest, so the pointer names a manifest-less version
    assert(got.get("bad_pointer") === Some(1L), got.toString)
    // a FRESH lock is not stale at the default window
    assert(!checks().contains("stale_lock"))

    // dangling reference: heal the torn manifest first (the store must
    // be consistent before the next pipeline run), then remove v0,
    // which v1/v2 carry buckets from
    StoreFs.writeString(s"$target/v1/_MANIFEST", v1Manifest)
    CdcPipeline.run(spark, c, env(d1), log, 3000L) // v2 re-publishes cleanly
    StoreFs.deleteRecursive(s"$target/v0")
    val got2 = checks()
    assert(got2.get("dangling_ref").exists(_ >= 1L), got2.toString)
    assert(CdcPipeline.fsck(spark, target).filter(col("check") === "dangling_ref")
      .filter(col("detail").contains("CURRENT")).count() >= 1L,
      "current version serving vacuumed dirs must be flagged loudly")
  }

  test("verifyChain: intact history is clean; body edits, silent version replacement, and pre-chain manifests are each reported") {
    import spark.implicits._
    def md5(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def split(path: String): (String, String, String) = {
      val text = StoreFs.readString(path)
      val at = text.indexOf("\nchain.parent=")
      assert(at > 0, s"manifest at $path carries no chain record")
      val body = text.substring(0, at + 1)
      val tail = text.substring(at + 1).split("\n")
      def line(k: String) = tail.find(_.startsWith(s"$k=")).get.stripPrefix(s"$k=")
      (body, line("chain.parent"), line("chain.hash"))
    }
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(8))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val initial = (1L to 40L).map(u => (u, "u", 100L, u, 100L, s"""{"k":$u}""", u, 1.0))
    CdcPipeline.run(spark, c, env(initial), log, 1000L) // v0
    CdcPipeline.run(spark, c,
      env(Seq((1L, "u", 200L, 500L, 1100L, """{"k":1}""", 500L, 2.0))), log, 2000L) // v1
    CdcPipeline.run(spark, c,
      env(Seq((2L, "u", 300L, 600L, 2100L, """{"k":2}""", 600L, 3.0))), log, 3000L) // v2
    assert(CdcPipeline.verifyChain(target).isEmpty, "intact history")

    // every manifest links to its parent's recorded hash
    val (_, p1, h0ByChild) = split(s"$target/v1/_MANIFEST")
    val (_, _, h0) = split(s"$target/v0/_MANIFEST")
    assert(p1 === h0, "child records the parent's chain hash")
    assert(h0ByChild.nonEmpty)

    // 1) body tampering: edit a byte of v1's body, keep its chain lines
    val m1 = s"$target/v1/_MANIFEST"
    val (body1, par1, hash1) = split(m1)
    StoreFs.writeString(m1, body1.replaceFirst("numBuckets=8", "numBuckets=9")
      + s"chain.parent=$par1\nchain.hash=$hash1\n")
    val tampered = CdcPipeline.verifyChain(target)
    assert(tampered.map(i => (i.version, i.kind)) === Seq((1L, "body-tampered")),
      tampered.toString)

    // 2) silent replacement: forge a SELF-CONSISTENT v1 (recomputed
    // hash over the edited body) — v1 itself verifies, but v2's
    // recorded parent no longer matches: the chain pins the lineage
    val forgedBody = body1.replaceFirst("numBuckets=8", "numBuckets=9")
    StoreFs.writeString(m1, forgedBody
      + s"chain.parent=$par1\nchain.hash=${md5(par1 + "\n" + forgedBody)}\n")
    val forged = CdcPipeline.verifyChain(target)
    assert(forged.map(i => (i.version, i.kind)) === Seq((2L, "link-broken")),
      forged.toString)
    // the one-stop fsck audit surfaces the severed lineage too
    assert(CdcPipeline.fsck(spark, target)
      .filter(col("check") === "chain_link_broken").count() === 1L)
    StoreFs.writeString(m1, body1 + s"chain.parent=$par1\nchain.hash=$hash1\n")
    assert(CdcPipeline.verifyChain(target).isEmpty, "restored bytes verify again")
    assert(CdcPipeline.fsck(spark, target)
      .filter(col("check").startsWith("chain_")).count() === 0L)

    // 3) pre-chain manifests: a store whose v0 predates the chain is
    // reported informationally, and a child publish records the
    // "unchained" sentinel instead of pretending lineage
    val target2 = tmp(); val c2 = cfg(target2).copy(numBuckets = Some(4))
    CdcPipeline.run(spark, c2, env(initial), log, 1000L) // v0
    val m0 = s"$target2/v0/_MANIFEST"
    val (body0, _, _) = split(m0)
    StoreFs.writeString(m0, body0) // strip the chain record = legacy manifest
    CdcPipeline.run(spark, c2,
      env(Seq((1L, "u", 200L, 500L, 1100L, """{"k":9}""", 500L, 2.0))), log, 2000L) // v1
    val legacy = CdcPipeline.verifyChain(target2)
    assert(legacy.map(i => (i.version, i.kind)) === Seq((0L, "unchained")),
      legacy.toString)
    val (_, p1b, _) = split(s"$target2/v1/_MANIFEST")
    assert(p1b === "unchained", "child of a pre-chain parent records the sentinel")
  }

  test("dropColumns is metadata-only and reversible; renameColumn rewrites with stable routing") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(8), statsCols = Seq("event_id"))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val initial = (1L to 50L).map(u => (u, "u", 100L, u, 100L, s"""{"k":$u}""", u, 1.5))
    CdcPipeline.run(spark, c, env(initial), log, 1000L) // v0
    val before = CdcPipeline.readSnapshot(spark, target).get

    // DROP: zero-copy — the new version holds ONLY a manifest, and the
    // read resolves into the same files as before
    val filesBefore = before.inputFiles.toSet
    assert(CdcPipeline.dropColumns(spark, target, Seq("user_id"), Seq("value"))
      === Some(1L))
    val dropped = CdcPipeline.readSnapshot(spark, target).get
    assert(!dropped.columns.contains("value"))
    assert(dropped.inputFiles.toSet === filesBefore, "drop must move zero data bytes")
    assert(StoreFs.listDirNames(s"$target/v1") === Seq(), "v1 holds only the manifest")
    assert(dropped.count() === 50L)
    // time travel still serves the column; RESTORE resurrects it
    assert(CdcPipeline.readSnapshotAt(spark, target, 0L).get.columns.contains("value"))
    assert(CdcPipeline.restoreSnapshot(target, 0L) === Some(2L))
    assert(CdcPipeline.readSnapshot(spark, target).get.columns.contains("value"))
    // PK columns refuse
    intercept[IllegalArgumentException] {
      CdcPipeline.dropColumns(spark, target, Seq("user_id"), Seq("user_id"))
    }

    // RENAME: full rewrite, values identical, key routing stable
    assert(CdcPipeline.renameColumn(spark, target, Seq("user_id"), "k", "payload_k")
      === Some(3L))
    val renamed = CdcPipeline.readSnapshot(spark, target).get
    assert(renamed.columns.contains("payload_k") && !renamed.columns.contains("k"))
    assert(renamed.select(sum("payload_k")).head().getLong(0) ===
      before.select(sum("k")).head().getLong(0))
    // key lookup prunes on the new layout (routing unchanged)
    val keys = Seq(7L).toDF("user_id")
    val hit = CdcPipeline.readKeys(spark, target, Seq("user_id"), keys).get
    assert(hit.count() === 1L && hit.head().getAs[Long]("payload_k") === 7L)
    // tracked stats survived the rewrite: range read on event_id prunes
    val pruned = CdcPipeline.readRange(spark, target, "event_id", Some(1L), Some(2L)).get
    assert(pruned.count() === 2L)
    assert(pruned.inputFiles.length < renamed.inputFiles.length,
      "stats index must have followed the rewrite")
    // renaming a PK column keeps routing because the hash is over values
    assert(CdcPipeline.renameColumn(spark, target, Seq("user_id"), "user_id", "uid")
      === Some(4L))
    val hit2 = CdcPipeline.readKeys(spark, target, Seq("uid"), Seq(9L).toDF("uid")).get
    assert(hit2.count() === 1L)
  }

  test("commit claims: concurrent publish fails loudly; stale claims break; normal runs leave none") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(8))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val initial = (1L to 30L).map(u => (u, "u", 100L, u, 100L, s"""{"k":$u}""", u, 1.0))
    CdcPipeline.run(spark, c, env(initial), log, 1000L) // v0
    // a completed commit leaves no claim behind
    assert(StoreFs.listFilePaths(s"$target/_commits", ".claim").isEmpty,
      "pointer swap must release the claim")
    // another writer holds the claim for the NEXT version: every
    // version-producing op must refuse instead of colliding in v1
    StoreFs.createExclusive(s"$target/_commits/v1.claim",
      System.currentTimeMillis().toString)
    val d1 = Seq((1L, "u", 200L, 500L, 1100L, """{"k":9}""", 500L, 2.0))
    intercept[CdcPipeline.ConcurrentWriteException] {
      CdcPipeline.run(spark, c, env(d1), log, 2000L)
    }
    intercept[CdcPipeline.ConcurrentWriteException] {
      CdcPipeline.deleteWhere(spark, target, Seq("user_id"), col("user_id") === 1L)
    }
    intercept[CdcPipeline.ConcurrentWriteException] {
      CdcPipeline.restoreSnapshot(target, 0L)
    }
    assert(CdcPipeline.currentVersion(target) === Some(0L), "no version advanced")
    // fsck surfaces the crashed-publish claim once it is stale
    assert(CdcPipeline.fsck(spark, target, staleMs = -1L)
      .filter(col("check") === "stale_claim").count() === 1L)
    // a STALE claim (crashed writer) is broken and the publish proceeds
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$target/_commits/v1.claim"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - CdcPipeline.commitClaimStaleMs - 1000L))
    CdcPipeline.run(spark, c, env(d1), log, 2000L) // v1 succeeds now
    assert(CdcPipeline.currentVersion(target) === Some(1L))
    assert(CdcPipeline.readSnapshot(spark, target).get
      .filter(col("user_id") === 1L).select("k").as[Long].head() === 9L)
    assert(StoreFs.listFilePaths(s"$target/_commits", ".claim").isEmpty)
    // a publish whose bucket write throws releases its claim and its
    // half-written version dir: the next publish takes the same number
    val snap = CdcPipeline.readSnapshot(spark, target).get
    val boom = snap.withColumn("k",
      when(col("user_id") === 3L, raise_error(lit("boom"))).otherwise(col("k")))
    intercept[Exception](CdcPipeline.publish(boom, target, Seq("user_id")))
    assert(StoreFs.listFilePaths(s"$target/_commits", ".claim").isEmpty,
      "a failed publish must not leave its claim behind")
    assert(!StoreFs.exists(s"$target/v2"), "a failed publish must not leave its version dir")
    assert(CdcPipeline.publish(snap, target, Seq("user_id")) === 2L)
    assert(CdcPipeline.readSnapshot(spark, target).get.count() === 30L)
  }

  test("a publish under a DIFFERENT pk than the _PK sidecar fails loudly") {
    import spark.implicits._
    val target = tmp()
    val df = (1L to 10L).map(u => (u, u * 3)).toDF("user_id", "v")
    CdcPipeline.publish(df, target, Seq("user_id"), buckets = Some(4))
    assert(CdcPipeline.pkColumns(target).contains(Seq("user_id")))
    // the sidecar is the layout's source of truth for the SQL DML
    // surface — silently rebucketing under a new key would leave it
    // stale and every later touched-bucket pruning wrong (r10 advice)
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.publish(df, target, Seq("v"))
    }
    assert(e.getMessage.contains("keyed"), e.getMessage)
    // same pk spelled in a different case is the SAME key — accepted
    CdcPipeline.publish(df, target, Seq("USER_ID"))
    assert(CdcPipeline.currentVersion(target).contains(1L))
  }

  test("loadActive accepts a table shaped exactly like the reference config_file5 DDL") {
    import spark.implicits._
    // literal column names from tables_list.sql:5-22 (mysql_-prefixed
    // target columns, is_active tinyint)
    val refShaped = Seq(
      ("orders_cdc", "s3://feed/orders", "srcdb", "/tmp/tgt_orders", "orders",
        "order_id, region", "salesdb", "load_date",
        "created_at", "", "ship_date", "note_time", "yyyymmdd_col", "0000-00-00 00:00:00",
        "", "", 1),
      ("inactive_cdc", "s3://feed/x", "srcdb", "/tmp/tgt_x", "x",
        "id", "salesdb", null,
        "", "", "", "", "", null, "", "", 0))
      .toDF("cdc_table", "source_fp", "source_db", "target_fp", "mysql_target_table",
        "pk", "mysql_target_database", "mysql_partition_field",
        "epoc_cols", "epoc_nano_cols", "epoc_day_cols", "non_epoch_datetime_col",
        "datetime_to_int_val_col", "datetime_null",
        "col_value_as_current_time_ist", "epoc_datetime_ist", "is_active")
    val configs = CdcConfig.loadActive(refShaped)
    assert(configs.size === 1, "is_active=0 rows are skipped")
    val c = configs.head
    assert(c.targetDb === "salesdb" && c.targetTable === "orders")
    assert(c.pk === Seq("order_id", "region"))
    assert(c.partitionField === Some("load_date"))
    assert(c.fieldSpecs.map(s => (s.field, s.rule)).toSet === Set(
      ("created_at", TypedProjection.EpochSeconds),
      ("ship_date", TypedProjection.EpochDays),
      ("note_time", TypedProjection.IsoDatetimeNullIf("0000-00-00 00:00:00")),
      ("yyyymmdd_col", TypedProjection.DatetimeToInt)))
  }

  test("time travel reads old versions verbatim; snapshotDiff classifies i/u/d reading changed buckets only") {
    import spark.implicits._
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16))
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Option[Long], Long, Double)] =
      df.select("user_id", "k", "event_id", "value")
        .as[(Long, Option[Long], Long, Double)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val r1 = CdcPipeline.run(spark, c, env, log, w1)
    val atV1 = rows(CdcPipeline.readSnapshot(spark, target).get)
    val r2 = CdcPipeline.run(spark, c, env, log, w2)
    // the old version still reads exactly as published
    val tt = CdcPipeline.readSnapshotAt(spark, target, r1.version).get
    assert(rows(tt) === atV1)
    // a version above the pointer doesn't exist
    assert(CdcPipeline.readSnapshotAt(spark, target, r2.version + 1).isEmpty)

    val atV2 = rows(CdcPipeline.readSnapshot(spark, target).get)
    val diff = CdcPipeline.snapshotDiff(spark, target, r1.version, r2.version, Seq("user_id")).get
      .select("user_id", CdcEnvelope.OpCol).as[(Long, String)].collect().toMap
    val expected =
      (atV2.keySet -- atV1.keySet).map(_ -> "i") ++
      (atV1.keySet -- atV2.keySet).map(_ -> "d") ++
      atV1.keySet.intersect(atV2.keySet).filter(k => atV1(k) != atV2(k)).map(_ -> "u")
    assert(diff === expected.toMap)
    assert(diff.nonEmpty, "the second window must have produced changes")

    // unchanged buckets are skipped as a METADATA fact (carried refs)
    val m1 = CdcPipeline.manifest(target, r1.version).get
    val m2 = CdcPipeline.manifest(target, r2.version).get
    val touched = CdcPipeline.changedBuckets(m1, m2)
    assert(touched.size < 16, s"small delta must touch a strict subset: $touched")
    val changedPkBuckets = diff.keySet.toSeq.toDF("user_id")
      .select(CdcPipeline.bucketExpr(Seq("user_id"), 16).as("b"))
      .as[Int].collect().toSet
    assert(changedPkBuckets.subsetOf(touched))
  }

  test("timestamp time travel (A67): latest commit at-or-before t; pre-creation refuses; unplaceable versions skipped") {
    import spark.implicits._
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(8))
    val r1 = CdcPipeline.run(spark, c, env, log, w1)
    val r2 = CdcPipeline.run(spark, c, env, log, w2)
    def commitUs(v: Long): Long =
      CdcPipeline.manifest(target, v).get.meta("commit_us").toLong
    val t1 = commitUs(r1.version); val t2 = commitUs(r2.version)
    assert(t2 > t1, "sequential publishes are milliseconds apart")
    // before the first commit: refuse — never silently serve the earliest state
    assert(CdcPipeline.versionAsOfTime(target, t1 - 1) === None)
    assert(CdcPipeline.readSnapshotAsOfTime(spark, target, t1 - 1).isEmpty)
    // at the first commit and anywhere short of the second: v1's state
    def keys(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("user_id", "event_id").as[(Long, Long)].collect().toSet
    val v1Keys = keys(CdcPipeline.readSnapshotAt(spark, target, r1.version).get)
    assert(CdcPipeline.versionAsOfTime(target, t1).contains(r1.version))
    assert(CdcPipeline.versionAsOfTime(target, t2 - 1).contains(r1.version))
    assert(keys(CdcPipeline.readSnapshotAsOfTime(spark, target, t1).get) === v1Keys)
    // at/after the newest commit: the current version
    assert(CdcPipeline.versionAsOfTime(target, t2).contains(r2.version))
    assert(CdcPipeline.versionAsOfTime(target, Long.MaxValue).contains(r2.version))
    assert(keys(CdcPipeline.readSnapshotAsOfTime(spark, target, Long.MaxValue).get) ===
      keys(CdcPipeline.readSnapshot(spark, target).get))
    // a manifest with no commit_us (pre-A45) is unplaceable on the time
    // axis: skipped, resolution falls to the newest PLACEABLE commit
    val m2 = CdcPipeline.manifest(target, r2.version).get
    CdcPipeline.writeManifest(target, r2.version, m2.copy(meta = m2.meta - "commit_us"))
    assert(CdcPipeline.versionAsOfTime(target, Long.MaxValue).contains(r1.version))
  }

  test("rebucket resizes the frozen layout; content survives and later deltas use the new count") {
    import spark.implicits._
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(4))
    CdcPipeline.run(spark, c, env, log, w1)
    assert(CdcPipeline.manifest(target, CdcPipeline.currentVersion(target).get).get.numBuckets === 4)
    def rows(): Map[Long, Long] = CdcPipeline.readSnapshot(spark, target).get
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    val before = rows()
    val v = CdcPipeline.rebucket(spark, target, Seq("user_id"), 16).get
    val m = CdcPipeline.manifest(target, v).get
    assert(m.numBuckets === 16)
    assert(m.buckets.values.forall(_ === Seq(s"v$v")), "a rebucket is a full rewrite")
    assert(rows() === before, "rebucketing must not change the table")
    // the next incremental run publishes deltas against the NEW layout
    CdcPipeline.run(spark, c, env, log, w2)
    val m2 = CdcPipeline.manifest(target, CdcPipeline.currentVersion(target).get).get
    assert(m2.numBuckets === 16)
    // post-rebucket incremental state equals a one-shot run (carry-
    // over of untouched buckets is covered by the time-travel spec)
    val oneTarget = tmp()
    CdcPipeline.run(spark, cfg(oneTarget), env, tmp(), w2)
    val oneShot = CdcPipeline.readSnapshot(spark, oneTarget).get
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(rows() === oneShot)
    // rebucketing a non-existent target is a no-op
    assert(CdcPipeline.rebucket(spark, tmp(), Seq("user_id"), 8).isEmpty)
  }

  test("loadActive reads an optional num_buckets column into the publish layout") {
    import spark.implicits._
    val withBuckets = Seq(
      ("t1_cdc", "s3://feed/t1", "db", "t1", "/tmp/t1", "id", 1, 64),
      ("t2_cdc", "s3://feed/t2", "db", "t2", "/tmp/t2", "id", 1, 0))
      .toDF("cdc_table", "source_fp", "target_db", "target_table", "target_fp",
        "pk", "is_active", "num_buckets")
    val cs = CdcConfig.loadActive(withBuckets).map(c => c.cdcTable -> c.numBuckets).toMap
    assert(cs("t1_cdc") === Some(64))
    assert(cs("t2_cdc") === None, "non-positive bucket counts fall back to the session default")
    // absent column → None (pre-r3 config tables keep loading)
    val without = withBuckets.drop("num_buckets")
    assert(CdcConfig.loadActive(without).forall(_.numBuckets.isEmpty))
  }

  test("loadActive reads an optional stats_cols column into the data-skipping index") {
    import spark.implicits._
    val df = Seq(
      ("t1_cdc", "s3://feed/t1", "db", "t1", "/tmp/t1", "id", 1, "value, k"),
      ("t2_cdc", "s3://feed/t2", "db", "t2", "/tmp/t2", "id", 1, null))
      .toDF("cdc_table", "source_fp", "target_db", "target_table", "target_fp",
        "pk", "is_active", "stats_cols")
    val cs = CdcConfig.loadActive(df).map(c => c.cdcTable -> c.statsCols).toMap
    assert(cs("t1_cdc") === Seq("value", "k"))
    assert(cs("t2_cdc") === Nil)
    assert(CdcConfig.loadActive(df.drop("stats_cols")).forall(_.statsCols.isEmpty))
  }

  test("loadActive reads optional rollups and auto_vacuum_keep columns") {
    import spark.implicits._
    val df = Seq(
      ("t1_cdc", "s3://feed/t1", "db", "t1", "/tmp/t1", "id", 1,
        "daily:day:amount; by_cat:cat+region:amount", 3),
      ("t2_cdc", "s3://feed/t2", "db", "t2", "/tmp/t2", "id", 1, "", 0))
      .toDF("cdc_table", "source_fp", "target_db", "target_table", "target_fp",
        "pk", "is_active", "rollups", "auto_vacuum_keep")
    val cs = CdcConfig.loadActive(df).map(c => c.cdcTable -> c).toMap
    assert(cs("t1_cdc").rollups.map(r => (r.name, r.groupCols, r.valueCols)) ===
      Seq(("daily", Seq("day"), Seq("amount")),
        ("by_cat", Seq("cat", "region"), Seq("amount"))))
    assert(cs("t1_cdc").autoVacuumKeep === Some(3))
    assert(cs("t2_cdc").rollups.isEmpty, "empty rollup string declares nothing")
    assert(cs("t2_cdc").autoVacuumKeep === None)
  }

  test("JobLog.read merges mixed pre/post insert-update-split schemas") {
    import spark.implicits._
    val log = tmp()
    // an r2-era file: no records_inserted/records_updated columns
    Seq(("run0", "t_cdc", "db", "t", 0L, 100L, 100L, "SUCCESS", "", 5L))
      .toDF("run_id", "cdc_table", "target_db", "target_table", "cdc_start_us",
        "cdc_end_us", "insert_ts_us", "run_status", "error_msg", "records_deleted")
      .coalesce(1).write.mode("append").parquet(log)
    JobLog.append(spark, log, JobLog.RunRecord("run1", "t_cdc", "db", "t",
      100L, 200L, 200L, "SUCCESS", "", records_inserted = 3L,
      records_updated = 2L, records_deleted = 1L))
    val df = JobLog.read(spark, log).get
    // regardless of which footer the reader samples, the merged schema
    // must expose the new columns, with NULL backfill on the old row
    assert(df.columns.contains("records_updated"))
    val byRun = df.select("run_id", "records_updated")
      .as[(String, Option[Long])].collect().toMap
    assert(byRun("run0") === None)
    assert(byRun("run1") === Some(2L))
    // and the watermark contract is unaffected by the mixed dir
    val c = cfg("/tmp/unused").copy(cdcTable = "t_cdc", targetDb = "db", targetTable = "t")
    assert(JobLog.lastWatermark(spark, log, c) === 200L)
  }

  test("readKeys prunes to the keys' hash buckets and equals the full-scan filter") {
    import spark.implicits._
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16))
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    val keys = Seq(1L, 2L, 3L).toDF("user_id")
    val looked = CdcPipeline.readKeys(spark, target, Seq("user_id"), keys).get
    val full = CdcPipeline.readSnapshot(spark, target).get
    assert(looked.orderBy("user_id").collect().map(_.toSeq).toSeq ===
      full.filter(col("user_id").isin(1L, 2L, 3L)).orderBy("user_id")
        .collect().map(_.toSeq).toSeq)
    // the lookup must SCAN fewer files than the snapshot (bucket
    // pruning is visible in the plan's input files)
    assert(looked.inputFiles.length < full.inputFiles.length,
      s"expected pruned scan: ${looked.inputFiles.length} vs ${full.inputFiles.length}")
    assert(looked.inputFiles.toSet.subsetOf(full.inputFiles.toSet))
  }

  test("SCD2: incremental applyDelta across windows equals the one-shot history") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
      .withColumn("k", get_json_object(col(CdcEnvelope.DataCol), "$.k").cast("bigint"))
    val pk = Seq("user_id"); val pay = Seq("event_id", "k", "value")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
      df.select((pk ++ pay ++ Seq("valid_from_us", "valid_to_us")).map(col): _*)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val oneShot = Scd2.fromHistory(CdcEnvelope.window(env, 0L, w2), pk, pay)
    val empty = oneShot.limit(0)
    val h1 = Scd2.applyDelta(empty, CdcEnvelope.window(env, 0L, w1), pk, pay)
      .localCheckpoint(true)
    val h2 = Scd2.applyDelta(h1, CdcEnvelope.window(env, w1, w2), pk, pay)
    assert(rows(h2) === rows(oneShot),
      "windowed SCD2 maintenance must equal the one-shot rebuild")
    // invariants: at most one open slice per PK; slices tile (each
    // close time is the next slice's open time)
    val open = h2.filter(col("valid_to_us").isNull)
      .groupBy("user_id").count().filter(col("count") > 1).count()
    assert(open === 0L, "a PK can have at most one current slice")
    assert(h2.count() > h2.filter(col("valid_to_us").isNull).count(),
      "the fixture must exercise closed (historical) slices")
    // asOf reconstruction at w1 equals the type-1 snapshot of the
    // same span (non-deleted newest-per-PK at that instant)
    val asOf = Scd2.asOf(h2, w1)
      .select((pk ++ pay).map(col): _*).collect().map(_.toSeq).toSet
    val type1 = SnapshotMerge.fromHistory(
        CdcEnvelope.window(env, 0L, w1), pk, pk ++ pay)
      .select((pk ++ pay).map(col): _*).collect().map(_.toSeq).toSet
    assert(asOf === type1, "asOf(history, t) must equal the type-1 merge at t")
    assert(asOf.nonEmpty)
  }

  test("job-log compaction bounds the file count; watermark and history survive, dupes heal") {
    val log = tmp()
    def rec(i: Int) = JobLog.RunRecord(s"run-$i", "events_cdc", "graft",
      "events_snapshot", i * 100L, (i + 1) * 100L, i.toLong, "SUCCESS", "", 1, 0, 0)
    def nFiles: Int = Option(new java.io.File(log).listFiles()).toSeq.flatten
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    (0 until 20).foreach(i => JobLog.append(spark, log, rec(i), autoCompactAt = 0))
    assert(nFiles >= 20, "append-per-run leaves one file per run")
    assert(JobLog.compact(spark, log, minFiles = 16) === 20)
    assert(nFiles === 1, "compaction rewrites the log into one file")
    assert(JobLog.read(spark, log).get.count() === 20)
    assert(JobLog.lastWatermark(spark, log, cfg(tmp())) === 2000L,
      "watermark must survive compaction byte-for-byte")
    assert(JobLog.compact(spark, log, minFiles = 16) === 0, "below threshold is a no-op")
    // crash window: combined file written, inputs not yet deleted →
    // duplicate rows; the next compact's run_id dedup heals them
    (0 until 20).foreach(_ => JobLog.append(spark, log, rec(0), autoCompactAt = 0))
    assert(JobLog.compact(spark, log, minFiles = 16) > 0)
    assert(JobLog.read(spark, log).get.count() === 20, "run_id dedup collapses replayed rows")
    // steady state under auto-compaction stays bounded no matter how
    // many runs append
    (0 until 40).foreach(i => JobLog.append(spark, log, rec(100 + i), autoCompactAt = 8))
    assert(nFiles <= 8, s"auto-compaction must bound the directory, got $nFiles files")
    assert(JobLog.read(spark, log).get.count() === 60)
  }

  test("a job-log path that is a regular file is refused, not read as the epoch") {
    val file = Files.createTempFile("graft-joblog", ".log").toString
    val target = tmp()
    val e1 = intercept[IllegalArgumentException](JobLog.lastWatermark(spark, file, cfg(target)))
    assert(e1.getMessage.contains(file))
    val rec = JobLog.RunRecord("run-0", "events_cdc", "graft", "events_snapshot",
      0L, 100L, 0L, "SUCCESS", "", 1, 0, 0)
    val e2 = intercept[IllegalArgumentException](JobLog.append(spark, file, rec))
    assert(e2.getMessage.contains(file))
    // the run refuses before it merges the source from the epoch
    val env = CdcEnvelope.fromEvents(graft.Tables.events(spark, graft.LocalSpark.sf))
    intercept[IllegalArgumentException](CdcPipeline.run(spark, cfg(target), env, file, w1))
    assert(CdcPipeline.currentVersion(target).isEmpty)
    // a missing log directory is still a fresh log
    assert(JobLog.lastWatermark(spark, s"${tmp()}/absent", cfg(target)) === 0L)
  }

  test("a failing run writes a FAILED job-log row and leaves the snapshot untouched") {
    val env = CdcEnvelope.fromEvents(graft.Tables.events(spark, graft.LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val good = cfg(target)
    CdcPipeline.run(spark, good, env, log, w1)
    val vBefore = CdcPipeline.currentVersion(target)
    // break the config: projection keeps a column that doesn't exist
    val bad = good.copy(passthrough = Seq("event_id", "value", "no_such_col"))
    intercept[Throwable] {
      CdcPipeline.run(spark, bad, env, log, w2)
    }
    assert(CdcPipeline.currentVersion(target) === vBefore)
    val logDf = JobLog.read(spark, log).get
    assert(logDf.filter(org.apache.spark.sql.functions.col("run_status") === "FAILED").count() === 1)
    // watermark ignores FAILED runs: next window retries from w1
    assert(JobLog.lastWatermark(spark, log, good) === w1)
  }

  test("partition_field prunes the scan to the window's day partitions") {
    // Lay the envelope out date-partitioned (the production layout the
    // reference prunes with an explicit PARTITION list, step-8 §5a).
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
      .withColumn("load_date",
        date_format(timestamp_micros(col(CdcEnvelope.LoadTsCol)), "yyyy-MM-dd"))
    val srcDir = tmp()
    env.write.partitionBy("load_date").parquet(s"$srcDir/events_cdc")
    val part = spark.read.parquet(s"$srcDir/events_cdc")

    // Plan check: the day bounds land in PartitionFilters, so Catalyst
    // lists only the window's directories.
    val win = CdcEnvelope.window(part, w0, w1, Some("load_date"))
    val scans = win.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pf = scans.head.partitionFilters.mkString(";")
    assert(pf.contains("load_date"), s"expected load_date in PartitionFilters, got: $pf")
    // Pruning must not change the window contents.
    val expected = CdcEnvelope.window(part.drop("load_date"), w0, w1).count()
    assert(win.count() === expected)

    // End-to-end: a partitioned run equals the unpartitioned run.
    val t1 = tmp(); val l1 = tmp(); val t2 = tmp(); val l2 = tmp()
    val rPart = CdcPipeline.run(spark, cfg(t1).copy(partitionField = Some("load_date")),
      part, l1, w1)
    val rFlat = CdcPipeline.run(spark, cfg(t2),
      CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf)), l2, w1)
    assert(rPart.status === "SUCCESS" && rFlat.status === "SUCCESS")
    assert(rPart.inserted === rFlat.inserted && rPart.deleted === rFlat.deleted)
    val a = CdcPipeline.readSnapshot(spark, t1).get.orderBy("user_id").collect().map(_.toSeq).toSeq
    val b = CdcPipeline.readSnapshot(spark, t2).get.orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("min/max rollups: delta maintenance equals recompute across random histories with extrema deletes") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    val rs = RollupSpec("mm", Seq("grp"), Seq("k"),
      derive = _.withColumn("grp", col("user_id") % lit(4L)),
      numBuckets = Some(2), minCols = Seq("k"), maxCols = Seq("k", "event_id"))
    val c = cfg(target).copy(numBuckets = Some(8), rollups = Seq(rs))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    def state(): Seq[Seq[Any]] = CdcPipeline.readRollup(spark, c, "mm").get
      .select("grp", "n_rows", "sum_k", "min_k", "max_k", "max_event_id")
      .orderBy("grp").collect().map(_.toSeq).toSeq
    def recompute(): Seq[Seq[Any]] = IncrementalAgg.fromSnapshot(
        rs.derive(CdcPipeline.readSnapshot(spark, target).get),
        Seq("grp"), Seq("k"), Seq("k"), Seq("k", "event_id"))
      .select("grp", "n_rows", "sum_k", "min_k", "max_k", "max_event_id")
      .orderBy("grp").collect().map(_.toSeq).toSeq

    // window 1: 40 rows, k = user_id * 10 (each group's extremes known)
    val initial = (1L to 40L).map(u => (u, "u", 100L, u, 100L, s"""{"k":${u * 10}}""", u, 1.0))
    CdcPipeline.run(spark, c, env(initial), log, 1000L)
    assert(state() === recompute()); assert(state().nonEmpty)
    // window 2 targets the extremes deliberately: delete group 0's max
    // (u=40), update group 1's min upward (u=1: k 10→9999), insert a
    // new group-2 min (u=42 → grp 2, k=1), plain insert (u=41)
    val w2delta = Seq(
      (40L, "d", 200L, 100L, 1500L, """{"k":400}""", 100L, 0.0),
      (1L, "u", 200L, 101L, 1500L, """{"k":9999}""", 101L, 1.0),
      (42L, "u", 200L, 102L, 1500L, """{"k":1}""", 102L, 1.0),
      (41L, "u", 200L, 103L, 1500L, """{"k":555}""", 103L, 1.0))
    CdcPipeline.run(spark, c, env(w2delta), log, 2000L)
    assert(state() === recompute(),
      "extrema deletes/updates must route through the per-group rescan")

    // randomized windows: seeded ops over a small key space so deletes
    // of current extrema keep occurring
    val rnd = new scala.util.Random(42)
    (3 to 7).foreach { w =>
      val rows = (0 until 25).map { i =>
        val u = 1L + rnd.nextInt(45)
        val op = if (rnd.nextInt(4) == 0) "d" else "u"
        (u, op, w * 100L, w * 1000L + i, w * 1000L, s"""{"k":${rnd.nextInt(5000)}}""",
          w * 1000L + i, 1.0)
      }
      // one compacted row per PK per window: keep the last op per user
      val compacted = rows.groupBy(_._1).values.map(_.maxBy(_._4)).toSeq
      CdcPipeline.run(spark, c, env(compacted), log, w * 1000L)
      assert(state() === recompute(), s"window $w: delta state must equal recompute")
    }

    // measure-set evolution: dropping max_event_id forces a recompute
    // instead of a broken delta advancement
    val rs2 = rs.copy(maxCols = Seq("k"))
    val c2 = c.copy(rollups = Seq(rs2))
    val w9 = Seq((5L, "u", 900L, 9000L, 9000L, """{"k":77}""", 9000L, 1.0))
    CdcPipeline.run(spark, c2, env(w9), log, 9000L)
    val evolved = CdcPipeline.readRollup(spark, c2, "mm").get
    assert(evolved.columns.toSeq === Seq("grp", "n_rows", "sum_k", "min_k", "max_k"))
    assert(evolved.select("grp", "n_rows", "sum_k", "min_k", "max_k")
      .orderBy("grp").collect().map(_.toSeq).toSeq ===
      IncrementalAgg.fromSnapshot(rs2.derive(CdcPipeline.readSnapshot(spark, target).get),
          Seq("grp"), Seq("k"), Seq("k"), Seq("k"))
        .select("grp", "n_rows", "sum_k", "min_k", "max_k")
        .orderBy("grp").collect().map(_.toSeq).toSeq)

    // config round-trip for the min/max segments
    val parsed = CdcConfig.parseRollups("mm:grp:k:min=k:max=k+event_id; plain:g:v")
    assert(parsed.map(r => (r.name, r.groupCols, r.valueCols, r.minCols, r.maxCols)) ===
      Seq(("mm", Seq("grp"), Seq("k"), Seq("k"), Seq("k", "event_id")),
        ("plain", Seq("g"), Seq("v"), Nil, Nil)))
  }

  test("avg + HLL distinct rollups: delta maintenance equals recompute across random histories with deletes") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    val rs = RollupSpec("ad", Seq("grp"), Seq("k"),
      derive = _.withColumn("grp", col("user_id") % lit(4L)),
      numBuckets = Some(2), avgCols = Seq("k"), distinctCols = Seq("k"),
      varCols = Seq("k"))
    val c = cfg(target).copy(numBuckets = Some(8), rollups = Seq(rs))
    def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) =
      rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    // compare the stored vector plus the DERIVED read-time columns
    // (avg, var/stddev, distinct estimate) — HLL merge is exact, so
    // the maintained sketch's estimate must EQUAL the recompute's
    def state(): Seq[Seq[Any]] = CdcPipeline.readRollup(spark, c, "ad").get
      .select("grp", "n_rows", "sum_k", "cnt_k", "sumsq_k", "avg_k", "var_k",
        "stddev_k", "approx_distinct_k")
      .orderBy("grp").collect().map(_.toSeq).toSeq
    def recompute(): Seq[Seq[Any]] = {
      val m = rs.measures
      val mean = col("sum_k").cast("double") / col("cnt_k").cast("double")
      val v = col("sumsq_k").cast("double") / col("cnt_k").cast("double") - mean * mean
      IncrementalAgg.fromSnapshot(
          rs.derive(CdcPipeline.readSnapshot(spark, target).get), Seq("grp"), m)
        .select(col("grp"), col("n_rows"), col("sum_k"), col("cnt_k"), col("sumsq_k"),
          when(col("cnt_k") > 0, mean).as("avg_k"),
          when(col("cnt_k") > 0, v).as("var_k"),
          when(col("cnt_k") > 0, sqrt(v)).as("stddev_k"),
          coalesce(hll_sketch_estimate(col("hll_k")), lit(0L)).as("approx_distinct_k"))
        .orderBy("grp").collect().map(_.toSeq).toSeq
    }

    val initial = (1L to 40L).map(u => (u, "u", 100L, u, 100L, s"""{"k":${u * 10}}""", u, 1.0))
    CdcPipeline.run(spark, c, env(initial), log, 1000L)
    assert(state() === recompute()); assert(state().nonEmpty)
    // deletes and group-moving updates force the HLL rescan path
    val w2delta = Seq(
      (40L, "d", 200L, 100L, 1500L, """{"k":400}""", 100L, 0.0), // delete
      (1L, "u", 200L, 101L, 1500L, """{"k":70}""", 101L, 1.0),   // update retires k=10
      (42L, "u", 200L, 102L, 1500L, """{"k":1}""", 102L, 1.0),   // new group row
      (41L, "u", 200L, 103L, 1500L, """{"k":555}""", 103L, 1.0))
    CdcPipeline.run(spark, c, env(w2delta), log, 2000L)
    assert(state() === recompute(),
      "retired rows must route their groups through the HLL rescan")
    // randomized windows with a small k space so duplicate values and
    // deletes of last-instance values both keep occurring
    val rnd = new scala.util.Random(7)
    (3 to 7).foreach { w =>
      val rows = (0 until 25).map { i =>
        val u = 1L + rnd.nextInt(45)
        val op = if (rnd.nextInt(4) == 0) "d" else "u"
        (u, op, w * 100L, w * 1000L + i, w * 1000L, s"""{"k":${rnd.nextInt(30)}}""",
          w * 1000L + i, 1.0)
      }
      val compacted = rows.groupBy(_._1).values.map(_.maxBy(_._4)).toSeq
      CdcPipeline.run(spark, c, env(compacted), log, w * 1000L)
      assert(state() === recompute(), s"window $w: delta state must equal recompute")
    }
    // config round-trip for the new segments
    val parsed = CdcConfig.parseRollups("ad:grp:k:avg=k:distinct=k+event_id:var=k; plain:g:v")
    assert(parsed.map(r =>
      (r.name, r.groupCols, r.valueCols, r.avgCols, r.distinctCols, r.varCols)) ===
      Seq(("ad", Seq("grp"), Seq("k"), Seq("k"), Seq("k", "event_id"), Seq("k")),
        ("plain", Seq("g"), Seq("v"), Nil, Nil, Nil)))
  }

  // ---- store-integrated SCD2 (A29) ----------------------------------

  private def projectedWin(env: org.apache.spark.sql.DataFrame, lo: Long, hi: Long) =
    TypedProjection.project(CdcEnvelope.window(env, lo, hi), CdcEnvelope.DataCol,
      Seq(TypedProjection.FieldSpec("k", TypedProjection.Cast(LongType))),
      keep = Seq("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol,
        CdcEnvelope.PosCol, CdcEnvelope.LoadTsCol, "event_id", "value"))

  private val scd2Pay = Seq("k", "event_id", "value")

  private def histRows(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.select((Seq("user_id") ++ scd2Pay ++ Seq("valid_from_us", "valid_to_us")).map(col): _*)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  private def parquetInventory(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("SCD2 store: time-ranged history reads prune whole closed dirs via _RANGE sidecars") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(4), scd2 = Some(Scd2Spec()))
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    val full = Scd2Store.readHistory(spark, c).get
    // fromUs above every window-1 close: d0 (whose slices all closed
    // at window-1 event times <= w1) must be skipped entirely
    val fromUs = w1 + 1
    def expected(from: Long): Map[Seq[Any], Int] = histRows(
      full.filter(col("valid_to_us").isNull || col("valid_to_us") >= from))
    val ranged = Scd2Store.readHistoryRange(spark, c, fromUs).get
    assert(histRows(ranged) === expected(fromUs))
    assert(!ranged.inputFiles.exists(_.contains("/closed/d0/")),
      "a dir whose every slice closed before fromUs must not be scanned")
    assert(ranged.inputFiles.exists(_.contains("/closed/d")),
      "later closed dirs must still be read")
    // a from above EVERY close touches only the open store
    val maxTo = full.agg(max(col("valid_to_us"))).collect()(0).getLong(0)
    val openOnly = Scd2Store.readHistoryRange(spark, c, maxTo + 1).get
    assert(!openOnly.inputFiles.exists(_.contains("/closed/")))
    assert(histRows(openOnly) === expected(maxTo + 1))
    // the sidecar's primary source — parquet footer statistics, zero
    // Spark jobs — must actually serve these files
    val footer = StoreFs.footerLongRange(s"$target/_scd2/closed/d0", "valid_to_us")
    assert(footer.isDefined && footer.get._2 <= w1,
      "footer stats must be readable and bound d0's closes by window 1")
    // conservatism: without the sidecar the dir is read, result equal
    assert(StoreFs.deleteFile(s"$target/_scd2/closed/d0/_RANGE"))
    val conserv = Scd2Store.readHistoryRange(spark, c, fromUs).get
    assert(histRows(conserv) === expected(fromUs))
    assert(conserv.inputFiles.exists(_.contains("/closed/d0/")),
      "a sidecar-less dir must be scanned (never wrongly pruned)")
    // materialize expectations BEFORE compaction deletes the files
    // the lazy `full` plan references
    val expFrom = expected(fromUs)
    val expOpen = expected(maxTo + 1)
    val expBounded = histRows(full.filter(col("valid_from_us") <= w1))
    // compaction rebuilds the combined dir's sidecar; pruning and
    // results survive
    Scd2Store.compactClosed(spark, c)
    Scd2Store.compactClosed(spark, c) // sweep superseded generation
    val afterCompact = Scd2Store.readHistoryRange(spark, c, fromUs).get
    assert(histRows(afterCompact) === expFrom)
    val postOpen = Scd2Store.readHistoryRange(spark, c, maxTo + 1).get
    assert(!postOpen.inputFiles.exists(_.contains("/closed/")),
      "the combined dir's recorded range must still prune")
    assert(histRows(postOpen) === expOpen)
    // bounded ranges exclude slices that only became valid later
    val bounded = Scd2Store.readHistoryRange(spark, c, 0L, Some(w1)).get
    assert(histRows(bounded) === expBounded)
  }

  test("SCD2 store: per-window advancement equals one-shot; closed history appends, never rewrites") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16), scd2 = Some(Scd2Spec()))

    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    val h1 = Scd2Store.readHistory(spark, c).get
    assert(histRows(h1) ===
      histRows(Scd2.fromHistory(projectedWin(env, 0L, w1), Seq("user_id"), scd2Pay)),
      "window 1 history must equal the one-shot build over its span")
    val d0 = parquetInventory(s"$target/_scd2/closed/d0")
    assert(d0.nonEmpty, "the first window must close at least one slice")

    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    val h2 = Scd2Store.readHistory(spark, c).get
    val oneShot = Scd2.fromHistory(projectedWin(env, 0L, w2), Seq("user_id"), scd2Pay)
    assert(histRows(h2) === histRows(oneShot),
      "two maintained windows must equal the one-shot history")
    // I/O probe: closed history is append-only — window 2 added d1 but
    // left d0's files untouched (same paths, same mtimes)
    assert(parquetInventory(s"$target/_scd2/closed/d0") === d0,
      "closed slices from window 1 must not be rewritten by window 2")
    assert(new java.io.File(s"$target/_scd2/closed/d1").isDirectory)
    // open invariant: exactly the live PKs, one slice each, == snapshot
    val open = h2.filter(col("valid_to_us").isNull)
    val snap = CdcPipeline.readSnapshot(spark, target).get
    assert(open.count() === snap.count())
    assert(open.select("user_id", "k", "event_id", "value").collect().map(_.toSeq).toSet ===
      snap.select("user_id", "k", "event_id", "value").collect().map(_.toSeq).toSet)
    // replayed window (same idempotence key) is a no-op
    val w2win = projectedWin(env, w1, w2)
    Scd2Store.maintain(spark, c, w2win,
      CdcPipeline.summarize(c, ChangeCompaction.compactForMerge(w2win, Seq("user_id"))),
      seqKey = w2, targetExistedBefore = true)
    assert(histRows(Scd2Store.readHistory(spark, c).get) === histRows(h2),
      "a replayed window must not advance the history twice")
  }

  test("SCD2 store: bitemporal as-known-at reconstruction equals the persisted intermediate state") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16), scd2 = Some(Scd2Spec()))

    // life 1: advance to w1, capture the TRUE state the store held
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    val trueAtW1 = histRows(Scd2Store.readHistory(spark, c).get)

    // life 2: advance past w1, then reconstruct as-known-at-w1 from
    // the FINAL store — every closure the second advancement added
    // must re-open, every slice it introduced must drop
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    val rebuilt = histRows(Scd2Store.readHistoryAsKnownAt(spark, c, w1).get)
    assert(rebuilt === trueAtW1,
      "as-known-at-w1 over the advanced store must equal the state persisted at w1")
    assert(rebuilt !== histRows(Scd2Store.readHistory(spark, c).get),
      "non-vacuous: the second window must actually have changed the history")

    // composition law: bitemporal(tx=w1, valid=v) ≡ asOf over the
    // reconstruction, and tx=NOW degenerates to the plain readAsOf
    val v = w1 - 1000000L
    val bi = Scd2Store.readBitemporal(spark, c, w1, v).get
    assert(histRows(bi) ===
      histRows(Scd2.asOf(Scd2Store.readHistoryAsKnownAt(spark, c, w1).get, v)))
    assert(histRows(Scd2Store.readBitemporal(spark, c, Long.MaxValue, v).get) ===
      histRows(Scd2Store.readAsOf(spark, c, v).get))
  }

  test("SCD2 store: crash between target publish and history publish converges on replay") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16), scd2 = Some(Scd2Spec()))
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    // simulate the crash window: the w2 merge publishes the target,
    // then the process dies before Scd2Store.maintain and the job log
    val w2changes = ChangeCompaction.compactForMerge(projectedWin(env, w1, w2), Seq("user_id"))
    CdcPipeline.mergeAndPublish(spark, c, w2changes, CdcPipeline.summarize(c, w2changes))
    assert(Scd2Store.lastAppliedSeq(c) === w1, "history still reflects window 1")
    // replay: the watermark never advanced, so run() re-merges the
    // same window (idempotent) and must apply the history delta ONCE
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    val oneShot = Scd2.fromHistory(projectedWin(env, 0L, w2), Seq("user_id"), scd2Pay)
    assert(histRows(Scd2Store.readHistory(spark, c).get) === histRows(oneShot),
      "history after crash+replay must equal the no-crash one-shot")
  }

  test("SCD2 store: a torn closed write above the committed version is invisible and healed") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16), scd2 = Some(Scd2Spec()))
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    val h1 = histRows(Scd2Store.readHistory(spark, c).get)
    // simulate a crash AFTER writing closed/d1 but BEFORE the open
    // store's pointer swap: junk content lands in d1
    val junk = Scd2.fromHistory(projectedWin(env, 0L, w1), Seq("user_id"), scd2Pay)
      .filter(col("valid_to_us").isNotNull).limit(5)
    CdcPipeline.writeBuckets(junk, Seq("user_id"), 16, s"$target/_scd2/closed/d1")
    assert(histRows(Scd2Store.readHistory(spark, c).get) === h1,
      "an uncommitted closed dir must be invisible to readers")
    // the replayed window overwrites the torn dir and commits
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    val oneShot = Scd2.fromHistory(projectedWin(env, 0L, w2), Seq("user_id"), scd2Pay)
    assert(histRows(Scd2Store.readHistory(spark, c).get) === histRows(oneShot))
  }

  test("SCD2 store: late declaration bootstraps from the current snapshot, then advances by delta") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val w15 = CdcEnvelope.epochUs("2024-01-22T00:00:00Z")
    val c = cfg(target).copy(numBuckets = Some(16))
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS") // pre-declaration window
    val c2 = c.copy(scd2 = Some(Scd2Spec()))
    assert(CdcPipeline.run(spark, c2, env, log, w15).status === "SUCCESS") // declares: bootstrap
    val boot = Scd2Store.readHistory(spark, c2).get
    val snapAtBoot = CdcPipeline.readSnapshot(spark, target).get
    assert(boot.filter(col("valid_to_us").isNotNull).count() === 0L,
      "bootstrap has no closed slices (pre-declaration events are gone)")
    assert(boot.count() === snapAtBoot.count(), "bootstrap = one open slice per live row")
    assert(boot.filter(col("valid_from_us") =!= 0L).count() === 0L,
      "without tsCol the bootstrap slices are valid since 0")
    // next window advances the bootstrapped history incrementally
    val bootPinned = boot.localCheckpoint(true)
    assert(CdcPipeline.run(spark, c2, env, log, w2).status === "SUCCESS")
    val expected = Scd2.applyDelta(bootPinned, projectedWin(env, w15, w2),
      Seq("user_id"), scd2Pay)
    assert(histRows(Scd2Store.readHistory(spark, c2).get) === histRows(expected),
      "post-bootstrap windows must advance the history exactly like applyDelta")
  }

  test("SCD2 ↔ rollup composition: both stores maintained under one run agree with the target") {
    import spark.implicits._
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16),
      scd2 = Some(Scd2Spec()),
      rollups = Seq(RollupSpec("by_k", Seq("k"), Seq("event_id"), numBuckets = Some(2))))
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    def agg(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      IncrementalAgg.fromSnapshot(df, Seq("k"), Seq("event_id"))
        .select("k", "n_rows", "sum_event_id").as[(Long, Long, Long)]
        .collect().map { case (k, n, s) => k -> ((n, s)) }.toMap
    val overHistory = agg(Scd2Store.readAsOf(spark, c, Long.MaxValue).get
      .select("k", "event_id"))
    val overTarget = agg(CdcPipeline.readSnapshot(spark, target).get.select("k", "event_id"))
    val state = CdcPipeline.readRollup(spark, c, "by_k").get
      .select("k", "n_rows", "sum_event_id").as[(Long, Long, Long)]
      .collect().map { case (k, n, s) => k -> ((n, s)) }.toMap
    assert(overHistory === overTarget,
      "the history's current slices must reconstruct the target")
    assert(state === overTarget, "the maintained rollup must equal the recompute")
  }

  test("SCD2/rollup key lookups prune to the keys' buckets (inputFiles-asserted)") {
    import spark.implicits._
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16),
      scd2 = Some(Scd2Spec()),
      rollups = Seq(RollupSpec("by_k", Seq("k"), Seq("event_id"), numBuckets = Some(8))))
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")

    // rollup lookup: equals the full-state filter, reading fewer files
    val state = CdcPipeline.readRollup(spark, c, "by_k").get
    val someKs = state.select("k").orderBy("k").limit(2).as[Long].collect().toSeq
    val rk = CdcPipeline.readRollupKeys(spark, c, "by_k", someKs.toDF("k")).get
    assert(rk.orderBy("k").collect().map(_.toSeq).toSeq ===
      state.filter(col("k").isin(someKs: _*)).orderBy("k").collect().map(_.toSeq).toSeq)
    assert(rk.inputFiles.length < state.inputFiles.length,
      s"rollup lookup must prune: ${rk.inputFiles.length} vs ${state.inputFiles.length}")

    // history as-of-key lookup: key + instant → that key's slices at
    // the instant, pruned to the key's buckets in open AND closed dirs
    val hist = Scd2Store.readHistory(spark, c).get
    val keys = Seq(1L, 2L).toDF("user_id")
    val hk = Scd2Store.readKeys(spark, c, keys, asOfUs = Some(w1)).get
    val expected = Scd2.asOf(hist, w1).filter(col("user_id").isin(1L, 2L))
    assert(hk.orderBy("user_id").collect().map(_.toSeq).toSeq ===
      expected.orderBy("user_id").collect().map(_.toSeq).toSeq)
    assert(hk.inputFiles.length < hist.inputFiles.length,
      s"history lookup must prune: ${hk.inputFiles.length} vs ${hist.inputFiles.length}")
    assert(hk.inputFiles.toSet.subsetOf(hist.inputFiles.toSet))
  }

  test("SCD2 store: an empty first window still creates the history, keeping later windows incremental") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16), scd2 = Some(Scd2Spec()))
    // window 1 predates all events: empty, but the declared history
    // must come into existence so window 2 advances incrementally
    // (a bootstrap there would collapse window 2's per-event chains)
    val wEarly = CdcEnvelope.epochUs("2023-06-01T00:00:00Z")
    assert(CdcPipeline.run(spark, c, env, log, wEarly).status === "SUCCESS")
    assert(Scd2Store.readHistory(spark, c).get.count() === 0L,
      "empty window: the history exists and is empty")
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    val oneShot = Scd2.fromHistory(projectedWin(env, 0L, w2), Seq("user_id"), scd2Pay)
    assert(histRows(Scd2Store.readHistory(spark, c).get) === histRows(oneShot),
      "the window after an empty first window must keep full per-event history")
  }

  test("SCD2 store survives additive schema evolution: old slices read NULL, new slices carry the column") {
    import spark.implicits._
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16), scd2 = Some(Scd2Spec()))
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    val closed1 = Scd2Store.readHistory(spark, c).get.filter(col("valid_to_us").isNotNull).count()
    // the config evolves: event_type joins the payload
    val c2 = c.copy(passthrough = Seq("event_id", "value", "event_type"))
    assert(CdcPipeline.run(spark, c2, env, log, w2).status === "SUCCESS")
    val hist = Scd2Store.readHistory(spark, c2).get
    assert(hist.columns.contains("event_type"))
    // pre-evolution slices backfill NULL; the new window's slices
    // carry the real value
    assert(hist.filter(col("valid_from_us") <= lit(w1) && col("event_type").isNotNull)
      .count() === 0L)
    assert(hist.filter(col("valid_from_us") > lit(w1) && col("event_type").isNull)
      .count() === 0L)
    assert(hist.filter(col("valid_to_us").isNotNull).count() > closed1,
      "window 2 must have closed more slices")
    // the open slices still reconstruct the (itself evolved) target
    val open = hist.filter(col("valid_to_us").isNull)
      .select("user_id", "k", "event_id", "value", "event_type")
    val snap = CdcPipeline.readSnapshot(spark, target).get
      .select("user_id", "k", "event_id", "value", "event_type")
    assert(open.collect().map(_.toSeq).toSet === snap.collect().map(_.toSeq).toSet)
    assert(open.count() > 0)
  }

  test("rollupDiff and closedSince expose incremental feeds over the maintained stores") {
    import spark.implicits._
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val w15 = CdcEnvelope.epochUs("2024-01-22T00:00:00Z")
    val c = cfg(target).copy(numBuckets = Some(16),
      scd2 = Some(Scd2Spec()),
      rollups = Seq(RollupSpec("by_k", Seq("k"), Seq("event_id"), numBuckets = Some(4))))
    Seq(w1, w15, w2).foreach(w => assert(CdcPipeline.run(spark, c, env, log, w).status === "SUCCESS"))

    // rollup change feed: snapshotDiff over the rollup store agrees
    // with a hand diff of its two time-traveled states
    val rdir = CdcPipeline.rollupPath(c, "by_k")
    def stateAt(v: Long): Map[Long, Seq[Any]] =
      CdcPipeline.readSnapshotAt(spark, rdir, v).get
        .collect().map(r => r.getAs[Long]("k") -> r.toSeq).toMap
    val (s0, s2) = (stateAt(0L), stateAt(2L))
    val diff = CdcPipeline.rollupDiff(spark, c, "by_k", 0L, 2L).get
      .select(col("k"), col(CdcEnvelope.OpCol)).as[(Long, String)].collect().toMap
    val expected =
      (s2.keySet -- s0.keySet).map(_ -> "i") ++
        (s0.keySet -- s2.keySet).map(_ -> "d") ++
        s0.keySet.intersect(s2.keySet).filter(k => s0(k) != s2(k)).map(_ -> "u")
    assert(diff === expected.toMap)
    assert(diff.nonEmpty, "the fixture must change some groups")

    // history closed-slice feed: dirs strictly after the version are
    // read, nothing else (append-only incremental consumption)
    val hist = Scd2Store.readHistory(spark, c).get
    val allClosed = histRows(hist.filter(col("valid_to_us").isNotNull))
    val sinceStart = Scd2Store.closedSince(spark, c, -1L).get
    assert(histRows(sinceStart) === allClosed)
    val since0 = Scd2Store.closedSince(spark, c, 0L).get
    val d0 = parquetInventory(s"$target/_scd2/closed/d0").keySet
    assert(since0.inputFiles.forall(f => !d0.contains(new java.io.File(new java.net.URI(f)).getAbsolutePath)),
      "a feed from version 0 must not re-read d0")
    assert(histRows(since0).values.sum < allClosed.values.sum)
    assert(Scd2Store.closedSince(spark, c,
      CdcPipeline.currentVersion(s"$target/_scd2/open").get).get.count() === 0L)
  }

  test("SCD2 store handles composite primary keys end-to-end") {
    import spark.implicits._
    val target = tmp(); val log = tmp()
    val c = CdcTableConfig(
      cdcTable = "mpk_cdc", sourcePath = "mem", targetDb = "graft",
      targetTable = "t", targetPath = target, pk = Seq("uid", "part"),
      fieldSpecs = Seq(TypedProjection.FieldSpec("k", TypedProjection.Cast(LongType))),
      numBuckets = Some(8), scd2 = Some(Scd2Spec()))
    def env(rows: Seq[(Long, String, String, Long, Long, Long, String)]) =
      rows.toDF("uid", "part", CdcEnvelope.OpCol, CdcEnvelope.TsCol,
        CdcEnvelope.PosCol, CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol)
    val w1rows = Seq(
      (1L, "a", "u", 100L, 1L, 100L, """{"k":10}"""),
      (1L, "b", "u", 100L, 2L, 100L, """{"k":20}"""),
      (2L, "a", "u", 100L, 3L, 100L, """{"k":30}"""))
    val w2rows = Seq(
      (1L, "a", "u", 200L, 4L, 1500L, """{"k":11}"""), // new version of (1,a)
      (1L, "b", "d", 200L, 5L, 1500L, """{"k":0}"""),  // delete (1,b)
      (3L, "a", "u", 200L, 6L, 1500L, """{"k":40}""")) // insert (3,a)
    assert(CdcPipeline.run(spark, c, env(w1rows), log, 1000L).status === "SUCCESS")
    assert(CdcPipeline.run(spark, c, env(w2rows), log, 2000L).status === "SUCCESS")
    val hist = Scd2Store.readHistory(spark, c).get
    def projectedAll = TypedProjection.project(env(w1rows ++ w2rows), CdcEnvelope.DataCol,
      c.fieldSpecs, keep = Seq("uid", "part", CdcEnvelope.OpCol, CdcEnvelope.TsCol,
        CdcEnvelope.PosCol, CdcEnvelope.LoadTsCol))
    val oneShot = Scd2.fromHistory(projectedAll, Seq("uid", "part"), Seq("k"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select("uid", "part", "k", "valid_from_us", "valid_to_us")
        .collect().map(_.toSeq).toSet
    assert(rows(hist) === rows(oneShot))
    // (1,a) has a closed + an open slice; (1,b) only a closed one;
    // the composite key is the slice identity, not uid alone
    assert(hist.filter(col("uid") === 1 && col("part") === "a").count() === 2L)
    assert(hist.filter(col("uid") === 1 && col("part") === "b" &&
      col("valid_to_us").isNull).count() === 0L)
    assert(hist.filter(col("valid_to_us").isNull).count() ===
      CdcPipeline.readSnapshot(spark, target).get.count())
    // composite-key lookup prunes and matches the full-history filter
    val keys = Seq((1L, "a")).toDF("uid", "part")
    val hk = Scd2Store.readKeys(spark, c, keys).get
    assert(rows(hk) === rows(hist.filter(col("uid") === 1 && col("part") === "a")))
    assert(hk.inputFiles.length < hist.inputFiles.length)
  }

  test("SCD2 compactClosed: one combined dir, identical content, crash-safe pointer") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val w15 = CdcEnvelope.epochUs("2024-01-22T00:00:00Z")
    val c = cfg(target).copy(numBuckets = Some(16), scd2 = Some(Scd2Spec()))
    Seq(w1, w15, w2).foreach(w => assert(CdcPipeline.run(spark, c, env, log, w).status === "SUCCESS"))
    val before = histRows(Scd2Store.readHistory(spark, c).get)
    def closedDirs: Set[String] = Option(new java.io.File(s"$target/_scd2/closed").listFiles())
      .toSeq.flatten.filter(f => f.isDirectory && f.getName.matches("[dcg]\\d+"))
      .map(_.getName).toSet
    assert(closedDirs.size === 3, s"three windows → three closed dirs, got $closedDirs")
    assert(Scd2Store.compactClosed(spark, c) === 3)
    assert(closedDirs.contains("g1"), s"compaction must produce the combined dir, got $closedDirs")
    assert(histRows(Scd2Store.readHistory(spark, c).get) === before,
      "compaction must not change the history")
    // superseded inputs linger as reader grace; the NEXT compaction's
    // orphan sweep removes them, then finds nothing left to combine
    assert(Scd2Store.compactClosed(spark, c) === 0, "a compacted store is a no-op")
    assert(closedDirs === Set("g1"), s"the sweep must drop the superseded dirs, got $closedDirs")

    // retention: dropping closed slices before w15 is a declared,
    // surgical loss — the current reconstruction is untouched
    val openBefore = histRows(Scd2Store.readHistory(spark, c).get
      .filter(col("valid_to_us").isNull))
    assert(Scd2Store.compactClosed(spark, c, dropClosedBeforeUs = Some(w15)) === 1)
    val kept = Scd2Store.readHistory(spark, c).get
    assert(kept.filter(col("valid_to_us").isNotNull && col("valid_to_us") <= lit(w15))
      .count() === 0L, "slices closed at/before the horizon are gone")
    assert(histRows(kept) === before.filter { case (row, _) =>
      row.last == null || row.last.asInstanceOf[Long] > w15 }, // last col = valid_to_us
      "retention must keep exactly the post-horizon and open slices")
    assert(histRows(kept.filter(col("valid_to_us").isNull)) === openBefore,
      "open slices are never touched by retention")
    // config parsing of the declaration round-trips
    assert(CdcConfig.parseScd2("*") === Scd2Spec())
    assert(CdcConfig.parseScd2("a+b@updated_at") ===
      Scd2Spec(payloadCols = Seq("a", "b"), tsCol = Some("updated_at")))

    // auto-compaction: the maintenance pass bounds the dir count
    // itself when the spec declares a threshold
    val target2 = tmp(); val log2 = tmp()
    val cAuto = cfg(target2).copy(numBuckets = Some(16),
      scd2 = Some(Scd2Spec(autoCompactAt = Some(2))))
    Seq(w1, w15, w2).foreach(w =>
      assert(CdcPipeline.run(spark, cAuto, env, log2, w).status === "SUCCESS"))
    def autoDirs: Set[String] = Option(new java.io.File(s"$target2/_scd2/closed").listFiles())
      .toSeq.flatten.filter(f => f.isDirectory && f.getName.matches("[dcg]\\d+"))
      .map(_.getName).toSet
    assert(autoDirs.contains("g1"), s"auto-compaction must produce the combined dir, got $autoDirs")
    assert(histRows(Scd2Store.readHistory(spark, cAuto).get) ===
      histRows(Scd2.fromHistory(projectedWin(env, 0L, w2), Seq("user_id"), scd2Pay)))
    assert(Scd2Store.compactClosed(spark, cAuto) === 0)
    assert(autoDirs === Set("g1"), s"grace dirs swept on the next pass, got $autoDirs")
  }

  test("SCD2 store: crash-replay with a FRESH window end applies only the unapplied suffix") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16), scd2 = Some(Scd2Spec()))
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    // crash scenario (ADVICE r6): the w2 run merges the target AND
    // advances the history, then dies before the job-log SUCCESS
    // append — the watermark still points at w1
    val w2changes = ChangeCompaction.compactForMerge(projectedWin(env, w1, w2), Seq("user_id"))
    val w2summary = CdcPipeline.summarize(c, w2changes)
    CdcPipeline.mergeAndPublish(spark, c, w2changes, w2summary)
    Scd2Store.maintain(spark, c, projectedWin(env, w1, w2), w2summary, seqKey = w2,
      targetExistedBefore = true, seqIsLoadTs = true)
    assert(Scd2Store.lastAppliedSeq(c) === w2, "history reflects the crashed run's window")
    // replay: the scheduler passes FRESH wall-clock w3 > w2, so the
    // re-run's window is the SUPERSET (w1, w3] under a NEW key —
    // without the load_ts filter the already-applied (w1, w2] prefix
    // would re-close open slices at first-event times preceding their
    // valid_from, corrupting the (non-recomputable) history forever
    val w3 = w2 + 86400L * 1000000L
    assert(CdcPipeline.run(spark, c, env, log, w3).status === "SUCCESS")
    val oneShot = Scd2.fromHistory(projectedWin(env, 0L, w3), Seq("user_id"), scd2Pay)
    assert(histRows(Scd2Store.readHistory(spark, c).get) === histRows(oneShot),
      "superset-window replay must apply only the not-yet-applied suffix")
    assert(Scd2Store.readHistory(spark, c).get
      .filter(col("valid_to_us").isNotNull && col("valid_to_us") < col("valid_from_us"))
      .count() === 0L, "no inverted validity intervals")
  }

  test("SCD2 store: widened payload declaration reads as typed NULLs before the next advancement") {
    import spark.implicits._
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = cfg(target).copy(numBuckets = Some(16), scd2 = Some(Scd2Spec()))
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    // widen the config: a new projected column the target and history
    // have never written (the reference picks up such adds by
    // re-reading INFORMATION_SCHEMA and tolerates the gap —
    // merge.sql:179–219)
    val c2 = c.copy(fieldSpecs = c.fieldSpecs :+
      FieldSpec("k", TypedProjection.EpochSeconds, "k_ts"))
    val hist = Scd2Store.readHistory(spark, c2).get
    assert(hist.schema("k_ts").dataType === org.apache.spark.sql.types.TimestampType,
      "the unwritten column is typed from the config's projection rule")
    assert(hist.filter(col("k_ts").isNotNull).count() === 0L,
      "declared-but-unadvanced column reads as NULL")
    assert(histRows(hist) ===
      histRows(Scd2.fromHistory(projectedWin(env, 0L, w1), Seq("user_id"), scd2Pay)),
      "the carried columns are unchanged by the backfill")
    // readKeys and closedSince tolerate the gap the same way
    val keys = Seq(1L, 2L, 3L).toDF("user_id")
    val hk = Scd2Store.readKeys(spark, c2, keys).get
    assert(hk.columns.contains("k_ts") && hk.filter(col("k_ts").isNotNull).count() === 0L)
    val cs = Scd2Store.closedSince(spark, c2, -1L).get
    assert(cs.columns.contains("k_ts") && cs.filter(col("k_ts").isNotNull).count() === 0L)
    // the NEXT advancement writes the column; pre-widening slices stay NULL
    assert(CdcPipeline.run(spark, c2, env, log, w2).status === "SUCCESS")
    val hist2 = Scd2Store.readHistory(spark, c2).get
    assert(hist2.filter(col("k_ts").isNotNull).count() > 0L,
      "post-advancement slices carry real values")
    assert(histRows(hist2) ===
      histRows(Scd2.fromHistory(projectedWin(env, 0L, w2), Seq("user_id"), scd2Pay)),
      "two maintained windows still equal the one-shot on the original columns")

    // second widening flavor: explicit payloadCols gain an EXISTING
    // target column — the type resolves from the target's own schema
    val target2 = tmp(); val log2 = tmp()
    val cNarrow = cfg(target2).copy(numBuckets = Some(16),
      scd2 = Some(Scd2Spec(payloadCols = Seq("k"))))
    assert(CdcPipeline.run(spark, cNarrow, env, log2, w1).status === "SUCCESS")
    val cWide = cNarrow.copy(scd2 = Some(Scd2Spec(payloadCols = Seq("k", "value"))))
    val histW = Scd2Store.readHistory(spark, cWide).get
    assert(histW.schema("value").dataType === org.apache.spark.sql.types.DoubleType,
      "an existing target column types from the target store's schema")
    assert(histW.filter(col("value").isNotNull).count() === 0L)
    assert(CdcPipeline.run(spark, cWide, env, log2, w2).status === "SUCCESS")
    assert(Scd2Store.readHistory(spark, cWide).get
      .filter(col("value").isNotNull).count() > 0L)
  }

  test("runAll executes every active config and isolates failures") {
    val env = CdcEnvelope.fromEvents(graft.Tables.events(spark, graft.LocalSpark.sf))
    val t1 = tmp(); val t2 = tmp(); val log = tmp()
    val good = cfg(t1)
    val bad = cfg(t2).copy(targetTable = "broken", passthrough = Seq("no_such_col"))
    val results = CdcPipeline.runAll(spark, Seq(good, bad), _ => env, log, w1)
    assert(results("graft.events_snapshot").isRight)
    assert(results("graft.broken").isLeft)
    assert(CdcPipeline.readSnapshot(spark, t1).get.count() > 0)
  }

  test("expireSnapshots: time-based retire of unreferenced versions; referenced dirs survive") {
    import spark.implicits._
    val dir = tmp()
    val df = spark.range(0, 100).select(col("id"), lit("x").as("t"))
    CdcPipeline.publish(df, dir, Seq("id"), buckets = Some(4))
    Thread.sleep(5)
    CdcPipeline.publish(df.withColumn("t", lit("y")), dir, Seq("id"))
    Thread.sleep(5)
    CdcPipeline.publish(df.withColumn("t", lit("z")), dir, Seq("id"))
    val commits = CdcPipeline.describeHistory(spark, dir).get
      .select("version", "commit_us").as[(Long, Long)].collect().toMap
    // horizon = v2's commit: v0/v1 are strictly older, fully rewritten
    // (unreferenced) → reclaimed; the current version survives
    assert(CdcPipeline.expireSnapshots(dir, commits(2L)) === Seq(0L, 1L))
    assert(CdcPipeline.readSnapshotAt(spark, dir, 1L) === None)
    assert(CdcPipeline.readSnapshot(spark, dir).get
      .select("t").distinct.as[String].collect().toSeq === Seq("z"))
    // a horizon in the future still keeps the current version
    assert(CdcPipeline.expireSnapshots(dir, Long.MaxValue) === Seq.empty)
    assert(CdcPipeline.readSnapshot(spark, dir).get.count() === 100L)

    // carried references: a delta write keeps the old dir alive, so an
    // expired-but-referenced version is NOT reclaimed (never tear a
    // kept version's data) and stays readable through the carried dir
    val d2 = tmp()
    CdcPipeline.publish(df, d2, Seq("id"), buckets = Some(4))
    Thread.sleep(5)
    CdcPipeline.deleteWhere(spark, d2, Seq("id"), col("id") === 7L)
    val c2 = CdcPipeline.describeHistory(spark, d2).get
      .select("version", "commit_us").as[(Long, Long)].collect().toMap
    assert(CdcPipeline.expireSnapshots(d2, c2(1L)) === Seq.empty,
      "v0's dir is carried by v1 — reclaiming it would tear the current version")
    assert(CdcPipeline.readSnapshot(spark, d2).get.count() === 99L)
    assert(CdcPipeline.readSnapshotAt(spark, d2, 0L).get.count() === 100L)
  }

  test("maintain: trigger-gated fold + compaction + retention in one leased pass; idle store no-ops") {
    import spark.implicits._
    val dir = tmp()
    // publish from many partitions → bucket dirs hold several files
    CdcPipeline.publish(spark.range(0, 4000).repartition(16)
      .select(col("id"), (col("id") % 31).as("k")), dir, Seq("id"),
      buckets = Some(4))
    // MoR-delete 20% so the 10% fold threshold fires; the fold's own
    // rewrite covers every bucket the DV touches (here: all), so the
    // small-file pass finds nothing left — fold-then-compact ordering
    CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") % 5 === 0)
    val before = CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "k").collect().map(_.toSeq).toSet

    val r = CdcPipeline.maintain(spark, dir, Seq("id"),
      CdcPipeline.MaintenancePolicy(smallFilesPerBucket = Some(1),
        keepVersions = Some(1))).get
    assert(r.foldedDvVersion.isDefined, "20% DV must cross the 10% threshold")
    assert(r.vacuumed.nonEmpty, "keepVersions=1 reclaims the superseded versions")

    // fragmentation WITHOUT a DV: publishes write one file per bucket
    // by construction, so fragment deliberately via an OPTIMIZE with a
    // small maxRecordsPerFile (the A40 row-group-splitting knob) —
    // then the small-file pass must fire on its own
    val dirB = tmp()
    CdcPipeline.publish(spark.range(0, 4000)
      .select(col("id"), (col("id") % 31).as("k")), dirB, Seq("id"),
      buckets = Some(4))
    CdcPipeline.optimize(spark, dirB, Seq("id"), sortCols = Seq("k"),
      maxRecordsPerFile = 200L)
    val rB = CdcPipeline.maintain(spark, dirB, Seq("id"),
      CdcPipeline.MaintenancePolicy(smallFilesPerBucket = Some(1))).get
    assert(rB.foldedDvVersion.isEmpty && rB.optimizedBuckets.nonEmpty,
      s"multi-file buckets must compact: $rB")
    val vB = CdcPipeline.currentVersion(dirB).get
    rB.optimizedBuckets.foreach { b =>
      assert(StoreFs.listFilePaths(s"$dirB/v$vB/_graft_bucket=$b", ".parquet")
        .size <= 1)
    }
    // content identical; every bucket now one file; DV retired
    assert(CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "k").collect().map(_.toSeq).toSet === before)
    val v = CdcPipeline.currentVersion(dir).get
    (0 until 4).foreach { b =>
      val files = StoreFs.listFilePaths(s"$dir/v$v/_graft_bucket=$b", ".parquet")
      assert(files.size <= 1, s"bucket $b still fragmented: ${files.size}")
    }
    assert(CdcPipeline.dvStats(dir).isEmpty, "fold must retire the vector")

    // second pass: nothing left to do — the all-idle report
    val r2 = CdcPipeline.maintain(spark, dir, Seq("id"),
      CdcPipeline.MaintenancePolicy(smallFilesPerBucket = Some(1),
        keepVersions = Some(1))).get
    assert(r2 === CdcPipeline.MaintenanceReport(None, Set.empty, None,
      Seq.empty, Seq.empty, Seq.empty))
    assert(CdcPipeline.currentVersion(dir).get === v, "idle maintain publishes nothing")
    // no store → None
    assert(CdcPipeline.maintain(spark, tmp(), Seq("id")) === None)
  }

  test("describeSchemaHistory tags every field change across add/drop/rename") {
    import spark.implicits._
    val dir = tmp()
    CdcPipeline.publish(spark.range(0, 20)
      .select(col("id"), lit(1L).as("k")), dir, Seq("id"), buckets = Some(2))
    CdcPipeline.addColumnWithDefault(spark, dir, "w",
      org.apache.spark.sql.types.LongType, 7L)          // v1: + w
    CdcPipeline.dropColumns(spark, dir, Seq("id"), Seq("k"))  // v2: - k
    CdcPipeline.renameColumn(spark, dir, Seq("id"), "w", "weight") // v3: w→weight
    val h = CdcPipeline.describeSchemaHistory(spark, dir).get
      .as[(Long, String, String, String)].collect().toSet
    assert(h.filter(_._1 == 0L).map(r => (r._2, r._4)) ===
      Set(("id", "initial"), ("k", "initial")))
    assert(h.filter(_._1 == 1L).map(r => (r._2, r._4)) ===
      Set(("id", "kept"), ("k", "kept"), ("w", "added")))
    assert(h.filter(_._1 == 2L).map(r => (r._2, r._4)) ===
      Set(("id", "kept"), ("w", "kept"), ("k", "dropped")))
    // rename is the honest drop+add pair
    assert(h.filter(_._1 == 3L).map(r => (r._2, r._4)) ===
      Set(("id", "kept"), ("weight", "added"), ("w", "dropped")))
    // dropped rows carry the OLD type for forensics
    assert(h.find(r => r._1 == 2L && r._2 == "k").get._3 === "bigint")
  }

  test("auditData: healthy store is clean; a smuggled file surfaces as misrouted + duplicate") {
    import spark.implicits._
    val dir = tmp()
    CdcPipeline.publish(
      spark.range(0, 200).select(col("id"), (col("id") * 2).as("k")),
      dir, Seq("id"), buckets = Some(4))
    val clean = CdcPipeline.auditData(spark, dir, Seq("id")).get.collect()
    assert(clean.length === 2)
    assert(clean.forall(r => r.getString(0) == "ok" && r.getLong(2) == 0L),
      s"healthy store must audit clean: ${clean.mkString(";")}")

    // smuggle a copy of bucket 0's data file into bucket 1's dir:
    // its rows hash to bucket 0 (misrouted) and still live in bucket
    // 0 too (duplicate PKs) — the torn-interleaved-publish shape
    val ver = CdcPipeline.currentVersion(dir).get
    val b0 = new java.io.File(s"$dir/v$ver/_graft_bucket=0")
    val b1 = new java.io.File(s"$dir/v$ver/_graft_bucket=1")
    val part = b0.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath,
      new java.io.File(b1, "part-smuggled.parquet").toPath)

    val bad = CdcPipeline.auditData(spark, dir, Seq("id")).get
      .select("check", "severity", "violations", "sample_keys")
      .as[(String, String, Long, String)].collect().map(r => r._1 -> r).toMap
    val smuggled = spark.read.parquet(part.getPath).count()
    assert(bad("misrouted_rows")._2 === "error")
    assert(bad("misrouted_rows")._3 === smuggled,
      "every smuggled row is outside its hash bucket")
    assert(bad("duplicate_pks")._2 === "error")
    assert(bad("duplicate_pks")._3 === smuggled,
      "every smuggled PK now has two live rows")
    assert(bad("misrouted_rows")._4.nonEmpty && bad("duplicate_pks")._4.nonEmpty,
      "bounded key samples for debugging")

    // a DV-deleted duplicate must NOT false-positive: MoR-delete the
    // smuggled rows' PKs out — the audit reads DV-applied…
    // (deleting by predicate hits BOTH copies, so instead assert the
    // audit count is stable across a re-run — determinism check)
    val again = CdcPipeline.auditData(spark, dir, Seq("id")).get
      .select("violations").as[Long].collect().toSeq.sorted
    assert(again === Seq(smuggled, smuggled))
  }
}
