package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.LongType
import graft.LocalSpark
import graft.cdc._
import java.nio.file.Files

/** A11/A12: streaming CDC merge converges to the batch merge across
  * micro-batches; stateful first-seen dedup emits once per key.
  */
class CdcStreamSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  // (user_id, op, ts_us, pos, load_ts_us, data, event_id, value)
  private type Env = (Long, String, Long, Long, Long, String, Long, Double)
  private def toDf(rows: Seq[Env]) = {
    import spark.implicits._
    rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
      CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
  }

  private val cfg = CdcTableConfig(
    cdcTable = "mem_cdc", sourcePath = "mem", targetDb = "graft",
    targetTable = "t", targetPath = s"mem-${java.util.UUID.randomUUID()}",
    pk = Seq("user_id"),
    fieldSpecs = Seq(TypedProjection.FieldSpec("k", TypedProjection.Cast(LongType))),
    passthrough = Seq("event_id", "value"))

  private val batch1: Seq[Env] = Seq(
    (1L, "u", 100L, 1L, 100L, """{"k":10}""", 1L, 1.0),
    (2L, "u", 100L, 2L, 100L, """{"k":20}""", 2L, 2.0),
    (3L, "u", 100L, 3L, 100L, """{"k":30}""", 3L, 3.0))
  private val batch2: Seq[Env] = Seq(
    (2L, "d", 200L, 4L, 200L, """{"k":20}""", 4L, 2.0),  // delete 2
    (3L, "u", 200L, 5L, 200L, """{"k":31}""", 5L, 3.5),  // update 3
    (4L, "u", 200L, 6L, 200L, """{"k":40}""", 6L, 4.0))  // insert 4

  test("streaming merge across micro-batches equals the batch merge") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Env]
    val env = mem.toDF().toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol,
      CdcEnvelope.PosCol, CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = StreamTestkit.startMerge(env, cfg, ckpt)()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = SnapshotStore.get(cfg.targetPath).get
      .orderBy("user_id").select("user_id", "k", "event_id", "value")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed === Seq((1L, 10L, 1L, 1.0), (3L, 31L, 5L, 3.5), (4L, 40L, 6L, 4.0)))

    // batch reference over the same rows
    val all = TypedProjection.project(toDf(batch1 ++ batch2), CdcEnvelope.DataCol,
      cfg.fieldSpecs, keep = Seq("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol,
        CdcEnvelope.PosCol, "event_id", "value"))
    val batchRef = SnapshotMerge.fromHistory(all, Seq("user_id"), cfg.targetCols)
      .orderBy("user_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed === batchRef)
    SnapshotStore.clear(cfg.targetPath)
  }

  test("streaming sparse partial merge: kill+resume equals one-shot column-level LWW") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val fields = Seq(
      TypedProjection.FieldSpec("a", TypedProjection.Cast(org.apache.spark.sql.types.LongType)),
      TypedProjection.FieldSpec("b", TypedProjection.Cast(org.apache.spark.sql.types.LongType)))
    val b1: Seq[(Long, String, Long, Long, String)] = Seq(
      (1L, "u", 100L, 1L, """{"a":10}"""),
      (1L, "u", 200L, 2L, """{"b":20}"""),
      (2L, "u", 100L, 3L, """{"a":7,"b":8}"""))
    val b2: Seq[(Long, String, Long, Long, String)] = Seq(
      (1L, "u", 300L, 4L, """{"b":99}"""),  // column patch
      (2L, "d", 300L, 5L, "{}"),            // delete
      (3L, "u", 300L, 6L, """{"a":5}"""))   // sparse insert
    def toEnv(m: MemoryStream[(Long, String, Long, Long, String)]) = m.toDF().toDF("user_id", CdcEnvelope.OpCol,
      CdcEnvelope.TsCol, CdcEnvelope.PosCol, CdcEnvelope.DataCol)
    val target = Files.createTempDirectory("graft-pm-tgt").toString
    val ckpt = Files.createTempDirectory("graft-pm-ckpt").toString

    val mem = MemoryStream[(Long, String, Long, Long, String)]
    val q1 = CdcStream.startPartialMergeToTarget(toEnv(mem), target, Seq("user_id"),
      fields, ckpt, numBuckets = Some(4))
    mem.addData(b1: _*); q1.processAllAvailable(); q1.stop() // kill

    val q2 = CdcStream.startPartialMergeToTarget(toEnv(mem), target, Seq("user_id"),
      fields, ckpt, numBuckets = Some(4))
    try { mem.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()

    val streamed = CdcPipeline.readSnapshot(spark, target).get
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(streamed === Seq((1L, Some(10L), Some(99L)), (3L, Some(5L), None)),
      "a carried column-wise across the restart, b patched, PK 2 deleted")

    // replayed batch (same batchId) is a no-op: version stays put
    val v = CdcPipeline.currentVersion(target).get
    assert(!CdcStream.partialMergeBatchToTarget(
      b2.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol,
        CdcEnvelope.PosCol, CdcEnvelope.DataCol),
      batchId = 1L, target, Seq("user_id"), fields))
    assert(CdcPipeline.currentVersion(target).get === v)
  }

  test("production sink: Debezium stream -> versioned parquet, kill+resume equals batch") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val valueSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("k", LongType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    val pCfg = CdcTableConfig(
      cdcTable = "dbz_cdc", sourcePath = "dbz", targetDb = "graft",
      targetTable = "t", targetPath = Files.createTempDirectory("graft-tgt").toString,
      pk = Seq("user_id"),
      fieldSpecs = Seq(
        TypedProjection.FieldSpec("k", TypedProjection.Cast(LongType)),
        TypedProjection.FieldSpec("event_id", TypedProjection.Cast(LongType)),
        TypedProjection.FieldSpec("value", TypedProjection.Cast(DoubleType))))

    def rec(op: String, uid: Long, k: Long, eid: Long, v: Double, tsMs: Long, pos: Long): String = {
      val row = s"""{"user_id":$uid,"k":$k,"event_id":$eid,"value":$v}"""
      val (before, after) = if (op == "d") (row, "null") else ("null", row)
      s"""{"before":$before,"after":$after,"op":"$op","ts_ms":$tsMs,"source":{"pos":$pos,"ts_ms":$tsMs}}"""
    }
    val file1 = Seq(
      rec("c", 1, 10, 1, 1.0, 100, 1),
      rec("c", 2, 20, 2, 2.0, 100, 2),
      rec("c", 3, 30, 3, 3.0, 100, 3))
    val file2 = Seq(
      rec("d", 2, 20, 4, 2.0, 200, 4),  // delete 2
      rec("u", 3, 31, 5, 3.5, 200, 5),  // update 3
      rec("c", 4, 40, 6, 4.0, 200, 6))  // insert 4

    val inDir = Files.createTempDirectory("graft-dbz").toString
    val ckpt = Files.createTempDirectory("graft-ckpt4").toString
    def startQuery() = CdcStream.startMergeToTarget(
      graft.sources.ChangeFeed.debeziumJsonLinesStream(spark, inDir, valueSchema, Seq("user_id")),
      pCfg, ckpt)

    // First life of the query: file1 only.
    Files.write(java.nio.file.Paths.get(inDir, "f1.jsonl"),
      file1.mkString("\n").getBytes)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val v1 = CdcPipeline.currentVersion(pCfg.targetPath)
    assert(v1.nonEmpty, "first batch must publish a version")

    // Kill + resume from the same checkpoint: file2 arrives while down.
    Files.write(java.nio.file.Paths.get(inDir, "f2.jsonl"),
      file2.mkString("\n").getBytes)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val streamed = CdcPipeline.readSnapshot(spark, pCfg.targetPath).get
      .orderBy("user_id").select("user_id", "k", "event_id", "value")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed === Seq((1L, 10L, 1L, 1.0), (3L, 31L, 5L, 3.5), (4L, 40L, 6L, 4.0)))

    // Batch reference over the same feed.
    val all = graft.sources.ChangeFeed.debeziumJsonLines(spark, inDir, valueSchema, Seq("user_id"))
    val projected = TypedProjection.project(all, CdcEnvelope.DataCol, pCfg.fieldSpecs,
      keep = Seq("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol))
    val batchRef = SnapshotMerge.fromHistory(projected, Seq("user_id"), pCfg.targetCols)
      .orderBy("user_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed === batchRef)

    // Replay guard: re-applying the last committed batchId is a no-op.
    val vBefore = CdcPipeline.currentVersion(pCfg.targetPath).get
    val lastBatch = CdcPipeline.lastCommittedBatch(pCfg.targetPath).get
    assert(lastBatch >= 0)
    val replayed = CdcStream.mergeBatchToTarget(
      graft.sources.ChangeFeed.debeziumJsonLines(spark, inDir, valueSchema, Seq("user_id")),
      lastBatch, pCfg)
    assert(!replayed)
    assert(CdcPipeline.currentVersion(pCfg.targetPath).get === vBefore)
  }

  test("production sink: Maxwell stream -> versioned parquet, kill+resume equals batch") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val valueSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("k", LongType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    val mCfg = CdcTableConfig(
      cdcTable = "mxw_cdc", sourcePath = "mxw", targetDb = "graft",
      targetTable = "t", targetPath = Files.createTempDirectory("graft-mxw-tgt").toString,
      pk = Seq("user_id"),
      fieldSpecs = Seq(
        TypedProjection.FieldSpec("k", TypedProjection.Cast(LongType)),
        TypedProjection.FieldSpec("event_id", TypedProjection.Cast(LongType)),
        TypedProjection.FieldSpec("value", TypedProjection.Cast(DoubleType))))
    def rec(typ: String, uid: Long, k: Long, eid: Long, v: Double, tsSec: Long, pos: Long): String =
      s"""{"database":"app","table":"t","type":"$typ","ts":$tsSec,"xid":$pos,""" +
        s""""position":"binlog.000001:$pos","data":{"user_id":$uid,"k":$k,"event_id":$eid,"value":$v}}"""
    val file1 = Seq(
      rec("insert", 1, 10, 1, 1.0, 100, 1),
      rec("insert", 2, 20, 2, 2.0, 100, 2),
      rec("bootstrap-insert", 3, 30, 3, 3.0, 100, 3),
      // heartbeat/DDL noise: must drop, not poison the merge
      """{"database":"app","table":"t","type":"heartbeat","ts":100}""")
    val file2 = Seq(
      rec("delete", 2, 20, 4, 2.0, 200, 4),
      rec("update", 3, 31, 5, 3.5, 200, 5),
      rec("insert", 4, 40, 6, 4.0, 200, 6))
    val inDir = Files.createTempDirectory("graft-mxw").toString
    val ckpt = Files.createTempDirectory("graft-mxw-ckpt").toString
    def startQuery() = CdcStream.startMergeToTarget(
      graft.sources.ChangeFeed.maxwellJsonLinesStream(spark, inDir, valueSchema, Seq("user_id")),
      mCfg, ckpt)
    Files.write(java.nio.file.Paths.get(inDir, "f1.jsonl"),
      file1.mkString("\n").getBytes)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(CdcPipeline.currentVersion(mCfg.targetPath).nonEmpty)
    // kill + resume from the same checkpoint: file2 arrives while down
    Files.write(java.nio.file.Paths.get(inDir, "f2.jsonl"),
      file2.mkString("\n").getBytes)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val streamed = CdcPipeline.readSnapshot(spark, mCfg.targetPath).get
      .orderBy("user_id").select("user_id", "k", "event_id", "value")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed === Seq((1L, 10L, 1L, 1.0), (3L, 31L, 5L, 3.5), (4L, 40L, 6L, 4.0)))
    // batch reference over the same feed
    val all = graft.sources.ChangeFeed.maxwellJsonLines(spark, inDir, valueSchema, Seq("user_id"))
    val projected = TypedProjection.project(all, CdcEnvelope.DataCol, mCfg.fieldSpecs,
      keep = Seq("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol))
    val batchRef = SnapshotMerge.fromHistory(projected, Seq("user_id"), mCfg.targetCols)
      .orderBy("user_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed === batchRef)
  }

  test("production sink: Canal stream -> versioned parquet, kill+resume equals batch") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val valueSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("k", LongType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    val cCfg = CdcTableConfig(
      cdcTable = "cnl_cdc", sourcePath = "cnl", targetDb = "graft",
      targetTable = "t", targetPath = Files.createTempDirectory("graft-cnl-tgt").toString,
      pk = Seq("user_id"),
      fieldSpecs = Seq(
        TypedProjection.FieldSpec("k", TypedProjection.Cast(LongType)),
        TypedProjection.FieldSpec("event_id", TypedProjection.Cast(LongType)),
        TypedProjection.FieldSpec("value", TypedProjection.Cast(DoubleType))))
    def row(uid: Long, k: Long, eid: Long, v: Double): String =
      s"""{"user_id":$uid,"k":$k,"event_id":$eid,"value":$v}"""
    def rec(typ: String, rows: Seq[String], esMs: Long, id: Long): String =
      s"""{"database":"app","table":"t","type":"$typ","isDdl":false,"id":$id,""" +
        s""""es":$esMs,"ts":${esMs + 1},"data":[${rows.mkString(",")}],"old":null}"""
    // one multi-row INSERT statement (fans out via posexplode) + DDL noise
    val file1 = Seq(
      rec("INSERT", Seq(row(1, 10, 1, 1.0), row(2, 20, 2, 2.0), row(3, 30, 3, 3.0)),
        100000L, 1L),
      """{"database":"app","table":"t","type":"CREATE","isDdl":true,"id":2,"es":100001,"ts":100002,"data":null,"old":null}""")
    val file2 = Seq(
      rec("DELETE", Seq(row(2, 20, 4, 2.0)), 200000L, 3L),
      rec("UPDATE", Seq(row(3, 31, 5, 3.5)), 200000L, 4L),
      rec("INSERT", Seq(row(4, 40, 6, 4.0)), 200000L, 5L))
    val inDir = Files.createTempDirectory("graft-cnl").toString
    val ckpt = Files.createTempDirectory("graft-cnl-ckpt").toString
    def startQuery() = CdcStream.startMergeToTarget(
      graft.sources.ChangeFeed.canalJsonLinesStream(spark, inDir, valueSchema, Seq("user_id")),
      cCfg, ckpt)
    Files.write(java.nio.file.Paths.get(inDir, "f1.jsonl"),
      file1.mkString("\n").getBytes)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    Files.write(java.nio.file.Paths.get(inDir, "f2.jsonl"),
      file2.mkString("\n").getBytes)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val streamed = CdcPipeline.readSnapshot(spark, cCfg.targetPath).get
      .orderBy("user_id").select("user_id", "k", "event_id", "value")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed === Seq((1L, 10L, 1L, 1.0), (3L, 31L, 5L, 3.5), (4L, 40L, 6L, 4.0)))
    val all = graft.sources.ChangeFeed.canalJsonLines(spark, inDir, valueSchema, Seq("user_id"))
    val projected = TypedProjection.project(all, CdcEnvelope.DataCol, cCfg.fieldSpecs,
      keep = Seq("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol))
    val batchRef = SnapshotMerge.fromHistory(projected, Seq("user_id"), cCfg.targetCols)
      .orderBy("user_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed === batchRef)
  }

  test("streaming SCD2: history maintained per micro-batch survives kill+resume and equals the one-shot") {
    import org.apache.spark.sql.types._
    val valueSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("k", LongType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    val sCfg = CdcTableConfig(
      cdcTable = "scd2_cdc", sourcePath = "dbz", targetDb = "graft",
      targetTable = "t", targetPath = Files.createTempDirectory("graft-scd2-tgt").toString,
      pk = Seq("user_id"),
      fieldSpecs = Seq(
        TypedProjection.FieldSpec("k", TypedProjection.Cast(LongType)),
        TypedProjection.FieldSpec("event_id", TypedProjection.Cast(LongType)),
        TypedProjection.FieldSpec("value", TypedProjection.Cast(DoubleType))),
      numBuckets = Some(8),
      scd2 = Some(Scd2Spec()))
    def rec(op: String, uid: Long, k: Long, eid: Long, v: Double, tsMs: Long, pos: Long): String = {
      val row = s"""{"user_id":$uid,"k":$k,"event_id":$eid,"value":$v}"""
      val (before, after) = if (op == "d") (row, "null") else ("null", row)
      s"""{"before":$before,"after":$after,"op":"$op","ts_ms":$tsMs,"source":{"pos":$pos,"ts_ms":$tsMs}}"""
    }
    val inDir = Files.createTempDirectory("graft-scd2-in").toString
    val ckpt = Files.createTempDirectory("graft-scd2-ckpt").toString
    def startQuery() = CdcStream.startMergeToTarget(
      graft.sources.ChangeFeed.debeziumJsonLinesStream(spark, inDir, valueSchema, Seq("user_id")),
      sCfg, ckpt)
    Files.write(java.nio.file.Paths.get(inDir, "f1.jsonl"), Seq(
      rec("c", 1, 10, 1, 1.0, 100, 1),
      rec("c", 2, 20, 2, 2.0, 100, 2),
      rec("u", 1, 11, 3, 1.5, 150, 3)).mkString("\n").getBytes)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // kill + resume: new events arrive while down
    Files.write(java.nio.file.Paths.get(inDir, "f2.jsonl"), Seq(
      rec("d", 2, 20, 4, 2.0, 200, 4),
      rec("u", 3, 30, 5, 3.0, 200, 5),
      rec("u", 1, 12, 6, 1.7, 250, 6)).mkString("\n").getBytes)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val hist = Scd2Store.readHistory(spark, sCfg).get
    val all = graft.sources.ChangeFeed.debeziumJsonLines(spark, inDir, valueSchema, Seq("user_id"))
    val oneShot = Scd2.fromHistory(sCfg.project(all),
      Seq("user_id"), Seq("k", "event_id", "value"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select("user_id", "k", "event_id", "value", "valid_from_us", "valid_to_us")
        .collect().map(_.toSeq).toSet
    assert(rows(hist) === rows(oneShot),
      "streamed history across kill+resume must equal the one-shot build")
    assert(hist.filter(col("valid_to_us").isNotNull).count() > 0, "closed slices exist")
    // replaying the last committed batch must not advance the history
    val lastBatch = CdcPipeline.lastCommittedBatch(sCfg.targetPath).get
    val histBefore = rows(Scd2Store.readHistory(spark, sCfg).get)
    CdcStream.mergeBatchToTarget(all, lastBatch, sCfg)
    assert(rows(Scd2Store.readHistory(spark, sCfg).get) === histBefore)
  }

  test("streaming SCD2: late declaration whose declaring batch crashes mid-way still bootstraps on replay") {
    val lCfg = cfg.copy(targetPath = Files.createTempDirectory("graft-late-scd2").toString,
      numBuckets = Some(8))
    // batches 0 and 1 run BEFORE the declaration (target reaches v1)
    assert(CdcStream.mergeBatchToTarget(toDf(batch1), 0, lCfg))
    assert(CdcStream.mergeBatchToTarget(toDf(batch2), 1, lCfg))
    // batch 2 DECLARES SCD2, and its first attempt crashes between the
    // target publish and Scd2Store.maintain — simulate by running only
    // the merge half
    val dCfg = lCfg.copy(scd2 = Some(Scd2Spec()))
    val batch3: Seq[Env] = Seq(
      (5L, "u", 300L, 7L, 300L, """{"k":50}""", 7L, 5.0), // insert 5
      (1L, "u", 300L, 8L, 300L, """{"k":12}""", 8L, 1.2)) // update 1
    val projected = dCfg.project(toDf(batch3))
    val changes = ChangeCompaction.compactForMerge(projected, Seq("user_id"))
    CdcPipeline.mergeAndPublish(spark, dCfg, changes, CdcPipeline.summarize(dCfg, changes),
      batchId = 2)
    assert(Scd2Store.lastAppliedSeq(dCfg) === -1L, "history untouched by the crashed attempt")
    // checkpoint replays batch 2: the pointer already carries batchId 2,
    // so committedBatch.exists(_ < batchId) is false — but older batches
    // DID run (version > 0), so the replay must bootstrap from the
    // snapshot, not advance-from-empty over just batch 2's events
    // (which would silently drop every pre-declaration row — ADVICE r6)
    CdcStream.mergeBatchToTarget(toDf(batch3), 2, dCfg)
    val hist = Scd2Store.readHistory(spark, dCfg).get
    val snap = CdcPipeline.readSnapshot(spark, dCfg.targetPath).get
    assert(hist.filter(col("valid_to_us").isNull).count() === snap.count(),
      "bootstrap covers every live row, including pre-declaration PKs")
    assert(hist.filter(col("valid_to_us").isNull).select("user_id")
      .collect().map(_.getLong(0)).toSet ===
      snap.select("user_id").collect().map(_.getLong(0)).toSet)
  }

  test("scheduled drain (Trigger.AvailableNow) resumes from the checkpoint like the reference's cron job") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val valueSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("k", LongType)))
    val dCfg = CdcTableConfig(
      cdcTable = "drain_cdc", sourcePath = "drain", targetDb = "graft",
      targetTable = "t", targetPath = Files.createTempDirectory("graft-drain-tgt").toString,
      pk = Seq("user_id"),
      fieldSpecs = Seq(TypedProjection.FieldSpec("k", TypedProjection.Cast(LongType))))
    def rec(op: String, uid: Long, k: Long, tsMs: Long, pos: Long): String = {
      val row = s"""{"user_id":$uid,"k":$k}"""
      val (b, a) = if (op == "d") (row, "null") else ("null", row)
      s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$tsMs,"source":{"pos":$pos,"ts_ms":$tsMs}}"""
    }
    val inDir = Files.createTempDirectory("graft-drain-in").toString
    val ckpt = Files.createTempDirectory("graft-drain-ckpt").toString
    def drain(): Unit = CdcStream.drainToTarget(
      graft.sources.ChangeFeed.debeziumJsonLinesStream(spark, inDir, valueSchema, Seq("user_id")),
      dCfg, ckpt)
    def snap(): Seq[(Long, Long)] = CdcPipeline.readSnapshot(spark, dCfg.targetPath).get
      .select("user_id", "k").as[(Long, Long)].collect().sorted.toSeq

    // invocation 1 drains file 1 and STOPS (returns)
    Files.write(java.nio.file.Paths.get(inDir, "d1.jsonl"),
      Seq(rec("c", 1, 10, 100, 1), rec("c", 2, 20, 100, 2)).mkString("\n").getBytes)
    drain()
    assert(snap() === Seq((1L, 10L), (2L, 20L)))

    // invocation 2 (new "cron tick") picks up ONLY the new file
    val vAfter1 = CdcPipeline.currentVersion(dCfg.targetPath).get
    Files.write(java.nio.file.Paths.get(inDir, "d2.jsonl"),
      Seq(rec("u", 1, 11, 200, 3), rec("d", 2, 20, 200, 4)).mkString("\n").getBytes)
    drain()
    assert(snap() === Seq((1L, 11L)))
    assert(CdcPipeline.currentVersion(dCfg.targetPath).get > vAfter1)

    // invocation 3 with nothing new leaves the target version alone
    val vAfter2 = CdcPipeline.currentVersion(dCfg.targetPath).get
    drain()
    assert(CdcPipeline.currentVersion(dCfg.targetPath).get === vAfter2)
  }

  test("micro-batch merge broadcasts the delta keys instead of shuffling the target") {
    // ADVICE r2: the streaming path must pass the delta count so a
    // small micro-batch broadcasts its keys into the merge's matched-keys
    // pass, leaving the target un-shuffled. mergeBatchToTarget IS the
    // foreachBatch body.
    val mCfg = cfg.copy(targetPath = Files.createTempDirectory("graft-tgt-mb").toString)
    assert(CdcStream.mergeBatchToTarget(toDf(batch1), 0L, mCfg))

    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(CdcStream.mergeBatchToTarget(toDf(batch2), 1L, mCfg))
      // listener delivery is async — poll for the merge's matched-keys
      // plan (its key set carries the upsert marker column)
      val deadline = System.currentTimeMillis() + 30000
      def mergePlan: Option[String] =
        plans.synchronized { plans.find(_.contains("__graft_up")).map(identity) }
      while (mergePlan.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val p = mergePlan.getOrElse(fail("no merge plan captured within 30s"))
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"), p)
    } finally spark.listenerManager.unregister(listener)

    import spark.implicits._
    val out = CdcPipeline.readSnapshot(spark, mCfg.targetPath).get
      .orderBy("user_id").select("user_id", "k", "event_id", "value")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 10L, 1L, 1.0), (3L, 31L, 5L, 3.5), (4L, 40L, 6L, 4.0)))
  }

  // the maintained rollup used by the A26 tests: groups of k % 2,
  // exact cents of `value` (long arithmetic — no float comparisons)
  private def derive(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("grp", col("k") % lit(2L))
    .withColumn("cents", round(col("value") * lit(100.0)).cast("long"))

  private def rollupState(rCfg: CdcTableConfig, name: String): Map[Long, (Long, Long)] = {
    import spark.implicits._
    CdcPipeline.readRollup(spark, rCfg, name).get
      .select("grp", "n_rows", "sum_cents")
      .as[(Long, Long, Long)].collect().map { case (g, n, s) => g -> ((n, s)) }.toMap
  }

  private def rollupRecompute(rCfg: CdcTableConfig): Map[Long, (Long, Long)] = {
    import spark.implicits._
    IncrementalAgg.fromSnapshot(
        derive(CdcPipeline.readSnapshot(spark, rCfg.targetPath).get), Seq("grp"), "cents")
      .select("grp", "n_rows", "sum_cents")
      .as[(Long, Long, Long)].collect().map { case (g, n, s) => g -> ((n, s)) }.toMap
  }

  test("declared rollup: foreachBatch maintains durable IVM state equal to recompute; replay is a no-op") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Env]
    val env = mem.toDF().toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol,
      CdcEnvelope.PosCol, CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
    val sCfg = cfg.copy(targetPath = Files.createTempDirectory("graft-ivm-tgt").toString,
      numBuckets = Some(4),
      rollups = Seq(RollupSpec("by_grp", Seq("grp"), Seq("cents"), derive _, Some(2))))
    val ckpt = Files.createTempDirectory("graft-ivm-ckpt").toString
    // the production foreachBatch body IS mergeBatchToTarget — no
    // driver-side state anywhere
    val q = env.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        CdcStream.mergeBatchToTarget(batch.toDF(), id, sCfg)
        ()
      }
      .start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = rollupState(sCfg, "by_grp")
    assert(got === rollupRecompute(sCfg))
    assert(got.values.map(_._1).sum === 3L, "final target holds users 1, 3, 4")
    assert(CdcPipeline.rollupAsOfVersion(sCfg, "by_grp") ===
      CdcPipeline.currentVersion(sCfg.targetPath).get)

    // forced replay of the last committed batch ("restart" after the
    // checkpoint write was lost): merge skipped AND the rollup version
    // must not move — the delta is never double-applied
    val lastB = CdcPipeline.lastCommittedBatch(sCfg.targetPath).get
    val rollupVer = CdcPipeline.currentVersion(CdcPipeline.rollupPath(sCfg, "by_grp"))
    assert(!CdcStream.mergeBatchToTarget(toDf(batch2), lastB, sCfg))
    assert(CdcPipeline.currentVersion(CdcPipeline.rollupPath(sCfg, "by_grp")) === rollupVer,
      "a fully-committed batch replay must not publish a new rollup version")
    assert(rollupState(sCfg, "by_grp") === got)
  }

  test("streaming min/max rollup: extrema retired by a micro-batch trigger the rescan; state equals recompute") {
    import spark.implicits._
    // single group; batch2 updates user 3 (k 30→31, retiring max 30)
    // and inserts k 40 — the streaming path must route through the
    // per-group rescan exactly like the batch pipeline
    val mmCfg = cfg.copy(targetPath = Files.createTempDirectory("graft-mm-tgt").toString,
      numBuckets = Some(4),
      rollups = Seq(RollupSpec("mm", Seq("grp"), Seq("cents"), derive _, Some(2),
        minCols = Seq("k"), maxCols = Seq("k"))))
    assert(CdcStream.mergeBatchToTarget(toDf(batch1), 0L, mmCfg))
    assert(CdcStream.mergeBatchToTarget(toDf(batch2), 1L, mmCfg))
    def state(): Seq[Seq[Any]] = CdcPipeline.readRollup(spark, mmCfg, "mm").get
      .select("grp", "n_rows", "sum_cents", "min_k", "max_k")
      .orderBy("grp").collect().map(_.toSeq).toSeq
    val recomputed = IncrementalAgg.fromSnapshot(
        derive(CdcPipeline.readSnapshot(spark, mmCfg.targetPath).get),
        Seq("grp"), Seq("cents"), Seq("k"), Seq("k"))
      .select("grp", "n_rows", "sum_cents", "min_k", "max_k")
      .orderBy("grp").collect().map(_.toSeq).toSeq
    assert(state() === recomputed,
      "streamed min/max state must equal the full recompute after an extreme retirement")
    // replay guard holds for the min/max path too
    val before = state()
    assert(!CdcStream.mergeBatchToTarget(toDf(batch2), 1L, mmCfg))
    assert(state() === before)
  }

  test("streaming avg/var/HLL rollup: retirements in a micro-batch trigger the sketch rescan; state equals recompute") {
    // batch2 deletes user 2 and updates user 3 — both retirements, so
    // the HLL sketch path must rescan their group in the streaming
    // micro-batch exactly like the batch pipeline
    val aCfg = cfg.copy(targetPath = Files.createTempDirectory("graft-advar-tgt").toString,
      numBuckets = Some(4),
      rollups = Seq(RollupSpec("advar", Seq("grp"), Seq("cents"), derive _, Some(2),
        avgCols = Seq("cents"), distinctCols = Seq("k"), varCols = Seq("cents"))))
    assert(CdcStream.mergeBatchToTarget(toDf(batch1), 0L, aCfg))
    assert(CdcStream.mergeBatchToTarget(toDf(batch2), 1L, aCfg))
    def state(): Seq[Seq[Any]] = CdcPipeline.readRollup(spark, aCfg, "advar").get
      .select("grp", "n_rows", "sum_cents", "cnt_cents", "sumsq_cents",
        "avg_cents", "var_cents", "approx_distinct_k")
      .orderBy("grp").collect().map(_.toSeq).toSeq
    val m = aCfg.rollups.head.measures
    val mean = col("sum_cents").cast("double") / col("cnt_cents").cast("double")
    val v = col("sumsq_cents").cast("double") / col("cnt_cents").cast("double") - mean * mean
    val recomputed = IncrementalAgg.fromSnapshot(
        derive(CdcPipeline.readSnapshot(spark, aCfg.targetPath).get), Seq("grp"), m)
      .select(col("grp"), col("n_rows"), col("sum_cents"), col("cnt_cents"),
        col("sumsq_cents"),
        when(col("cnt_cents") > 0, mean).as("avg_cents"),
        when(col("cnt_cents") > 0, v).as("var_cents"),
        coalesce(hll_sketch_estimate(col("hll_k")), lit(0L)).as("approx_distinct_k"))
      .orderBy("grp").collect().map(_.toSeq).toSeq
    assert(state() === recomputed,
      "streamed avg/var/HLL state must equal the full recompute after retirements")
    val before = state()
    assert(!CdcStream.mergeBatchToTarget(toDf(batch2), 1L, aCfg))
    assert(state() === before, "replay guard holds for the sketch path too")
  }

  test("torn publish: target committed but rollup trailing — the replayed batch finishes it incrementally") {
    val tCfg = cfg.copy(targetPath = Files.createTempDirectory("graft-ivm-torn").toString,
      numBuckets = Some(4),
      rollups = Seq(RollupSpec("by_grp", Seq("grp"), Seq("cents"), derive _, Some(2))))
    assert(CdcStream.mergeBatchToTarget(toDf(batch1), 0L, tCfg))
    assert(rollupState(tCfg, "by_grp") === rollupRecompute(tCfg))

    // simulate the crash window: batch 1's target merge commits, the
    // process dies before maintainRollups runs
    val changes = CdcStream.compactBatch(toDf(batch2), tCfg).cache()
    try CdcPipeline.mergeAndPublish(spark, tCfg, changes, CdcPipeline.summarize(tCfg, changes),
      batchId = 1L)
    finally changes.unpersist()
    val curV = CdcPipeline.currentVersion(tCfg.targetPath).get
    assert(CdcPipeline.rollupAsOfVersion(tCfg, "by_grp") === curV - 1,
      "rollup must trail the pointer after the torn publish")

    // the engine replays batch 1: merge is skipped (batchId guard) but
    // the rollup catches up against the time-traveled pre-merge
    // snapshot — state ≡ recompute, applied exactly once
    assert(!CdcStream.mergeBatchToTarget(toDf(batch2), 1L, tCfg))
    assert(CdcPipeline.rollupAsOfVersion(tCfg, "by_grp") === curV)
    assert(rollupState(tCfg, "by_grp") === rollupRecompute(tCfg))

    // repair path: a rollup declared AFTER the target already evolved
    // (asOf gap > 1) bootstraps by full recompute on the next batch
    val late = tCfg.copy(rollups = Seq(RollupSpec("late", Seq("grp"), Seq("cents"), derive _, Some(2))))
    assert(!CdcStream.mergeBatchToTarget(toDf(batch2), 1L, late))
    assert(CdcPipeline.rollupAsOfVersion(late, "late") === curV)
    assert(rollupState(late, "late") === rollupRecompute(late))
  }

  test("autoVacuumKeep bounds target and rollup version dirs across micro-batches") {
    val vCfg = cfg.copy(targetPath = Files.createTempDirectory("graft-ivm-vac").toString,
      numBuckets = Some(4),
      rollups = Seq(RollupSpec("by_grp", Seq("grp"), Seq("cents"), derive _, Some(2))),
      autoVacuumKeep = Some(2))
    def versionDirs(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .count(f => f.isDirectory && f.getName.matches("v\\d+"))
    // a long-running stream: replay batch2's content as fresh batches
    assert(CdcStream.mergeBatchToTarget(toDf(batch1), 0L, vCfg))
    (1L to 5L).foreach(id => assert(CdcStream.mergeBatchToTarget(toDf(batch2), id, vCfg)))
    assert(CdcPipeline.currentVersion(vCfg.targetPath).get === 5L)
    // the rollup store rewrites every bucket per publish (state-sized),
    // so superseded versions are fully unreachable: exactly `keep` live
    assert(versionDirs(CdcPipeline.rollupPath(vCfg, "by_grp")) <= 2,
      "rollup store must not leak a version per micro-batch")
    // the target carries buckets by reference, so only UNreferenced
    // version dirs can go — but the leak must be bounded, not ∝ batches
    assert(versionDirs(vCfg.targetPath) < 6,
      "target must vacuum versions no kept manifest references")
    // correctness survives the GC: state ≡ recompute, time travel to
    // version−1 (the torn-publish window) still readable
    assert(rollupState(vCfg, "by_grp") === rollupRecompute(vCfg))
    assert(CdcPipeline.readSnapshotAt(spark,
      vCfg.targetPath, 4L).nonEmpty, "keep=2 must retain version-1 for catch-up")
  }

  test("stateful first-seen dedup emits each key once across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[CdcStream.DedupEvent]
    val out = CdcStream.firstSeen(mem.toDS())
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt2").toString)
      .start()
    try {
      mem.addData(CdcStream.DedupEvent(1, 5), CdcStream.DedupEvent(1, 3),
        CdcStream.DedupEvent(2, 7))
      q.processAllAvailable()
      mem.addData(CdcStream.DedupEvent(1, 9), CdcStream.DedupEvent(3, 1))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_out").as[CdcStream.DedupEvent]
      .collect().map(e => (e.key, e.pos)).sorted.toSeq
    assert(got === Seq((1L, 3L), (2L, 7L), (3L, 1L)))
  }

  test("TTL dedup re-emits a key after its state is watermark-evicted") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)] // (key, pos, epochSec)
    val events = mem.toDS()
      .select($"_1".as("key"), $"_2".as("pos"),
        org.apache.spark.sql.functions.timestamp_seconds($"_3").as("eventTime"))
      .withWatermark("eventTime", "0 seconds")
      .as[CdcStream.TimedEvent]
    val out = CdcStream.firstSeenTtl(events, ttlMs = 60000L) // 1-minute TTL
    val q = out.writeStream.format("memory").queryName("ttl_out")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt6").toString)
      .start()
    try {
      // batch 1: key 1 emits once (dup suppressed)
      mem.addData((1L, 5L, 100L), (1L, 7L, 101L))
      q.processAllAvailable()
      // batch 2: key 1 again within TTL -> suppressed; key 2 emits.
      mem.addData((1L, 9L, 110L), (2L, 1L, 110L))
      q.processAllAvailable()
      // batch 3: far-future event advances the watermark past both
      // keys' TTLs (state evicts)...
      mem.addData((3L, 1L, 10000L))
      q.processAllAvailable()
      // batch 4: ...so key 1 re-emits as a fresh first-seen.
      mem.addData((1L, 42L, 10001L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ttl_out").as[CdcStream.DedupEvent]
      .collect().map(e => (e.key, e.pos)).sorted.toSeq
    assert(got === Seq((1L, 5L), (1L, 42L), (2L, 1L), (3L, 1L)))
  }

  test("streaming sessionization closes a session when the gap is exceeded in-batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamOps.SessionEvent]
    // idleTimeout=false: deterministic drain (processing-time timeouts
    // would keep scheduling micro-batches under processAllAvailable)
    val out = StreamOps.sessionizeStream(mem.toDS(), gapUs = 1000000L, idleTimeout = false)
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt5").toString)
      .start()
    try {
      // key 1: two events 0.5s apart (one session), then a 10s jump
      // starts a second session -> the first closes and emits.
      mem.addData(StreamOps.SessionEvent(1, 0L), StreamOps.SessionEvent(1, 500000L))
      q.processAllAvailable()
      mem.addData(StreamOps.SessionEvent(1, 10000000L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_out").as[StreamOps.SessionOut].collect().toSeq
    assert(got === Seq(StreamOps.SessionOut(1, 0L, 500000L, 2)))
  }

  test("watermarked windowed aggregation finalizes windows as event time advances") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // (epoch-second, key, value)
    val mem = MemoryStream[(Long, String, Double)]
    val events = mem.toDF().toDF("sec", "k", "value")
      .select(org.apache.spark.sql.functions.timestamp_seconds($"sec").as("ts"), $"k", $"value")
    val agg = StreamOps.windowedAgg(events, "ts", "k", "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt3").toString)
      .start()
    try {
      // window [0,600): 2 events for a, 1 for b
      mem.addData((10L, "a", 1.0), (20L, "a", 2.0), (30L, "b", 5.0))
      q.processAllAvailable()
      // event time jumps past 600+300 => first window finalizes
      mem.addData((1000L, "a", 9.0))
      q.processAllAvailable()
      mem.addData((2000L, "a", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("win_out")
      .select($"k", $"n", $"sum_value").as[(String, Long, Double)]
      .collect().toSet
    assert(got.contains(("a", 2L, 3.0)) && got.contains(("b", 1L, 5.0)))
  }

  test("stream-stream interval join pairs within the lookback, bounded by watermarks") {
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_seconds
    implicit val sq = spark.sqlContext
    val lMem = MemoryStream[(Long, Long, Long)] // (key, sec, l_id)
    val rMem = MemoryStream[(Long, Long, Long)] // (key, sec, r_id)
    val l = lMem.toDF().toDF("key", "sec", "l_id")
      .select($"key", timestamp_seconds($"sec").as("l_ts"), $"l_id")
    val r = rMem.toDF().toDF("key", "sec", "r_id")
      .select($"key", timestamp_seconds($"sec").as("r_ts"), $"r_id")
    val joined = StreamOps.streamIntervalJoin(l, r, "key",
      "l_ts", "r_ts", "60 seconds", "10 seconds")
    val q = joined.select($"key", $"l_id", $"r_id")
      .writeStream.format("memory").queryName("ssj_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ssj-ckpt").toString)
      .start()
    try {
      // right events at 100 and 200; left at 130 (catches 100, not
      // yet 200), left at 190 (catches 130-190 window: r at... none)
      rMem.addData((1L, 100L, 101L), (1L, 200L, 102L), (2L, 100L, 201L))
      lMem.addData((1L, 130L, 11L), (1L, 210L, 12L), (3L, 130L, 31L))
      q.processAllAvailable()
      // advance both watermarks so all pairs finalize
      rMem.addData((9L, 1000L, 999L)); lMem.addData((9L, 1000L, 998L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_out").as[(Long, Long, Long)].collect().toSet
    // l_id 11 (t=130) pairs r_id 101 (t=100, within 60s lookback);
    // l_id 12 (t=210) pairs r_id 102 (t=200); key 2's right and key
    // 3's left have no partner; 999/998 pair on key 9 (same instant)
    assert(got === Set((1L, 11L, 101L), (1L, 12L, 102L), (9L, 998L, 999L)))
  }

  test("streaming minhash ingest: drained batches equal the one-shot candidate set; restart drains only new files") {
    import spark.implicits._
    import java.nio.file.Files
    def tmp() = Files.createTempDirectory("graft-smi").toString
    val landing = tmp(); val index = tmp(); val pairsDir = tmp(); val ckpt = tmp()
    val docs = graft.Tables.documents(spark, graft.LocalSpark.sf)
    val schema = docs.schema
    val oneShot = graft.ops.Dedup.minhashCandidates(docs)
      .as[(Long, Long)].collect().toSet
    assert(oneShot.nonEmpty)

    def land(part: Long): Unit =
      docs.filter(col("doc_id") % 3 === part).write.mode("append").parquet(landing)
    def drained(): Set[(Long, Long)] = {
      val dirs = graft.cdc.StoreFs.listDirNames(pairsDir).filter(_.startsWith("batch="))
      if (dirs.isEmpty) Set.empty
      else spark.read.parquet(dirs.map(d => s"$pairsDir/$d"): _*)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }

    land(0)
    graft.streaming.StreamOps.drainMinhashIngest(spark, landing, index, pairsDir,
      ckpt, schema)
    val after1 = drained()
    land(1); land(2)
    graft.streaming.StreamOps.drainMinhashIngest(spark, landing, index, pairsDir,
      ckpt, schema)
    assert(drained() === oneShot,
      s"streamed=${drained().size} oneshot=${oneShot.size}")
    assert(after1.subsetOf(oneShot) && after1.size < oneShot.size,
      "first drain must be a strict prefix of the candidate set")
    // a third drain with nothing new must add no batch dirs
    val dirsBefore = graft.cdc.StoreFs.listDirNames(pairsDir).toSet
    graft.streaming.StreamOps.drainMinhashIngest(spark, landing, index, pairsDir,
      ckpt, schema)
    val dirsAfter = graft.cdc.StoreFs.listDirNames(pairsDir).toSet
    // an empty micro-batch may still fire once; it must carry no pairs
    assert(drained() === oneShot, "an empty drain must not change the pair set")
    assert((dirsAfter -- dirsBefore).size <= 1)
  }
}
