package graft.cdc

import java.nio.file.Files
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.streaming.CdcStream

/** The one apply path (`CdcPipeline.apply`) that the batch `run` and
  * the streaming micro-batch share: merge → rollups on the calling
  * thread, the steady-state SCD2 advance beside them. Every result is
  * checked against truths computed with plain Spark from the events,
  * including after a crash that published the history but not the
  * target.
  */
class ApplyPathSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._
  import TypedProjection.{Cast, FieldSpec}

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def rows(df: DataFrame): Set[Seq[Any]] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
  }

  private def cfg(target: String) = CdcTableConfig(
    cdcTable = "c", sourcePath = "s", targetDb = "g", targetTable = "t",
    targetPath = target, pk = Seq("user_id"),
    fieldSpecs = Seq(FieldSpec("k", Cast(LongType))),
    passthrough = Seq("event_id", "value"),
    numBuckets = Some(4), scd2 = Some(Scd2Spec()),
    rollups = Seq(RollupSpec("by_k", Seq("k"), Seq("event_id"),
      minCols = Seq("event_id"), maxCols = Seq("event_id"))),
    statsCols = Seq("k", "event_id"),
    expectations = Seq(Expectations.Expectation("k_nonneg", "k >= 0")))

  // (user_id, op, ts_us, pos, load_ts_us, data, event_id, value)
  private type Env = (Long, String, Long, Long, Long, String, Long, Double)
  private def env(rs: Seq[Env]): DataFrame =
    rs.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
      CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
  private def up(uid: Long, k: Long, load: Long, pos: Long): Env =
    (uid, "u", load - 500 + pos, pos, load, s"""{"k":$k}""", pos, uid.toDouble + pos)
  private def del(uid: Long, load: Long, pos: Long): Env =
    (uid, "d", load - 500 + pos, pos, load, s"""{"k":0}""", pos, 0.0)

  /** Four windows (load_ts 1000, 3000, 5000, 7000; run ends 2000,
    * 4000, 6000, 8000): inserts, updates that move a row between
    * groups, deletes, a delete and re-insert of one key in one window,
    * and upserts with a negative `k` that the expectation quarantines.
    */
  private val windows: Seq[Seq[Env]] = Seq(
    (1L to 24L).map(u => up(u, u % 3, 1000L, u)) :+ up(25L, -1L, 1000L, 25L),
    Seq(up(1L, 5L, 3000L, 101), up(2L, 0L, 3000L, 102), up(1L, 6L, 3000L, 103),
      del(3L, 3000L, 104), up(30L, 2L, 3000L, 105), up(4L, -2L, 3000L, 106)),
    Seq(del(5L, 5000L, 201), up(5L, 7L, 5000L, 202), up(3L, 1L, 5000L, 203),
      del(30L, 5000L, 204), up(31L, 1L, 5000L, 205)),
    Seq(up(6L, 2L, 7000L, 301), del(7L, 7000L, 302), up(8L, -5L, 7000L, 303),
      up(6L, 0L, 7000L, 304)))
  private val ends = Seq(2000L, 4000L, 6000L, 8000L)
  private lazy val source: DataFrame = env(windows.flatten).cache()

  // ---- plain-Spark truths from the events ---------------------------

  /** The typed events loaded up to `upTo`; `clean` keeps those the
    * expectation passes (deletes are never gated).
    */
  private def typed(upTo: Long): DataFrame =
    source.filter(col(CdcEnvelope.LoadTsCol) <= upTo)
      .withColumn("k", get_json_object(col(CdcEnvelope.DataCol), "$.k").cast(LongType))
  private def clean(upTo: Long): DataFrame =
    typed(upTo).filter(col(CdcEnvelope.OpCol) === "d" || col("k") >= 0)

  private def truthTarget(upTo: Long): DataFrame = {
    val newest = Window.partitionBy("user_id")
      .orderBy(col(CdcEnvelope.TsCol).desc, col(CdcEnvelope.PosCol).desc)
    clean(upTo).withColumn("_rn", row_number().over(newest)).filter(col("_rn") === 1)
      .filter(col(CdcEnvelope.OpCol) =!= "d").select("user_id", "k", "event_id", "value")
  }

  private def truthRollup(upTo: Long): DataFrame =
    truthTarget(upTo).groupBy("k").agg(count(lit(1)).as("n_rows"),
      sum("event_id").as("sum_event_id"), min("event_id").as("min_event_id"),
      max("event_id").as("max_event_id"))

  /** Every upsert opens a slice at its time; the key's next event
    * closes it.
    */
  private def truthHistory(upTo: Long): DataFrame = {
    val byKey = Window.partitionBy("user_id")
      .orderBy(col(CdcEnvelope.TsCol), col(CdcEnvelope.PosCol))
    clean(upTo).withColumn(Scd2.To, lead(col(CdcEnvelope.TsCol), 1).over(byKey))
      .filter(col(CdcEnvelope.OpCol) =!= "d")
      .select(col("user_id"), col("k"), col("event_id"), col("value"),
        col(CdcEnvelope.TsCol).as(Scd2.From), col(Scd2.To))
  }

  /** (inserted, updated, deleted) of the window ending at `ends(i)`:
    * the window's newest event per key; an upsert of a key live before
    * the window is an update.
    */
  private def truthCounts(i: Int): (Long, Long, Long) = {
    val from = if (i == 0) 0L else ends(i - 1)
    val newest = Window.partitionBy("user_id")
      .orderBy(col(CdcEnvelope.TsCol).desc, col(CdcEnvelope.PosCol).desc)
    val last = clean(ends(i)).filter(col(CdcEnvelope.LoadTsCol) > from)
      .withColumn("_rn", row_number().over(newest)).filter(col("_rn") === 1)
    val live = truthTarget(from).select(col("user_id"), lit(true).as("_live"))
    val r = last.join(live, Seq("user_id"), "left").agg(
      count(when(col(CdcEnvelope.OpCol) =!= "d" && col("_live").isNull, 1)),
      count(when(col(CdcEnvelope.OpCol) =!= "d" && col("_live").isNotNull, 1)),
      count(when(col(CdcEnvelope.OpCol) === "d", 1))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def truthQuarantine(upTo: Long): Set[Seq[Any]] =
    typed(upTo).filter(col(CdcEnvelope.OpCol) =!= "d" && !(col("k") >= 0))
      .select(col("user_id"), col("event_id")).collect().map(_.toSeq).toSet

  // ---- what the store holds -----------------------------------------

  private def state(c: CdcTableConfig): (Set[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) =
    (rows(CdcPipeline.readSnapshot(spark, c.targetPath).get),
      rows(Scd2Store.readHistory(spark, c).get),
      rows(CdcPipeline.readRollup(spark, c, "by_k").get
        .select("k", "n_rows", "sum_event_id", "min_event_id", "max_event_id")))

  private def truth(upTo: Long): (Set[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) =
    (rows(truthTarget(upTo)), rows(truthHistory(upTo)), rows(truthRollup(upTo)))

  private def quarantined(c: CdcTableConfig): Set[Seq[Any]] =
    CdcPipeline.readQuarantine(spark, c).fold(Set.empty[Seq[Any]])(q =>
      q.select("user_id", "event_id").collect().map(_.toSeq).toSet)

  private def loggedCounts(log: String): Map[Long, (Long, Long, Long)] =
    JobLog.read(spark, log).get.filter(col("run_status") === "SUCCESS")
      .select("cdc_end_us", "records_inserted", "records_updated", "records_deleted")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  /** A stray manifest in the target's next version directory — what a
    * writer that died before its pointer swap leaves. The next merge's
    * commit refuses it, so the merge throws after the history advance
    * beside it has started.
    */
  private def blockNextTargetCommit(c: CdcTableConfig): String = {
    val next = CdcPipeline.currentVersion(c.targetPath).get + 1
    val m = CdcPipeline.manifest(c.targetPath, next - 1).get
    CdcPipeline.writeManifest(c.targetPath, next, m)
    s"${c.targetPath}/v$next"
  }

  test("K windows through run: target, rollup, history, job log and quarantine equal plain-Spark truths") {
    val c = cfg(tmp()); val log = tmp()
    ends.indices.foreach { i =>
      val r = CdcPipeline.run(spark, c, source, log, ends(i))
      assert(r.status === "SUCCESS")
      assert((r.inserted, r.updated, r.deleted) === truthCounts(i), s"window $i counts")
      assert(state(c) === truth(ends(i)), s"after window $i")
    }
    assert(loggedCounts(log) === ends.indices.map(i => ends(i) -> truthCounts(i)).toMap)
    assert(quarantined(c) === truthQuarantine(ends.last))
    assert(quarantined(c).size === 3, "non-vacuous: three upserts are quarantined")
    // the history advanced once per window, each keyed on its window end
    assert(Scd2Store.lastAppliedSeq(c) === ends.last)
    assert(CdcPipeline.rollupAsOfVersion(c, "by_k") ===
      CdcPipeline.currentVersion(c.targetPath).get)
  }

  test("crash with the history published and the target merge not: rerunning the window converges") {
    val serial = cfg(tmp()); val serialLog = tmp()
    ends.indices.foreach(i =>
      assert(CdcPipeline.run(spark, serial, source, serialLog, ends(i)).status === "SUCCESS"))

    // (a) the merge throws inside run while the history advances
    // beside it: the run is FAILED, the history holds window 1, the
    // target and the rollup do not
    val c = cfg(tmp()); val log = tmp()
    assert(CdcPipeline.run(spark, c, source, log, ends(0)).status === "SUCCESS")
    val targetV = CdcPipeline.currentVersion(c.targetPath)
    val rollupV = CdcPipeline.rollupAsOfVersion(c, "by_k")
    val stray = blockNextTargetCommit(c)
    intercept[CdcPipeline.ConcurrentWriteException] {
      CdcPipeline.run(spark, c, source, log, ends(1))
    }
    assert(Scd2Store.lastAppliedSeq(c) === ends(1), "the history advanced beside the merge")
    assert(CdcPipeline.currentVersion(c.targetPath) === targetV, "the target did not move")
    assert(CdcPipeline.rollupAsOfVersion(c, "by_k") === rollupV, "the rollup did not move")
    assert(JobLog.read(spark, log).get.filter(col("run_status") === "FAILED").count() === 1)
    // the operator clears the dead writer's leftover and reruns the
    // window: the merge applies it, the history skips it by its key
    assert(StoreFs.deleteRecursive(stray))
    ends.indices.drop(1).foreach(i =>
      assert(CdcPipeline.run(spark, c, source, log, ends(i)).status === "SUCCESS"))
    assert(state(c) === state(serial))
    assert(state(c) === truth(ends.last))
    assert(loggedCounts(log) === loggedCounts(serialLog))
    assert(quarantined(c) === quarantined(serial))

    // (b) the same crash by hand (history first, no merge), rerun at a
    // fresh window end: the superset window (2000, 6000] re-merges
    // window 2 and applies only window 3 to the history
    val h = cfg(tmp()); val hLog = tmp()
    assert(CdcPipeline.run(spark, h, source, hLog, ends(0)).status === "SUCCESS")
    val projected = CdcPipeline.gateExpectations(
      h.project(CdcEnvelope.window(source, ends(0), ends(1))), h, ends(1))._1
    val changes = ChangeCompaction.compactForMerge(projected, h.pk)
    Scd2Store.maintain(spark, h, projected, CdcPipeline.summarize(h, changes),
      seqKey = ends(1), targetExistedBefore = true, seqIsLoadTs = true)
    assert(Scd2Store.lastAppliedSeq(h) === ends(1))
    assert(CdcPipeline.run(spark, h, source, hLog, ends(2)).status === "SUCCESS")
    assert(CdcPipeline.run(spark, h, source, hLog, ends(3)).status === "SUCCESS")
    assert(state(h) === truth(ends.last))
  }

  test("CdcStream: micro-batches and a replay after the history-first crash equal plain-Spark truths") {
    val s = cfg(tmp())
    // micro-batch i carries window i; its expectation gate is keyed on the batch id
    def batch(i: Int): DataFrame = env(windows(i))
    assert(CdcStream.mergeBatchToTarget(batch(0), 0L, s))
    assert(state(s) === truth(ends(0)))

    // (a) batch 1's merge throws while its history advances beside it
    val stray = blockNextTargetCommit(s)
    intercept[CdcPipeline.ConcurrentWriteException] {
      CdcStream.mergeBatchToTarget(batch(1), 1L, s)
    }
    assert(Scd2Store.lastAppliedSeq(s) === 1L)
    assert(CdcPipeline.lastCommittedBatch(s.targetPath) === Some(0L))
    assert(StoreFs.deleteRecursive(stray))
    // the checkpoint replays batch 1: merged and rolled up, history skipped
    assert(CdcStream.mergeBatchToTarget(batch(1), 1L, s))
    assert(state(s) === truth(ends(1)))

    // (b) the same crash by hand for batch 2, then its replay
    val projected = CdcPipeline.gateExpectations(s.project(batch(2)), s, 2L)._1
    val changes = ChangeCompaction.compactForMerge(projected, s.pk)
    Scd2Store.maintain(spark, s, projected, CdcPipeline.summarize(s, changes),
      seqKey = 2L, targetExistedBefore = true)
    assert(CdcStream.mergeBatchToTarget(batch(2), 2L, s))
    assert(state(s) === truth(ends(2)))

    assert(CdcStream.mergeBatchToTarget(batch(3), 3L, s))
    assert(state(s) === truth(ends(3)))
    assert(quarantined(s) === truthQuarantine(ends.last))
    // a replay of a fully committed batch is skipped and changes nothing
    assert(!CdcStream.mergeBatchToTarget(batch(3), 3L, s))
    assert(state(s) === truth(ends(3)))
  }

  test("every job a run starts carries the caller's job group and a cdc.run:/store. description") {
    val c = cfg(tmp()); val log = tmp()
    assert(CdcPipeline.run(spark, c, source, log, ends(0)).status === "SUCCESS")
    val sc = spark.sparkContext
    sc.setJobGroup("apply-path-spec", "caller")
    sc.setLocalProperty("spark.scheduler.pool", "apply-pool")
    val props = try ListenerDrain.jobsOf(sc) {
      ends.indices.drop(1).foreach(i =>
        assert(CdcPipeline.run(spark, c, source, log, ends(i)).status === "SUCCESS"))
    }._2 finally {
      sc.clearJobGroup()
      sc.setLocalProperty("spark.scheduler.pool", null)
    }
    def values(k: String): Seq[String] = props.map(p => Option(p.getProperty(k)).getOrElse(""))
    assert(props.nonEmpty)
    assert(values("spark.jobGroup.id").forall(_ == "apply-path-spec"), values("spark.jobGroup.id"))
    assert(values("spark.scheduler.pool").forall(_ == "apply-pool"), values("spark.scheduler.pool"))
    val descs = values("spark.job.description")
    val unlabeled = descs.filterNot(d => d.startsWith("cdc.run: ") || d.startsWith("store."))
    assert(unlabeled.isEmpty, s"jobs without a phase label: $unlabeled")
    assert(descs.contains("cdc.run: scd2 advance"), "the side branch's jobs are seen")
    assert(state(c) === truth(ends.last))
  }
}
