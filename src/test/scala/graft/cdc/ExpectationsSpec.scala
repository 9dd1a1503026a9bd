package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.LocalSpark
import java.nio.file.Files

/** A39: write-time expectations — annotate/split/count semantics,
  * and the pipeline integration (quarantine store, RunResult count,
  * replay idempotence, Fail → FAILED job log with target untouched,
  * deletes ungated). Also hosts the A46 writer-lease spec (the other
  * run-bracketing safety surface).
  */
class ExpectationsSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import Expectations._

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def docs = {
    import spark.implicits._
    Seq[(Long, java.lang.Double, String)](
      (1L, 10.0, "click"),  // clean
      (2L, -5.0, "click"),  // violates nonneg (quarantine)
      (3L, 10.0, "bogus"),  // violates known_type (drop)
      (4L, -1.0, "bogus"),  // violates both
      (5L, null, "view")    // NULL value → violates nonneg (and big)
    ).toDF("id", "value", "event_type")
  }

  private val nonneg = Expectation("nonneg", "value >= 0", Quarantine)
  private val known = Expectation("known_type",
    "event_type IN ('click','view','purchase','signup','error')", Drop)
  private val big = Expectation("big", "value >= 5", Warn)

  test("annotate: sorted violated names; NULL predicate is a violation") {
    val ann = annotate(docs, Seq(nonneg, known, big))
      .select(col("id"), col(ViolationsCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(ann(1L) === Seq())
    assert(ann(2L) === Seq("big", "nonneg"))
    assert(ann(3L) === Seq("known_type"))
    assert(ann(4L) === Seq("big", "known_type", "nonneg"))
    assert(ann(5L) === Seq("big", "nonneg"), "NULL value must violate value predicates")
  }

  test("split: warn kept, drop silent, quarantine diverted with every violated name") {
    val sp = split(docs, Seq(nonneg, known, big))
    assert(sp.clean.select("id").collect().map(_.getLong(0)).sorted === Seq(1L),
      "row 5 violates quarantine-actioned nonneg (NULL), rows 2-4 violate drop/quarantine")
    // relax: big (warn) alone never removes
    val sp2 = split(docs, Seq(big))
    assert(sp2.clean.count() === 5, "warn-only violations keep every row")
    assert(sp2.quarantined.count() === 0)
    val q = sp.quarantined.select(col("id"), col(ViolationsCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(q.keySet === Set(2L, 4L, 5L), "drop-only violators (3) stay out of quarantine")
    assert(q(4L) === Seq("big", "known_type", "nonneg"),
      "quarantine record carries ALL violated names, drop/warn ones included")
    assert(q(5L) === Seq("big", "nonneg"), "... warn ones included")
  }

  test("violationCounts: one pass, exact; check throws only on Fail violations") {
    val counts = violationCounts(docs, Seq(nonneg, known, big))
    assert(counts === Map("nonneg" -> 3L, "known_type" -> 2L, "big" -> 3L))
    check(docs, Seq(nonneg, known, big), "t") // no Fail specs: no-op
    check(docs, Seq(Expectation("id_pos", "id > 0", Fail)), "t") // Fail, zero violations
    val e = intercept[ExpectationFailedException] {
      check(docs, Seq(nonneg, Expectation("never_null", "value IS NOT NULL", Fail)), "db.t")
    }
    assert(e.counts === Map("nonneg" -> 3L, "never_null" -> 1L))
    assert(e.getMessage.contains("db.t"))
  }

  // ---- pipeline integration ----

  import TypedProjection.{FieldSpec, Cast}
  private def cfg(target: String, specs: Seq[Expectation]) = CdcTableConfig(
    cdcTable = "c", sourcePath = "s", targetDb = "g", targetTable = "t",
    targetPath = target, pk = Seq("user_id"),
    fieldSpecs = Seq(FieldSpec("k", Cast(LongType))),
    passthrough = Seq("event_id", "value"),
    numBuckets = Some(4), expectations = specs)

  private def env(rows: Seq[(Long, String, Long, Long, Long, String, Long, Double)]) = {
    import spark.implicits._
    rows.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
      CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
  }

  test("run(): quarantined rows leave every maintained surface and persist with the window key") {
    val target = tmp(); val log = tmp()
    val c = cfg(target, Seq(Expectation("nonneg", "value >= 0", Quarantine),
      Expectation("small_k", "k < 100", Drop)))
    val r1 = CdcPipeline.run(spark, c, env(Seq(
      (1L, "u", 1000L, 1L, 1000L, """{"k":1}""", 10L, 5.0),
      (2L, "u", 1000L, 2L, 1000L, """{"k":2}""", 11L, -7.0), // quarantined
      (3L, "u", 1000L, 3L, 1000L, """{"k":999}""", 12L, 1.0), // dropped
      (4L, "u", 1000L, 4L, 1000L, """{"k":4}""", 13L, 2.0))), log, 2000L)
    assert(r1.status === "SUCCESS" && r1.quarantined === 1L)
    assert(r1.inserted === 2L, "dropped+quarantined rows must not merge")
    val snap = CdcPipeline.readSnapshot(spark, target).get
    assert(snap.select("user_id").collect().map(_.getLong(0)).sorted === Seq(1L, 4L))
    val q = CdcPipeline.readQuarantine(spark, c).get
    assert(q.select("user_id").collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(q.select("w").collect().map(_.getLong(0)).toSeq === Seq(2000L),
      "window key must surface as the discovered partition column")
    assert(q.select(ViolationsCol).collect().head.getSeq[String](0) === Seq("nonneg"))

    // second window: a delete for a quarantined-then-fixed key passes ungated
    // (delete payload is PK-only: data is null, so value/k read NULL)
    val r2 = CdcPipeline.run(spark, c, env(Seq(
      (1L, "d", 3000L, 5L, 3000L, null, 14L, Double.NaN),
      (2L, "u", 3000L, 6L, 3000L, """{"k":5}""", 15L, 7.0))), log, 4000L)
    assert(r2.status === "SUCCESS" && r2.deleted === 1L && r2.quarantined === 0L)
    val snap2 = CdcPipeline.readSnapshot(spark, target).get
    assert(snap2.select("user_id").collect().map(_.getLong(0)).sorted === Seq(2L, 4L),
      "delete must pass the gate; fixed row 2 must now merge")
    assert(CdcPipeline.readQuarantine(spark, c).get.count() === 1L,
      "window 2 quarantined nothing; window 1's record remains")
  }

  test("run(): Fail expectation rejects the batch before any write; FAILED in the job log") {
    val target = tmp(); val log = tmp()
    val good = cfg(target, Nil)
    assert(CdcPipeline.run(spark, good, env(Seq(
      (1L, "u", 1000L, 1L, 1000L, """{"k":1}""", 10L, 5.0))), log, 2000L).status === "SUCCESS")
    val v1 = CdcPipeline.currentVersion(target).get
    val failing = cfg(target, Seq(Expectation("nonneg", "value >= 0", Fail)))
    intercept[Expectations.ExpectationFailedException] {
      CdcPipeline.run(spark, failing, env(Seq(
        (2L, "u", 3000L, 2L, 3000L, """{"k":2}""", 11L, -1.0))), log, 4000L)
    }
    assert(CdcPipeline.currentVersion(target).get === v1, "failed batch must not publish")
    assert(CdcPipeline.readQuarantine(spark, failing).isEmpty, "failed batch must not quarantine")
    import spark.implicits._
    assert(JobLog.read(spark, log).get.filter(col("run_status") === "FAILED").count() === 1L)
    // the failed window did NOT advance the watermark: a rerun with
    // clean data re-covers it
    val r3 = CdcPipeline.run(spark, failing, env(Seq(
      (2L, "u", 3000L, 2L, 3000L, """{"k":2}""", 11L, 1.0))), log, 4000L)
    assert(r3.status === "SUCCESS" && r3.windowStartUs === 2000L)
    // a job log that cannot take the FAILED row (its directory would
    // sit under a regular file: no watermark yet, and no room for the
    // append's temp file) must not mask the batch's own failure
    val unwritableLog = s"${Files.createTempFile("graft-joblog", ".log")}/joblog"
    val e = intercept[Expectations.ExpectationFailedException] {
      CdcPipeline.run(spark, failing, env(Seq(
        (3L, "u", 5000L, 3L, 5000L, """{"k":3}""", 12L, -1.0))), unwritableLog, 6000L)
    }
    assert(e.getSuppressed.exists(_.isInstanceOf[java.io.IOException]),
      s"the failed log append rides along as suppressed: ${e.getSuppressed.toSeq}")
  }

  test("run(): replayed window overwrites its quarantine directory (no duplicates)") {
    val target = tmp(); val log1 = tmp(); val log2 = tmp()
    val c = cfg(target, Seq(Expectation("nonneg", "value >= 0", Quarantine)))
    val rows = env(Seq(
      (1L, "u", 1000L, 1L, 1000L, """{"k":1}""", 10L, -5.0),
      (2L, "u", 1000L, 2L, 1000L, """{"k":2}""", 11L, 2.0)))
    assert(CdcPipeline.run(spark, c, rows, log1, 2000L).quarantined === 1L)
    // crash-replay: same window against a FRESH job log (watermark 0),
    // same nowUs — the quarantine dir is rewritten, not appended
    assert(CdcPipeline.run(spark, c, rows, log2, 2000L).quarantined === 1L)
    assert(CdcPipeline.readQuarantine(spark, c).get.count() === 1L)
  }

  test("vacuumQuarantine: drops oldest windows only, never auto-wired") {
    val target = tmp(); val log = tmp()
    val c = cfg(target, Seq(Expectation("nonneg", "value >= 0", Quarantine)))
    // three windows, each quarantining one row
    Seq(2000L, 4000L, 6000L).zipWithIndex.foreach { case (w, i) =>
      CdcPipeline.run(spark, c, env(Seq(
        (10L + i, "u", w - 1000, i.toLong, w - 1000, s"""{"k":$i}""", 20L + i, -1.0))),
        log, w)
    }
    assert(CdcPipeline.readQuarantine(spark, c).get
      .select("w").collect().map(_.getLong(0)).toSet === Set(2000L, 4000L, 6000L))
    assert(CdcPipeline.vacuumQuarantine(c, keepWindows = 1) === Seq(2000L, 4000L))
    assert(CdcPipeline.readQuarantine(spark, c).get
      .select("w").collect().map(_.getLong(0)).toSet === Set(6000L))
    assert(CdcPipeline.vacuumQuarantine(c, keepWindows = 1) === Nil, "idempotent")
  }

  test("writer lease: exclusion, release, stale break, token-checked cleanup") {
    import CdcPipeline.{withWriterLease, WriterLockedException}
    val dir = tmp()
    // runs and releases: back-to-back brackets both succeed
    assert(withWriterLease(dir) { 41 + 1 } === 42)
    assert(withWriterLease(dir) { "again" } === "again")
    // exclusion: a second writer inside the bracket is refused
    withWriterLease(dir) {
      intercept[WriterLockedException](withWriterLease(dir) { fail("must not enter") })
    }
    // a crashed writer's stale lease is broken by the next caller
    StoreFs.writeString(s"$dir/_LOCK", "crashed-writer")
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(dir, "_LOCK"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    assert(withWriterLease(dir) { "recovered" } === "recovered")
    assert(!StoreFs.exists(s"$dir/_LOCK"))
    // token-checked release: if OUR lease got broken mid-flight and
    // re-acquired by someone else, the bracket must not delete theirs
    withWriterLease(dir) {
      StoreFs.writeString(s"$dir/_LOCK", "someone-else")
    }
    assert(StoreFs.readString(s"$dir/_LOCK") === "someone-else")
  }

  test("config-table round trip: parseExpectations") {
    val parsed = CdcConfig.parseExpectations(
      "nonneg@quarantine@value >= 0; known@drop@event_type IN ('a','b'); " +
        "present@fail@value IS NOT NULL; big@warn@value >= 5")
    assert(parsed === Seq(
      Expectation("nonneg", "value >= 0", Quarantine),
      Expectation("known", "event_type IN ('a','b')", Drop),
      Expectation("present", "value IS NOT NULL", Fail),
      Expectation("big", "value >= 5", Warn)))
    intercept[IllegalArgumentException](CdcConfig.parseExpectations("x@boom@p"))
    intercept[IllegalArgumentException](CdcConfig.parseExpectations("x@warn"))
  }
}
