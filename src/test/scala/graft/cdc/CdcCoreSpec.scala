package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark

/** Edge-case semantics of the CDC core that the driver's events data
  * can't pin down deterministically: exact upsert/delete interleaving
  * per key. Envelope rows are built inline (tiny literal frames);
  * query-level coverage over the real parquet lives in CdcQueries +
  * the driver's oracle gate.
  */
class CdcCoreSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  // (pk, op, ts_us, pos, load_ts_us, data, v)
  private def env(rows: (Int, String, Long, Long, Long, String, Double)*) =
    rows.toDF("id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
      CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "v")

  test("latestPerKey keeps the single newest change per key (ts, then pos)") {
    val e = env(
      (1, "u", 100L, 1L, 100L, """{"k":1}""", 1.0),
      (1, "u", 200L, 2L, 200L, """{"k":2}""", 2.0),
      (1, "u", 200L, 3L, 200L, """{"k":3}""", 3.0), // same ts, higher pos wins
      (2, "u", 50L, 4L, 50L, """{"k":4}""", 4.0))
    val got = ChangeCompaction.latestPerKey(e, Seq("id"))
      .select("id", CdcEnvelope.PosCol).as[(Int, Long)].collect().toMap
    assert(got === Map(1 -> 3L, 2 -> 4L))
  }

  test("upsertSet ignores deletes even when the delete is newest") {
    val e = env(
      (1, "u", 100L, 1L, 100L, """{"k":1}""", 1.0),
      (1, "d", 200L, 2L, 200L, """{"k":1}""", 1.0))
    val got = ChangeCompaction.upsertSet(e, Seq("id"))
      .select("id", CdcEnvelope.TsCol).as[(Int, Long)].collect()
    assert(got.toSeq === Seq((1, 100L)))
  }

  test("deleteSet keeps a delete newer than the newest upsert, drops an older one") {
    val e = env(
      // key 1: delete newest → delete survives
      (1, "u", 100L, 1L, 100L, """{"k":1}""", 1.0),
      (1, "d", 200L, 2L, 200L, """{"k":1}""", 1.0),
      // key 2: upsert newest → delete suppressed (merge.sql:348)
      (2, "d", 100L, 3L, 100L, """{"k":2}""", 2.0),
      (2, "u", 200L, 4L, 200L, """{"k":2}""", 2.0),
      // key 3: only a delete → survives
      (3, "d", 100L, 5L, 100L, """{"k":3}""", 3.0))
    val got = ChangeCompaction.deleteSet(e, Seq("id"))
      .select("id").as[Int].collect().sorted
    assert(got.toSeq === Seq(1, 3))
  }

  test("routed one-pass split equals the two-pass upsert/delete resolution") {
    val e = env(
      (1, "u", 100L, 1L, 100L, """{"k":1}""", 1.0),
      (1, "d", 200L, 2L, 200L, """{"k":1}""", 1.0),
      (2, "d", 100L, 3L, 100L, """{"k":2}""", 2.0),
      (2, "u", 200L, 4L, 200L, """{"k":2}""", 2.0),
      (3, "d", 100L, 5L, 100L, """{"k":3}""", 3.0),
      (4, "u", 100L, 6L, 100L, """{"k":4}""", 4.0))
    val (ups, dels) = ChangeCompaction.routed(e, Seq("id"))
    assert(ups.select("id").as[Int].collect().sorted.toSeq === Seq(2, 4))
    assert(dels.select("id").as[Int].collect().sorted.toSeq === Seq(1, 3))
  }

  test("merge: upsert replaces, insert adds, delete removes, missing-key delete is a no-op") {
    val target = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "v")
    val changes = env(
      (2, "u", 100L, 1L, 100L, """{"k":2}""", 21.0), // update
      (4, "u", 100L, 2L, 100L, """{"k":4}""", 40.0), // insert
      (3, "d", 100L, 3L, 100L, """{"k":3}""", 0.0),  // delete existing
      (9, "d", 100L, 4L, 100L, """{"k":9}""", 0.0))  // delete missing → no-op
    val got = SnapshotMerge.merge(target, changes, Seq("id"))
      .select("id", "v").as[(Int, Double)].collect().toMap
    assert(got === Map(1 -> 10.0, 2 -> 21.0, 4 -> 40.0))
  }

  test("incremental aggregate maintenance ≡ recompute: group move, death, birth, missing-key delete") {
    // state over groups of `g` summing long `cents`
    val target = Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 30L))
      .toDF("id", "g", "cents")
    val changes = Seq(
      (2, "u", "c", 21L),  // update that MOVES id=2 from group a to a NEW group c
      (4, "u", "a", 40L),  // insert into group a
      (3, "d", "b", 0L),   // delete the only member of group b → group dies
      (9, "d", "z", 0L))   // delete of a missing key → must be a no-op
      .toDF("id", CdcEnvelope.OpCol, "g", "cents")
    val state0 = IncrementalAgg.fromSnapshot(target, Seq("g"), "cents")
    val state1 = IncrementalAgg.applyDelta(state0, target, changes,
      Seq("id"), Seq("g"), "cents", deltaRows = Some(4L))
    val got = state1.select("g", "n_rows", "sum_cents")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // recompute from the merged snapshot must agree exactly
    val merged = SnapshotMerge.merge(target, changes, Seq("id"))
    val want = IncrementalAgg.fromSnapshot(merged, Seq("g"), "cents")
      .select("g", "n_rows", "sum_cents")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got === want)
    assert(got === Map("a" -> (2L, 50L), "c" -> (1L, 21L)), "group b must die, c must be born")
  }

  test("schema-evolving merge: new payload columns appear, old rows take NULL") {
    val dir = java.nio.file.Files.createTempDirectory("graft").toString
    CdcPipeline.publish(Seq((1, 10.0), (2, 20.0)).toDF("id", "v"), dir, Seq("id"),
      buckets = Some(2))
    // the config declares a column v2 the stored target has never seen
    val cfg = CdcTableConfig(cdcTable = "t", sourcePath = "t", targetDb = "g",
      targetTable = "evolve", targetPath = dir, pk = Seq("id"), fieldSpecs = Nil,
      passthrough = Seq("v", "v2"), numBuckets = Some(2))
    val changes = Seq((2, "u", 21.0, "x2"), (3, "u", 30.0, "x3"))
      .toDF("id", CdcEnvelope.OpCol, "v", "v2")
    CdcPipeline.mergeAndPublish(spark, cfg, changes, CdcPipeline.summarize(cfg, changes))
    val got = CdcPipeline.readSnapshot(spark, dir).get
    assert(got.columns.toSeq === Seq("id", "v", "v2"))
    val rows = got.select("id", "v", "v2").as[(Int, Double, Option[String])]
      .collect().map { case (i, v, v2) => i -> (v, v2) }.toMap
    assert(rows === Map(
      1 -> (10.0, None),          // untouched row: NULL for the new col
      2 -> (21.0, Some("x2")),    // updated row carries it
      3 -> (30.0, Some("x3"))))   // inserted row carries it
  }

  test("typed projection rules") {
    import TypedProjection._
    val df = Seq(
      ("""{"es":86400,"ns":1700000000123456789,"day":3,"bit":"true","b":"0","iso":"2024-01-05T12:34:56Z","rk":"MDAwMDAwNDI="}""")
    ).toDF("data")
    val out = project(df, "data", Seq(
      FieldSpec("es", EpochSeconds, "es"),
      FieldSpec("ns", EpochNanos, "ns"),
      FieldSpec("day", EpochDays, "day"),
      FieldSpec("bit", BitToInt, "bit"),
      FieldSpec("b", BoolParse, "b"),
      FieldSpec("iso", DatetimeToInt, "iso_int"),
      FieldSpec("rk", RowKeyBinary, "rk"),
      FieldSpec("iso", RowKeyTimestamp, "iso_s")), Nil)
      .select(col("es").cast("string"), col("ns").cast("string"),
        col("day").cast("string"), col("bit"), col("b"), col("iso_int"),
        col("rk"), col("iso_s"))
      .collect()(0)
    assert(out.getString(0) === "1970-01-02 00:00:00")
    // nanos floor-divided to µs:
    assert(out.getString(1) === "2023-11-14 22:13:20.123456")
    assert(out.getString(2) === "1970-01-04")
    assert(out.getInt(3) === 1)
    assert(out.getBoolean(4) === false)
    assert(out.getLong(5) === 20240105123456L)
    // "00000042" UTF-8 bytes big-endian: 0x3030303030303432
    assert(out.getLong(6) === 0x3030303030303432L)
    assert(out.getLong(7) === 1704458096L)
  }
}
