package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.LocalSpark
import java.nio.file.Files

/** A72: virtual generated columns — the Delta GENERATED-column
  * surface taken computed-on-read (zero stored bytes; the expression
  * is authoritative over whatever files hold). Laws pinned here:
  *  - declaration is metadata-only and EVERY public reader path
  *    (snapshot, keys, range, point, time travel) appends the column;
  *  - time travel before the declaration reads without it;
  *  - a merge that updates base values changes the computed values
  *    (recompute, never stale), and a merge's narrowed column set
  *    cannot drop the declaration;
  *  - dependency guards: unknown refs, virtual-on-virtual, SET on a
  *    generated column, dropping/renaming a referenced base column,
  *    CHECK constraints over generated columns all refuse;
  *  - the declaration carries across rebucket/optimize/bloom-index
  *    and RESTOREs with the restored state.
  */
class GeneratedColumnsSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def mkStore(dir: String): Unit =
    CdcPipeline.publish(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "name", "value"),
      dir, Seq("id"), buckets = Some(4))

  private def cfg(dir: String) = CdcTableConfig(
    cdcTable = "t", sourcePath = "t", targetDb = "g", targetTable = "t",
    targetPath = dir, pk = Seq("id"), fieldSpecs = Nil,
    passthrough = Seq("name", "value"), numBuckets = Some(4))

  test("declare: metadata-only; all reader paths compute it; pre-declaration time travel lacks it") {
    val dir = tmp(); mkStore(dir)
    assert(CdcPipeline.addGeneratedColumn(dir, "v2", LongType, "value * 2")
      === Some(1L))
    assert(CdcPipeline.generatedColumns(dir).keySet === Set("v2"))
    val v1 = new java.io.File(s"$dir/v1").list().toSeq
    assert(!v1.exists(_.startsWith("_graft_bucket")), s"v1 has data dirs: $v1")
    // snapshot
    val snap = CdcPipeline.readSnapshot(spark, dir).get
    assert(snap.columns.contains("v2"))
    assert(snap.select("id", "v2").as[(Long, Long)].collect().toMap
      === Map(1L -> 20L, 2L -> 40L, 3L -> 60L))
    // key lookup
    assert(CdcPipeline.readKeys(spark, dir, Seq("id"), Seq(2L).toDF("id")).get
      .select("v2").as[Long].collect().toSeq === Seq(40L))
    // range read — and it even works ON the virtual column (honest
    // full scan, no stats)
    assert(CdcPipeline.readRange(spark, dir, "v2", Some(30L), Some(50L)).get
      .select("id").as[Long].collect().toSeq === Seq(2L))
    // time travel: at the declaration version yes, before no
    assert(CdcPipeline.readSnapshotAt(spark, dir, 1L).get.columns.contains("v2"))
    assert(!CdcPipeline.readSnapshotAt(spark, dir, 0L).get.columns.contains("v2"))
  }

  test("merge recomputes (never stale) and cannot narrow the declaration away") {
    val dir = tmp(); mkStore(dir)
    CdcPipeline.addGeneratedColumn(dir, "v2", LongType, "value * 2")
    // merge updates value of id=2 and inserts id=4 — the merge's
    // column set is the config's (no v2 anywhere near it)
    val chg = Seq((2L, "b", 200L, "u"), (4L, "d", 40L, "u"))
      .toDF("id", "name", "value", "__op")
    CdcPipeline.mergeAndPublish(spark, cfg(dir), chg, CdcPipeline.summarize(cfg(dir), chg))
    val got = CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "v2").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 20L, 2L -> 400L, 3L -> 60L, 4L -> 80L))
    assert(CdcPipeline.generatedColumns(dir).keySet === Set("v2"))
  }

  test("dependency guards refuse: dup/unknown refs, chaining, SET, drop/rename of inputs, CHECK over generated") {
    val dir = tmp(); mkStore(dir)
    CdcPipeline.addGeneratedColumn(dir, "v2", LongType, "value * 2")
    intercept[IllegalArgumentException] {
      CdcPipeline.addGeneratedColumn(dir, "v2", LongType, "value * 3")
    }
    intercept[IllegalArgumentException] {
      CdcPipeline.addGeneratedColumn(dir, "bad", LongType, "nope + 1")
    }
    intercept[IllegalArgumentException] { // virtual-on-virtual
      CdcPipeline.addGeneratedColumn(dir, "v4", LongType, "v2 * 2")
    }
    intercept[IllegalArgumentException] { // SET on a computed column
      CdcPipeline.updateWhere(spark, dir, Seq("id"), col("id") === 1L,
        Map("v2" -> lit(0L)))
    }
    intercept[IllegalArgumentException] {
      CdcPipeline.dropColumns(spark, dir, Seq("id"), Seq("value"))
    }
    intercept[IllegalArgumentException] {
      CdcPipeline.renameColumn(spark, dir, Seq("id"), "value", "val2")
    }
    intercept[IllegalArgumentException] { // physical add colliding
      CdcPipeline.addColumnWithDefault(spark, dir, "v2", LongType, 0L)
    }
    intercept[IllegalArgumentException] { // CHECK over a generated col
      CdcPipeline.addCheckConstraint(spark, dir, "big_v2", "v2 > 0")
    }
    // updating the INPUT is the supported path, and v2 follows
    CdcPipeline.updateWhere(spark, dir, Seq("id"), col("id") === 1L,
      Map("value" -> lit(100L)))
    assert(CdcPipeline.readSnapshot(spark, dir).get
      .filter(col("id") === 1L).select("v2").as[Long].head() === 200L)
  }

  test("declaration survives rebucket/optimize/bloom-index; drop removes; restore reverts the set") {
    val dir = tmp(); mkStore(dir)
    CdcPipeline.addGeneratedColumn(dir, "v2", LongType, "value * 2") // v1
    CdcPipeline.rebucket(spark, dir, Seq("id"), 8) // v2
    CdcPipeline.optimize(spark, dir, Seq("id"), Seq("value")) // v3
    CdcPipeline.buildBloomIndex(spark, dir, "name", 100L) // v4
    assert(CdcPipeline.generatedColumns(dir).keySet === Set("v2"))
    assert(CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "v2").as[(Long, Long)].collect().toMap
      === Map(1L -> 20L, 2L -> 40L, 3L -> 60L))
    // restore to pre-declaration v0: the column disappears with it
    CdcPipeline.restoreSnapshot(dir, 0L)
    assert(CdcPipeline.generatedColumns(dir).isEmpty)
    assert(!CdcPipeline.readSnapshot(spark, dir).get.columns.contains("v2"))
    // forward to a declared state brings it back; drop removes it
    CdcPipeline.restoreSnapshot(dir, 2L)
    assert(CdcPipeline.generatedColumns(dir).keySet === Set("v2"))
    assert(CdcPipeline.dropGeneratedColumn(dir, "v2").isDefined)
    assert(CdcPipeline.dropGeneratedColumn(dir, "v2") === None)
    assert(!CdcPipeline.readSnapshot(spark, dir).get.columns.contains("v2"))
  }
}
