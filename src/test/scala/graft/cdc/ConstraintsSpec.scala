package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.LocalSpark
import java.nio.file.Files

/** A71: persistent CHECK constraints on the bucketed store — the
  * Delta `ALTER TABLE ADD CONSTRAINT … CHECK` surface (reference
  * anchor: merge.sql:441–457's all-or-nothing batch failure is its
  * only integrity mechanism; a table constraint moves the invariant
  * into the table itself). Laws pinned here:
  *  - declaration validates the WHOLE current snapshot, publishes
  *    metadata-only, refuses duplicates;
  *  - every data-changing write (merge upserts, post-SET updates)
  *    refuses the commit on violation, store untouched;
  *  - SQL CHECK null semantics: a NULL predicate PASSES (unlike A39
  *    expectations, which fail NULLs);
  *  - deletes are exempt (they introduce no values);
  *  - the declaration survives every publish kind (delta, rebucket,
  *    optimize, bloom-index, add/drop column) and restores WITH the
  *    restored state;
  *  - drop/rename of a referenced column refuses until the
  *    constraint is dropped.
  */
class ConstraintsSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def mkStore(dir: String, rows: Seq[(Long, String, Long)] =
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))): Unit =
    CdcPipeline.publish(rows.toDF("id", "name", "value"), dir, Seq("id"),
      buckets = Some(4))

  private def cfg(dir: String) = CdcTableConfig(
    cdcTable = "t", sourcePath = "t", targetDb = "g", targetTable = "t",
    targetPath = dir, pk = Seq("id"), fieldSpecs = Nil,
    passthrough = Seq("name", "value"), numBuckets = Some(4))

  private def changes(rows: (Long, Option[String], Option[Long], String)*) =
    rows.toSeq.toDF("id", "name", "value", "__op")

  private def merge(dir: String, chg: org.apache.spark.sql.DataFrame) =
    CdcPipeline.mergeAndPublish(spark, cfg(dir), chg, CdcPipeline.summarize(cfg(dir), chg))

  private def snap(dir: String): Map[Long, (String, Long)] =
    CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "name", "value").as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap

  test("declare: full-snapshot validation, metadata-only publish, duplicate refusal") {
    val dir = tmp(); mkStore(dir)
    assert(CdcPipeline.checkConstraints(dir).isEmpty)
    assert(CdcPipeline.addCheckConstraint(spark, dir, "pos_value", "value > 0")
      === Some(1L))
    assert(CdcPipeline.checkConstraints(dir) === Map("pos_value" -> "value > 0"))
    // metadata-only: v1 holds no bucket data, snapshot unchanged
    val v1 = new java.io.File(s"$dir/v1").list().toSeq
    assert(!v1.exists(_.startsWith("_graft_bucket")), s"v1 has data dirs: $v1")
    assert(snap(dir) === Map(1L -> (("a", 10L)), 2L -> (("b", 20L)),
      3L -> (("c", 30L))))
    intercept[IllegalArgumentException] {
      CdcPipeline.addCheckConstraint(spark, dir, "pos_value", "value > 10")
    }
    // violated declaration: nothing published, nothing declared
    val dir2 = tmp(); mkStore(dir2, Seq((1L, "a", 0L), (2L, "b", 5L)))
    val e = intercept[CdcPipeline.ConstraintViolationException] {
      CdcPipeline.addCheckConstraint(spark, dir2, "pos_value", "value > 0")
    }
    assert(e.counts === Map("pos_value" -> 1L))
    assert(CdcPipeline.currentVersion(dir2) === Some(0L))
    assert(CdcPipeline.checkConstraints(dir2).isEmpty)
  }

  test("merge: violating upserts refuse the commit; deletes and NULLs pass; declaration carries") {
    val dir = tmp(); mkStore(dir)
    CdcPipeline.addCheckConstraint(spark, dir, "pos_value", "value > 0")
    val before = snap(dir)
    val e = intercept[CdcPipeline.ConstraintViolationException] {
      merge(dir, changes((4L, Some("d"), Some(-5L), "u"), (5L, Some("e"), Some(1L), "u")))
    }
    assert(e.counts === Map("pos_value" -> 1L))
    assert(CdcPipeline.currentVersion(dir) === Some(1L), "refused commit must not publish")
    assert(snap(dir) === before)
    // deletes are exempt (PK-only payload would read NULL anyway);
    // NULL predicate passes per SQL CHECK
    merge(dir, changes((1L, None, None, "d"), (4L, Some("d"), None, "u")))
    val after = CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "value").as[(Long, Option[Long])].collect().toMap
    assert(!after.contains(1L) && after(4L).isEmpty)
    assert(CdcPipeline.checkConstraints(dir) === Map("pos_value" -> "value > 0"),
      "declaration must survive a delta publish")
  }

  test("updateWhere enforces post-SET rows; clean updates pass") {
    val dir = tmp(); mkStore(dir)
    CdcPipeline.addCheckConstraint(spark, dir, "pos_value", "value > 0")
    intercept[CdcPipeline.ConstraintViolationException] {
      CdcPipeline.updateWhere(spark, dir, Seq("id"), col("id") === 2L,
        Map("value" -> lit(-1L)))
    }
    assert(snap(dir)(2L) === (("b", 20L)), "refused update must not change data")
    val Some((v, n)) = CdcPipeline.updateWhere(spark, dir, Seq("id"),
      col("id") === 2L, Map("value" -> (col("value") + 1)))
    assert(n === 1L && snap(dir)(2L) === (("b", 21L)))
    assert(CdcPipeline.checkConstraints(dir).contains("pos_value"))
    // deleteWhere only removes rows: never constraint-checked
    assert(CdcPipeline.deleteWhere(spark, dir, Seq("id"), col("id") === 3L)
      .exists(_._2 === 1L))
  }

  test("drop constraint re-opens the gate; referenced-column drop/rename refuse") {
    val dir = tmp(); mkStore(dir)
    CdcPipeline.addCheckConstraint(spark, dir, "pos_value", "value > 0")
    // dependency guards
    val g1 = intercept[IllegalArgumentException] {
      CdcPipeline.dropColumns(spark, dir, Seq("id"), Seq("value"))
    }
    assert(g1.getMessage.contains("pos_value"))
    intercept[IllegalArgumentException] {
      CdcPipeline.renameColumn(spark, dir, Seq("id"), "value", "v2")
    }
    // unrelated schema changes carry the declaration
    CdcPipeline.dropColumns(spark, dir, Seq("id"), Seq("name"))
    assert(CdcPipeline.checkConstraints(dir).contains("pos_value"))
    // drop → the formerly-refused write goes through
    assert(CdcPipeline.dropCheckConstraint(dir, "pos_value").isDefined)
    assert(CdcPipeline.dropCheckConstraint(dir, "pos_value") === None,
      "double drop reports absence")
    CdcPipeline.updateWhere(spark, dir, Seq("id"), col("id") === 2L,
      Map("value" -> lit(-1L)))
    assert(CdcPipeline.readSnapshot(spark, dir).get
      .filter(col("value") === -1L).count() === 1L)
  }

  test("streaming micro-batch merge is gated too: a violating batch fails BEFORE publishing") {
    val dir = tmp(); mkStore(dir)
    CdcPipeline.addCheckConstraint(spark, dir, "pos_value", "value > 0")
    val c = cfg(dir)
    def envBatch(rows: (Long, String, Long)*) =
      rows.toSeq.toDF("id", "name", "value")
        .withColumn(CdcEnvelope.OpCol, lit("u"))
        .withColumn(CdcEnvelope.TsCol, lit(1000L))
        .withColumn(CdcEnvelope.PosCol, monotonically_increasing_id())
        .withColumn(CdcEnvelope.LoadTsCol, lit(1000L))
        .withColumn(CdcEnvelope.DataCol, lit("{}"))
    val before = CdcPipeline.currentVersion(dir).get
    intercept[CdcPipeline.ConstraintViolationException] {
      graft.streaming.CdcStream.mergeBatchToTarget(
        envBatch((9L, "x", -3L)), batchId = 1L, c)
    }
    assert(CdcPipeline.currentVersion(dir).get === before,
      "violating micro-batch must not publish")
    assert(graft.streaming.CdcStream.mergeBatchToTarget(
      envBatch((9L, "x", 3L)), batchId = 1L, c))
    assert(snap(dir)(9L) === (("x", 3L)))
  }

  test("declaration survives rebucket/optimize/bloom-index; RESTORE reverts to the restored state's set") {
    val dir = tmp(); mkStore(dir)
    CdcPipeline.addCheckConstraint(spark, dir, "pos_value", "value > 0") // v1
    CdcPipeline.rebucket(spark, dir, Seq("id"), 8) // v2
    assert(CdcPipeline.checkConstraints(dir).contains("pos_value"))
    CdcPipeline.optimize(spark, dir, Seq("id"), Seq("value")) // v3
    assert(CdcPipeline.checkConstraints(dir).contains("pos_value"))
    CdcPipeline.buildBloomIndex(spark, dir, "name", 100L) // v4
    assert(CdcPipeline.checkConstraints(dir).contains("pos_value"),
      "bloom-index publish must carry the declaration")
    // restore to the unconstrained v0: the constraint set reverts too
    assert(CdcPipeline.restoreSnapshot(dir, 0L).isDefined)
    assert(CdcPipeline.checkConstraints(dir).isEmpty)
    // and restoring forward to a constrained version brings it back
    assert(CdcPipeline.restoreSnapshot(dir, 2L).isDefined)
    assert(CdcPipeline.checkConstraints(dir).contains("pos_value"))
  }

  test("regression: bloom-index publish keeps column defaults (pre-r9 it dropped coldefault.*)") {
    val dir = tmp(); mkStore(dir)
    CdcPipeline.addColumnWithDefault(spark, dir, "flag", LongType, 7L)
    assert(CdcPipeline.readSnapshot(spark, dir).get
      .filter(col("flag") === 7L).count() === 3L)
    CdcPipeline.buildBloomIndex(spark, dir, "name", 100L)
    assert(CdcPipeline.readSnapshot(spark, dir).get
      .filter(col("flag") === 7L).count() === 3L,
      "defaults must survive an index build")
  }
}
