package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A41: predicate DELETE/UPDATE — content equals the naive
  * filter/map recompute, rewrite I/O is bounded to affected buckets
  * (manifest carry asserted), emptied buckets drop out, no-match is a
  * no-op publish, PK assignment refused, stats recompute on rewritten
  * buckets only.
  */
class DeleteUpdateSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft").toString

  /** id 0..n-1, v = id*10; 8 buckets on pk=id. */
  private def fixture(n: Int) =
    spark.range(0, n).select(col("id"), (col("id") * 10L).as("v"))

  private def rows(dir: String): Set[(Long, Long)] =
    CdcPipeline.readSnapshot(spark, dir).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("deleteWhere: content, affected-bucket carry, emptied bucket drops, no-match no-op") {
    val dir = tmp()
    CdcPipeline.publish(fixture(4000), dir, Seq("id"), buckets = Some(8),
      statsCols = Seq("v"))
    // delete rows of exactly 2 buckets' worth of ids (bucket-correlated
    // predicate: ids hashing to buckets 0/1 via the same murmur3 expr)
    val bOf = pmod(hash(col("id")), lit(8))
    val (v1, n1) = CdcPipeline.deleteWhere(spark, dir, Seq("id"),
      bOf < 2 && col("v") % 20L === 0L).get
    val expect1 = fixture(4000)
      .filter(!(bOf < 2 && col("v") % 20L === 0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(dir) === expect1)
    assert(n1 === 4000L - expect1.size)
    val m1 = CdcPipeline.manifest(dir, v1).get
    assert((2 until 8).forall(b => m1.buckets(b) === Seq("v0")),
      "buckets without matches must carry by reference")
    assert(Seq(0, 1).forall(b => m1.buckets(b) === Seq(s"v$v1")))
    // stats: carried buckets keep v0 stats, rewritten ones recompute
    assert(m1.stats.keySet === (0 until 8).toSet)

    // no-match: no new version
    val (v2, n2) = CdcPipeline.deleteWhere(spark, dir, Seq("id"), col("v") < 0L).get
    assert(v2 === v1 && n2 === 0L)

    // empty a whole bucket: it must leave the manifest
    val (v3, _) = CdcPipeline.deleteWhere(spark, dir, Seq("id"), bOf === 3).get
    val m3 = CdcPipeline.manifest(dir, v3).get
    assert(!m3.buckets.contains(3), "fully-deleted bucket must drop out")
    val expect3 = fixture(4000)
      .filter(!(bOf < 2 && col("v") % 20L === 0L) && !(bOf === 3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(dir) === expect3)
  }

  test("updateWhere: matching rows take SET (cast to stored type), others bit-identical") {
    val dir = tmp()
    CdcPipeline.publish(fixture(2000), dir, Seq("id"), buckets = Some(8))
    val (v1, n1) = CdcPipeline.updateWhere(spark, dir, Seq("id"),
      col("id") % 100L === 0L, Map("v" -> (col("v") + lit(1).cast("int")))).get
    assert(n1 === 20L)
    val expect = fixture(2000).collect().map { r =>
      val (id, v) = (r.getLong(0), r.getLong(1))
      (id, if (id % 100 == 0) v + 1 else v)
    }.toSet
    assert(rows(dir) === expect)
    // int expression cast back to stored long: schema unchanged
    assert(CdcPipeline.readSnapshot(spark, dir).get.schema("v").dataType.typeName === "long")
    // only buckets containing id%100==0 rows changed: merge-on-read,
    // each gained one segment holding its updated rows
    val m1 = CdcPipeline.manifest(dir, v1).get
    val touched = fixture(2000).filter(col("id") % 100L === 0L)
      .select(pmod(hash(col("id")), lit(8))).distinct()
      .collect().map(_.getInt(0)).toSet
    (0 until 8).foreach { b =>
      if (touched(b)) assert(m1.buckets(b) === Seq("v0", s"v$v1"))
      else assert(m1.buckets(b) === Seq("v0"), s"bucket $b had no match; must carry")
    }
  }

  test("updateWhere refuses PK assignment") {
    val dir = tmp()
    CdcPipeline.publish(fixture(100), dir, Seq("id"), buckets = Some(4))
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.updateWhere(spark, dir, Seq("id"), lit(true),
        Map("id" -> (col("id") + 1L)))
    }
    assert(e.getMessage.contains("PK"))
  }
}
