package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A80: per-file metadata listing (`describeFiles` / `graft_files` —
  * Iceberg's `table$files`). Laws: footer rows total to the exact
  * table count, fragmentation shows up per file and OPTIMIZE folds
  * it, carried buckets keep their OLD version ref (carry-age is
  * readable), and a deletion vector makes the listing refuse rather
  * than overcount.
  */
class DescribeFilesSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import graft.cdc.{CdcPipeline => P}

  private def tmp(): String = Files.createTempDirectory("graft-files").toString

  test("files: totals, fragmentation + optimize, carried refs, DV refusal") {
    val dir = tmp()
    P.publish(spark.range(0, 4000).select(col("id"), (col("id") % 9L).as("v")),
      dir, Seq("id"), buckets = Some(4)) // v0
    val f0 = P.describeFiles(spark, dir).get.cache()
    assert(f0.agg(sum("rows")).head().getLong(0) === 4000L)
    assert(f0.select("bucket").distinct().count() === 4L)
    assert(f0.collect().forall(_.getString(2).endsWith(".parquet")))

    // a delta on bucket 2 fragments it; the other buckets carry v0 refs
    val m0 = P.manifest(dir, 0).get
    P.rewriteBuckets(spark, dir, Seq("id"), m0, Set(2))( // v1
      s => P.KeyedDelta.Content(s.withColumn("v", col("v") + 100L)))
    val f1 = P.describeFiles(spark, dir).get.cache()
    assert(f1.agg(sum("rows")).head().getLong(0) === 4000L,
      "carried + rewritten files still total the table")
    val refs = f1.select("bucket", "version_ref").distinct().collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(refs(2) === "v1" && Seq(0, 1, 3).forall(refs(_) === "v0"),
      "carried buckets keep their old version ref (carry-age readable)")

    // MoR delete → footer rows would overcount → refuse
    P.deleteWhereMoR(spark, dir, Seq("id"), col("id") < 10)
    intercept[IllegalArgumentException] { P.describeFiles(spark, dir) }
    // fold clears the vector; the listing works again and is exact
    P.foldDv(spark, dir, Seq("id"))
    assert(P.describeFiles(spark, dir).get.agg(sum("rows")).head().getLong(0)
      === 3990L)
    f0.unpersist(); f1.unpersist()
    // SQL surface
    graft.GraftExtensions.register(spark)
    assert(spark.sql(s"SELECT sum(rows) FROM graft_files('$dir')")
      .head().getLong(0) === 3990L)
    StoreFs.deleteRecursive(dir)
  }
}
