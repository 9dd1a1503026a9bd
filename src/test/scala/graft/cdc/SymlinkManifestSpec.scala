package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A74: symlink-format manifest export — the external-engine escape
  * hatch (Delta `GENERATE symlink_format_manifest`). Laws: the
  * exported file list reproduces the committed snapshot EXACTLY when
  * read as plain parquet (including carried cross-version bucket
  * references after a delta publish); regeneration after OPTIMIZE
  * tracks the rewritten files; and generation REFUSES while
  * merge-on-read state (deletion vectors, unmaterialized defaults)
  * would make a raw file list lie.
  */
class SymlinkManifestSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id", "v").as[(Long, Long)].collect().toSet

  test("exported list reproduces the snapshot verbatim, across carried references and OPTIMIZE") {
    val dir = tmp()
    CdcPipeline.publish(
      spark.range(0, 200).select(col("id"), (col("id") * 3).as("v")),
      dir, Seq("id"), buckets = Some(8))
    // delta publish so some buckets carry by cross-version reference
    val m0 = CdcPipeline.manifest(dir, 0L).get
    CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m0, Set(1, 2))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("v", col("v") + 1000L)))

    val files = CdcPipeline.generateSymlinkManifest(dir).get
    val listed = StoreFs.readString(s"$dir/_symlink_format_manifest/manifest")
      .split("\n").toSeq
    assert(listed === files, "manifest file must hold exactly the returned list")
    assert(files.exists(_.contains("/v0/")) && files.exists(_.contains("/v1/")),
      "carried references must export files from BOTH versions")
    val external = spark.read.parquet(files: _*)
    assert(rows(external) === rows(CdcPipeline.readSnapshot(spark, dir).get))

    // OPTIMIZE rewrites; a stale manifest is the caller's problem but
    // regeneration must track the new layout
    CdcPipeline.optimize(spark, dir, Seq("id"), Seq("v"))
    val files2 = CdcPipeline.generateSymlinkManifest(dir).get
    assert(files2.forall(_.contains("/v2/")), "post-optimize export is all-new files")
    assert(rows(spark.read.parquet(files2: _*))
      === rows(CdcPipeline.readSnapshot(spark, dir).get))
  }

  test("maintain auto-manifest: exports after its own fold makes the state exportable; skips when it can't") {
    val dir = tmp()
    CdcPipeline.publish(
      spark.range(0, 100).select(col("id"), (col("id") * 3).as("v")),
      dir, Seq("id"), buckets = Some(4))
    CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") < 30) // 30% DV
    val pol = CdcPipeline.MaintenancePolicy(dvFoldPct = Some(10),
      smallFilesPerBucket = None, keepVersions = Some(3),
      symlinkManifest = true)
    val rep = CdcPipeline.maintain(spark, dir, Seq("id"), pol).get
    assert(rep.foldedDvVersion.isDefined, s"30% DV must fold: $rep")
    assert(rep.manifestFiles.exists(_ > 0),
      s"the pass folded the DV, so the manifest must export: $rep")
    val files = StoreFs.readString(s"$dir/_symlink_format_manifest/manifest")
      .split("\n").toSeq
    assert(files.length === rep.manifestFiles.get)
    assert(rows(spark.read.parquet(files: _*))
      === rows(CdcPipeline.readSnapshot(spark, dir).get))
    // not exportable (unmaterialized default): skipped, old manifest intact
    CdcPipeline.addColumnWithDefault(spark, dir,
      "flag", org.apache.spark.sql.types.LongType, 9L)
    val rep2 = CdcPipeline.maintain(spark, dir, Seq("id"), pol).get
    assert(rep2.manifestFiles.isEmpty, s"unexportable state must skip: $rep2")
    assert(StoreFs.readString(s"$dir/_symlink_format_manifest/manifest")
      .split("\n").toSeq === files, "previous manifest left in place")
    // policy off: no export even when exportable
    val dir2 = tmp()
    CdcPipeline.publish(spark.range(0, 10).select(col("id"), col("id").as("v")),
      dir2, Seq("id"), buckets = Some(2))
    CdcPipeline.maintain(spark, dir2, Seq("id"))
    assert(!StoreFs.exists(s"$dir2/_symlink_format_manifest/manifest"))
  }

  test("refuses while a DV or an unmaterialized default is outstanding; fold/optimize re-opens") {
    val dir = tmp()
    CdcPipeline.publish(
      spark.range(0, 100).select(col("id"), (col("id") * 3).as("v")),
      dir, Seq("id"), buckets = Some(4))
    CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") < 5)
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.generateSymlinkManifest(dir)
    }
    assert(e.getMessage.contains("deletion vector"))
    CdcPipeline.foldDv(spark, dir, Seq("id"))
    val files = CdcPipeline.generateSymlinkManifest(dir).get
    assert(spark.read.parquet(files: _*).count() === 95L)

    CdcPipeline.addColumnWithDefault(spark, dir,
      "flag", org.apache.spark.sql.types.LongType, 7L)
    assert(intercept[IllegalArgumentException] {
      CdcPipeline.generateSymlinkManifest(dir)
    }.getMessage.contains("defaults"))
    // a full rewrite materializes the fill into the files and drops
    // the now-spent coldefault meta (A57) — export is honest again
    CdcPipeline.optimize(spark, dir, Seq("id"), Seq("id"))
    val files2 = CdcPipeline.generateSymlinkManifest(dir).get
    assert(spark.read.parquet(files2: _*).filter(col("flag") === 7L).count() === 95L)
  }
}
