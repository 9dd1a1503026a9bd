package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A37: zero-copy snapshot clone — a shallow clone is one manifest
  * write whose buckets reference the source by absolute path, pinned
  * against source vacuum until dropped; a deep clone is
  * self-contained. Clones diverge independently via delta publishes.
  */
class CloneSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def fixture(n: Int, numBuckets: Int) =
    spark.range(0, n).select(col("id"),
      (pmod(hash(col("id")), lit(numBuckets)) * 1000L + pmod(col("id"), lit(1000L)))
        .as("v"))

  private def rows(dir: String): Set[Seq[Any]] =
    CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "v").collect().map(_.toSeq).toSet

  test("shallow clone: zero data bytes, reads the source's files, then diverges") {
    val src = tmp(); val dst = tmp() + "/clone"
    CdcPipeline.publish(fixture(4000, 8), src, Seq("id"), buckets = Some(8),
      statsCols = Seq("v"))
    assert(CdcPipeline.cloneSnapshot(src, dst) === Some(0L))

    // the clone's v0 holds ONLY the manifest — no data files copied
    assert(StoreFs.listDirNames(s"$dst/v0").isEmpty)
    val cloneSnap = CdcPipeline.readSnapshot(spark, dst).get
    assert(cloneSnap.inputFiles.forall(_.contains(src)),
      "every clone read must resolve into the source's version dirs")
    assert(rows(dst) === rows(src))
    // carried stats prune on the clone exactly as on the source
    val pruned = CdcPipeline.readRange(spark, dst, "v", Some(3000L), Some(3999L)).get
    assert(pruned.inputFiles.nonEmpty && pruned.inputFiles.forall(_.contains("=3")))

    // divergence: rewrite bucket 2 on the CLONE only
    val m0 = CdcPipeline.manifest(dst, 0).get
    CdcPipeline.rewriteBuckets(spark, dst, Seq("id"), m0, Set(2))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("v", col("v") + 500000L)))
    val afterSrc = rows(src)
    val afterDst = rows(dst)
    assert(afterSrc !== afterDst, "clone writes must not leak into the source")
    // bucket 2's rows are exactly those with v in [2000, 3000) by
    // construction of the fixture
    assert(afterDst === afterSrc.map { r =>
      val v = r(1).asInstanceOf[Long]
      if (v >= 2000L && v < 3000L) Seq(r.head, v + 500000L) else r
    }, "the clone differs exactly by its own rewrite")
    // the diverged snapshot mixes clone-local and source files
    val mixed = CdcPipeline.readSnapshot(spark, dst).get.inputFiles
    assert(mixed.exists(_.contains(s"$dst/v1")) && mixed.exists(_.contains(src)))
  }

  test("source vacuum honors the clone pin; dropClonePin releases it") {
    val src = tmp(); val dst = tmp() + "/clone"
    // numBuckets = 1: every publish rewrites the whole store, so old
    // versions lose all manifest references and become vacuumable
    CdcPipeline.publish(fixture(500, 1), src, Seq("id"), buckets = Some(1))
    assert(CdcPipeline.cloneSnapshot(src, dst) === Some(0L))
    val expected = rows(dst)

    // source moves on twice; v0 is now outside keep=1 and unreferenced
    // by any source manifest — only the clone pin keeps it alive
    CdcPipeline.publish(fixture(500, 1).withColumn("v", col("v") + 1L),
      src, Seq("id"))
    CdcPipeline.publish(fixture(500, 1).withColumn("v", col("v") + 2L),
      src, Seq("id"))
    val reclaimed = CdcPipeline.vacuum(src, keepVersions = 1)
    assert(!reclaimed.contains(0L), "pinned version must survive vacuum")
    assert(rows(dst) === expected, "clone reads are intact after source vacuum")

    assert(CdcPipeline.dropClonePin(src, dst))
    val reclaimed2 = CdcPipeline.vacuum(src, keepVersions = 1)
    assert(reclaimed2.contains(0L), "dropped pin frees the version for GC")
  }

  test("a clone of a clone pins the ORIGINAL store itself; parent pin drop is safe") {
    val src = tmp(); val mid = tmp() + "/mid"; val grand = tmp() + "/grand"
    CdcPipeline.publish(fixture(500, 1), src, Seq("id"), buckets = Some(1))
    assert(CdcPipeline.cloneSnapshot(src, mid) === Some(0L))
    // the grand-clone inherits mid's absolute refs into src, so its
    // pin must land at SRC under its own token (ADVICE r7)
    assert(CdcPipeline.cloneSnapshot(mid, grand) === Some(0L))
    val expected = rows(grand)

    // drop the INTERMEDIATE clone's pin and push src forward: the
    // grand-clone's own pin must keep v0 alive through vacuum
    assert(CdcPipeline.dropClonePin(src, mid))
    CdcPipeline.publish(fixture(500, 1).withColumn("v", col("v") + 1L),
      src, Seq("id"))
    val reclaimed = CdcPipeline.vacuum(src, keepVersions = 1)
    assert(!reclaimed.contains(0L),
      "grand-clone's own pin must survive the parent's pin drop")
    assert(rows(grand) === expected, "grand-clone reads intact")

    // dropping the grand-clone's pin at the ORIGINAL frees v0
    assert(CdcPipeline.dropClonePin(src, grand))
    val reclaimed2 = CdcPipeline.vacuum(src, keepVersions = 1)
    assert(reclaimed2.contains(0L))
  }

  test("deep clone is self-contained and survives source deletion") {
    val src = tmp(); val dst = tmp() + "/deep"
    CdcPipeline.publish(fixture(2000, 4), src, Seq("id"), buckets = Some(4),
      statsCols = Seq("v"))
    val expected = rows(src)
    assert(CdcPipeline.cloneSnapshot(src, dst, deep = true) === Some(0L))
    assert(CdcPipeline.readSnapshot(spark, dst).get.inputFiles.forall(_.contains(dst)),
      "deep clone must not reference the source")
    StoreFs.deleteRecursive(src)
    assert(rows(dst) === expected)
    // stats carried: pruning still works without the source
    val pruned = CdcPipeline.readRange(spark, dst, "v", Some(1000L), Some(1999L)).get
    assert(pruned.inputFiles.forall(_.contains("=1")))
  }

  test("clone refuses an existing store and a manifest-less source") {
    val src = tmp(); val dst = tmp()
    CdcPipeline.publish(fixture(100, 1), src, Seq("id"), buckets = Some(1))
    CdcPipeline.cloneSnapshot(src, s"$dst/c1")
    intercept[IllegalArgumentException] {
      CdcPipeline.cloneSnapshot(src, s"$dst/c1")
    }
    assert(CdcPipeline.cloneSnapshot(tmp(), s"$dst/c2") === None)
  }

  test("footer walkers read a shallow clone and a clone of a clone like their source") {
    val src = tmp(); val c1 = tmp() + "/clone"; val c2 = tmp() + "/clone2"
    CdcPipeline.publish(fixture(4000, 8), src, Seq("id"), buckets = Some(8))
    // several files per bucket, so the small-file trigger has work
    CdcPipeline.optimize(spark, src, Seq("id"), Seq("v"), maxRecordsPerFile = 120)
    assert(CdcPipeline.cloneSnapshot(src, c1) === Some(0L))
    assert(CdcPipeline.cloneSnapshot(c1, c2) === Some(0L))
    val stores = Seq(src, c1, c2)
    def same[T](what: String)(f: String => T): Unit = {
      val got = stores.map(f)
      assert(got.distinct.size === 1, s"$what differs across source, clone, clone of clone: $got")
    }
    def detail(dir: String) = CdcPipeline.describeDetail(spark, dir).get
      .select("num_files", "bytes", "footer_rows", "live_rows").head().toSeq
    def files(dir: String) = CdcPipeline.describeFiles(spark, dir).get
      .select("bucket", "file", "rows", "bytes").collect().map(_.toSeq).toSeq
    def history(dir: String) = CdcPipeline.describeHistory(spark, dir).get
      .orderBy(col("version").desc).select("rows", "bytes").head().toSeq

    same("fastCount")(CdcPipeline.fastCount)
    same("footerTotals")(CdcPipeline.footerTotals)
    same("describeDetail")(detail)
    same("describeFiles")(files)
    same("describeHistory")(history)
    same("generateSymlinkManifest")(CdcPipeline.generateSymlinkManifest)
    assert(detail(c2).head.asInstanceOf[Long] > 8L, "fixture must have several files per bucket")
    assert(CdcPipeline.fastCount(c2) === Some(4000L))

    // the same merge-on-read delete on each store: each has its own
    // vector over the same (source-owned) files
    stores.foreach(d => CdcPipeline.deleteWhereMoR(spark, d, Seq("id"), col("id") % 7 === 0))
    same("dvStats")(CdcPipeline.dvStats)
    same("fastCount after MoR")(CdcPipeline.fastCount)
    same("footerTotals after MoR")(CdcPipeline.footerTotals)
    same("describeDetail after MoR")(detail)
    assert(CdcPipeline.dvStats(c2).exists(_._1 > 0L))

    val triggered = stores.map(d => CdcPipeline.maintain(spark, d, Seq("id"),
      CdcPipeline.MaintenancePolicy(dvFoldPct = None, smallFilesPerBucket = Some(4),
        keepVersions = None, bloomRebuildPct = None, ndvRebuildPct = None)).get.optimizedBuckets)
    assert(triggered.distinct.size === 1 && triggered.head.nonEmpty,
      s"maintain's small-file trigger differs or is empty: $triggered")
  }
}
