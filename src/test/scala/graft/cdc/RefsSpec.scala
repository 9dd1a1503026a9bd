package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A78: named refs — tags, branches, write-audit-publish. Tags are
  * GC-pinned names for versions; branches are writable forks whose
  * fast-forward publish is refused the moment the upstream moves
  * (the WAP discipline). The driver gate (`cdc_branch_wap`) pins the
  * end-to-end arithmetic against DuckDB; these laws pin refusal
  * semantics, GC integration, and the pin/copy direction.
  */
class RefsSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def fixture(n: Int, numBuckets: Int) =
    spark.range(0, n).select(col("id"),
      (pmod(hash(col("id")), lit(numBuckets)) * 1000L + pmod(col("id"), lit(1000L)))
        .as("v"))

  private def rows(dir: String): Set[Seq[Any]] =
    CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "v").collect().map(_.toSeq).toSet

  test("tags: name a version, read by name, survive vacuum READABLE, drop releases") {
    val src = tmp()
    CdcPipeline.publish(fixture(2000, 4), src, Seq("id"), buckets = Some(4)) // v0
    assert(CdcPipeline.createTag(src, "baseline") === Some(0L))
    val taggedRows = rows(src)
    // advance the store far past the vacuum window, rewriting EVERY
    // bucket along the way so no kept manifest carries v0 — the only
    // thing keeping v0 alive is the tag
    val rewrites = Seq(Set(0, 1), Set(2, 3), Set(1), Set(1))
    rewrites.zipWithIndex.foreach { case (bs, i) =>
      val m = CdcPipeline.manifest(src, CdcPipeline.currentVersion(src).get).get
      CdcPipeline.rewriteBuckets(spark, src, Seq("id"), m, bs)(s =>
        CdcPipeline.KeyedDelta.Content(s.withColumn("v", col("v") + (i + 1) * 100000L)))
    }
    assert(CdcPipeline.currentVersion(src) === Some(4L))
    // vacuum keeps only the last 2 versions — plus the tagged v0 and
    // everything its manifest references
    val reclaimed = CdcPipeline.vacuum(src, keepVersions = 2)
    assert(!reclaimed.contains(0L), "tagged version must survive vacuum")
    val byTag = CdcPipeline.readSnapshotAtTag(spark, src, "baseline").get
    assert(byTag.select("id", "v").collect().map(_.toSeq).toSet === taggedRows,
      "tagged version must stay fully READABLE after vacuum")
    assert(CdcPipeline.tagVersion(src, "baseline") === Some(0L))
    assert(CdcPipeline.listRefs(src) === Seq(("tag", "baseline", "v0")))
    // duplicate tag names refuse loudly
    intercept[IllegalArgumentException] { CdcPipeline.createTag(src, "baseline") }
    // unknown version refuses quietly
    assert(CdcPipeline.createTag(src, "nope", Some(99L)) === None)
    // drop, then the next vacuum reclaims v0
    assert(CdcPipeline.dropTag(src, "baseline"))
    assert(CdcPipeline.vacuum(src, keepVersions = 2).contains(0L))
    assert(CdcPipeline.readSnapshotAtTag(spark, src, "baseline") === None)
  }

  test("branch WAP: isolated writes, audit on the branch, fast-forward publish") {
    val src = tmp(); val br = tmp() + "/branch"
    CdcPipeline.publish(fixture(4000, 8), src, Seq("id"), buckets = Some(8)) // v0
    val before = rows(src)
    assert(CdcPipeline.createBranch(src, br, "wap") === Some(0L))
    assert(CdcPipeline.branchUpstream(br) === Some((src, 0L)))
    assert(CdcPipeline.listRefs(src) === Seq(("branch", "wap", br)))

    // WRITE: rewrite bucket 3 on the branch only
    val m0 = CdcPipeline.manifest(br, 0).get
    CdcPipeline.rewriteBuckets(spark, br, Seq("id"), m0, Set(3))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("v", col("v") + 900000L)))
    assert(rows(src) === before, "branch writes must not leak upstream")

    // AUDIT: the branch is a full store — fsck is clean
    val bad = CdcPipeline.fsck(spark, br).filter(col("severity") === "error")
    assert(bad.isEmpty, "branch must audit clean before publish")

    // PUBLISH: fast-forward lands exactly the branch state upstream
    val v1 = CdcPipeline.publishBranch(br)
    assert(v1 === Some(1L))
    assert(rows(src) === rows(br))
    // the published upstream version must NOT read through the branch
    // dir: untouched buckets are upstream-local refs, rewritten ones
    // are copies — pin direction stays branch→source
    val files = CdcPipeline.readSnapshot(spark, src).get.inputFiles
    assert(files.forall(f => !f.contains(br)),
      "upstream must never depend on the branch directory")
    val hist = CdcPipeline.describeHistory(spark, src).get
      .filter(col("version") === 1).select("op").collect()
    assert(hist.map(_.getString(0)).toSeq === Seq("branch-publish"))
    // branch can be dropped after publish without hurting upstream
    assert(CdcPipeline.dropBranch(src, "wap"))
    StoreFs.deleteRecursive(br)
    assert(CdcPipeline.readSnapshot(spark, src).get.count() === 4000L,
      "upstream reads must survive branch deletion")
  }

  test("createLike: schema-only clone — shape and declarations carry, data does not") {
    val src = tmp(); val dst = tmp() + "/like"
    CdcPipeline.publish(fixture(1000, 8), src, Seq("id"), buckets = Some(8))
    CdcPipeline.addCheckConstraint(spark, src, "nonneg", "v >= 0")
    CdcPipeline.addGeneratedColumn(src, "v2",
      org.apache.spark.sql.types.LongType, "v * 2")
    CdcPipeline.setTableProperties(src, Map("graft.maintain.keepVersions" -> "5"))
    assert(CdcPipeline.createLike(src, dst) === Some(0L))
    // empty but fully SHAPED: schema + virtual column, zero rows
    val snap = CdcPipeline.readSnapshot(spark, dst).get
    assert(snap.count() === 0L)
    assert(snap.columns.toSeq === Seq("id", "v", "v2"))
    assert(CdcPipeline.checkConstraints(dst).contains("nonneg"))
    assert(CdcPipeline.tableProperties(dst)
      .get("graft.maintain.keepVersions") === Some("5"))
    // the carried constraint gates the FIRST write into the new table
    // (enforceConstraints is what every gated write path calls)
    val m0 = CdcPipeline.manifest(dst, 0).get
    intercept[CdcPipeline.ConstraintViolationException] {
      CdcPipeline.enforceConstraints(m0,
        spark.range(0, 4).select(col("id"), lit(-1L).as("v")), dst)
    }
    // clean writes land; source unaffected throughout
    CdcPipeline.rewriteBuckets(spark, dst, Seq("id"), CdcPipeline.manifest(dst, 0).get,
      Set(0, 1, 2, 3, 4, 5, 6, 7))(
      _ => CdcPipeline.KeyedDelta.Content(spark.range(0, 4).select(col("id"), (col("id") * 10L).as("v"))))
    assert(CdcPipeline.readSnapshot(spark, dst).get.count() === 4L)
    assert(CdcPipeline.readSnapshot(spark, src).get.count() === 1000L)
    // refuses to clobber
    intercept[IllegalArgumentException] { CdcPipeline.createLike(src, dst) }
    StoreFs.deleteRecursive(src); StoreFs.deleteRecursive(dst)
  }

  test("branch WAP: upstream motion after the fork refuses the fast-forward") {
    val src = tmp(); val br = tmp() + "/branch"
    CdcPipeline.publish(fixture(2000, 4), src, Seq("id"), buckets = Some(4)) // v0
    assert(CdcPipeline.createBranch(src, br, "stale") === Some(0L))
    // a concurrent upstream commit lands after the fork
    val m = CdcPipeline.manifest(src, 0).get
    CdcPipeline.rewriteBuckets(spark, src, Seq("id"), m, Set(0))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("v", col("v") + 111L)))
    intercept[CdcPipeline.ConcurrentWriteException] {
      CdcPipeline.publishBranch(br)
    }
    assert(CdcPipeline.currentVersion(src) === Some(1L),
      "refused publish must not move the upstream pointer")
    // duplicate branch names refuse
    intercept[IllegalArgumentException] {
      CdcPipeline.createBranch(src, tmp() + "/b2", "stale")
    }
    assert(CdcPipeline.dropBranch(src, "stale"))
    assert(!CdcPipeline.dropBranch(src, "stale"), "second drop reports false")
  }
}
