package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A53: merge-on-read deletion vectors — a predicate delete that
  * writes row POSITIONS instead of rewriting buckets. Laws covered:
  *
  *  - visibility: every reader path (snapshot, keys, range, time
  *    travel, diff, clone) sees DV'd rows as gone;
  *  - equivalence: MoR delete ≡ copy-on-write [[CdcPipeline.deleteWhere]]
  *    for the same predicate;
  *  - zero rewrite: the MoR commit carries every bucket by reference
  *    and its version dir holds only the vector;
  *  - accumulation: successive MoR deletes compose;
  *  - folding: a delta publish folds entries of rewritten buckets and
  *    carries the rest; a full OPTIMIZE clears the vector entirely;
  *  - restore: rolling back across a MoR delete resurrects the rows,
  *    and the DV-aware diff reports the resurrection;
  *  - fsck: a missing advertised vector is an error.
  */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private val B = 8
  private def fixture(n: Int) =
    spark.range(0, n).select(col("id"), (col("id") % 97).as("grp"),
      concat(lit("row-"), col("id")).as("payload"))

  private def rows(dir: String): Set[Seq[Any]] =
    CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "grp", "payload").collect().map(_.toSeq).toSet

  test("MoR delete equals copy-on-write delete; zero buckets rewritten") {
    val mor = tmp(); val cow = tmp()
    Seq(mor, cow).foreach(d =>
      CdcPipeline.publish(fixture(4000), d, Seq("id"), buckets = Some(B)))
    val pred = col("grp") === 13 || col("id") < 50

    val (vCow, nCow) = CdcPipeline.deleteWhere(spark, cow, Seq("id"), pred).get
    val (vMor, nMor) = CdcPipeline.deleteWhereMoR(spark, mor, Seq("id"), pred).get
    assert(nMor === nCow && nMor > 0)
    assert(rows(mor) === rows(cow))

    // the MoR version rewrote NOTHING: all bucket refs still point at
    // v0 and its version dir holds only the vector
    val m1 = CdcPipeline.manifest(mor, vMor).get
    assert(m1.buckets.values.toSet === Set(Seq("v0")))
    assert(StoreFs.listDirNames(s"$mor/v$vMor") === Seq("_dv"))
    // while the CoW version rewrote the touched buckets
    assert(CdcPipeline.manifest(cow, vCow).get.buckets.values.exists(_ == Seq(s"v$vCow")))

    // reader paths: keys and ranges see through the vector
    val gone = CdcPipeline.readKeys(spark, mor, Seq("id"),
      Seq(13L + 97L, 3L).toDF("id")).get.collect()
    assert(gone.map(_.getLong(0)).toSet === Set.empty,
      s"deleted keys must not resurface: ${gone.mkString(",")}")
    val kept = CdcPipeline.readKeys(spark, mor, Seq("id"), Seq(60L).toDF("id")).get
    assert(kept.count() === 1)
  }

  test("successive MoR deletes accumulate; time travel and diff see each step") {
    val dir = tmp()
    CdcPipeline.publish(fixture(2000), dir, Seq("id"), buckets = Some(B))
    val (v1, n1) = CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") < 100).get
    val (v2, n2) = CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"),
      col("id") >= 1900).get
    assert(n1 === 100 && n2 === 100)
    assert(CdcPipeline.readSnapshot(spark, dir).get.count() === 1800)
    // time travel: each version shows exactly its era
    assert(CdcPipeline.readSnapshotAt(spark, dir, 0).get.count() === 2000)
    assert(CdcPipeline.readSnapshotAt(spark, dir, v1).get.count() === 1900)
    // the DV-aware diff reports the second delete's rows as 'd' even
    // though no bucket reference changed between v1 and v2
    val d = CdcPipeline.snapshotDiff(spark, dir, v1, v2, Seq("id")).get.collect()
    assert(d.length === 100 && d.forall(_.getAs[String]("__op") == "d"))
    assert(d.map(_.getAs[Long]("id")).toSet === (1900L until 2000L).toSet)
    // a no-match predicate publishes nothing
    val (vSame, n0) = CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"),
      col("id") === -1).get
    assert(vSame === v2 && n0 === 0)
  }

  test("delta publish folds rewritten buckets' entries and carries the rest") {
    val dir = tmp()
    CdcPipeline.publish(fixture(4000), dir, Seq("id"), buckets = Some(B))
    CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") % 500 === 0).get
    val before = rows(dir)
    // rewrite ONLY bucket 3 (same-content rewrite): its DV entries
    // must fold into the new files, every other bucket's must carry
    val m = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    val v = CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m, Set(3))(CdcPipeline.KeyedDelta.Content(_)).version
    assert(rows(dir) === before, "a same-content bucket rewrite must not change rows")
    val m2 = CdcPipeline.manifest(dir, v).get
    assert(m2.dvs.nonEmpty && !m2.dvs.contains(3), "entries for carried buckets must survive")
    // folding everything retires the vector: OPTIMIZE over all buckets
    val vOpt = CdcPipeline.optimize(spark, dir, Seq("id"), Seq("grp")).get
    assert(CdcPipeline.manifest(dir, vOpt).get.dvs.isEmpty,
      "a full rewrite must clear the vector")
    assert(rows(dir) === before)
    assert(CdcPipeline.fsck(spark, dir).filter(col("severity") === "error").count() === 0)
  }

  test("restore across a MoR delete resurrects rows; clone carries the vector") {
    val dir = tmp()
    CdcPipeline.publish(fixture(1000), dir, Seq("id"), buckets = Some(B))
    val (v1, _) = CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") < 200).get
    // clone of the DV-bearing version is self-contained and correct
    val dst = tmp() + "/clone"
    assert(CdcPipeline.cloneSnapshot(dir, dst) === Some(0L))
    assert(rows(dst) === rows(dir))
    // the clone carries the source's vectors by reference (pinned)
    val cm = CdcPipeline.manifest(dst, 0).get
    assert(cm.dvs.nonEmpty && cm.dvs.values.forall(_ == Seq(s"$dir/v$v1")))
    // restore to the pre-delete version: rows come back, diff says 'i'
    val vR = CdcPipeline.restoreSnapshot(dir, 0).get
    assert(CdcPipeline.readSnapshot(spark, dir).get.count() === 1000)
    val d = CdcPipeline.snapshotDiff(spark, dir, v1, vR, Seq("id")).get.collect()
    assert(d.length === 200 && d.forall(_.getAs[String]("__op") == "i"))
    // restore back to the deleted state: the DV follows the restore
    val vR2 = CdcPipeline.restoreSnapshot(dir, v1).get
    assert(CdcPipeline.readSnapshot(spark, dir).get.count() === 800)
    assert(CdcPipeline.manifest(dir, vR2).get.dvs === CdcPipeline.manifest(dir, v1).get.dvs,
      "a restore carries the restored version's vectors by reference")
  }

  test("A56: dvStats from footers; auto-fold fires at the threshold, not below") {
    val dir = tmp()
    CdcPipeline.publish(fixture(2000), dir, Seq("id"), buckets = Some(B))
    // 5% delete under a 10% policy: vector stays
    val (v1, _) = CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"),
      col("id") < 100, autoFoldPct = Some(10)).get
    assert(CdcPipeline.manifest(dir, v1).get.dvs.nonEmpty,
      "under-threshold delete must keep the vector")
    val (dvRows, tableRows) = CdcPipeline.dvStats(dir).get
    assert(dvRows === 100L && tableRows === 2000L)
    // +10% more crosses the 10% policy: the returned version is the
    // FOLD (optimize) version, the vector is gone, content correct
    val (v2, n2) = CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"),
      col("id") >= 1800, autoFoldPct = Some(10)).get
    assert(n2 === 200)
    val m2 = CdcPipeline.manifest(dir, v2).get
    assert(m2.dvs.isEmpty, "crossing the threshold must fold the vector")
    assert(m2.meta("op") === "optimize")
    assert(CdcPipeline.dvStats(dir).isEmpty)
    assert(CdcPipeline.readSnapshot(spark, dir).get.count() === 1700)
    // explicit foldDv with no vector is a no-op None
    assert(CdcPipeline.foldDv(spark, dir, Seq("id")).isEmpty)
  }

  test("A56: foldDv rewrites ONLY the vector's buckets") {
    val dir = tmp()
    CdcPipeline.publish(fixture(4000), dir, Seq("id"), buckets = Some(B))
    // delete rows of exactly two ids → at most two buckets in the DV
    CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"),
      col("id") === 7L || col("id") === 8L).get
    val before = rows(dir)
    val v = CdcPipeline.foldDv(spark, dir, Seq("id")).get
    val m = CdcPipeline.manifest(dir, v).get
    val rewritten = CdcPipeline.bucketsWrittenAt(m, s"v$v").size
    assert(rewritten <= 2, s"fold must touch only the DV's buckets, rewrote $rewritten")
    assert(m.dvs.isEmpty)
    assert(rows(dir) === before)
  }

  test("metadata-only column drop preserves the vector; fsck flags a torn one") {
    val dir = tmp()
    CdcPipeline.publish(fixture(1000), dir, Seq("id"), buckets = Some(B))
    val (v1, _) = CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") < 300).get
    val v = CdcPipeline.dropColumns(spark, dir, Seq("id"), Seq("payload")).get
    assert(CdcPipeline.readSnapshot(spark, dir).get.count() === 700)
    val dvs = CdcPipeline.manifest(dir, v).get.dvs
    assert(dvs.nonEmpty && dvs.values.forall(_ == Seq(s"v$v1")), "a metadata commit carries the vectors")
    // tear the advertised vectors out: fsck must report them
    StoreFs.deleteRecursive(s"$dir/v$v1/_dv")
    val errs = CdcPipeline.fsck(spark, dir)
      .filter(col("check") === "dangling_dv").collect()
    assert(errs.nonEmpty && errs.forall(_.getAs[String]("severity") == "error"))
  }

  test("fastCount serves exact counts from footers across publish, MoR, CoW, and fold") {
    val dir = tmp()
    def scanCount() = CdcPipeline.readSnapshot(spark, dir).get.count()
    CdcPipeline.publish(fixture(5000), dir, Seq("id"), buckets = Some(B))
    assert(CdcPipeline.fastCount(dir) === Some(5000L))
    // MoR delete: footers still hold the rows, the DV subtracts them
    CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") % 5 === 0)
    assert(CdcPipeline.fastCount(dir) === Some(scanCount()))
    assert(CdcPipeline.fastCount(dir) === Some(4000L))
    // accumulate a second vector
    CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") < 50)
    assert(CdcPipeline.fastCount(dir) === Some(scanCount()))
    // copy-on-write delete: rewritten buckets change the footer totals
    CdcPipeline.deleteWhere(spark, dir, Seq("id"), col("id") >= 4900)
    assert(CdcPipeline.fastCount(dir) === Some(scanCount()))
    // fold retires the vector; counts unchanged
    val st = CdcPipeline.dvStats(dir)
    if (st.isDefined) CdcPipeline.foldDv(spark, dir, Seq("id"))
    assert(CdcPipeline.fastCount(dir) === Some(scanCount()))
    // no store → None, not 0
    assert(CdcPipeline.fastCount(tmp()) === None)
  }
}
