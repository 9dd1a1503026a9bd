package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A58: the GDPR erasure queue. Laws:
  *
  *  - requests enqueued after wiring erase exactly their subjects'
  *    rows, as a zero-rewrite MoR commit;
  *  - already-applied batches do not re-apply (cursor);
  *  - a crash between delete and cursor commit (simulated by
  *    deleting the cursor) re-delivers — and the retry is a no-op
  *    on the target (idempotent effect, no extra version);
  *  - later requests erase only their own subjects.
  */
class ErasureSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft").toString

  /** Every bucket id of `m`'s layout: an append may land in a bucket
    * the queue has no rows in yet, and a keyed write names every
    * bucket it writes.
    */
  private def allBuckets(m: CdcPipeline.Manifest): Set[Int] = (0 until m.numBuckets).toSet

  test("exactly-once effect across batches, cursor loss, and retries") {
    val target = tmp(); val queue = tmp()
    // target: 300 rows over 30 users, PK = row id, subject = user
    CdcPipeline.publish(
      spark.range(0, 300).select(col("id"), (col("id") % 30).as("user_id")),
      target, Seq("id"), buckets = Some(8))
    // queue store exists (empty-ish) BEFORE wiring: baseline call
    CdcPipeline.publish(
      Seq((0L, -1L)).toDF("req_id", "user_id"), queue, Seq("req_id"),
      buckets = Some(2))
    assert(Erasure.apply(spark, queue, Seq("req_id"), "user_id",
      target, Seq("id"), "user_id") === None, "first call only baselines")

    // batch 1: erase users 3 and 7
    val m = CdcPipeline.manifest(queue, CdcPipeline.currentVersion(queue).get).get
    CdcPipeline.rewriteBuckets(spark, queue, Seq("req_id"), m, allBuckets(m))(s =>
      CdcPipeline.KeyedDelta.Content(s.unionByName(Seq((1L, 3L), (2L, 7L)).toDF("req_id", "user_id"))))
    val Some((nReq, nRows)) = Erasure.apply(spark, queue, Seq("req_id"), "user_id",
      target, Seq("id"), "user_id")
    assert(nReq === 2 && nRows === 20)
    val left = CdcPipeline.readSnapshot(spark, target).get
    assert(left.count() === 280)
    assert(left.filter(col("user_id").isin(3L, 7L)).count() === 0)
    // the erase was merge-on-read: target's latest version carries all buckets
    val tm = CdcPipeline.manifest(target, CdcPipeline.currentVersion(target).get).get
    assert(tm.dvs.nonEmpty && tm.meta("op") === "delete_mor")

    // nothing new: no re-application
    assert(Erasure.apply(spark, queue, Seq("req_id"), "user_id",
      target, Seq("id"), "user_id") === None)

    // crash simulation: cursor lost AFTER the delete committed —
    // re-delivery retries the whole feed from baseline… which the
    // consumeSnapshotDiff contract turns into a re-BASELINE (first
    // call commits current, delivers nothing): no rows change
    val vBefore = CdcPipeline.currentVersion(target).get
    StoreFs.listFilePaths(s"$queue/_cursors", "").foreach(StoreFs.deleteFile)
    assert(Erasure.apply(spark, queue, Seq("req_id"), "user_id",
      target, Seq("id"), "user_id") === None)
    assert(CdcPipeline.currentVersion(target).get === vBefore)

    // batch 2 erases only its own subject
    val vQueueBefore = CdcPipeline.currentVersion(queue).get
    val m2 = CdcPipeline.manifest(queue, vQueueBefore).get
    CdcPipeline.rewriteBuckets(spark, queue, Seq("req_id"), m2, allBuckets(m2))(s =>
      CdcPipeline.KeyedDelta.Content(s.unionByName(Seq((3L, 11L)).toDF("req_id", "user_id"))))
    val Some((r2, n2)) = Erasure.apply(spark, queue, Seq("req_id"), "user_id",
      target, Seq("id"), "user_id")
    assert(r2 === 1 && n2 === 10)
    assert(CdcPipeline.readSnapshot(spark, target).get.count() === 270)

    // TRUE crash window: the delete committed but the cursor did not —
    // rewind the cursor to the pre-batch-2 version; the batch
    // RE-DELIVERS, the re-delete matches nothing, the target version
    // does not advance (deleteWhereMoR's no-match short-circuit):
    // exactly-once EFFECT under at-least-once delivery
    val cursor = StoreFs.listFilePaths(s"$queue/_cursors", "").head
    StoreFs.writeString(cursor, vQueueBefore.toString)
    val vTarget = CdcPipeline.currentVersion(target).get
    val Some((r3, n3)) = Erasure.apply(spark, queue, Seq("req_id"), "user_id",
      target, Seq("id"), "user_id")
    assert(r3 === 1 && n3 === 0, "re-delivered batch must erase nothing new")
    assert(CdcPipeline.currentVersion(target).get === vTarget,
      "an all-noop retry must not publish a version")
    assert(CdcPipeline.readSnapshot(spark, target).get.count() === 270)
  }

  test("10k-subject batch: one semi-join delete, MoR commit, no bucket rewrite") {
    val target = tmp(); val queue = tmp()
    // 40k rows over 20k users; PK = row id, 8 buckets
    CdcPipeline.publish(
      spark.range(0, 40000).select(col("id"), (col("id") % 20000).as("user_id")),
      target, Seq("id"), buckets = Some(8))
    CdcPipeline.publish(
      Seq((0L, -1L)).toDF("req_id", "user_id"), queue, Seq("req_id"),
      buckets = Some(2))
    assert(Erasure.apply(spark, queue, Seq("req_id"), "user_id",
      target, Seq("id"), "user_id") === None)
    // enqueue 10,000 subjects (users 0..9999) in one batch — the
    // scale an isin literal list cannot carry (r9 verdict #5)
    val m = CdcPipeline.manifest(queue, CdcPipeline.currentVersion(queue).get).get
    CdcPipeline.rewriteBuckets(spark, queue, Seq("req_id"), m, allBuckets(m))(s =>
      CdcPipeline.KeyedDelta.Content(s.unionByName(spark.range(0, 10000).select((col("id") + 1).as("req_id"),
        col("id").as("user_id")))))
    val dataFilesBefore =
      CdcPipeline.readSnapshot(spark, target).get.inputFiles.toSet
    val Some((nReq, nRows)) = Erasure.apply(spark, queue, Seq("req_id"), "user_id",
      target, Seq("id"), "user_id")
    assert(nReq === 10000L && nRows === 20000L)
    val left = CdcPipeline.readSnapshot(spark, target).get
    assert(left.count() === 20000L)
    assert(left.filter(col("user_id") < 10000).count() === 0L)
    // merge-on-read: the DATA files are untouched (DV sidecar only)
    val tm = CdcPipeline.manifest(target, CdcPipeline.currentVersion(target).get).get
    assert(tm.dvs.nonEmpty && tm.meta("op") === "delete_mor")
    // the post-erase read adds the DV sidecar to its scan — the DATA
    // files themselves must be exactly the pre-erase set
    assert(left.inputFiles.filterNot(_.contains("/_dv/")).toSet === dataFilesBefore,
      "a MoR erase must not rewrite any data file")
  }
}
