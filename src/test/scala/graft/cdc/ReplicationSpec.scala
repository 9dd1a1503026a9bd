package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A82: incremental store-to-store replication — a replica converges
  * to the source by replaying the committed change feed; N source
  * commits apply as ONE delta-shaped replica commit; vacuumed gaps
  * degrade to an honest full re-sync; re-delivery converges.
  */
class ReplicationSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-repl").toString

  private def cfg(src: String) = CdcTableConfig(
    cdcTable = "t", sourcePath = "s", targetDb = "g", targetTable = "rep",
    targetPath = src, pk = Seq("id"), fieldSpecs = Nil,
    passthrough = Seq("v"), numBuckets = Some(8))

  private def fixture(n: Int) =
    spark.range(0, n).select(col("id"), (col("id") * 10L).as("v"))

  /** Advance `src` by one committed merge window of compacted changes. */
  private def advance(src: String, ups: Seq[(Long, Long)], dels: Seq[Long]): Unit = {
    val rows = ups.map { case (i, v) => (i, v, CdcEnvelope.Upsert) } ++
      dels.map(i => (i, 0L, CdcEnvelope.Delete))
    val df = rows.toDF("id", "v", CdcEnvelope.OpCol)
    CdcPipeline.mergeAndPublish(spark, cfg(src), df, CdcPipeline.summarize(cfg(src), df))
  }

  private def rows(dir: String): Set[(Long, Long)] =
    CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "v").as[(Long, Long)].collect().toSet

  test("bootstrap then incremental: replica converges, N source commits = one delta commit") {
    val src = tmp(); val dst = tmp() + "/replica"
    CdcPipeline.publish(fixture(4000), src, Seq("id"), buckets = Some(8))

    val r0 = Replication.replicate(spark, src, dst, Seq("id")).get
    assert(r0.mode === "bootstrap" && r0.srcVersion === 0L)
    assert(rows(dst) === rows(src))
    assert(Replication.appliedSource(dst) === Some((src, 0L)))
    // bucket layout mirrors the source
    assert(CdcPipeline.manifest(dst, r0.dstVersion).get.numBuckets === 8)

    // two source windows: update+insert, then delete + re-insert a
    // deleted key (the span must compact to FINAL per-key state)
    advance(src, ups = Seq((1L, 111L), (4000L, 999L)), dels = Seq(2L)) // v1
    advance(src, ups = Seq((2L, 222L), (5L, 555L)), dels = Seq(3L))    // v2
    val r1 = Replication.replicate(spark, src, dst, Seq("id")).get
    assert(r1.mode === "incremental" && r1.srcVersion === 2L)
    assert(rows(dst) === rows(src))
    // deleted key 3 gone, churned key 2 at its final value
    assert(!rows(dst).exists(_._1 == 3L) && rows(dst).contains((2L, 222L)))
    // the two source commits applied as ONE replica commit, and it
    // rewrote a strict subset of buckets (delta-shaped apply)
    assert(r1.dstVersion === r0.dstVersion + 1)
    val hist = CdcPipeline.describeHistory(spark, dst).get
      .filter(col("version") === r1.dstVersion).collect().head
    assert(hist.getAs[String]("op") === "replicate")
    assert(hist.getAs[Int]("rewritten_buckets") < 8,
      "replaying a 5-key span must not rewrite the whole replica")

    // already current → noop, no version churn
    val r2 = Replication.replicate(spark, src, dst, Seq("id")).get
    assert(r2.mode === "noop" && r2.dstVersion === r1.dstVersion)
  }

  test("at-least-once: a re-delivered span converges (cursor rewound = crash before commit)") {
    val src = tmp(); val dst = tmp() + "/replica"
    CdcPipeline.publish(fixture(100), src, Seq("id"), buckets = Some(4))
    Replication.replicate(spark, src, dst, Seq("id"))
    advance(src, ups = Seq((7L, 777L)), dels = Seq(8L))
    Replication.replicate(spark, src, dst, Seq("id"))
    val converged = rows(dst)

    // simulate a crash between the replica publish and the cursor
    // commit: rewind the cursor to the pre-span position
    StoreFs.writeString(s"$dst/_replication/src.cursor", s"$src\n0")
    val r = Replication.replicate(spark, src, dst, Seq("id")).get
    assert(r.mode === "incremental")
    assert(rows(dst) === converged, "re-applying the identical span must converge")
    assert(rows(dst) === rows(src))
    assert(Replication.appliedSource(dst) === Some((src, 1L)))
  }

  test("vacuumed feed gap degrades to an honest full re-sync") {
    val src = tmp(); val dst = tmp() + "/replica"
    CdcPipeline.publish(fixture(200), src, Seq("id"), buckets = Some(4))
    Replication.replicate(spark, src, dst, Seq("id"))
    advance(src, ups = Seq((1L, 111L)), dels = Nil) // v1
    // full rewrite retires v0/v1 refs, then vacuum drops their dirs —
    // the (0, 2] feed is unreadable and a partial apply would lie
    CdcPipeline.optimize(spark, src, Seq("id"), sortCols = Seq("v")) // v2
    CdcPipeline.vacuum(src, keepVersions = 1)
    assert(CdcPipeline.readChangeFeed(spark, src, Seq("id"), 0L, 2L).isEmpty)

    val r = Replication.replicate(spark, src, dst, Seq("id")).get
    assert(r.mode === "resync" && r.srcVersion === 2L)
    assert(rows(dst) === rows(src))
    assert(Replication.appliedSource(dst) === Some((src, 2L)))
  }

  test("streaming replication: export feed → foreachBatch apply converges, kill+resume incremental") {
    val src = tmp(); val dst = tmp() + "/replica"
    val feed = tmp() + "/feed"; val ckpt = tmp() + "/ckpt"
    CdcPipeline.publish(fixture(400), src, Seq("id"), buckets = Some(4))
    // baseline the exporter at v0, bootstrap the replica at v0
    assert(ChangeFeeds.exportChangeFeed(spark, src, feed, Seq("id")) === Seq.empty)
    Replication.replicate(spark, src, dst, Seq("id"))

    // two source commits, exported as commit=1 / commit=2 dirs
    advance(src, ups = Seq((1L, 111L), (500L, 555L)), dels = Seq(2L))
    advance(src, ups = Seq((1L, 112L)), dels = Seq(3L))
    assert(ChangeFeeds.exportChangeFeed(spark, src, feed, Seq("id")) === Seq(1L, 2L))

    val q1 = Replication.replicateStream(spark, feed, dst, Seq("id"), ckpt).get
    q1.awaitTermination()
    assert(rows(dst) === rows(src), "drained stream must converge the replica")
    assert(Replication.appliedFeed(dst) === Some((feed, 2L)))
    // one AvailableNow batch applied both commits as ONE replica commit
    val hist = CdcPipeline.describeHistory(spark, dst).get
      .filter(col("op") === "replicate").count()
    assert(hist === 1L)

    // resume after another commit: only the new span applies
    advance(src, ups = Seq((7L, 777L)), dels = Nil)
    ChangeFeeds.exportChangeFeed(spark, src, feed, Seq("id"))
    val q2 = Replication.replicateStream(spark, feed, dst, Seq("id"), ckpt).get
    q2.awaitTermination()
    assert(rows(dst) === rows(src))
    assert(Replication.appliedFeed(dst) === Some((feed, 3L)))

    // a REPLAYED batch (rewound feed cursor, fresh checkpoint) is
    // content-convergent: re-applying the delivered spans changes
    // nothing observable
    StoreFs.writeString(s"$dst/_replication/feed.cursor", s"$feed\n0")
    val q3 = Replication.replicateStream(spark, feed, dst, Seq("id"),
      tmp() + "/ckpt2").get
    q3.awaitTermination()
    assert(rows(dst) === rows(src))
  }

  test("SQL TVFs: graft_replicate drives the full cycle, graft_replica_status reads the cursor") {
    val src = tmp(); val dst = tmp() + "/replica"
    CdcPipeline.publish(fixture(100), src, Seq("id"), buckets = Some(4))
    graft.GraftExtensions.register(spark)

    val r0 = spark.sql(s"SELECT * FROM graft_replicate('$src', '$dst', 'id')")
      .collect()(0)
    assert(r0.getAs[String]("mode") === "bootstrap")
    advance(src, ups = Seq((1L, 111L)), dels = Seq(2L))
    val r1 = spark.sql(s"SELECT * FROM graft_replicate('$src', '$dst', 'id')")
      .collect()(0)
    assert(r1.getAs[String]("mode") === "incremental" &&
      r1.getAs[Long]("change_rows") === 2L)
    assert(rows(dst) === rows(src))
    val st = spark.sql(s"SELECT * FROM graft_replica_status('$dst')").collect()(0)
    assert(st.getAs[String]("source_path") === src &&
      st.getAs[Long]("applied_src_version") === 1L)
  }

  test("refusals: non-replica destination; foreign source") {
    val src = tmp(); val other = tmp()
    CdcPipeline.publish(fixture(50), src, Seq("id"), buckets = Some(2))
    CdcPipeline.publish(fixture(50), other, Seq("id"), buckets = Some(2))

    // a store with versions but no cursor is NOT a replica
    intercept[IllegalArgumentException] {
      Replication.replicate(spark, src, other, Seq("id"))
    }

    val dst = tmp() + "/replica"
    Replication.replicate(spark, src, dst, Seq("id"))
    // a replica is single-sourced
    intercept[IllegalArgumentException] {
      Replication.replicate(spark, other, dst, Seq("id"))
    }
  }
}
