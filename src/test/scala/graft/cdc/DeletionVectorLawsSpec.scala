package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files
import scala.util.Random

/** A53/A56 randomized MODEL test: a seeded random interleaving of
  * merge-on-read deletes, copy-on-write deletes, merge-on-read
  * predicate updates and merges (new segments plus per-bucket
  * vectors), vector folds and partial OPTIMIZEs runs against both the
  * real store and a
  * driver-side Map model; after EVERY step the served snapshot must
  * equal the model exactly, and at the end every historical version
  * must still time-travel to its recorded model state. This is the
  * class of interleaving (fold-then-delete-then-partial-rewrite)
  * that example-based specs cannot enumerate — silent DV corruption
  * (a position surviving a rewrite, a carry dropping the wrong
  * bucket) surfaces as a model mismatch within a step or two.
  */
class DeletionVectorLawsSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  private val B = 8

  test("random MoR/CoW/update/optimize interleavings match the model at every version") {
    val dir = Files.createTempDirectory("graft").toString
    val rnd = new Random(20260814L)
    val n = 1500

    // model: id -> payload (grp is derived, id % 97)
    val model = scala.collection.mutable.Map[Long, Long]()
    (0L until n).foreach(id => model(id) = id * 10L)
    val df0 = spark.range(0, n).select(col("id"), (col("id") % 97).as("grp"),
      (col("id") * 10L).as("payload"))
    CdcPipeline.publish(df0, dir, Seq("id"), buckets = Some(B))
    val cfg = CdcTableConfig(cdcTable = "t", sourcePath = "t", targetDb = "g",
      targetTable = "dvlaws", targetPath = dir, pk = Seq("id"), fieldSpecs = Nil,
      passthrough = Seq("grp", "payload"), numBuckets = Some(B))
    import spark.implicits._

    def snapshot(): Map[Long, Long] =
      CdcPipeline.readSnapshot(spark, dir).get
        .select("id", "payload").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // recorded model state per committed version, for time travel
    val history = scala.collection.mutable.Map[Long, Map[Long, Long]](
      0L -> model.toMap)

    var (merges, folds) = (0, 0)
    (1 to 24).foreach { step =>
      val g = rnd.nextInt(97)
      rnd.nextInt(6) match {
        case 0 => // merge-on-read delete of one grp
          CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("grp") === g)
          model.filterInPlace((id, _) => id % 97 != g)
        case 1 => // copy-on-write delete of one grp
          CdcPipeline.deleteWhere(spark, dir, Seq("id"), col("grp") === g)
          model.filterInPlace((id, _) => id % 97 != g)
        case 2 => // predicate update: bump payload of one grp
          CdcPipeline.updateWhere(spark, dir, Seq("id"), col("grp") === g,
            Map("payload" -> (col("payload") + lit(1L))))
          model.mapValuesInPlace((id, p) => if (id % 97 == g) p + 1L else p)
        case 3 => // partial OPTIMIZE of a random bucket subset
          val subset = (0 until B).filter(_ => rnd.nextBoolean()).toSet
          if (subset.nonEmpty)
            CdcPipeline.optimize(spark, dir, Seq("id"), Seq("grp"),
              buckets = Some(subset))
        case 4 => // merge-on-read merge: distinct upserts (some new) + deletes
          val ups = rnd.shuffle((0L until n + 200).toList).take(40).map(_ -> rnd.nextInt(1000).toLong)
          val dels = rnd.shuffle(model.keys.toList.sorted).filterNot(ups.map(_._1).toSet)
            .take(5)
          val chg = (ups.map { case (id, p) => (id, id % 97, Option(p), "u") } ++
            dels.map(id => (id, id % 97, Option.empty[Long], "d")))
            .toDF("id", "grp", "payload", "__op")
          CdcPipeline.mergeAndPublish(spark, cfg, chg, CdcPipeline.summarize(cfg, chg))
          ups.foreach { case (id, p) => model(id) = p }
          dels.foreach(model.remove)
          merges += 1
        case 5 => // fold every vector into its bucket (a no-op without one)
          if (CdcPipeline.foldDv(spark, dir, Seq("id")).nonEmpty) folds += 1
      }
      val v = CdcPipeline.currentVersion(dir).get
      history(v) = model.toMap
      assert(snapshot() === model.toMap, s"step $step (version $v) diverged")
    }

    assert(merges > 0 && folds > 0, s"the interleaving ran $merges merges, $folds folds")
    // every committed version still time-travels to its model state
    history.toSeq.sortBy(_._1).foreach { case (v, expected) =>
      val got = CdcPipeline.readSnapshotAt(spark, dir, v).get
        .select("id", "payload").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"time travel to v$v diverged")
    }
    // and the final store passes fsck
    assert(CdcPipeline.fsck(spark, dir)
      .filter(col("severity") === "error").count() === 0)
    StoreFs.deleteRecursive(dir)
  }
}
