package graft.cdc

import java.nio.file.Files
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Merge-on-read keyed writes ([[CdcPipeline.rewriteBuckets]]): a merge
  * writes its changed rows as one new segment of each bucket it lands
  * in and the replaced rows' positions as the bucket's deletion vector;
  * a fixed policy folds a bucket back into one segment. Every check
  * compares the store with a driver-side model of its rows.
  */
class MergeOnReadSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private val B = 4
  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def cfg(dir: String) = CdcTableConfig(
    cdcTable = "t", sourcePath = "t", targetDb = "g", targetTable = "mor",
    targetPath = dir, pk = Seq("id"), fieldSpecs = Nil,
    passthrough = Seq("grp", "payload"), numBuckets = Some(B), statsCols = Seq("payload"))

  /** A store of ids 0 until n (payload id * 10) and its model. */
  private def store(n: Long): (String, scala.collection.mutable.Map[Long, Long]) = {
    val dir = tmp()
    CdcPipeline.publish(spark.range(0, n).select(col("id"), (col("id") % 7).as("grp"),
      (col("id") * 10L).as("payload")), dir, Seq("id"), buckets = Some(B),
      statsCols = Seq("payload"))
    val model = scala.collection.mutable.Map[Long, Long]()
    (0L until n).foreach(id => model(id) = id * 10L)
    (dir, model)
  }

  private def changes(ups: Seq[(Long, Long)], dels: Seq[Long]): DataFrame =
    (ups.map { case (id, p) => (id, id % 7, Option(p), "u") } ++
      dels.map(id => (id, id % 7, Option.empty[Long], "d")))
      .toDF("id", "grp", "payload", CdcEnvelope.OpCol)

  /** Merge and apply the same change to the model; the merge outcome. */
  private def merge(dir: String, model: scala.collection.mutable.Map[Long, Long],
      ups: Seq[(Long, Long)], dels: Seq[Long]): CdcPipeline.MergeOutcome = {
    val chg = changes(ups, dels)
    val out = CdcPipeline.mergeAndPublish(spark, cfg(dir), chg, CdcPipeline.summarize(cfg(dir), chg))
    ups.foreach { case (id, p) => model(id) = p }
    dels.foreach(model.remove)
    out
  }

  private def snapshot(dir: String): Map[Long, Long] =
    CdcPipeline.readSnapshot(spark, dir).get.select("id", "payload").as[(Long, Long)]
      .collect().toMap

  private def errors(dir: String): Seq[String] =
    CdcPipeline.fsck(spark, dir).filter(col("severity") === "error")
      .collect().map(_.mkString(" ")).toSeq

  private def head(dir: String): CdcPipeline.Manifest =
    CdcPipeline.currentManifest(dir).get

  /** The ids below `n` that hash to the bucket of id 1. */
  private def sameBucketAs1(n: Long): (Int, Seq[Long]) = {
    val byId = spark.range(0, n).select(col("id"), CdcPipeline.bucketExpr(Seq("id"), B))
      .as[(Long, Int)].collect().toMap
    (byId(1L), (0L until n).filter(id => byId(id) == byId(1L)))
  }

  test("a merge writes its changed rows as a segment and a vector per touched bucket") {
    val (dir, model) = store(2000)
    val before = model.toMap
    val out = merge(dir, model, Seq((3L, 1L), (4L, 2L), (5000L, 3L)), Seq(6L))
    assert(out.updated === 2L, "two upserts replace stored rows")
    assert(snapshot(dir) === model.toMap)
    val m = head(dir)
    val touched = CdcPipeline.bucketsWrittenAt(m, s"v${out.version}")
    assert(touched.nonEmpty && touched.forall(b => m.buckets(b) === Seq("v0", s"v${out.version}")))
    assert(m.dvs.nonEmpty && m.dvs.values.forall(_ == Seq(s"v${out.version}")))
    // the new version holds the three upserts and the vectors, not the buckets
    val written = CdcPipeline.listedBuckets(s"$dir/v${out.version}")
      .flatMap { case (_, d) => StoreFs.footerPerFile(d) }.map(_._2).sum
    assert(written === 3L)
    assert(CdcPipeline.fastCount(dir) === Some(model.size.toLong))
    // time travel, key reads and the change feed see through the vectors
    assert(CdcPipeline.readSnapshotAt(spark, dir, 0L).get.count() === before.size.toLong)
    assert(CdcPipeline.readKeys(spark, dir, Seq("id"), Seq(3L, 6L).toDF("id")).get
      .select("id", "payload").as[(Long, Long)].collect().toSet === Set((3L, 1L)))
    val feed = CdcPipeline.snapshotDiff(spark, dir, 0L, out.version, Seq("id")).get
      .select(col("id"), col(CdcEnvelope.OpCol)).as[(Long, String)].collect().toSet
    assert(feed === Set((3L, "u"), (4L, "u"), (5000L, "i"), (6L, "d")))
    assert(errors(dir).isEmpty)
  }

  test("stats widen with an appended segment, so range pruning still finds its rows") {
    val (dir, model) = store(400)
    merge(dir, model, Seq((7L, 999999L)), Nil)
    val got = CdcPipeline.readRange(spark, dir, "payload", Some(999990L), Some(1000000L)).get
      .select("id").as[Long].collect().toSeq
    assert(got === Seq(7L))
  }

  test("fold policy: a bucket holding MaxSegments segments is rewritten as one") {
    val (dir, model) = store(400)
    // one key per merge, always bucket b's
    val (b, ids) = sameBucketAs1(400L)
    val inB = ids.take(CdcPipeline.MaxSegments)
    inB.zipWithIndex.foreach { case (id, i) =>
      merge(dir, model, Seq((id, -i.toLong)), Nil)
      assert(head(dir).buckets(b).size <= CdcPipeline.MaxSegments)
      assert(snapshot(dir) === model.toMap)
    }
    val m = head(dir)
    assert(m.buckets(b) === Seq(s"v${m.readVersion}"), "the last merge folded the bucket")
    assert(!m.dvs.contains(b))
  }

  test("fold policy: a vector past MaxDvPct of its rows folds the bucket") {
    val (dir, model) = store(400)
    val (b, ids) = sameBucketAs1(400L)
    val n = ids.size * (CdcPipeline.MaxDvPct + 5) / 100
    val out = merge(dir, model, ids.take(n).map(id => id -> (id + 1)), Nil)
    val m = head(dir)
    assert(m.buckets(b) === Seq(s"v${out.version}") && !m.dvs.contains(b))
    assert(out.updated === n.toLong)
    assert(snapshot(dir) === model.toMap)
  }

  test("a read asks the scan for row positions only where a deletion vector applies") {
    val (dir, model) = store(400)
    def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
    assert(!plan(CdcPipeline.readSnapshot(spark, dir).get).contains("_metadata"))
    merge(dir, model, Seq((1L, 5L)), Nil)
    val withDv = plan(CdcPipeline.readSnapshot(spark, dir).get)
    assert(withDv.contains("live_position"), withDv)
    assert(!withDv.contains("file_modification_time"), s"only the filter's fields: $withDv")
    assert(!plan(CdcPipeline.readSnapshotAt(spark, dir, 0L).get).contains("_metadata"))
    assert(snapshot(dir) === model.toMap)
  }

  test("a change set past LargeDeltaRows folds every touched bucket") {
    val (dir, model) = store(400)
    val m = head(dir)
    val ups = Seq((1L, 5L), (2L, 6L), (900L, 7L)).toDF("id", "payload")
      .select(col("id"), (col("id") % 7).as("grp"), col("payload"))
    val touched = CdcPipeline.keyBuckets(ups, Seq("id"), B)
    val w = CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m, touched,
        deltaRows = Some(SnapshotMerge.LargeDeltaRows + 1)) { _ =>
      CdcPipeline.KeyedDelta.Upserts(ups, Some(Seq(3L).toDF("id")))
    }
    Seq((1L, 5L), (2L, 6L), (900L, 7L)).foreach { case (id, p) => model(id) = p }
    if (touched(CdcPipeline.keyBuckets(Seq(3L).toDF("id"), Seq("id"), B).head)) model.remove(3L)
    assert(w.replaced === 2L)
    val after = head(dir)
    assert(touched.forall(b => after.buckets(b) === Seq(s"v${w.version}")) && after.dvs.isEmpty)
    assert(snapshot(dir) === model.toMap)
  }

  test("a delta of unknown size is counted before its positions reach the driver") {
    val (dir, model) = store(400)
    val m = head(dir)
    val ups = Seq((1L, 5L), (900L, 7L)).toDF("id", "payload")
      .select(col("id"), (col("id") % 7).as("grp"), col("payload"))
    val touched = CdcPipeline.keyBuckets(ups, Seq("id"), B)
    val (w, jobs) = ListenerDrain.jobsOf(spark.sparkContext) {
      CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m, touched)(_ =>
        CdcPipeline.KeyedDelta.Upserts(ups))
    }
    val labels = jobs.map(p => Option(p.getProperty("spark.job.description")).getOrElse(""))
    val sized = labels.indexOf("store.merge: delta size")
    assert(sized >= 0, s"no sizing job among $labels")
    assert(labels.indexOf("store.merge: matched keys") > sized, labels)
    Seq((1L, 5L), (900L, 7L)).foreach { case (id, p) => model(id) = p }
    assert(w.replaced === 1L)
    assert(snapshot(dir) === model.toMap)
    assert(head(dir).dvs.nonEmpty, "a small delta stays merge-on-read")
  }

  test("a batch that repeats a key is refused with the store unchanged: INSERT, identity merge, COPY INTO") {
    val (dir, model) = store(400)
    def refused(what: String)(body: => Any): Unit = {
      val before = head(dir).readVersion
      val e = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("duplicate keys"))), s"$what: $e")
      assert(head(dir).readVersion === before, s"$what committed a version")
      assert(snapshot(dir) === model.toMap, what)
    }
    refused("INSERT") {
      spark.sql(s"INSERT INTO graft.`$dir` VALUES (5000, 1, 1), (5000, 2, 2)").collect()
    }
    // a fresh key once is still inserted
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (5001, 1, 7)").collect()
    model(5001L) = 7L
    assert(snapshot(dir) === model.toMap)

    val idDir = tmp()
    CdcPipeline.publish(CdcPipeline.readSnapshot(spark, dir).get
      .withColumn("sid", col("id") + 1), idDir, Seq("id"), buckets = Some(B))
    val spec = IdentityColumns.declare(spark, idDir, "sid")
    val idBefore = CdcPipeline.readSnapshot(spark, idDir).get.collect().toSet
    val e = intercept[IllegalArgumentException] {
      IdentityColumns.mergeWithIdentity(spark, idDir, Seq("id"),
        Seq((7000L, 0L, 1L), (7000L, 0L, 2L), (3L, 3L, 9L)).toDF("id", "grp", "payload"), "sid")
    }
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
    assert(CdcPipeline.readSnapshot(spark, idDir).get.collect().toSet === idBefore)
    assert(IdentityColumns.identitySpec(idDir, "sid").get === spec, "no ids were reserved")

    val land = tmp()
    Seq((42L, 0L, 1L), (42L, 0L, 2L)).toDF("id", "grp", "payload").coalesce(1)
      .write.parquet(s"$land/dup")
    refused("COPY INTO")(CopyInto.copyInto(spark, dir, Seq("id"), Seq(s"$land/dup")))
  }

  test("liveness: three merge-on-read merges, then vacuum(keep = 1): the model reads and fsck is clean") {
    val (dir, model) = store(1000)
    merge(dir, model, Seq((1L, 11L), (2L, 22L), (1500L, 15L)), Seq(3L))
    merge(dir, model, Seq((1L, 111L), (1600L, 16L)), Seq(4L, 1500L))
    merge(dir, model, Seq((2L, 222L), (5L, 55L)), Seq(6L))
    val m = head(dir)
    assert(m.buckets.values.exists(_.size > 2), "some bucket holds three segments or more")
    val reclaimed = CdcPipeline.vacuum(dir, keepVersions = 1)
    assert(reclaimed.isEmpty, s"every version still holds a live segment or vector: $reclaimed")
    assert(snapshot(dir) === model.toMap)
    assert(errors(dir).isEmpty)
    // once a fold retires the old segments, vacuum reclaims them
    CdcPipeline.optimize(spark, dir, Seq("id"), Seq("id"))
    assert(CdcPipeline.vacuum(dir, keepVersions = 1).nonEmpty)
    assert(snapshot(dir) === model.toMap)
    assert(errors(dir).isEmpty)
  }

  test("fsck reports a missing base segment as dangling_ref") {
    val (dir, model) = store(400)
    val out = merge(dir, model, Seq((1L, 1L)), Nil)
    val b = CdcPipeline.bucketsWrittenAt(head(dir), s"v${out.version}").head
    StoreFs.deleteRecursive(CdcPipeline.bucketDir(s"$dir/v0", b))
    val found = CdcPipeline.fsck(spark, dir).filter(col("check") === "dangling_ref")
      .select("subject").as[String].collect().toSet
    assert(found === Set("v0", s"v${out.version}"))
  }

  test("clone, vacuum of the source, and a branch publish keep segments and vectors readable") {
    val (src, model) = store(800)
    merge(src, model, Seq((10L, 1L), (20L, 2L)), Seq(30L))
    val dst = tmp() + "/clone"
    CdcPipeline.cloneSnapshot(src, dst)
    merge(src, model, Seq((40L, 4L)), Nil)
    CdcPipeline.optimize(spark, src, Seq("id"), Seq("id"))
    CdcPipeline.vacuum(src, keepVersions = 1)
    val cloneModel = model.toMap - 40L + (40L -> 400L)
    assert(snapshot(dst) === cloneModel, "the clone's pins keep its segments and vectors")
    assert(errors(dst).isEmpty && errors(src).isEmpty)

    val (up, upModel) = store(800)
    val br = tmp() + "/branch"
    CdcPipeline.createBranch(up, br, "b")
    merge(br, upModel, Seq((11L, 1L), (12L, 2L)), Seq(13L))
    CdcPipeline.publishBranch(br)
    assert(snapshot(up) === upModel.toMap)
    assert(errors(up).isEmpty)
    assert(CdcPipeline.readSnapshot(spark, up).get.inputFiles.forall(!_.contains(br)),
      "the published upstream reads none of the branch's files")
  }
}
