package graft.cdc

import java.nio.file.Files
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.streaming.CdcStream

/** Touched-bucket sets without a shuffle. A key lookup collects one
  * bucket id per key, so a driver-local key list starts no Spark job
  * before the caller's action. One summary pass over a compacted
  * change set names the buckets that both the target merge and the
  * SCD2 history advance rewrite.
  */
class TouchedBucketsSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._
  import TypedProjection.{Cast, FieldSpec}

  private def tmp(): String = Files.createTempDirectory("graft").toString

  /** `body`'s result and the descriptions of the Spark jobs it
    * started (exact: see `ListenerDrain.jobsOf`).
    */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val (r, jobs) = ListenerDrain.jobsOf(spark.sparkContext)(body)
    (r, jobs.map(p => Option(p.getProperty("spark.job.description")).getOrElse("")))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
  }

  private def cfg(target: String) = CdcTableConfig(
    cdcTable = "c", sourcePath = "s", targetDb = "g", targetTable = "t",
    targetPath = target, pk = Seq("user_id"),
    fieldSpecs = Seq(FieldSpec("k", Cast(LongType))),
    passthrough = Seq("event_id", "value"),
    numBuckets = Some(4), scd2 = Some(Scd2Spec()),
    rollups = Seq(RollupSpec("by_k", Seq("k"), Seq("event_id"))))

  // (user_id, op, ts_us, pos, load_ts_us, data, event_id, value)
  private type Env = (Long, String, Long, Long, Long, String, Long, Double)
  private def env(rs: Seq[Env]): DataFrame =
    rs.toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
      CdcEnvelope.LoadTsCol, CdcEnvelope.DataCol, "event_id", "value")
  private def up(uid: Long, at: Long, pos: Long): Env =
    (uid, "u", at, pos, at, s"""{"k":${uid % 3 + pos % 2}}""", pos, uid.toDouble)
  private def del(uid: Long, at: Long, pos: Long): Env =
    (uid, "d", at, pos, at, s"""{"k":${uid % 3}}""", pos, 0.0)

  private def bucketOf(keys: Seq[Long], nb: Int): Map[Long, Int] =
    keys.toDF("user_id")
      .select(col("user_id"), CdcPipeline.bucketExpr(Seq("user_id"), nb))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** Three windows (load_ts 1000, 3000, 5000; run ends 2000, 4000,
    * 6000). Window 1 inserts users 1..24 across all four buckets;
    * windows 2 and 3 update, delete and insert only keys of the two
    * `hot` buckets.
    */
  private lazy val fixture: (Seq[Seq[Env]], Set[Int]) = {
    val byBucket = bucketOf((1L to 200L).toSeq, 4)
    val hot = byBucket.filter(_._1 <= 24).values.toSeq.distinct.sorted.take(2).toSet
    val hotOld = (1L to 24L).filter(u => hot(byBucket(u)))
    val hotNew = (100L to 200L).filter(u => hot(byBucket(u)))
    require(hot.size == 2 && hotOld.size >= 4 && hotNew.size >= 2)
    require(byBucket.filter(_._1 <= 24).values.toSet.size == 4)
    val w1 = (1L to 24L).map(u => up(u, 1000L, u))
    val w2 = Seq(up(hotOld(0), 3000L, 100), up(hotOld(1), 3000L, 101),
      up(hotOld(0), 3000L, 102), del(hotOld(2), 3000L, 103), up(hotNew(0), 3000L, 104))
    val w3 = Seq(up(hotOld(1), 5000L, 200), up(hotOld(3), 5000L, 201),
      del(hotNew(0), 5000L, 202), up(hotNew(1), 5000L, 203))
    (Seq(w1, w2, w3), hot)
  }
  private def windows: Seq[Seq[Env]] = fixture._1
  private def hot: Set[Int] = fixture._2
  private lazy val source: DataFrame = env(windows.flatten).cache()
  private val ends = Seq(2000L, 4000L, 6000L)

  private def manifestAt(dir: String): CdcPipeline.Manifest =
    CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get

  private def state(c: CdcTableConfig): (Set[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) =
    (rows(CdcPipeline.readSnapshot(spark, c.targetPath).get),
      rows(Scd2Store.readHistory(spark, c).get),
      rows(CdcPipeline.readRollup(spark, c, "by_k").get))

  test("key lookups with a driver-local key list start no Spark job before the action") {
    val dir = tmp()
    CdcPipeline.publish(spark.range(0, 400).select(col("id"), (col("id") * 10).as("v")),
      dir, Seq("id"), buckets = Some(8))
    val (looked, jobs) = jobsOf(
      CdcPipeline.readKeys(spark, dir, Seq("id"), Seq(3L, 77L, 1000L).toDF("id")).get)
    assert(jobs.isEmpty, s"readKeys started jobs before the action: $jobs")
    assert(rows(looked) === Set(Seq(3L, 30L), Seq(77L, 770L)))
    // an INT key list against the BIGINT key is cast before hashing
    val (cast, castJobs) = jobsOf(
      CdcPipeline.readKeys(spark, dir, Seq("id"), Seq(3, 77).toDF("id")).get)
    assert(castJobs.isEmpty, s"readKeys started jobs before the action: $castJobs")
    assert(rows(cast) === Set(Seq(3L, 30L), Seq(77L, 770L)))

    val c = cfg(tmp()); val log = tmp()
    windows.indices.foreach { i =>
      assert(CdcPipeline.run(spark, c, source, log, ends(i)).status === "SUCCESS")
    }
    val keys = Seq(windows(1).head._1, windows(2).last._1, 5L, 999L)
    val (hist, histJobs) = jobsOf(Scd2Store.readKeys(spark, c, keys.toDF("user_id")).get)
    assert(histJobs.isEmpty, s"Scd2Store.readKeys started jobs before the action: $histJobs")
    val expected = Scd2Store.readHistory(spark, c).get.filter(col("user_id").isin(keys: _*))
    assert(rows(hist) === rows(expected))
    assert(hist.filter(col(Scd2.To).isNotNull).count() > 0, "closed slices are looked up too")
  }

  test("deletion vectors cost no job: key reads match a vector-free store, the diff starts none") {
    val data = spark.range(0, 400).select(col("id"), (col("id") * 10).as("v"))
    val withDv = tmp(); val plain = tmp()
    CdcPipeline.publish(data, withDv, Seq("id"), buckets = Some(8))
    CdcPipeline.deleteWhereMoR(spark, withDv, Seq("id"), col("id") % 5 === 0)
    CdcPipeline.publish(data.filter(col("id") % 5 =!= 0), plain, Seq("id"), buckets = Some(8))
    assert(CdcPipeline.currentManifest(withDv).get.dvs.nonEmpty)
    assert(CdcPipeline.currentManifest(plain).get.dvs.isEmpty)
    val keys = Seq(3L, 5L, 77L, 1000L)
    def lookup(dir: String) = jobsOf(
      CdcPipeline.readKeys(spark, dir, Seq("id"), keys.toDF("id")).get.collect())
    val (a, jobsA) = lookup(withDv)
    val (b, jobsB) = lookup(plain)
    assert(a.map(_.toSeq).toSet === b.map(_.toSeq).toSet)
    assert(a.map(_.getLong(0)).toSet === Set(3L, 77L))
    assert(jobsA.size === jobsB.size, s"with vectors: $jobsA; without: $jobsB")
    // from a version without vectors to one with: the diff finds its
    // buckets from the two manifests
    val (diff, diffJobs) = jobsOf(CdcPipeline.snapshotDiff(spark, withDv, 0L, 1L, Seq("id")).get)
    assert(diffJobs.isEmpty, s"snapshotDiff started jobs before its scans: $diffJobs")
    assert(diff.count() === 80L)
  }

  test("readKeys returns the full-scan semi join for int, long, string and two-column keys") {
    val base = spark.range(0, 300)
    val cases: Seq[(String, Seq[String], DataFrame, DataFrame)] = Seq(
      ("int", Seq("k"), base.select(col("id").cast("int").as("k"), col("id").as("v")),
        Seq(0, 5, 42, 299, 1000).toDF("k")),
      ("long", Seq("k"), base.select(col("id").as("k"), col("id").as("v")),
        Seq(0L, 5L, 42L, 299L, -1L).toDF("k")),
      ("string", Seq("k"), base.select(concat(lit("key-"), col("id")).as("k"), col("id").as("v")),
        Seq("key-0", "key-5", "key-42", "key-299", "nope").toDF("k")),
      ("two-column", Seq("a", "b"),
        base.select((col("id") % 17).as("a"), concat(lit("b"), col("id")).as("b"), col("id").as("v")),
        Seq((5L, "b5"), (8L, "b42"), (1L, "b1"), (0L, "b0"), (3L, "b5")).toDF("a", "b")))
    cases.foreach { case (name, pk, data, keys) =>
      val dir = tmp()
      CdcPipeline.publish(data, dir, pk, buckets = Some(8))
      val truth = rows(CdcPipeline.readSnapshot(spark, dir).get.join(keys, pk, "left_semi"))
      assert(truth.size === 4, s"$name: fixture finds four of its keys")
      Seq("local" -> keys, "repartition(3)" -> keys.repartition(3)).foreach { case (shape, ks) =>
        assert(rows(CdcPipeline.readKeys(spark, dir, pk, ks).get) === truth, s"$name, $shape")
      }
    }
  }

  test("run with SCD2 and a rollup rewrites exactly the touched buckets; superset replay equals serial runs") {
    val serial = cfg(tmp()); val serialLog = tmp()
    assert(CdcPipeline.run(spark, serial, source, serialLog, ends(0)).status === "SUCCESS")
    val (t0, o0) = (manifestAt(serial.targetPath), manifestAt(Scd2Store.openPath(serial)))
    val (_, jobs) = jobsOf(CdcPipeline.run(spark, serial, source, serialLog, ends(1)))
    assert(CdcPipeline.changedBuckets(t0, manifestAt(serial.targetPath)) === hot)
    assert(CdcPipeline.changedBuckets(o0, manifestAt(Scd2Store.openPath(serial))) === hot,
      "the SCD2 open store rewrites the same buckets as the target")
    assert(!jobs.exists(_.startsWith("store.merge: touched buckets")), jobs)
    assert(CdcPipeline.run(spark, serial, source, serialLog, ends(2)).status === "SUCCESS")

    // crash after window 2's history advance, before its job-log row:
    // the rerun at a fresh window end covers the superset (2000, 6000]
    val crashed = cfg(tmp()); val crashedLog = tmp()
    assert(CdcPipeline.run(spark, crashed, source, crashedLog, ends(0)).status === "SUCCESS")
    val projected = crashed.project(CdcEnvelope.window(source, ends(0), ends(1)))
    val changes = ChangeCompaction.compactForMerge(projected, crashed.pk)
    val summary = CdcPipeline.summarize(crashed, changes)
    assert(summary.bucketsByCount === Map(4 -> hot))
    CdcPipeline.mergeAndPublish(spark, crashed, changes, summary)
    CdcPipeline.maintainRollups(spark, crashed, changes, summary, changesMatchCurrent = true)
    Scd2Store.maintain(spark, crashed, projected, summary, seqKey = ends(1),
      targetExistedBefore = true, seqIsLoadTs = true)
    assert(CdcPipeline.run(spark, crashed, source, crashedLog, ends(2)).status === "SUCCESS")
    assert(state(crashed) === state(serial))

    val oneShot = Scd2.fromHistory(serial.project(source), serial.pk,
      Seq("k", "event_id", "value"))
    assert(state(serial)._2 === rows(oneShot.select(Scd2Store.readHistory(spark, serial).get
      .columns.map(col): _*)))
  }

  test("a keyed write that lands a row outside its touched buckets is refused and loses nothing") {
    val dir = tmp()
    CdcPipeline.publish(spark.range(0, 400).select(col("id"), lit(0L).as("v")), dir,
      Seq("id"), buckets = Some(8))
    val bucket = CdcPipeline.bucketExpr(Seq("id"), 8)
    def bucket5 = rows(CdcPipeline.readSnapshot(spark, dir).get.filter(bucket === 5))
    val before = bucket5
    val stray = spark.range(0, 400).filter(bucket === 5).head().longValue
    val err = intercept[IllegalStateException] {
      CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), manifestAt(dir), Set(2))(s =>
        CdcPipeline.KeyedDelta.Content(s.unionByName(Seq((stray, 1L)).toDF("id", "v"))))
    }
    assert(err.getMessage.contains("outside the touched set"))
    assert(CdcPipeline.currentVersion(dir) === Some(0L))
    assert(!StoreFs.exists(s"$dir/v1"), "the refused commit leaves no version dir")
    assert(before.size > 1 && bucket5 === before, "bucket 5 keeps every stored row")
    // the claim was released: the same write inside its set commits v1
    assert(CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), manifestAt(dir), Set(2))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("v", lit(1L)))).version === 1L)
    assert(bucket5 === before)
  }

  test("a summary taken before a rebucket is refused as a stale base") {
    val c = cfg(tmp()); val log = tmp()
    assert(CdcPipeline.run(spark, c, source, log, ends(0)).status === "SUCCESS")
    val changes = ChangeCompaction.compactForMerge(
      c.project(CdcEnvelope.window(source, ends(0), ends(1))), c.pk)
    val summary = CdcPipeline.summarize(c, changes)
    CdcPipeline.rebucket(spark, c.targetPath, c.pk, 8)
    val v = CdcPipeline.currentVersion(c.targetPath)
    intercept[CdcPipeline.ConcurrentWriteException] {
      CdcPipeline.mergeAndPublish(spark, c, changes, summary)
    }
    assert(CdcPipeline.currentVersion(c.targetPath) === v, "the refused merge publishes nothing")
  }

  test("CdcStream micro-batches reach the same target, history and rollup as batch runs") {
    val batch = cfg(tmp()); val log = tmp()
    val stream = cfg(tmp())
    windows.indices.foreach { i =>
      assert(CdcPipeline.run(spark, batch, source, log, ends(i)).status === "SUCCESS")
      val before = Option.when(i > 0)(
        (manifestAt(stream.targetPath), manifestAt(Scd2Store.openPath(stream))))
      assert(CdcStream.mergeBatchToTarget(env(windows(i)), i.toLong, stream))
      before.foreach { case (t, o) =>
        val touched = bucketOf(windows(i).map(_._1), 4).values.toSet
        assert(CdcPipeline.changedBuckets(t, manifestAt(stream.targetPath)) === touched)
        assert(CdcPipeline.changedBuckets(o, manifestAt(Scd2Store.openPath(stream))) === touched)
      }
      assert(state(stream) === state(batch), s"after micro-batch $i")
    }
    // a replayed micro-batch is skipped and changes nothing
    assert(!CdcStream.mergeBatchToTarget(env(windows(2)), 2L, stream))
    assert(state(stream) === state(batch))
  }
}
