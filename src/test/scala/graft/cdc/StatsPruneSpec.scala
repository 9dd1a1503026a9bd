package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{LocalSpark, Tables => T}
import java.nio.file.Files

/** A36: per-bucket min/max stats in the store manifest (the
  * data-skipping index) — pruned range reads equal the full filter,
  * I/O is asserted via inputFiles, stats carry with untouched buckets
  * across delta publishes, and unknown stats degrade to a scan
  * instead of lying.
  */
class StatsPruneSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._
  import TypedProjection.{FieldSpec, Cast}

  private def tmp(): String = Files.createTempDirectory("graft").toString

  /** Fixture whose stat column correlates with the PK-hash bucket
    * (v = bucket·1000 + id%1000), so each bucket owns a disjoint
    * 1000-wide v range and range pruning has something to prune.
    */
  private def bucketCorrelated(n: Int, numBuckets: Int) =
    spark.range(0, n).select(col("id"),
      (pmod(hash(col("id")), lit(numBuckets)) * 1000L + pmod(col("id"), lit(1000L)))
        .as("v"))

  private def rangeRows(dir: String, lo: Long, hi: Long): Set[Seq[Any]] =
    CdcPipeline.readRange(spark, dir, "v", Some(lo), Some(hi)).get
      .select("id", "v").collect().map(_.toSeq).toSet

  private def fullFilterRows(dir: String, lo: Long, hi: Long): Set[Seq[Any]] =
    CdcPipeline.readSnapshot(spark, dir).get
      .filter(col("v") >= lo && col("v") <= hi)
      .select("id", "v").collect().map(_.toSeq).toSet

  private def touchedBucketDirs(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.inputFiles.flatMap(
      _.split("/").find(_.startsWith(CdcPipeline.BucketCol + "="))
        .map(_.stripPrefix(CdcPipeline.BucketCol + "=").toInt)).toSet

  test("range read equals the full filter and touches only overlapping buckets") {
    val dir = tmp()
    val df = bucketCorrelated(10000, 16)
    CdcPipeline.publish(df, dir, Seq("id"), buckets = Some(16), statsCols = Seq("v"))

    assert(rangeRows(dir, 3000, 4999) === fullFilterRows(dir, 3000, 4999))
    val pruned = CdcPipeline.readRange(spark, dir, "v", Some(3000L), Some(4999L)).get
    assert(touchedBucketDirs(pruned) === Set(3, 4),
      "only buckets whose stat range overlaps [3000,4999] may be scanned")
    // half-open ranges prune too
    val tail = CdcPipeline.readRange(spark, dir, "v", Some(14000L), None).get
    assert(touchedBucketDirs(tail) === Set(14, 15))
    assert(tail.count() ===
      CdcPipeline.readSnapshot(spark, dir).get.filter(col("v") >= 14000L).count())
  }

  test("delta publish: rewritten buckets recompute stats, carried buckets keep pruning") {
    val dir = tmp()
    val df = bucketCorrelated(10000, 16)
    CdcPipeline.publish(df, dir, Seq("id"), buckets = Some(16), statsCols = Seq("v"))
    val m0 = CdcPipeline.manifest(dir, 0).get

    // rewrite bucket 5: every row jumps to v ∈ [99000, …) — far outside
    // its recorded [5000, 5999] range
    val newB5 = CdcPipeline.readSnapshot(spark, dir).get
      .filter(pmod(hash(col("id")), lit(16)) === 5)
      .withColumn("v", col("v") + 94000L)
    CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m0, Set(5),
      statsCols = Seq("v"))(_ => CdcPipeline.KeyedDelta.Content(newB5))

    // old bucket-5 range now matches nothing and scans nothing
    val ghost = CdcPipeline.readRange(spark, dir, "v", Some(5000L), Some(5999L)).get
    assert(ghost.count() === 0)
    assert(touchedBucketDirs(ghost) === Set.empty,
      "bucket 5's refreshed stats exclude its old range entirely")
    // the new range reads bucket 5 from the NEW version only
    val moved = CdcPipeline.readRange(spark, dir, "v", Some(99000L), None).get
    assert(touchedBucketDirs(moved) === Set(5))
    assert(moved.inputFiles.forall(_.contains("/v1/")),
      "rewritten bucket must resolve to the new version's files")
    assert(moved.count() === newB5.count())
    // carried buckets: stats survived the delta publish by reference
    val carried = CdcPipeline.readRange(spark, dir, "v", Some(3000L), Some(3999L)).get
    assert(touchedBucketDirs(carried) === Set(3))
    assert(carried.inputFiles.forall(_.contains("/v0/")),
      "untouched bucket must still resolve to the original version's files")
    assert(rangeRows(dir, 3000, 3999) === fullFilterRows(dir, 3000, 3999))
  }

  test("unknown stats are conservative: pre-stats versions, all-NULL buckets, undeclared columns") {
    // v0 published WITHOUT stats: readRange must scan everything but
    // still be correct
    val dir = tmp()
    val df = bucketCorrelated(4000, 8)
    CdcPipeline.publish(df, dir, Seq("id"), buckets = Some(8))
    assert(rangeRows(dir, 1000, 1999) === fullFilterRows(dir, 1000, 1999))
    val unpruned = CdcPipeline.readRange(spark, dir, "v", Some(1000L), Some(1999L)).get
    assert(touchedBucketDirs(unpruned).size === 8, "no stats -> every bucket scanned")

    // a delta WITH stats refreshes only its bucket; the rest stay unknown
    val m0 = CdcPipeline.manifest(dir, 0).get
    CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m0, Set(2),
      statsCols = Seq("v"))(CdcPipeline.KeyedDelta.Content(_))
    val partial = CdcPipeline.readRange(spark, dir, "v", Some(6000L), Some(6999L)).get
    val touched = touchedBucketDirs(partial)
    assert(!touched.contains(2), "bucket 2 has fresh stats and is out of range")
    assert(touched.size === 7, "stat-less buckets must still be scanned")

    // an all-NULL stat bucket writes no entry and is always read
    val nullDir = tmp()
    val nulls = spark.range(0, 2000).select(col("id"),
      when(pmod(hash(col("id")), lit(4)) === 1, lit(null).cast(LongType))
        .otherwise(pmod(hash(col("id")), lit(4)) * 1000L).as("v"))
    CdcPipeline.publish(nulls, nullDir, Seq("id"), buckets = Some(4),
      statsCols = Seq("v"))
    val got = CdcPipeline.readRange(spark, nullDir, "v", Some(3000L), Some(3999L)).get
    assert(touchedBucketDirs(got).contains(1),
      "a bucket with only NULL stat values has no entry and must be scanned")
    assert(got.collect().map(_.getLong(1)).forall(v => v >= 3000 && v <= 3999))

    // NaN extremes in a double column must widen the scan, not crash
    // the prune decision (Spark orders NaN above every double, so a
    // bucket holding one records max = NaN)
    val nanDir = tmp()
    val nans = spark.range(0, 2000).select(col("id"),
      when(pmod(hash(col("id")), lit(4)) === 1, lit(Double.NaN))
        .otherwise(pmod(hash(col("id")), lit(4)).cast("double") * 1000.0).as("v"))
    CdcPipeline.publish(nans, nanDir, Seq("id"), buckets = Some(4),
      statsCols = Seq("v"))
    val nanRead = CdcPipeline.readRange(spark, nanDir, "v", Some(2000.0), Some(2999.0)).get
    assert(touchedBucketDirs(nanRead).contains(1),
      "a bucket with an unparseable (NaN) stat must be scanned, not pruned")
    assert(nanRead.collect().map(_.getDouble(1)).forall(v => v >= 2000.0 && v <= 2999.0))

    // string stats prune lexically
    val strDir = tmp()
    val strs = spark.range(0, 2000).select(col("id"),
      concat(lit("g"), pmod(hash(col("id")), lit(4)).cast("string")).as("v"))
    CdcPipeline.publish(strs, strDir, Seq("id"), buckets = Some(4),
      statsCols = Seq("v"))
    val sOne = CdcPipeline.readRange(spark, strDir, "v", Some("g2"), Some("g2")).get
    assert(touchedBucketDirs(sOne) === Set(2))
    assert(sOne.count() ===
      CdcPipeline.readSnapshot(spark, strDir).get.filter(col("v") === "g2").count())
  }

  test("string stats compare in UTF-8 order (supplementary-plane chars never mis-prune)") {
    // Spark's min/max order strings by UTF-8 code-point order, where
    // U+1F600 (an emoji) sorts ABOVE U+E000; Java's UTF-16 compareTo
    // puts the surrogate pair BELOW it. A pruner comparing in UTF-16
    // would decide bucketMax("😀") < qLo("") and skip a bucket
    // that holds a matching "a" row — silent row loss.
    val dir = tmp()
    val rows = spark.createDataFrame(Seq((1L, "a"), (2L, "😀")))
      .toDF("id", "v")
    CdcPipeline.publish(rows, dir, Seq("id"), buckets = Some(1),
      statsCols = Seq("v"))
    val got = CdcPipeline.readRange(spark, dir, "v",
      Some(""), Some("")).get
    assert(got.count() === 1L, "UTF-16 ordering would prune the only bucket")
    assert(got.select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("rebucket recomputes stats under the new layout") {
    val dir = tmp()
    CdcPipeline.publish(bucketCorrelated(4000, 8), dir, Seq("id"),
      buckets = Some(8), statsCols = Seq("v"))
    CdcPipeline.rebucket(spark, dir, Seq("id"), 4)
    val m1 = CdcPipeline.manifest(dir, 1).get
    assert(m1.numBuckets === 4 && m1.stats.nonEmpty,
      "rebucket must rebuild the stats index for the tracked columns")
    assert(rangeRows(dir, 1000, 1999) === fullFilterRows(dir, 1000, 1999))
    // v was correlated with the OLD 8-bucket hash; the new 4-bucket
    // layout still prunes whatever its recomputed ranges allow, and
    // never below correctness
    val r = CdcPipeline.readRange(spark, dir, "v", Some(1000L), Some(1999L)).get
    assert(touchedBucketDirs(r).subsetOf(Set(0, 1, 2, 3)))
  }

  test("rollup stores carry the stats index too: declared statsCols prune rollup range reads") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = CdcTableConfig(
      cdcTable = "events_cdc", sourcePath = "events", targetDb = "graft",
      targetTable = "events_snapshot", targetPath = target,
      pk = Seq("user_id"),
      fieldSpecs = Seq(FieldSpec("k", Cast(LongType))),
      passthrough = Seq("event_id", "value"),
      rollups = Seq(RollupSpec("by_k", Seq("k"), Seq("event_id"),
        numBuckets = Some(4), statsCols = Seq("k"))))
    val w1 = CdcEnvelope.epochUs("2024-01-16T00:00:00Z")
    val w2 = CdcEnvelope.epochUs("2024-01-31T00:00:00Z")
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    val dir = CdcPipeline.rollupPath(c, "by_k")
    val v = CdcPipeline.currentVersion(dir).get
    assert(CdcPipeline.manifest(dir, v).get.stats.nonEmpty,
      "rollup maintenance must publish the declared stats")
    val full = CdcPipeline.readSnapshot(spark, dir).get
    val lo = 1L; val hi = 2L
    val pruned = CdcPipeline.readRange(spark, dir, "k", Some(lo), Some(hi)).get
    assert(pruned.select("k", "n_rows").collect().map(_.toSeq).toSet ===
      full.filter(col("k") >= lo && col("k") <= hi)
        .select("k", "n_rows").collect().map(_.toSeq).toSet)
    assert(pruned.inputFiles.length <= full.inputFiles.length)
  }

  test("parseRollups accepts a stats= segment") {
    val rs = CdcConfig.parseRollups("by_k:k:event_id:stats=k").head
    assert(rs.statsCols === Seq("k"))
    intercept[IllegalArgumentException] {
      CdcConfig.parseRollups("by_k:k:event_id:bogus=k")
    }
  }

  test("config-declared statsCols maintain the index through incremental pipeline runs") {
    val env = CdcEnvelope.fromEvents(T.events(spark, LocalSpark.sf))
    val target = tmp(); val log = tmp()
    val c = CdcTableConfig(
      cdcTable = "events_cdc", sourcePath = "events", targetDb = "graft",
      targetTable = "events_snapshot", targetPath = target,
      pk = Seq("user_id"),
      fieldSpecs = Seq(FieldSpec("k", Cast(LongType))),
      passthrough = Seq("event_id", "value"),
      numBuckets = Some(8), statsCols = Seq("k"))
    val w1 = CdcEnvelope.epochUs("2024-01-16T00:00:00Z")
    val w2 = CdcEnvelope.epochUs("2024-01-31T00:00:00Z")
    assert(CdcPipeline.run(spark, c, env, log, w1).status === "SUCCESS")
    assert(CdcPipeline.run(spark, c, env, log, w2).status === "SUCCESS")
    val v = CdcPipeline.currentVersion(target).get
    val m = CdcPipeline.manifest(target, v).get
    assert(m.stats.nonEmpty, "run() must maintain the declared stats")
    // every bucket the snapshot holds carries a k entry (k is never
    // NULL in this fixture), whether rewritten in w2 or carried
    assert(m.buckets.keySet.forall(b => m.stats.get(b).exists(_.contains("k"))))
    val all = CdcPipeline.readSnapshot(spark, target).get
      .filter(col("k") >= 2L && col("k") <= 3L).count()
    assert(CdcPipeline.readRange(spark, target, "k", Some(2L), Some(3L)).get.count() === all)
  }
}
