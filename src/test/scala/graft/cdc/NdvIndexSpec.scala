package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A83: ANALYZE-style per-bucket NDV sketch index — estimates within
  * HLL tolerance of exact, delta publishes degrade coverage honestly
  * (never a guessed number), incremental repair and maintain() heal
  * restore it, MoR deletes drop affected buckets' entries, dropped
  * columns lose their index.
  */
class NdvIndexSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft-ndv").toString

  // k has exactly 1000 distinct values, s has 100 distinct strings
  private def fixture(n: Long) =
    spark.range(0, n).select(col("id"),
      (col("id") % 1000L).as("k"),
      concat(lit("s"), (col("id") % 100L).cast("string")).as("s"))

  private def within5pct(est: Long, exact: Long): Boolean =
    math.abs(est - exact) <= math.max(1L, exact / 20)

  test("build + estimate: union of per-bucket sketches lands within HLL tolerance") {
    val dir = tmp()
    CdcPipeline.publish(fixture(50000), dir, Seq("id"), buckets = Some(8))
    assert(CdcPipeline.buildNdvIndex(spark, dir, Seq("k", "s")) === Some(1L))

    val k = CdcPipeline.ndvStats(spark, dir, "k").get
    val s = CdcPipeline.ndvStats(spark, dir, "s").get
    assert(k.fullCoverage && s.fullCoverage)
    assert(within5pct(k.estimate, 1000L), s"k estimate ${k.estimate}")
    assert(within5pct(s.estimate, 100L), s"s estimate ${s.estimate}")
    // unindexed column → None
    assert(CdcPipeline.ndvStats(spark, dir, "id").isEmpty)
  }

  test("delta publish degrades coverage honestly; incremental repair heals ∝ degraded") {
    val dir = tmp()
    CdcPipeline.publish(fixture(20000), dir, Seq("id"), buckets = Some(8))
    CdcPipeline.buildNdvIndex(spark, dir, Seq("k"))

    // rewrite buckets {1, 5}: their entries must DROP, the rest carry
    val m = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m, Set(1, 5))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("k", col("k") + 5000L)))

    val degraded = CdcPipeline.ndvStats(spark, dir, "k").get
    assert(degraded.coveredBuckets === 6 && degraded.totalBuckets === 8,
      "rewritten buckets' sketches must drop, carried ones survive")
    assert(!degraded.fullCoverage)

    // heal ONLY the two degraded buckets; the estimate must now see
    // the shifted values (exact NDV of k after the rewrite)
    CdcPipeline.buildNdvIndex(spark, dir, Seq("k"), buckets = Some(Set(1, 5)))
    val healed = CdcPipeline.ndvStats(spark, dir, "k").get
    assert(healed.fullCoverage)
    val exact = CdcPipeline.readSnapshot(spark, dir).get
      .select(countDistinct(col("k"))).collect()(0).getLong(0)
    assert(within5pct(healed.estimate, exact),
      s"healed estimate ${healed.estimate} vs exact $exact")
  }

  test("maintain() heals a degraded NDV index past the policy bound; idle pass is a no-op") {
    val dir = tmp()
    CdcPipeline.publish(fixture(20000), dir, Seq("id"), buckets = Some(8))
    CdcPipeline.buildNdvIndex(spark, dir, Seq("k"))
    val m = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m, Set(0, 2, 3, 6))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("k", col("k") + 9000L)))
    assert(CdcPipeline.ndvStats(spark, dir, "k").get.coveredBuckets === 4)

    // 4/8 = 50% missing > 30% policy → heal fires
    val rep = CdcPipeline.maintain(spark, dir, Seq("id"),
      CdcPipeline.MaintenancePolicy(dvFoldPct = None, smallFilesPerBucket = None,
        keepVersions = None, bloomRebuildPct = None)).get
    assert(rep.ndvRebuilt === Seq("k"))
    assert(CdcPipeline.ndvStats(spark, dir, "k").get.fullCoverage)

    // already healed → the next pass must not rebuild
    val rep2 = CdcPipeline.maintain(spark, dir, Seq("id"),
      CdcPipeline.MaintenancePolicy(dvFoldPct = None, smallFilesPerBucket = None,
        keepVersions = None, bloomRebuildPct = None)).get
    assert(rep2.ndvRebuilt === Nil)
  }

  test("heal converges on a fully-DV-deleted bucket (zero-cardinality sentinel, r9 ADVICE)") {
    val dir = tmp()
    CdcPipeline.publish(fixture(20000), dir, Seq("id"), buckets = Some(8))
    CdcPipeline.buildNdvIndex(spark, dir, Seq("k"))
    // kill EVERY row of buckets 0 and 1 via MoR delete — those
    // buckets' NDV entries drop (sketches cannot subtract), and the
    // subsequent heal SCANS them but finds no surviving rows
    val doomed = CdcPipeline.readSnapshot(spark, dir).get
      .filter(pmod(hash(col("id")), lit(8)).isin(0, 1)).select("id")
    CdcPipeline.deleteKeysMoR(spark, dir, Seq("id"), "id", doomed)
    assert(CdcPipeline.ndvStats(spark, dir, "k").get.coveredBuckets === 6)

    // 2/8 = 25% missing > 20% policy → heal fires once…
    val pol = CdcPipeline.MaintenancePolicy(dvFoldPct = None,
      smallFilesPerBucket = None, keepVersions = None,
      bloomRebuildPct = None, ndvRebuildPct = Some(20))
    val rep = CdcPipeline.maintain(spark, dir, Seq("id"), pol).get
    assert(rep.ndvRebuilt === Seq("k"))
    val healed = CdcPipeline.ndvStats(spark, dir, "k").get
    assert(healed.fullCoverage,
      s"empty-scan buckets must count as covered: $healed")

    // …and only once: without the sentinel the empty buckets never
    // get a sidecar and this loop re-publishes a version forever
    val vAfter = CdcPipeline.currentVersion(dir).get
    val rep2 = CdcPipeline.maintain(spark, dir, Seq("id"), pol).get
    assert(rep2.ndvRebuilt === Nil, "heal must converge")
    assert(CdcPipeline.currentVersion(dir).get === vAfter,
      "a converged heal must not commit a new version")
  }

  test("MoR delete drops DV'd buckets' entries; dropped column loses its index; SQL TVFs") {
    val dir = tmp()
    CdcPipeline.publish(fixture(20000), dir, Seq("id"), buckets = Some(8))
    graft.GraftExtensions.register(spark)
    val v = spark.sql(s"SELECT * FROM graft_ndv_index('$dir', 'k, s')")
      .collect()(0).getLong(0)
    assert(v === 1L)

    // MoR-delete a handful of rows: the affected buckets' sketches
    // would overcount (sketches support no removal) — they must drop
    CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") < 10L)
    val afterMor = CdcPipeline.ndvStats(spark, dir, "k").get
    assert(!afterMor.fullCoverage,
      "DV'd buckets must lose their NDV entries rather than overcount")

    val row = spark.sql(s"SELECT * FROM graft_ndv('$dir', 'k')").collect()(0)
    assert(row.getAs[Long]("covered_buckets") === afterMor.coveredBuckets.toLong)
    assert(row.getAs[Long]("total_buckets") === 8L)

    // a dropped column's index goes with it
    CdcPipeline.dropColumns(spark, dir, Seq("id"), Seq("s"))
    assert(CdcPipeline.ndvStats(spark, dir, "s").isEmpty)
    assert(CdcPipeline.ndvStats(spark, dir, "k").isDefined,
      "other columns' indexes survive the drop")
  }

  test("A88 estimateJoinRows: metadata-only containment estimate lands near the actual join; unindexed side refuses") {
    val dirA = tmp(); val dirB = tmp()
    // A: keys 0..999, each exactly twice (2000 rows). B: keys 0..499,
    // once each. Actual |A ⋈ B| = 500 matched keys × 2 × 1 = 1000;
    // System R estimate = 2000·500 / max(1000, 500) = 1000.
    val a = spark.range(0, 2000).select(col("id"), (col("id") % 1000L).as("k"))
    val b = spark.range(10000, 10500).select(col("id"), (col("id") - 10000L).as("k"))
    CdcPipeline.publish(a, dirA, Seq("id"), buckets = Some(8))
    CdcPipeline.publish(b, dirB, Seq("id"), buckets = Some(4))
    CdcPipeline.buildNdvIndex(spark, dirA, Seq("k"))
    // unindexed B side → None, never a guess
    assert(CdcPipeline.estimateJoinRows(spark, dirA, dirB, "k").isEmpty)
    CdcPipeline.buildNdvIndex(spark, dirB, Seq("k"))

    val est = CdcPipeline.estimateJoinRows(spark, dirA, dirB, "k").get
    assert(est.rowsA === 2000L && est.rowsB === 500L, "footer-exact row counts")
    assert(est.fullCoverage)
    val actual = CdcPipeline.readSnapshot(spark, dirA).get.select("k")
      .join(CdcPipeline.readSnapshot(spark, dirB).get.select("k"), "k").count()
    assert(actual === 1000L)
    // within HLL tolerance of the true containment estimate
    assert(math.abs(est.estimatedRows - actual) <= actual / 10,
      s"estimate ${est.estimatedRows} vs actual $actual")
    // the decision this feeds: B is the broadcast side by row count
    assert(est.rowsB < est.rowsA)

    // the SQL surface returns the same numbers
    graft.GraftExtensions.register(spark)
    val sql = spark.sql(
      s"SELECT * FROM graft_estimate_join('$dirA', '$dirB', 'k')").collect()(0)
    assert(sql.getLong(0) === est.rowsA && sql.getLong(4) === est.estimatedRows)
  }
}
