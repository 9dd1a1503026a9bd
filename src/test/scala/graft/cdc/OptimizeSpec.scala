package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A40: OPTIMIZE — within-bucket clustering by a sort column. Content
  * is bit-identical, file layout changes: per-file footer ranges
  * become tight and ordered (the row-group skipping substrate),
  * manifest stats learn the clustering column, small files compact,
  * clone references localize, and subset runs carry the rest.
  */
class OptimizeSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft").toString

  /** Rows whose sort column is uncorrelated with insertion order, so
    * pre-optimize files have overlapping v ranges.
    */
  private def scrambled(n: Int) =
    spark.range(0, n).select(col("id"),
      pmod(hash(col("id"), lit(7)), lit(1000000)).as("v"))

  private def snapRows(dir: String): Set[Seq[Any]] =
    CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "v").collect().map(_.toSeq).toSet

  private def bucketFiles(dir: String, version: Long, bucket: Int): Seq[String] = {
    val b = s"$dir/v$version/${CdcPipeline.BucketCol}=$bucket"
    StoreFs.listFilePaths(b, ".parquet")
  }

  test("optimize preserves content, compacts files, and orders per-file ranges") {
    val dir = tmp()
    val df = scrambled(20000)
    // many small files per bucket: publish in 5 slices via delta merges
    CdcPipeline.publish(df.filter(col("id") < 4000), dir, Seq("id"), buckets = Some(4))
    (1 to 4).foreach { i =>
      val slice = df.filter(col("id") >= i * 4000L && col("id") < (i + 1) * 4000L)
      val m = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
      // append-only "merge": union with stored and republish everything
      CdcPipeline.publish(
        CdcPipeline.readSnapshot(spark, dir).get.unionByName(slice), dir, Seq("id"))
    }
    val before = snapRows(dir)
    val vOpt = CdcPipeline.optimize(spark, dir, Seq("id"), Seq("v"),
      maxRecordsPerFile = 1000L).get
    assert(snapRows(dir) === before, "optimize must not change content")

    // per-file v ranges within a bucket: multiple files (small cap),
    // each file's [min,max] from its own footer, non-overlapping when
    // sorted by min (clustered order) — the row-group skip substrate
    (0 until 4).foreach { b =>
      val files = bucketFiles(dir, vOpt, b)
      assert(files.size > 1, s"bucket $b should split at maxRecordsPerFile")
      val ranges = files.flatMap(f => StoreFs.footerLongRange(f, "v")).sortBy(_._1)
      assert(ranges.size === files.size, "every file must carry v footer stats")
      ranges.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) =>
          assert(hi1 <= lo2, s"bucket $b: file ranges must be disjoint after clustering")
        case _ => ()
      }
    }

    // manifest learned the clustering column: readRange prunes on v
    val m = CdcPipeline.manifest(dir, vOpt).get
    assert(m.stats.nonEmpty && m.stats.values.forall(_.contains("v")))
    val lo = 0L; val hi = 1000L
    assert(CdcPipeline.readRange(spark, dir, "v", Some(lo), Some(hi)).get
      .select("id", "v").collect().map(_.toSeq).toSet ===
      before.filter(r => { val v = r(1).asInstanceOf[Int]; v >= lo && v <= hi }))
  }

  test("optimize keeps key routing: readKeys still bucket-prunes") {
    import spark.implicits._
    val dir = tmp()
    CdcPipeline.publish(scrambled(4000), dir, Seq("id"), buckets = Some(8))
    CdcPipeline.optimize(spark, dir, Seq("id"), Seq("v"))
    val keys = Seq(42L, 999L).toDF("id")
    val got = CdcPipeline.readKeys(spark, dir, Seq("id"), keys).get
    assert(got.select("id").collect().map(_.getLong(0)).sorted === Seq(42L, 999L))
    assert(got.inputFiles.flatMap(
      _.split("/").find(_.startsWith(CdcPipeline.BucketCol + "="))).toSet.size <= 2,
      "post-optimize key lookup must still touch only the keys' buckets")
  }

  test("subset optimize rewrites only the chosen buckets and carries the rest") {
    val dir = tmp()
    CdcPipeline.publish(scrambled(4000), dir, Seq("id"), buckets = Some(8),
      statsCols = Seq("id"))
    val before = snapRows(dir)
    val v1 = CdcPipeline.optimize(spark, dir, Seq("id"), Seq("v"),
      buckets = Some(Set(0, 1))).get
    val m = CdcPipeline.manifest(dir, v1).get
    assert(m.buckets(0) === Seq(s"v$v1") && m.buckets(1) === Seq(s"v$v1"))
    (2 until 8).foreach(b => assert(m.buckets(b) === Seq("v0"), s"bucket $b must carry"))
    assert(snapRows(dir) === before)
    // carried buckets keep their id stats; rewritten ones add v
    assert(m.stats(2).contains("id") && !m.stats(2).contains("v"))
    assert(m.stats(0).contains("id") && m.stats(0).contains("v"))
  }

  test("optimizeZorder: every clustered dimension gets locality; linear sort only the first") {
    def twoDim(n: Int) = spark.range(0, n).select(col("id"),
      pmod(hash(col("id"), lit(1)), lit(65536)).cast("long").as("a"),
      pmod(hash(col("id"), lit(2)), lit(65536)).cast("long").as("b"))
    def medianSpan(dir: String, version: Long, c: String): Double = {
      val spans = (0 until 4).flatMap(b => bucketFiles(dir, version, b))
        .flatMap(f => StoreFs.footerLongRange(f, c))
        .map { case (lo, hi) => (hi - lo).toDouble / 65535.0 }.sorted
      spans(spans.size / 2)
    }
    // linear sort by a: a tight per file, b spans everything
    val lin = tmp()
    CdcPipeline.publish(twoDim(20000), lin, Seq("id"), buckets = Some(4))
    val vLin = CdcPipeline.optimize(spark, lin, Seq("id"), Seq("a"),
      maxRecordsPerFile = 300L).get
    assert(medianSpan(lin, vLin, "a") < 0.15, "linear: a must be tight")
    assert(medianSpan(lin, vLin, "b") > 0.8, "linear: b spans ~everything")
    // z-order by (a, b): BOTH dims bounded
    val zo = tmp()
    CdcPipeline.publish(twoDim(20000), zo, Seq("id"), buckets = Some(4))
    val before = CdcPipeline.readSnapshot(spark, zo).get
      .collect().map(_.toSeq).toSet
    val vZ = CdcPipeline.optimizeZorder(spark, zo, Seq("id"), Seq("a", "b"),
      maxRecordsPerFile = 300L).get
    assert(medianSpan(zo, vZ, "a") < 0.5, "zorder: a bounded")
    assert(medianSpan(zo, vZ, "b") < 0.5, "zorder: b bounded")
    assert(CdcPipeline.readSnapshot(spark, zo).get.collect().map(_.toSeq).toSet === before,
      "zorder must not change content")
    // manifest learned BOTH dims
    val m = CdcPipeline.manifest(zo, vZ).get
    assert(m.stats.values.forall(s => s.contains("a") && s.contains("b")))
  }

  test("optimize localizes a shallow clone's cross-store references") {
    val src = tmp(); val dst = tmp()
    CdcPipeline.publish(scrambled(2000), src, Seq("id"), buckets = Some(4))
    CdcPipeline.cloneSnapshot(src, dst)
    val m0 = CdcPipeline.manifest(dst, CdcPipeline.currentVersion(dst).get).get
    assert(m0.buckets.values.flatten.exists(_.contains("/")), "clone starts with absolute refs")
    val before = snapRows(dst)
    val v1 = CdcPipeline.optimize(spark, dst, Seq("id"), Seq("v")).get
    val m1 = CdcPipeline.manifest(dst, v1).get
    assert(m1.buckets.values.flatten.forall(!_.contains("/")), "all refs local after optimize")
    // the clone now survives source deletion (read the NEW version)
    assert(CdcPipeline.dropClonePin(src, dst))
    StoreFs.deleteRecursive(src)
    assert(snapRows(dst) === before)
  }
}
