package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A54: secondary bloom-filter point-lookup index. Laws:
  *
  *  - correctness: readPoint ≡ full-scan + IN filter, for hit and
  *    miss probes, string and integral columns;
  *  - pruning: a selective probe reads a strict subset of buckets
  *    (inputFiles-asserted);
  *  - degradation: a deleted sidecar entry makes its bucket
  *    must-read — results never change;
  *  - maintenance: a delta publish drops rewritten buckets' entries
  *    (their bucket stays correct via must-read) and carries the
  *    rest; rebuild re-covers everything;
  *  - MoR interplay: rows deleted by a deletion vector never
  *    resurface through the bloom path.
  */
class BloomIndexSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private val B = 8
  // high-cardinality secondary column `tag`: unique per row, so a
  // point probe is genuinely selective
  private def fixture(n: Int) =
    spark.range(0, n).select(col("id"),
      concat(lit("tag-"), col("id") * 7919L).as("tag"),
      (col("id") * 13L).as("num"))

  private def lookup(dir: String, column: String, vs: Seq[Any]): Set[Long] =
    CdcPipeline.readPoint(spark, dir, column, vs).get
      .select("id").collect().map(_.getLong(0)).toSet

  test("readPoint equals scan+filter and prunes buckets; string and long columns") {
    val dir = tmp()
    CdcPipeline.publish(fixture(4000), dir, Seq("id"), buckets = Some(B))
    val v = CdcPipeline.buildBloomIndex(spark, dir, "tag",
      expectedPerBucket = 1000L).get
    assert(v === 1L)
    CdcPipeline.buildBloomIndex(spark, dir, "num", expectedPerBucket = 1000L).get

    // hits
    assert(lookup(dir, "tag", Seq("tag-0", "tag-7919", "tag-15838")) ===
      Set(0L, 1L, 2L))
    assert(lookup(dir, "num", Seq(13L * 777L)) === Set(777L))
    // misses (never inserted): empty, not an error
    assert(lookup(dir, "tag", Seq("tag-3")) === Set.empty)

    // pruning: the probe reads strictly fewer buckets than the store
    val full = CdcPipeline.readSnapshot(spark, dir).get.inputFiles.toSet
    val probed = CdcPipeline.readPoint(spark, dir, "tag", Seq("tag-7919")).get
      .inputFiles.toSet
    assert(probed.subsetOf(full) && probed.size < full.size,
      s"bloom probe must prune: ${probed.size} of ${full.size} files")
    // no index for a column: full honest scan, same answer
    val m = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    assert(!m.meta.contains("bloom.id"))
    assert(lookup(dir, "id", Seq(5L)) === Set(5L))
  }

  test("missing sidecar entry degrades to must-read; results unchanged") {
    val dir = tmp()
    CdcPipeline.publish(fixture(2000), dir, Seq("id"), buckets = Some(B))
    val v = CdcPipeline.buildBloomIndex(spark, dir, "tag",
      expectedPerBucket = 1000L).get
    val expected = lookup(dir, "tag", Seq("tag-0", "tag-7919"))
    // tear one bucket's entry out
    val dirEnt = s"$dir/v$v/_bloom"
    val sub = StoreFs.listDirNames(dirEnt).head
    val one = StoreFs.listFilePaths(s"$dirEnt/$sub", ".bf").head
    StoreFs.deleteFile(one)
    assert(lookup(dir, "tag", Seq("tag-0", "tag-7919")) === expected)
  }

  test("delta publish drops rewritten buckets' entries, carries the rest") {
    val dir = tmp()
    CdcPipeline.publish(fixture(4000), dir, Seq("id"), buckets = Some(B))
    CdcPipeline.buildBloomIndex(spark, dir, "tag", expectedPerBucket = 1000L).get
    // rewrite bucket 2 with CHANGED tags — the stale filter would lie
    val m = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    val v = CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m, Set(2))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("tag", concat(col("tag"), lit("-x"))))).version
    val m2 = CdcPipeline.manifest(dir, v).get
    assert(m2.meta.contains("bloom.tag"), "carried entries must survive")
    // bucket 2's entry is gone → must-read → the NEW tag is findable
    // and the OLD one is not, despite the stale-build-time filter
    val changed = CdcPipeline.readBuckets(spark, dir, m2, Set(2))
      .select("id", "tag").collect()
    val (someId, someTag) =
      (changed.head.getLong(0), changed.head.getString(1))
    assert(lookup(dir, "tag", Seq(someTag)) === Set(someId))
    assert(lookup(dir, "tag", Seq(someTag.stripSuffix("-x"))) === Set.empty)
    // rebuild re-covers every bucket: strict pruning again
    CdcPipeline.buildBloomIndex(spark, dir, "tag", expectedPerBucket = 1000L).get
    val full = CdcPipeline.readSnapshot(spark, dir).get.inputFiles.toSet
    val probed = CdcPipeline.readPoint(spark, dir, "tag", Seq(someTag)).get
      .inputFiles.toSet
    assert(probed.size < full.size)
  }

  test("incremental bloom repair scans only the degraded buckets and carries the rest byte-identically") {
    val dir = tmp()
    CdcPipeline.publish(fixture(4000), dir, Seq("id"), buckets = Some(B))
    val vFull = CdcPipeline.buildBloomIndex(spark, dir, "tag",
      expectedPerBucket = 1000L).get
    // remember the surviving buckets' sidecar bytes
    def sidecar(v: Long, b: Int): Option[Array[Byte]] = {
      val p = s"$dir/v$v/_bloom/tag/$b.bf"
      if (StoreFs.exists(p)) Some(StoreFs.readBytes(p)) else None
    }
    val before = (0 until B).map(b => b -> sidecar(vFull, b)).toMap
    // rewrite buckets 1 and 4 with changed tags (their entries drop)
    val m = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m, Set(1, 4))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("tag", concat(col("tag"), lit("-r")))))
    // repair ONLY the degraded buckets
    val vRep = CdcPipeline.buildBloomIndex(spark, dir, "tag",
      expectedPerBucket = 1000L, buckets = Some(Set(1, 4))).get
    // carried buckets byte-identical to the original build; repaired
    // buckets have fresh (present) sidecars
    (0 until B).foreach { b =>
      if (b == 1 || b == 4) assert(sidecar(vRep, b).isDefined, s"bucket $b must be rebuilt")
      else assert(sidecar(vRep, b).map(_.toSeq) === before(b).map(_.toSeq),
        s"bucket $b must carry, not rebuild")
    }
    // and the repaired index answers correctly: a changed tag is
    // findable with pruning, its pre-change form is gone
    val row = CdcPipeline.readBuckets(spark, dir,
      CdcPipeline.manifest(dir, vRep).get, Set(1)).select("id", "tag").head()
    assert(lookup(dir, "tag", Seq(row.getString(1))) === Set(row.getLong(0)))
    assert(lookup(dir, "tag", Seq(row.getString(1).stripSuffix("-r"))) === Set.empty)
    val full = CdcPipeline.readSnapshot(spark, dir).get.inputFiles.toSet
    val probed = CdcPipeline.readPoint(spark, dir, "tag", Seq(row.getString(1))).get
      .inputFiles.toSet
    assert(probed.size < full.size, "repair must restore pruning")
  }

  test("maintain auto-rebuilds a degraded bloom index; healthy and idle passes are no-ops") {
    val dir = tmp()
    CdcPipeline.publish(fixture(4000), dir, Seq("id"), buckets = Some(B))
    CdcPipeline.buildBloomIndex(spark, dir, "tag", expectedPerBucket = 1000L).get
    // isolate the bloom step: no fold/compaction/vacuum interference
    val policy = CdcPipeline.MaintenancePolicy(dvFoldPct = None,
      smallFilesPerBucket = None, keepVersions = None,
      bloomRebuildPct = Some(30), bloomExpectedPerBucket = 1000L)

    // healthy index: below-threshold degradation (1/8 buckets) must NOT fire
    val m0 = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m0, Set(0))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("tag", concat(col("tag"), lit("-y")))))
    val rHealthy = CdcPipeline.maintain(spark, dir, Seq("id"), policy).get
    assert(rHealthy.bloomRebuilt.isEmpty,
      s"12.5% missing must stay under the 30% trigger: $rHealthy")

    // nightly-merge degradation: rewrite 3 more buckets (4/8 = 50% missing)
    val m1 = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m1, Set(1, 2, 3))(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("tag", concat(col("tag"), lit("-z")))))
    val r = CdcPipeline.maintain(spark, dir, Seq("id"), policy).get
    assert(r.bloomRebuilt === Seq("tag"), s"50% missing must rebuild: $r")
    // pruning restored: a selective probe reads a strict file subset,
    // and rewritten-bucket content resolves through the FRESH filters
    val mNow = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    val zRow = CdcPipeline.readBuckets(spark, dir, mNow, Set(1))
      .select("id", "tag").head()
    val full = CdcPipeline.readSnapshot(spark, dir).get.inputFiles.toSet
    val probed = CdcPipeline.readPoint(spark, dir, "tag",
      Seq(zRow.getString(1))).get.inputFiles.toSet
    assert(probed.subsetOf(full) && probed.size < full.size,
      s"rebuild must restore pruning: ${probed.size} of ${full.size}")
    assert(lookup(dir, "tag", Seq(zRow.getString(1))) === Set(zRow.getLong(0)))

    // idle: nothing degraded → metadata-only no-op, version unchanged
    val vIdle = CdcPipeline.currentVersion(dir).get
    val r2 = CdcPipeline.maintain(spark, dir, Seq("id"), policy).get
    assert(r2.bloomRebuilt.isEmpty)
    assert(CdcPipeline.currentVersion(dir).get === vIdle)

    // full rewrite (every bucket): the meta key must SURVIVE as a
    // declaration (r8 verdict #2 — the degradation used to become
    // permanent and invisible here) and maintain must still rebuild
    val m2 = CdcPipeline.manifest(dir, vIdle).get
    CdcPipeline.rewriteBuckets(spark, dir, Seq("id"), m2, m2.buckets.keySet)(s =>
      CdcPipeline.KeyedDelta.Content(s.withColumn("tag", concat(col("tag"), lit("-w")))))
    val mAfter = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    assert(mAfter.meta.contains("bloom.tag"),
      "a 100%-rewrite publish must keep the index declaration")
    val r3 = CdcPipeline.maintain(spark, dir, Seq("id"), policy).get
    assert(r3.bloomRebuilt === Seq("tag"))
    val wRow = CdcPipeline.readSnapshot(spark, dir).get
      .select("id", "tag").head()
    val full3 = CdcPipeline.readSnapshot(spark, dir).get.inputFiles.toSet
    val probed3 = CdcPipeline.readPoint(spark, dir, "tag",
      Seq(wRow.getString(1))).get.inputFiles.toSet
    assert(probed3.size < full3.size, "pruning must recover after full rewrite")
    assert(lookup(dir, "tag", Seq(wRow.getString(1))) === Set(wRow.getLong(0)))
  }

  test("deletion-vector rows never resurface through the bloom path") {
    val dir = tmp()
    CdcPipeline.publish(fixture(2000), dir, Seq("id"), buckets = Some(B))
    CdcPipeline.buildBloomIndex(spark, dir, "tag", expectedPerBucket = 1000L).get
    CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") < 100).get
    // the filter still "contains" tag-0 (blooms are supersets) but
    // the DV anti-join on the read removes the row
    assert(lookup(dir, "tag", Seq("tag-0")) === Set.empty)
    assert(lookup(dir, "tag", Seq("tag-" + 7919L * 150L)) === Set(150L))
    val m = CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get
    assert(m.meta.contains("bloom.tag"), "MoR delete must carry the index")
  }
}
