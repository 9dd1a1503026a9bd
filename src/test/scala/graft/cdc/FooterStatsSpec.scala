package graft.cdc

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** A publish takes the per-bucket min/max of integral and string
  * stats columns from the written files' parquet footers, with no
  * Spark job, and must record exactly what the aggregation over the
  * same files records; other columns, and columns whose footers lack
  * min/max, still go through the aggregation.
  */
class FooterStatsSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft").toString

  /** Descriptions of the Spark jobs `body` started (exact). */
  private def jobsOf(body: => Unit): Seq[String] =
    ListenerDrain.jobsOf(spark.sparkContext)(body)._2
      .map(p => Option(p.getProperty("spark.job.description")).getOrElse(""))

  private val nb = 4
  // "\uD83D\uDE00" (U+1F600) sorts above U+E000 in UTF-8 binary order
  // and below it in UTF-16 order; "" is the least string
  private val strings = Seq("", "a", "\uD83D\uDE00", "\uE000", "z", "\u00E9",
    "\uD83D\uDE00x", "A")

  private lazy val data = {
    val base = spark.range(0, 240)
      .withColumn("_b", CdcPipeline.bucketExpr(Seq("id"), nb))
    base.select(
      col("id"),
      (col("id") % 100 - 50).cast("byte").as("by"),
      (col("id") % 50 - 25).cast("short").as("sh"),
      (col("id") * 7 - 500).cast("int").as("i"),
      (col("id") * 1000000007L - 3L).as("l"),
      element_at(typedLit(strings), (col("id") % strings.size + 1).cast("int")).as("s"),
      // NULL in every row of bucket 0 and in every third row elsewhere
      when(col("_b") === 0 || col("id") % 3 === 0, lit(null).cast("int"))
        .otherwise(col("id").cast("int")).as("n"),
      // longer than parquet's 4 KB limit for binary min/max
      concat(lit("x" * 5000), col("id").cast("string")).as("big"),
      (col("id") / 7.0).as("d"))
  }

  private def statsOf(dir: String): Map[Int, Map[String, (String, String)]] =
    CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get.stats

  test("footer stats equal the aggregation for byte, short, int, long, strings and NULLs, with no job") {
    val cols = Seq("by", "sh", "i", "l", "s", "n")
    val dir = tmp()
    val jobs = jobsOf(CdcPipeline.publish(data, dir, Seq("id"), buckets = Some(nb),
      statsCols = cols))
    assert(!jobs.exists(_.endsWith("bucket stats")), s"stats started jobs: $jobs")
    val stats = statsOf(dir)
    assert(stats === CdcPipeline.aggregatedStats(spark, s"$dir/v0", cols))
    assert(stats.keySet === (0 until nb).toSet)
    assert(!stats(0).contains("n"), "an all-NULL bucket has no entry")
    assert((1 until nb).forall(b => stats(b).contains("n")), "a bucket with some NULLs has one")
    assert(stats.values.exists(_("s") == (("", "\uD83D\uDE00x"))),
      "strings compare in UTF-8 binary order")

    // several files per bucket, sorted on the string column: a file of
    // U+E000 values and a later one of supplementary-plane values must
    // combine in UTF-8 order, and all-NULL files of `n` add nothing
    val v1 = CdcPipeline.optimize(spark, dir, Seq("id"), Seq("s"), maxRecordsPerFile = 5).get
    val files = (0 until nb).map(b => StoreFs.footers(s"$dir/v$v1/_graft_bucket=$b").size)
    assert(files.forall(_ >= 3), s"files per bucket: $files")
    CdcPipeline.optimize(spark, dir, Seq("id"), Seq("n"), maxRecordsPerFile = 5)
    Seq(v1, v1 + 1).foreach { v =>
      val m = CdcPipeline.manifest(dir, v).get
      assert(m.stats === CdcPipeline.aggregatedStats(spark, s"$dir/v$v", cols), s"v$v")
    }
  }

  test(">4 KB strings, doubles and a mix of both paths fall back to the aggregation") {
    val cols = Seq("i", "big", "d", "s", "n")
    val dir = tmp()
    val jobs = jobsOf(CdcPipeline.publish(data, dir, Seq("id"), buckets = Some(nb),
      statsCols = cols))
    assert(jobs.exists(_.endsWith("bucket stats")), "the leftover columns are aggregated")
    // parquet kept no min/max for the long strings, though they are not NULL
    val bigChunks = (0 until nb).flatMap(b => StoreFs.footers(s"$dir/v0/_graft_bucket=$b"))
      .flatMap(_.getBlocks.asScala).flatMap { blk =>
        blk.getColumns.asScala.filter(_.getPath.toDotString == "big")
          .map(c => (c.getStatistics, blk.getRowCount))
      }
    assert(bigChunks.nonEmpty && bigChunks.forall { case (s, rows) =>
      !s.hasNonNullValue && s.getNumNulls < rows
    })
    val stats = statsOf(dir)
    assert(stats === CdcPipeline.aggregatedStats(spark, s"$dir/v0", cols))
    assert(stats.values.forall(_.keySet.contains("big")))
    assert(stats.values.forall(_.keySet.contains("d")))
  }
}
