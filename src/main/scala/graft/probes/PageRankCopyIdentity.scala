package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Probe.secs

/** r9 new-op scale probes (C75 PageRank, A75 COPY INTO, C76
  * importance scoring, A76 identity allocation) — runnable standalone
  * (`sbt 'runMain graft.Probe pagerank_copy_identity [multiplier]'`)
  * for a fast loop, and part of `Probe all` so the recorded
  * 10M protocol covers them. Claims probed:
  *
  *  - PageRank: K fixed iterations = K edge-sized shuffles over a
  *    1M-node / ~8M-edge graph with |nodes|-row state — no
  *    per-iteration growth (localCheckpoint'ed lineage).
  *  - COPY INTO: an all-ingested re-copy is a ZERO-JOB no-op at any
  *    store size (the polling loop is free); fresh-file cost is the
  *    ordinary delta merge price.
  *  - importance scoring: explode ∝ corpus tokens, 1024-row profile
  *    broadcast — scan-bound at 1M docs.
  *  - identity allocation: 1M fresh ids onto a 10M store without a
  *    single-task window (the C74 two-pass path), all unique, all
  *    above the high-water.
  */
object PageRankCopyIdentity {
  def run(spark: SparkSession, n: Long): Unit = {
    import graft.cdc.{CdcPipeline => P, CopyInto, IdentityColumns, StoreFs}

    // C75: PageRank over a synthetic 1M-host graph, 8 out-edges per
    // host (multiplicative strides → cyclic, skewed in-degree).
    {
      val hosts = n / 10
      val edges = spark.range(0, hosts)
        .withColumn("m", explode(array((1 to 8).map(lit): _*)))
        .select(concat(lit("h"), col("id")).as("src"),
          concat(lit("h"), (col("id") * col("m") + col("m")) % hosts).as("dst"),
          (pmod(col("id") + col("m"), lit(5)) + 1L).as("weight"))
        .filter(col("src") =!= col("dst"))
      val (ranksum, tPr) = secs {
        graft.ops.Graphs.pageRankInt(edges, iters = 3)
          .agg(sum("rank"), count(lit(1))).collect()(0)
      }
      println(f"[stress] pagerank: ${hosts / 1e6}%.1f M hosts, ~8 edges each, 3 iters: $tPr%.2f s " +
        f"(nodes ${ranksum.getLong(1)}, mass ${ranksum.getLong(0) / 1e12}%.0f)")
      assert(ranksum.getLong(1) == hosts, "every host ranked")
      assert(tPr < 120, f"3 edge-shuffle iterations must be minutes-free at 8M edges: $tPr%.2f")
    }

    // A75: COPY INTO on a 10M-row store — fresh merge price, then the
    // zero-job re-copy.
    {
      val dir = java.nio.file.Files.createTempDirectory("graft_stress_copy").toString
      val land = java.nio.file.Files.createTempDirectory("graft_stress_land").toString
      P.publish(spark.range(0, n).select(col("id"), (col("id") % 1000L).as("v")),
        dir, Seq("id"), buckets = Some(64))
      spark.range(n, n + 100000).select(col("id"), (col("id") % 1000L).as("v"))
        .coalesce(4).write.mode("append").parquet(land)
      val (r1, tCopy) = secs(CopyInto.copyIntoDir(spark, dir, Seq("id"), land))
      println(f"[stress] copy into (100k fresh rows onto ${n / 1e6}%.1f M): $tCopy%.2f s, $r1")
      val jobs0 = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val (r2, tNoop) = secs(CopyInto.copyIntoDir(spark, dir, Seq("id"), land))
      val jobs1 = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      println(f"[stress] copy into re-offer (all ingested): $tNoop%.3f s")
      assert(r2.filesIngested == 0 && jobs1 == jobs0,
        s"re-copy must be a zero-job no-op: $r2, jobs $jobs0 -> $jobs1")
      assert(tNoop < 1.0, f"no-op copy must be driver metadata only: $tNoop%.3f")
      StoreFs.deleteRecursive(dir); StoreFs.deleteRecursive(land)
    }

    // C76: importance scoring over 1M synthetic ~21-token docs.
    {
      val docs = spark.range(0, n / 10).select(col("id").as("doc_id"),
        (when(pmod(col("id"), lit(4)) === 0, "en").otherwise("xx")).as("lang"),
        expr("array_join(transform(sequence(0, 20), i -> concat('w', (id * 7 + i * 13) % 2000)), ' ')")
          .as("text"))
      val (kept, tImp) = secs {
        graft.ops.OpsQueries.textImportanceOn(docs).filter(col("kept")).count()
      }
      println(f"[stress] importance scoring ${n / 10 / 1e6}%.1f M docs: $tImp%.2f s, kept $kept")
      assert(tImp < 120, f"importance scoring must stay scan-shaped: $tImp%.2f")
    }

    // A76: 1M fresh identity allocations onto a 10M-row store.
    {
      val dir = java.nio.file.Files.createTempDirectory("graft_stress_ident").toString
      P.publish(spark.range(0, n).select(col("id").as("k"), col("id").as("sid"),
        (col("id") % 7L).as("v")), dir, Seq("k"), buckets = Some(64))
      IdentityColumns.declare(spark, dir, "sid")
      val src = spark.range(n, n + n / 10).select(col("id").as("k"), lit(1L).as("v"))
      val ((_, nNew), tId) = secs(
        IdentityColumns.mergeWithIdentity(spark, dir, Seq("k"), src, "sid"))
      println(f"[stress] identity merge: ${n / 10 / 1e6}%.1f M fresh ids onto ${n / 1e6}%.1f M rows: $tId%.2f s")
      assert(nNew == n / 10)
      val chk = P.readSnapshot(spark, dir).get
        .agg(countDistinct("sid").as("d"), count(lit(1)).as("c"),
          max("sid").as("mx")).collect()(0)
      assert(chk.getLong(0) == chk.getLong(1), "all ids unique")
      assert(chk.getLong(2) == n - 1 + n / 10, "dense above the high-water")
      StoreFs.deleteRecursive(dir)
    }
  }
}
