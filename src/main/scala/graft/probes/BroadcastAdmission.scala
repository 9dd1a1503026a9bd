package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Probe.secs

/** r10 scale probes (A90 cost-based join admission) — runnable
  * standalone (`sbt 'runMain graft.Probe broadcast_admission [multiplier]'`)
  * and part of `Probe all`. Claim probed:
  *
  *  - join admission: against a 10 M-row store, the metadata
  *    decision (parquet footers only, zero Spark jobs, milliseconds)
  *    broadcasts a small dim and REFUSES to broadcast a second 10 M
  *    store — the mis-admission a rows-blind heuristic makes (a 10 M
  *    build side is a driver OOM at real widths). The admitted
  *    big⋈big plan is shuffled-hash, never sort-merge.
  */
object BroadcastAdmission {
  def run(spark: SparkSession, n: Long): Unit = {
    import graft.cdc.{CdcPipeline => P, StoreFs}

    // A90: two 10 M stores + one 10 k dim. The admission call itself
    // must be metadata-priced (no jobs); the strategy must flip with
    // the actual store sizes, not with a guess.
    {
      val big1 = java.nio.file.Files.createTempDirectory("stress-adm-a").toString
      val big2 = java.nio.file.Files.createTempDirectory("stress-adm-b").toString
      val dim = java.nio.file.Files.createTempDirectory("stress-adm-d").toString
      P.publish(spark.range(0, n).select(col("id"), (col("id") % 9973L).as("v"),
        concat(lit("payload-"), col("id")).as("pad")), big1, Seq("id"),
        buckets = Some(64))
      P.publish(spark.range(0, n).select(col("id"), (col("id") % 7919L).as("w"),
        md5(col("id").cast("string")).as("pad")), big2, Seq("id"),
        buckets = Some(64))
      P.publish(spark.range(0, 10000L).select(col("id"),
        concat(lit("dim-"), col("id")).as("name")), dim, Seq("id"),
        buckets = Some(4))

      val (admSmall, tAdmS) = secs { P.admitJoin(spark, big1, dim, "id").get }
      assert(admSmall.broadcastSide.contains("b"),
        s"10k dim must broadcast-admit: $admSmall")
      val (admBig, tAdmB) = secs { P.admitJoin(spark, big1, big2, "id").get }
      assert(admBig.broadcastSide.isEmpty,
        s"10M x 10M must refuse broadcast: $admBig")

      val dimJoin = P.readJoin(spark, big1, dim, "id").get
      val pDim = dimJoin.queryExecution.executedPlan.toString
      assert(pDim.contains("BroadcastHashJoin"), pDim)
      val (cDim, tDim) = secs { dimJoin.count() }
      assert(cDim == 10000L)

      val bigJoin = P.readJoin(spark, big1, big2, "id").get
      val pBig = bigJoin.queryExecution.executedPlan.toString
      assert(pBig.contains("ShuffledHashJoin") && !pBig.contains("SortMergeJoin")
        && !pBig.contains("BroadcastHashJoin"),
        s"big x big must be shuffled-hash, not broadcast/SMJ: $pBig")
      val (cBig, tBig) = secs { bigJoin.count() }
      assert(cBig == n)

      println(f"[stress] join admission on ${n / 1e6}%.1f M rows/64 buckets: " +
        f"admit calls $tAdmS%.3f s + $tAdmB%.3f s (metadata-only); " +
        f"10k-dim broadcast join $tDim%.1f s; " +
        f"10Mx10M shuffled-hash join $tBig%.1f s " +
        f"(bytes a=${admBig.bytesA} b=${admBig.bytesB} — broadcast refused)")
      StoreFs.deleteRecursive(big1); StoreFs.deleteRecursive(big2)
      StoreFs.deleteRecursive(dim)
    }
  }
}
