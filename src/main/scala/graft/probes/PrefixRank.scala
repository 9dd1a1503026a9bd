package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Prefix
import Probe.secs

/** r12 scale probe: `Prefix.globalRank` + `ntileFromRank` at 10 M
  * rows — the shared partition-wise prefix this round moved
  * C52/C73/C75 onto (off unpartitioned row_number/ntile windows), so
  * the probe exists to show the helper's rank survives (a) a rows
  * relation 3 orders beyond the sf0.1 board and (b) the hot-key
  * adversary: HALF the relation shares ONE sort-key value. The
  * tie-break column inside the sort (the helper's total-order
  * contract) is what splits that run of equal keys across range
  * partitions — without it, rank-by-sort would necessarily funnel the
  * 5 M-row tie into one partition.
  *
  * Truth, independent of the prefix path:
  *  - 5 sampled rows (hot-key, cold, min, max) re-derive their rank
  *    by a direct filter-count `|{(v,id) ≤ (v₀,id₀)}|`;
  *  - ranks are a permutation of 1..N (min/max/countDistinct);
  *  - N = 10 000 001 (mod 4 = 1) exercises the uneven ntile branch:
  *    group sizes from groupBy(phase) must equal the exact SQL ntile
  *    law (first N mod 4 groups carry the extra row).
  *
  * Runnable standalone: `sbt 'runMain graft.Probe prefix_rank [multiplier]'`
  * (multiplier 100 = 10 000 001 rows).
  */
object PrefixRank {
  def run(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    // even ids: ONE hot key (42); odd ids: ~1M-value cold spread
    val rows = spark.range(0, n).select(col("id"),
      expr("CASE WHEN id % 2 = 0 THEN 42L" +
        " ELSE pmod(hash(id), 1000000L) + 1000L END").as("v"))

    val ((ranked, total), tRank) = secs {
      val (df, t) = Prefix.globalRank(rows, "rn", Seq(col("v"), col("id")))
      (df.withColumn("phase",
        Prefix.ntileFromRank("rn", 4, t).cast("long")).localCheckpoint(), t)
    }
    require(total == n, s"total $total != $n")
    println(f"[stress10] globalRank+ntile over $n%,d rows (50%% one key): $tRank%.1f s")

    // permutation: ranks cover 1..N exactly
    val (mn, mx, nd) = ranked.agg(min("rn"), max("rn"), countDistinct("rn"))
      .as[(Long, Long, Long)].head()
    require(mn == 1L && mx == n && nd == n, s"rank permutation broken: $mn $mx $nd")

    // sampled direct-rank truth: hot-key members, cold keys, endpoints
    val samples = ranked.filter(col("id").isin(0L, 1L, 424242L, n - 1, n - 2))
      .select("id", "v", "rn").as[(Long, Long, Long)].collect()
    require(samples.length == 5)
    samples.foreach { case (id0, v0, rn0) =>
      val truth = rows.filter(col("v") < v0 ||
        (col("v") === v0 && col("id") <= id0)).count()
      require(truth == rn0, s"rank mismatch at id=$id0: prefix=$rn0 direct=$truth")
    }
    println(s"[stress10] 5 sampled ranks match direct filter-counts")

    // exact ntile law: N mod 4 = 1 → sizes (q+1, q, q, q)
    val sizes = ranked.groupBy("phase").count()
      .orderBy("phase").as[(Long, Long)].collect().toSeq
    val q = n / 4; val r = n % 4
    val want = (1L to 4L).map(k => (k, if (k <= r) q + 1 else q))
    require(sizes == want, s"ntile sizes $sizes != $want")
    println(s"[stress10] ntile group sizes exact: $sizes")
  }
}
