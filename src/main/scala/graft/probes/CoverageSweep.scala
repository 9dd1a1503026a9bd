package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Temporal
import Probe.secs

/** r11 scale probe: the B17 pair-free coverage sweep
  * (`Temporal.coverageCounts`) under volume AND bucket skew. The
  * sweep's only stateful stage is a per-day-bucket sort window, so
  * the adversarial shape is a HOT DAY: here 10 M points and 1 M
  * intervals with half of each landing on ONE day — that bucket's
  * window sorts ~5.5 M rows (sort-based, spilling), while the old
  * bucketed pair join would have expanded ~5M × 500k bucket-local
  * candidate tuples (~2.5×10¹² — unrunnable). Correctness is pinned
  * by exact per-point replays: for sampled points (hot-day, cold-day,
  * boundary cases) the sweep's count must equal a direct distributed
  * filter-count over the interval table.
  *
  * Runnable standalone: `sbt 'runMain graft.Probe coverage_sweep [multiplier]'`
  * (multiplier 100 = 10 M points / 1 M intervals).
  */
object CoverageSweep {
  def run(spark: SparkSession, n: Long): Unit = {
    val dayUs = 86400000000L
    val days = 2600L
    val hotDay = 1300L
    val nIv = n / 10
    // points: even ids uniform over the calendar, odd ids ALL on the
    // hot day (sub-day offset from a hash so intra-day order is real)
    val pts = spark.range(0, n).select(col("id").as("pid"),
      when(col("id") % 2 === 0, (col("id") % days) * dayUs)
        .otherwise(lit(hotDay * dayUs) + (col("id") * 2654435761L) % dayUs)
        .as("ts"))
    // intervals: half uniform (len ≤ 7 days), half starting on the hot day
    val ivs = spark.range(0, nIv).select(
      when(col("id") % 2 === 0, (col("id") % days) * dayUs)
        .otherwise(lit(hotDay * dayUs) + (col("id") * 40503L) % dayUs)
        .as("s0"))
      .withColumn("s1", col("s0") + (col("s0") % 7L + 1L) * dayUs)

    val (cnt: Long, t: Double) = secs {
      Temporal.coverageCounts(pts, "pid", "ts", ivs, "s0", "s1", dayUs)
        .agg(sum(col("n_covering"))).collect()(0).getLong(0)
    }
    println(f"[stress7] coverage sweep over $n%d points / $nIv%d intervals " +
      f"(50%% on one day): ${t}%.1f s, total covered pairs = $cnt%d")
    assert(cnt > 0L, "degenerate probe: no coverage at all")

    // exact replays: one hot-day point, one cold-day point, and the
    // smallest/largest pids (calendar edges)
    val sweep = Temporal.coverageCounts(pts, "pid", "ts", ivs, "s0", "s1", dayUs)
    for (pid <- Seq(1L, 2L, 0L, n - 1, n / 2 + 1)) {
      val ts = pts.filter(col("pid") === pid).collect()(0).getLong(1)
      val expect = ivs.filter(col("s0") <= ts && col("s1") >= ts).count()
      val got = sweep.filter(col("pid") === pid).collect()(0).getLong(1)
      assert(got == expect, s"pid=$pid sweep=$got direct=$expect")
    }
    println(s"[stress7] 5 sampled points (hot/cold/edges) match direct " +
      "interval filter-counts exactly; OK")
  }
}
