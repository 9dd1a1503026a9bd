package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Probe.secs

/** r11 scale probe: the B93 hot-key bound. `clampedBalance` holds one
  * KEY's whole history in a single aggregation buffer; the r10 verdict
  * flagged that a pathologically hot key makes that unbounded. The
  * segmented two-level fold (`Relational.clampedBalanceSegmented`)
  * bounds state to one key's events per `segWidth` days. This probe
  * plants 10 M events with ONE key holding 99% of them (9.9 M events,
  * ~2600 distinct days) and proves:
  *
  *  - the segmented fold completes within executor memory (level-1
  *    groups are (k, 256-day window): ~975 k events max, ~40 MB of
  *    struct array — vs 9.9 M / ~400 MB for the unsegmented fold);
  *  - the result is EXACT: equal to a driver-side scalar replay of the
  *    hot key's total-ordered history, and the clamp genuinely binds
  *    (final ≠ max(0, Σδ)) so the check is non-vacuous.
  *
  * Runnable standalone: `sbt 'runMain graft.Probe hot_key_balance [multiplier]'`
  * (multiplier 100 = 10 M rows).
  */
object HotKeyBalance {
  def run(spark: SparkSession, n: Long): Unit = {
    val days = 2600L
    // key 0 takes 99 of every 100 events; the rest scatter over 97 keys
    val ev = spark.range(0, n).select(
      when(col("id") % 100 =!= 99L, 0L)
        .otherwise(lit(1L) + col("id") % 97L).as("k"),
      (col("id") % days).as("day"),
      expr(s"id div ${days}L").as("ok"),
      lit(0L).as("ln"),
      ((col("id") * 2654435761L) % 199L - 101L).as("delta"))

    val (rows, t) = secs {
      graft.queries.Relational.clampedBalanceSegmented(ev, segWidth = 256L)
        .write.mode("overwrite").format("noop").save()
    }
    val got = graft.queries.Relational.clampedBalanceSegmented(ev, 256L)
      .filter(col("k") === 0L).collect()(0)
    println(f"[stress6] segmented clamp fold over $n%d events " +
      f"(hot key = 99%%): ${t}%.1f s")

    // exact scalar replay of the hot key's total-ordered history
    var replay = Vector.newBuilder[(Long, Long, Long, Long)]
    var id = 0L
    while (id < n) {
      if (id % 100 != 99) replay +=
        ((id % days, id / days, 0L, (id * 2654435761L) % 199L - 101L))
      id += 1
    }
    val hist = replay.result().sortBy(e => (e._1, e._2, e._3, e._4))
    val expected = hist.foldLeft(0L)((s, e) => math.max(0L, s + e._4))
    val plain = math.max(0L, hist.map(_._4).sum)
    assert(got.getLong(4) == expected,
      s"hot-key final ${got.getLong(4)} != scalar replay $expected")
    assert(expected != plain,
      "probe degenerate: the clamp never bound on the hot key")
    assert(got.getLong(1) == hist.size.toLong, "hot-key event count")
    println(s"[stress6] hot-key final_balance=$expected == scalar replay; " +
      s"clamp bound (plain-sum answer would be $plain); OK")
  }
}
