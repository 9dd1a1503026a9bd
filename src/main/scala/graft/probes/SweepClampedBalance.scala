package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Probe.secs

/** r10 scale probes (B91 sweep-line concurrency, B93 clamped balance)
  * — runnable standalone (`sbt 'runMain graft.Probe
  * sweep_clamped_balance [multiplier]'`) and part of `Probe all`.
  * Claims probed, each against a LOCAL driver-side replay of one
  * sampled key (the fold semantics are sequential per key, so
  * a scalar replay is an exact oracle):
  *
  *  - B93 clamped balance: 10 M events over 100 k parts fold in one
  *    hash agg + per-group `aggregate` — state ∝ one part's events
  *    (~100), never a global sort, never a driver collect of data.
  *  - B91 sweep-line: 10 M intervals over 100 k keys net to
  *    per-(key, day) deltas first, so the per-key window walks ≤
  *    calendar-many rows regardless of interval count (the explode-
  *    free, self-join-free shape).
  */
object SweepClampedBalance {
  def run(spark: SparkSession, n: Long): Unit = {
    val keys = math.max(1L, n / 100L) // ~100 events per key

    // B93: clamped running balance. Deterministic synthetic deltas
    // centered slightly negative so the zero clamp fires constantly.
    {
      val ev = spark.range(0, n).select(
        (col("id") % keys).as("k"),
        expr(s"id div ${keys}L").as("seq"),
        ((col("id") * 2654435761L) % 199L - 101L).as("delta"))
      val folded = ev.groupBy("k")
        .agg(sort_array(collect_list(struct(col("seq"), col("delta"))))
          .as("evs"))
        .withColumn("final_balance",
          expr("aggregate(evs, 0L, (s, e) -> greatest(0L, s + e.delta))"))
        .select(col("k"), col("final_balance"))
      val (rows, t) = secs { folded.count() }
      assert(rows == keys, s"expected $keys folded keys, got $rows")

      // exact scalar replay of one sampled key
      val probeK = keys / 3
      val got = folded.filter(col("k") === probeK).collect()(0).getLong(1)
      val want = (0L until n / keys).foldLeft(0L) { (s, seq) =>
        val id = seq * keys + probeK
        math.max(0L, s + ((id * 2654435761L) % 199L - 101L))
      }
      assert(got == want, s"clamped fold mismatch on key $probeK: $got != $want")
      println(f"[stress] B93 clamped balance: ${n / 1e6}%.1f M events / " +
        f"$keys keys folded in $t%.1f s (per-key state ~${n / keys} events; " +
        "driver replay of sampled key matches)")
    }

    // B91 sweep-line peak concurrency: intervals [start, start+len]
    // on a 2000-day axis; per-(key, day) netting bounds the window.
    {
      // seq rides the day hash with an odd multiplier (gcd(997, 2000)
      // = 1): `keys` is a multiple of 2000, so hashing `id` alone
      // would collapse every key's starts onto ONE day — degenerate
      val iv = spark.range(0, n).select(
        (col("id") % keys).as("k"),
        expr(s"(id * 48271L + (id div ${keys}L) * 997L) % 2000L").as("d0"))
        .withColumn("d1", col("d0") + 1L + (col("d0") % 30L))
      val deltas = iv.select(col("k"), explode(array(
          struct(col("d0").as("dt"), lit(1L).as("delta")),
          struct((col("d1") + 1L).as("dt"), lit(-1L).as("delta")))).as("e"))
        .select(col("k"), col("e.dt").as("dt"), col("e.delta").as("delta"))
      val daily = deltas.groupBy("k", "dt").agg(sum("delta").as("net"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("k").orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val peaks = daily
        .withColumn("running", sum(col("net")).over(w))
        .groupBy("k").agg(max(col("running")).as("peak"),
          count(lit(1)).as("n_days"))
      val (rows, t) = secs { peaks.count() }
      assert(rows == keys)
      val maxDays = peaks.agg(max("n_days")).collect()(0).getLong(0)
      assert(maxDays <= 2031L,
        s"window partition must be calendar-bounded, saw $maxDays")

      // exact scalar replay of one sampled key
      val probeK = keys / 7
      val gotPeak = peaks.filter(col("k") === probeK).collect()(0).getLong(1)
      val byDay = scala.collection.mutable.Map.empty[Long, Long]
      (0L until n / keys).foreach { seq =>
        val id = seq * keys + probeK
        val d0 = (id * 48271L + seq * 997L) % 2000L
        val d1 = d0 + 1L + (d0 % 30L)
        byDay(d0) = byDay.getOrElse(d0, 0L) + 1L
        byDay(d1 + 1L) = byDay.getOrElse(d1 + 1L, 0L) - 1L
      }
      var s = 0L; var want = Long.MinValue
      byDay.toSeq.sortBy(_._1).foreach { case (_, net) =>
        s += net; if (s > want) want = s
      }
      assert(gotPeak == want, s"peak mismatch on key $probeK: $gotPeak != $want")
      println(f"[stress] B91 sweep-line: ${n / 1e6}%.1f M intervals / " +
        f"$keys keys peaked in $t%.1f s (max window partition $maxDays days — " +
        "calendar-bounded; driver replay of sampled key matches)")
    }
  }
}
