package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.queries.Relational
import Probe.secs

/** r11 scale probe: B101's trailing-window actives and B100's
  * Mann–Whitney U at 10 M rows, against INDEPENDENT truth jobs.
  *
  * B101's adversarial shapes, both planted: a WHALE user holding 20%
  * of all user-days spread over the whole calendar (one user's island
  * chain ≈ the calendar — the per-user sort window must stay bounded
  * by that user's DAYS, which the calendar caps), and a million
  * long-tail users with few days each (island-count volume). Truth =
  * the naive ×W coverage explode (each user-day → its 7 covered days,
  * distinct per user, counted per day) — the exact shape the operator
  * exists to avoid, affordable once here AS the truth gate, compared
  * day-by-day over the full calendar.
  *
  * B100's truth: U recomputed in the driver by a nested fold over the
  * (value → per-variant count) histogram — a different algorithm
  * (pairwise wins + half-ties) than the operator's rank2 sweep, exact
  * integer both ways.
  *
  * Runnable standalone: `sbt 'runMain graft.Probe actives_mann_whitney [multiplier]'`
  * (multiplier 100 = 10 M user-days).
  */
object ActivesMannWhitney {
  def run(spark: SparkSession, n: Long): Unit = {
    val days = 2600L
    val tailUsers = n / 10 // ~10 days per tail user
    // rows with id%5==0 → the whale (user 0), day uniform over the
    // calendar; the rest → 1M long-tail users, days clustered so both
    // merged islands (stride 3 < W) and splits (stride 13 ≥ W) occur
    val userDays = spark.range(0, n).select(
        expr(s"CASE WHEN id % 5 = 0 THEN 0L ELSE id % $tailUsers + 1L END")
          .as("user_id"),
        expr(s"""CASE WHEN id % 5 = 0 THEN (id * 2654435761L) % $days
                 ELSE (id % $tailUsers) % ${days - 200L} +
                   CASE WHEN id % 2 = 0 THEN (id div $tailUsers) % 20 * 3
                        ELSE (id div $tailUsers) % 10 * 13 END END""")
          .as("day"))
      .distinct()

    val (total: Long, t: Double) = secs {
      Relational.windowActives(userDays, 7)
        .agg(sum("actives")).collect()(0).getLong(0)
    }
    val nud = userDays.count()
    println(f"[stress8] windowActives over $nud%d distinct user-days " +
      f"(whale user holds ~20%%): ${t}%.1f s, person-days covered = $total%d")

    // truth: the naive ×7 explode the operator avoids — exact, once
    val truth = userDays
      .select(col("user_id"), explode(expr(
        "sequence(day, day + 6)")).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("actives"))
    val got = Relational.windowActives(userDays, 7)
    val mismatches = got.join(truth, Seq("day"), "full_outer")
      .filter(coalesce(got("actives"), lit(0L)) =!=
        coalesce(truth("actives"), lit(0L)))
      .count()
    assert(mismatches == 0L,
      s"windowActives disagrees with the explode truth on $mismatches days")
    println(s"[stress8] full-calendar day-by-day match vs the x7 explode truth; OK")

    // B100 at the same scale: v = per-user day count (heavy ties),
    // truth by a driver-side pairwise fold over the value histogram
    val obs = userDays.groupBy("user_id").agg(count(lit(1)).as("v"))
      .select(col("v"), expr("(user_id * 554862419L) % 1000000 < 500000").as("va"))
    val (row, tMw: Double) = secs { Relational.mannWhitney(obs).collect()(0) }
    val hist = obs.groupBy("v").agg(
        sum(when(col("va"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("va"), 1L).otherwise(0L)).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var u2 = 0L
    for ((v1, a1, _) <- hist; (v2, _, b2) <- hist) {
      if (v1 > v2) u2 += 2L * a1 * b2
      else if (v1 == v2) u2 += a1 * b2
    }
    assert(row.getAs[Long]("u2_a") == u2,
      s"mannWhitney u2_a=${row.getAs[Long]("u2_a")} != pairwise fold $u2")
    println(f"[stress8] mannWhitney over ${tailUsers + 1}%d users in ${tMw}%.1f s " +
      f"matches the pairwise histogram fold exactly (u2_a = $u2%d); OK")
  }
}
