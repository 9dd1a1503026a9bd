package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal operators over event streams: as-of join and
  * sessionization — the two event-pipeline primitives Spark's
  * DataFrame API lacks as built-ins, composed from windows per the
  * preference order (built-in composition before custom plans).
  *
  * Scale: both are one shuffle on the key with a per-key sort —
  * the minimal plan for order-dependent semantics (Spark's
  * WindowExec). The as-of union trick in particular avoids the
  * naive per-left-row range join (O(L·R) with a fat inequality
  * join) — the union form is O((L+R) log(L+R)) per key.
  */
object Temporal {

  /** For each left row, attach the payload of the newest right row
    * with the same key and `rightTs <= leftTs` (ASOF LEFT JOIN).
    * Implemented by interleaving both sides on (ts, isLeft) per key
    * and carrying the last non-null payload forward: right rows sort
    * before left rows at equal ts, which gives the inclusive bound.
    * Ties beyond (ts) are broken by `rightPos` so the result is
    * deterministic even with duplicate right timestamps.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String],
      rightPos: String): DataFrame = {
    val leftCols = left.columns.toSeq
    // All payload columns ride in ONE struct per right row, so the
    // last-non-null carry-forward attaches the single matched right
    // row (true ASOF semantics): a NULL payload value in the matched
    // row stays NULL instead of falling back to an older right row,
    // and multiple payload columns can't come from different rows.
    val pStructType = org.apache.spark.sql.types.StructType(payload.map(right.schema(_)))
    val lTagged = left
      .withColumn("_ts", col(leftTs)).withColumn("_is_left", lit(1))
      .withColumn("_pos", lit(Long.MaxValue))
      .select((keys ++ Seq("_ts", "_is_left", "_pos")).map(col) ++
        leftCols.filterNot(keys.contains).map(col) :+
        lit(null).cast(pStructType).as("_p"): _*)
    val rTagged = right
      .withColumn("_ts", col(rightTs)).withColumn("_is_left", lit(0))
      .withColumn("_pos", col(rightPos))
      .select((keys ++ Seq("_ts", "_is_left", "_pos")).map(col) ++
        leftCols.filterNot(keys.contains).map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as("_p"): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ts"), col("_is_left"), col("_pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = last(col("_p"), ignoreNulls = true).over(w)
    lTagged.unionByName(rTagged)
      .select((keys.map(col) ++ leftCols.filterNot(keys.contains).map(col) ++
        Seq(col("_is_left")) ++
        payload.map(c => matched.getField(c).as(c))): _*)
      .filter(col("_is_left") === 1).drop("_is_left")
  }

  /** FORWARD as-of join — the first right row at or AFTER each left
    * row's timestamp (Pandas merge_asof direction='forward'; "next
    * quote after the trade", "next click after the purchase").
    * Re-expression: NEGATE both timestamp columns and run the
    * backward [[asofJoin]] — the nearest successor under ts is the
    * nearest predecessor under −ts, so the single sort+carry-forward
    * machinery (and its equal-ts inclusion semantics) is reused
    * verbatim instead of maintained twice. Timestamps must be
    * numeric (epoch µs).
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String],
      rightPos: String): DataFrame =
    asofJoin(
      left.withColumn("_neg_lts", -col(leftTs)),
      right.withColumn("_neg_rts", -col(rightTs)),
      keys, "_neg_lts", "_neg_rts", payload, rightPos)
      .drop("_neg_lts")

  /** Keyed interval join (a streaming-SQL staple — Flink's interval
    * join, KSQL's WITHIN): left joined to right rows of the same key
    * with rightTs ∈ [leftTs − lookbackUs, leftTs].
    *
    * The join key is (key, time-bucket), not the key alone: with
    * bucket size = lookback, a matching right row lives in the left
    * row's bucket or the one before, so each left row probes exactly
    * two buckets and comparisons are bucket-local. Joining on the
    * bare key compares each left row against the key's ENTIRE right
    * history — per-key |L|·|R| products; measured 82 s → 8 s at 10 M
    * × 10 M rows (core_scale probe, r2). A right row sits in exactly one
    * bucket, so no pair dedup is needed. Assumes epoch-µs ≥ 0.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, lookbackUs: Long): DataFrame = {
    // (lts - L) div L = lts div L - 1 for positive ts, so the two
    // probe buckets are always distinct.
    val lb = left.withColumn("_ij_bucket", explode(array(
      expr(s"$leftTs div ${lookbackUs}L") - lit(1L),
      expr(s"$leftTs div ${lookbackUs}L"))))
    val rb = right.withColumn("_ij_bucket", expr(s"$rightTs div ${lookbackUs}L"))
    lb.join(rb, keys :+ "_ij_bucket")
      .filter(col(rightTs) >= col(leftTs) - lit(lookbackUs) && col(rightTs) <= col(leftTs))
      .drop("_ij_bucket")
  }

  /** KEYLESS interval-containment join via time bucketing: each right
    * interval [startCol, endCol] is exploded to the `bucketUs`-sized
    * time buckets it covers; left rows join their single bucket, then
    * the exact containment filters. Candidate pairs are bucket-local
    * — O(per-bucket products), never |L|·|R| — which is the
    * difference between a broadcast-nested-loop cross join and a
    * shuffle hash join at 100 TB. Choose bucketUs ≈ the median
    * interval length: the explosion factor is len/bucketUs + 1.
    * Assumes non-negative epoch-µs times (`div` = floor there).
    */
  def rangeJoinBucketed(left: DataFrame, leftTs: String, right: DataFrame,
      startCol: String, endCol: String, bucketUs: Long): DataFrame = {
    val lb = left.withColumn("_bucket", expr(s"$leftTs div ${bucketUs}L"))
    val rb = right.withColumn("_bucket",
      explode(sequence(expr(s"$startCol div ${bucketUs}L"), expr(s"$endCol div ${bucketUs}L"))))
    lb.join(rb, "_bucket")
      .filter(col(leftTs) >= col(startCol) && col(leftTs) <= col(endCol))
      .drop("_bucket")
  }

  /** Coverage counting WITHOUT pair materialization (r11 — B17's
    * count-aggregated shape): for each point, how many [start, end]
    * intervals cover it. The bucketed range JOIN's candidate volume
    * grows with per-bucket density² (the sf1.0 probe measured ×30
    * runtime for ×10 data on q_range_join); but a COUNT of covering
    * intervals never needs the pairs — it is the running sum of
    * boundary weights (start +1, end −1, evaluated inclusively) at
    * the probe's position in the merged (t, kind) order. Two-level
    * prefix sum: per-day-bucket sort windows (state ∝ one bucket's
    * events, sort-based, spilling) plus one calendar-bounded window
    * over per-day nets (the B91 sweep-line trick) — volume
    * ∝ N log(bucket), no candidate pairs at any density.
    *
    * Tie semantics (matches `p.ts BETWEEN s.start AND s.end`): at
    * equal t, starts sort before probes (inclusive start) and ends
    * after probes (inclusive end). Points outside every interval
    * report n_covering = 0 — filter > 0 to reproduce an inner join.
    * Assumes non-negative epoch-µs times.
    */
  def coverageCounts(points: DataFrame, idCol: String, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"coverageCounts needs a positive bucketUs")
    val ev = intervals.select(col(startCol).as("t"), lit(0).as("kind"),
        lit(1L).as("delta"), lit(null).cast("long").as("pid"))
      .unionAll(intervals.select(col(endCol).as("t"), lit(2).as("kind"),
        lit(-1L).as("delta"), lit(null).cast("long").as("pid")))
      .unionAll(points.select(col(tsCol).as("t"), lit(1).as("kind"),
        lit(0L).as("delta"), col(idCol).cast("long").as("pid")))
      .withColumn("bkt", expr(s"t div ${bucketUs}L"))
    val wIntra = Window.partitionBy("bkt").orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = ev.withColumn("run", sum(col("delta")).over(wIntra))
    // per-bucket net deltas → cumulative offset of every PRIOR bucket;
    // the single-partition window is over ~calendar-many rows, never
    // data-many (the B91 bound)
    val wBkts = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ev.groupBy("bkt").agg(sum("delta").as("net"))
      .withColumn("off", coalesce(sum(col("net")).over(wBkts), lit(0L)))
      .select("bkt", "off")
    intra.filter(col("kind") === 1)
      .join(broadcast(offsets), Seq("bkt"))
      .select(col("pid").as(idCol), (col("run") + col("off")).as("n_covering"))
  }

  /** Resample to a regular grid with forward fill (SURVEY.md §2
    * B29): per key, buckets of `stepUs` from the key's first to last
    * observation; each bucket takes the LAST observation inside it
    * (by `ordCol` — pass a (ts, tiebreak) struct for determinism),
    * and empty buckets carry the previous bucket's value forward —
    * the standard time-series densify/as-of-resample (KDB `fill`,
    * Pandas `resample().ffill()`).
    *
    * Scale shape: one hash agg per (key, bucket) with map-side
    * combine (shuffle volume = one row per OCCUPIED bucket, not per
    * observation), one |keys|-row agg exploded into the grid
    * (sequence() — grid rows ∝ span/step per key, never a cross
    * join), one co-keyed left join, one per-key window for the fill.
    * No observation-sized window state: the fill windows over the
    * GRID (bounded by span/step), not the raw events. Grid start is
    * the key's own first bucket, so the first grid row is always
    * occupied and the fill is total.
    */
  def gapFill(df: DataFrame, keys: Seq[String], tsCol: String, stepUs: Long,
      valueCol: String, ordCol: Column): DataFrame = {
    require(stepUs > 0, s"gapFill needs a positive stepUs, got $stepUs")
    // integer `div`, not `/`: long / long in Spark is DOUBLE division,
    // and at epoch-µs magnitudes the rounded quotient can floor into
    // the wrong bucket. Assumes non-negative times (div = floor there),
    // as rangeJoinBucketed.
    val bucket = expr(s"`$tsCol` div ${stepUs}L") * stepUs
    val k = keys.map(col)
    val perBucket = df
      .withColumn("_gf_bucket", bucket)
      .groupBy(k :+ col("_gf_bucket"): _*)
      .agg(max_by(col(valueCol), ordCol).as("_gf_last"))
    val grid = df
      .groupBy(k: _*)
      .agg(min(bucket).as("_gf_lo"), max(bucket).as("_gf_hi"))
      .select(k :+ explode(sequence(col("_gf_lo"), col("_gf_hi"), lit(stepUs)))
        .as("_gf_bucket"): _*)
    val w = Window.partitionBy(k: _*).orderBy(col("_gf_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(perBucket, keys :+ "_gf_bucket", "left")
      .withColumn("_gf_filled", last(col("_gf_last"), ignoreNulls = true).over(w))
      .select(k ++ Seq(col("_gf_bucket").as("bucket_ts"),
        col("_gf_filled").as(valueCol)): _*)
  }

  /** B29b (r11): regular-grid resample with LINEAR INTERPOLATION —
    * the other half of the resampling pair (B29 `gapFill` carries the
    * last observation forward; this draws the line between the
    * surrounding observations, the InfluxDB/TimescaleDB `interpolate`
    * semantics sensor/finance pipelines expect). Same grid and
    * anchor-per-bucket construction as `gapFill`; each empty bucket
    * then takes v_prev + (v_next − v_prev)·(i − i_prev) div
    * (i_next − i_prev) over BUCKET INDICES (small ints — the raw-µs
    * product would flirt with Long overflow), integer `div`
    * truncation toward zero so the export hash-matches a truncation-
    * emulating oracle. Buckets holding an observation keep the anchor
    * value exactly; the grid spans [first, last] anchor per key, so
    * every empty bucket has both neighbors (total function, no NULL
    * rows). Scale shape: one hash agg + per-key sort windows (sort-
    * based, spilling) — state never holds a key's events in one
    * buffer.
    */
  def gapInterp(df: DataFrame, keys: Seq[String], tsCol: String, stepUs: Long,
      valueCol: String, ordCol: Column): DataFrame = {
    require(stepUs > 0, s"gapInterp needs a positive stepUs, got $stepUs")
    val bucket = expr(s"`$tsCol` div ${stepUs}L") * stepUs
    val k = keys.map(col)
    val anchors = df
      .withColumn("_gi_bucket", bucket)
      .groupBy(k :+ col("_gi_bucket"): _*)
      .agg(max_by(col(valueCol), ordCol).as("_gi_anchor"))
    val grid = df
      .groupBy(k: _*)
      .agg(min(bucket).as("_gi_lo"), max(bucket).as("_gi_hi"))
      .select(k :+ explode(sequence(col("_gi_lo"), col("_gi_hi"), lit(stepUs)))
        .as("_gi_bucket"): _*)
    val wPrev = Window.partitionBy(k: _*).orderBy(col("_gi_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(k: _*).orderBy(col("_gi_bucket"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(anchors, keys :+ "_gi_bucket", "left")
      .withColumn("_gi_i", expr(s"_gi_bucket div ${stepUs}L"))
      .withColumn("_p_v", last(col("_gi_anchor"), ignoreNulls = true).over(wPrev))
      .withColumn("_p_i", last(when(col("_gi_anchor").isNotNull, col("_gi_i")),
        ignoreNulls = true).over(wPrev))
      .withColumn("_n_v", first(col("_gi_anchor"), ignoreNulls = true).over(wNext))
      .withColumn("_n_i", first(when(col("_gi_anchor").isNotNull, col("_gi_i")),
        ignoreNulls = true).over(wNext))
      .withColumn("_gi_out", when(col("_gi_anchor").isNotNull, col("_gi_anchor"))
        .otherwise(col("_p_v") +
          expr("((_n_v - _p_v) * (_gi_i - _p_i)) div (_n_i - _p_i)")))
      .select(k ++ Seq(col("_gi_bucket").as("bucket_ts"),
        col("_gi_out").as(valueCol)): _*)
  }

  /** Gap-based sessionization: a new session starts when the gap to
    * the previous event of the same key exceeds `gapUs`. Adds
    * `session_id` (0-based per key, ordered by (ts, pos)).
    */
  def sessionize(events: DataFrame, keys: Seq[String], tsCol: String,
      posCol: String, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol), col(posCol))
    events
      .withColumn("_prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("_new_session",
        when(col("_prev_ts").isNull || col(tsCol) - col("_prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("_new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
      .drop("_prev_ts", "_new_session")
  }
}
