package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded change-stream generator. The same seed and shape give the
  * same events, byte for byte, whatever the speed of the machine: the
  * number of windows a run consumes varies, the content of window `w`
  * does not.
  *
  * Every event carries its JSON payload (what the pipeline parses) and
  * the same values as typed `t_*` columns (what the truth reads), so
  * the output checks never re-implement the pipeline's projection.
  */
final case class Shape(
    targetKeys: Int,
    eventsPerWindow: Int,
    deleteShare: Double,
    newKeyShare: Double,
    hotShare: Double,
    hotKeys: Int,
    buckets: Int) {
  def payloadFields: Seq[String] = Gen.fields.map(_._1)
  def json: Seq[(String, Any)] = Seq(
    "target_keys" -> targetKeys, "events_per_window" -> eventsPerWindow,
    "delete_share" -> deleteShare, "new_key_share" -> newKeyShare,
    "hot_set_share" -> hotShare, "hot_set_keys" -> hotKeys,
    "payload_fields" -> payloadFields.size,
    "payload_field_names" -> payloadFields.mkString(","),
    "payload_bytes" -> Gen.payloadBytes(this), "buckets" -> buckets)
}

object Gen {
  /** Load time of window 0 (the bootstrap); window w loads one minute
    * later per step, all its events inside (start, end].
    */
  val BaseUs: Long = 1704067200000000L // 2024-01-01T00:00:00Z
  val WindowUs: Long = 60L * 1000000L
  val Cats = 40

  def windowEndUs(w: Int): Long = BaseUs + w.toLong * WindowUs

  /** (JSON field, typed truth column type) of the payload. */
  val fields: Seq[(String, DataType)] = Seq("amount" -> LongType, "qty" -> IntegerType,
    "cat" -> StringType, "sku" -> StringType, "updated_at" -> LongType, "active" -> BooleanType)

  val envelopeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("__op", StringType, nullable = false),
    StructField("__ts_us", LongType, nullable = false),
    StructField("__pos", LongType, nullable = false),
    StructField("load_ts_us", LongType, nullable = false),
    StructField("data", StringType),
    StructField("window", IntegerType, nullable = false)))

  val schema: StructType =
    StructType(envelopeSchema.fields ++ fields.map { case (n, t) => StructField(s"t_$n", t) })

  /** Typed payload values of one upsert; the JSON is rendered from them. */
  private def payload(r: SplittableRandom, ts: Long): Array[Any] = Array[Any](
    r.nextLong(1000000L), r.nextInt(500), s"c${r.nextInt(Cats)}", s"sku-${r.nextInt(1 << 20)}",
    ts / 1000000L, r.nextBoolean())

  private def render(names: Seq[String], vals: Array[Any]): String =
    names.indices.map { i =>
      val v = vals(i) match {
        case s: String => "\"" + s + "\""
        case x => x.toString
      }
      "\"" + names(i) + "\":" + v
    }.mkString("{", ",", "}")

  def payloadBytes(s: Shape): Int =
    render(s.payloadFields, payload(new SplittableRandom(0L), windowEndUs(1)))
      .getBytes("UTF-8").length

  /** Window 0: one insert per key 0 until targetKeys. */
  def bootstrap(s: Shape, seed: Long): Seq[Row] = {
    val r = new SplittableRandom(seed * 1000003L)
    val end = windowEndUs(0)
    val names = s.payloadFields
    (0 until s.targetKeys).map { k =>
      val ts = end - WindowUs + 1 + k
      val p = payload(r, ts)
      Row.fromSeq(Seq(k.toLong, "u", ts, k.toLong, end, render(names, p), 0) ++ p)
    }
  }

  /** Window w ≥ 1: a newKeyShare of events insert fresh keys; of the
    * rest, a hotShare hit the hotKeys most recently inserted keys and
    * the others are uniform over all keys so far, so a hot key gets
    * several events per window. A deleteShare of the non-new events
    * are deletes; a later upsert of a deleted key re-inserts it.
    */
  final class Stream(s: Shape, seed: Long) {
    private var nextKey: Long = s.targetKeys.toLong
    private var pos: Long = s.targetKeys.toLong

    def window(w: Int): Seq[Row] = {
      require(w >= 1)
      val r = new SplittableRandom(seed * 7919L + w)
      val end = windowEndUs(w)
      val start = end - WindowUs
      val names = s.payloadFields
      val step = (WindowUs - 2) / s.eventsPerWindow
      (0 until s.eventsPerWindow).map { i =>
        val ts = start + 1 + i * step
        val isNew = r.nextDouble() < s.newKeyShare
        val id =
          if (isNew) { nextKey += 1; nextKey - 1 }
          else if (r.nextDouble() < s.hotShare) nextKey - 1 - r.nextInt(math.min(s.hotKeys.toLong, nextKey).toInt)
          else r.nextLong(nextKey)
        val delete = !isNew && r.nextDouble() < s.deleteShare
        pos += 1
        if (delete)
          Row.fromSeq(Seq(id, "d", ts, pos, end, null, w) ++ Seq.fill(names.size)(null))
        else {
          val p = payload(r, ts)
          Row.fromSeq(Seq(id, "u", ts, pos, end, render(names, p), w) ++ p)
        }
      }
    }
  }

  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
}
