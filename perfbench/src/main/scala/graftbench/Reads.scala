package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc._

/** `store_reads`: set-up builds a multi-version store through
  * `CdcPipeline.run` (so the layout is whatever the write path
  * produces) plus a bloom index, and computes every read's truth once
  * by replaying the generated events on the driver. The timed phase is
  * a seeded mix of the store's read paths; every read is checked
  * against that truth.
  */
final class ReadWorkload(spark: SparkSession, seed: Long, shape: Shape, versions: Int)
    extends Workload {
  val name = "store_reads"
  val kinds = Seq("pk_lookup", "bloom_lookup", "range", "time_travel", "change_feed",
    "scan_agg", "rollup")
  /** One block of the mix: half PK lookups, the serving path's common
    * read, and one of every other kind. A dominant kind also keeps the
    * median inside one kind's latencies instead of in the gap between
    * two kinds.
    */
  private val mix = Seq.fill(5)("pk_lookup") ++ kinds
  val fixedOps = 4 * mix.size

  private val truthSchema = StructType(Seq(
    StructField("id", LongType), StructField("amount", LongType), StructField("qty", IntegerType),
    StructField("cat", StringType), StructField("sku", StringType),
    StructField("updated_at", TimestampType), StructField("active", IntegerType)))
  private val truthCols = truthSchema.fieldNames.toSeq
  private val feedSchema = truthSchema
    .add(CdcEnvelope.OpCol, StringType).add("_commit_version", LongType)
  private val feedCols = feedSchema.fieldNames.toSeq

  private var cfg: CdcTableConfig = _
  private var live: Map[Long, Row] = Map.empty
  private var liveIds: Array[Long] = Array.empty
  private var bySku: Map[String, Seq[Long]] = Map.empty
  private var maxKey = 0L
  /** The bootstrap version, the time-travel target, and its fingerprint. */
  private var oldVersion = 0L
  private var oldTruth: (Long, BigDecimal) = _
  private var feedPairs: Seq[(Long, Long)] = Nil
  private val feedTruth = mutable.HashMap.empty[(Long, Long), (Long, BigDecimal)]
  private var rollupTruth: Iterable[Row] = Nil
  private var scanTruth: Row = _
  private var snapshotFiles = 0
  /** Per set-up: (events ingested, bytes the store build wrote). */
  private val ingest = mutable.ArrayBuffer.empty[(Long, Long)]
  private val rnd = new SplittableRandom(seed * 31L + 7L)

  /** Target row an upsert event leaves behind, from its typed `t_*` values. */
  private def targetRow(e: Row): Row = {
    def t(n: String) = e.get(e.fieldIndex(s"t_$n"))
    Row(e.getLong(0), t("amount"), t("qty"), t("cat"), t("sku"),
      new java.sql.Timestamp(e.getLong(e.fieldIndex("t_updated_at")) * 1000L),
      if (e.getBoolean(e.fieldIndex("t_active"))) 1 else 0)
  }

  private def fingerprintOf(rows: Seq[Row], schema: StructType): (Long, BigDecimal) =
    Store.fingerprint(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema),
      schema.fieldNames.toSeq)

  /** The last set-up's store versions and the events of each window. */
  private var vers: Seq[Long] = Nil
  private var landed: Seq[Seq[Row]] = Nil

  def setup(dir: String, src: String): Unit = {
    cfg = Store.config(dir, src, name, shape, rollup = true, scd2 = false, Seq("amount"))
    val logDir = s"$dir/joblog"
    val stream = new Gen.Stream(shape, seed)
    landed = (0 to versions).map(w => if (w == 0) Gen.bootstrap(shape, seed) else stream.window(w))
    vers = landed.indices.map { w =>
      Store.land(spark, src, w, landed(w))
      val r = CdcPipeline.run(spark, cfg, spark.read.parquet(Store.windowDir(src, w)), logDir,
        Gen.windowEndUs(w))
      require(r.status == "SUCCESS", s"set-up run $w: $r")
      r.version
    }
    ingest += ((landed.map(_.size.toLong).sum, Store.dirBytes(new File(dir))))
    CdcPipeline.buildBloomIndex(spark, cfg.targetPath, "sku",
      expectedPerBucket = 2L * shape.targetKeys / shape.buckets)
  }

  /** Every read's truth, once, from the last set-up: replay the generated
    * events in order (event time rises with generation order), keeping
    * the live rows after each version. Done after the set-ups, not in
    * each, because it is the checker's work, not the store's.
    */
  private def prepareTruth(): Unit = {
    val eventSchema = Gen.schema
    var state = Map.empty[Long, Row]
    val states = landed.map { rows =>
      rows.foreach { e =>
        val ev = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          e.toSeq.toArray, eventSchema)
        state =
          if (ev.getString(1) == "d") state - ev.getLong(0)
          else state.updated(ev.getLong(0), targetRow(ev))
      }
      state
    }
    maxKey = shape.targetKeys.toLong + versions * shape.eventsPerWindow
    live = state
    liveIds = live.keys.toArray.sorted
    bySku = live.values.groupBy(_.getString(4)).map { case (k, v) => k -> v.map(_.getLong(0)).toSeq }
    rollupTruth = live.values.groupBy(_.getString(3)).map { case (cat, rs) =>
      Row(cat, rs.size.toLong, rs.map(_.getLong(1)).sum, rs.map(_.getInt(2)).min,
        rs.map(_.getInt(2)).max)
    }
    scanTruth = Row(live.size.toLong, live.values.map(_.getLong(1)).sum,
      live.values.map(_.getString(3)).toSet.size.toLong,
      live.values.map(_.getAs[java.sql.Timestamp](5)).maxBy(_.getTime))
    oldVersion = vers(0)
    oldTruth = fingerprintOf(states(0).values.toSeq, truthSchema)
    def step(w: Int): Seq[Row] = {
      val (b, a) = (states(w - 1), states(w))
      def tag(r: Row, op: String) = Row.fromSeq(r.toSeq :+ op :+ vers(w))
      a.toSeq.collect {
        case (k, r) if !b.contains(k) => tag(r, "i")
        case (k, r) if b(k) != r => tag(r, "u")
      } ++ b.toSeq.collect { case (k, r) if !a.contains(k) => tag(r, "d") }
    }
    // every data version step, plus one range that ends on the index
    // build's version (a commit with no row changes)
    val bloomVersion = CdcPipeline.currentVersion(cfg.targetPath).get
    feedPairs = (1 to versions).map(w => (vers(w - 1), vers(w))) :+ ((vers(0), bloomVersion))
    feedPairs.foreach { case (from, to) =>
      val steps = (1 to versions).filter(w => vers(w) > from && vers(w) <= to)
      feedTruth((from, to)) = fingerprintOf(steps.flatMap(step), feedSchema)
    }
    snapshotFiles = CdcPipeline.readSnapshot(spark, cfg.targetPath).get.inputFiles.length
  }

  private def aggOf(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), sum("amount").as("s"), countDistinct("cat").as("c"),
      max("updated_at").as("m"))

  private def typed(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)

  private def rowsMatch(got: Array[Row], want: Iterable[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map(String.valueOf).mkString("\u0001")
    got.map(key).sorted.toSeq == want.map(key).toSeq.sorted
  }

  /** The truth, then one block of the mix, untimed, so the read paths
    * are compiled and their caches filled before the timed phase.
    */
  def warmup(clock: Clock): Unit = {
    prepareTruth()
    mix.foreach(run(_, clock))
  }

  /** Each block is a seeded shuffle of `mix`, so every seed reads the
    * same mix in a different order.
    */
  private var block: Seq[String] = Nil

  def op(clock: Clock): OpOut = {
    if (block.isEmpty) block = mix.map(k => (rnd.nextDouble(), k)).sortBy(_._1).map(_._2)
    val kind = block.head
    block = block.tail
    run(kind, clock)
  }

  private def run(kind: String, clock: Clock): OpOut = {
    val dir = cfg.targetPath
    val (ok, detail, secs) = kind match {
      case "pk_lookup" =>
        val ids = (Seq.fill(6)(liveIds(rnd.nextInt(liveIds.length))) ++
          Seq.fill(2)(rnd.nextLong(maxKey + 100))).distinct
        val keys = spark.createDataFrame(ids.map(Tuple1(_))).toDF("id")
        val (got, s) = clock.time("read.pk_lookup") {
          typed(CdcPipeline.readKeys(spark, dir, Seq("id"), keys).get, truthSchema).collect()
        }
        (rowsMatch(got, ids.flatMap(live.get)), s"${got.length} rows", s)
      case "bloom_lookup" =>
        val skus = (Seq.fill(3)(live(liveIds(rnd.nextInt(liveIds.length))).getString(4)) :+
          s"sku-absent-${rnd.nextInt(1000)}").distinct
        val (got, s) = clock.time("read.bloom_lookup") {
          typed(CdcPipeline.readPoint(spark, dir, "sku", skus).get, truthSchema).collect()
        }
        (rowsMatch(got, skus.flatMap(k => bySku.getOrElse(k, Nil)).map(live)),
          s"${got.length} rows", s)
      case "range" =>
        val lo = rnd.nextLong(990000L)
        val hi = lo + 10000L
        val (got, s) = clock.time("read.range") {
          typed(CdcPipeline.readRange(spark, dir, "amount", Some(lo), Some(hi)).get, truthSchema)
            .collect()
        }
        (rowsMatch(got, live.values.filter { r => val a = r.getLong(1); a >= lo && a <= hi }),
          s"${got.length} rows", s)
      case "time_travel" =>
        val (fp, s) = clock.time("read.time_travel") {
          Store.fingerprint(typed(CdcPipeline.readSnapshotAt(spark, dir, oldVersion).get,
            truthSchema), truthCols)
        }
        (fp == oldTruth, s"${fp._1} rows", s)
      case "change_feed" =>
        val (from, to) = feedPairs(rnd.nextInt(feedPairs.size))
        val (fp, s) = clock.time("read.change_feed") {
          Store.fingerprint(typed(CdcPipeline.readChangeFeed(spark, dir, Seq("id"), from, to).get,
            feedSchema), feedCols)
        }
        (fp == feedTruth((from, to)), s"${fp._1} changes v$from..v$to", s)
      case "scan_agg" =>
        val (got, s) = clock.time("read.scan_agg") {
          aggOf(typed(CdcPipeline.readSnapshot(spark, dir).get, truthSchema)).collect()
        }
        (rowsMatch(got, Seq(scanTruth)), got.mkString, s)
      case "rollup" =>
        val (got, s) = clock.time("read.rollup") {
          CdcPipeline.readRollup(spark, cfg, "by_cat").get
            .select(col("cat"), col("n_rows"), col("sum_amount").cast("long"),
              col("min_qty").cast("int"), col("max_qty").cast("int")).collect()
        }
        (rowsMatch(got, rollupTruth), s"${got.length} groups", s)
    }
    OpOut(kind, secs, ok, detail = detail)
  }

  def check(): Seq[(String, Boolean, String)] = Nil

  def storeBytes: Long = 0L

  /** Reads completed per second of read time, and the bytes per change
    * event the set-up's store build wrote (no read writes).
    */
  def throughput(ops: Seq[OpOut], bytesWritten: Long): (Double, Double) =
    (ops.size / ops.map(_.seconds).sum, Stats.median(ingest.map(x => x._2.toDouble / x._1).toSeq))

  def layers(tracer: Tracer, traced: Seq[(OpOut, Span)], untraced: Seq[OpOut]): Map[String, Double] = {
    val byKind = kinds.map { k =>
      val xs = untraced.filter(o => o.kind == k && o.ok).map(_.seconds)
      s"read.${k}_s" -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
    }.toMap
    // reads whose actions could not be placed are left out, not counted as 0 files
    val files = traced.map { case (o, s) => (o.kind, tracer.layers(s)) }
      .collect { case (k, l) if l.plans > 0 => k -> l.files }
    val pruning = files.filter(f => Set("pk_lookup", "bloom_lookup", "range").contains(f._1))
    byKind ++ Map(
      "read.files_per_op" -> (if (files.isEmpty) 0.0 else files.map(_._2).sum.toDouble / files.size),
      "read.files_pruned_frac" ->
        (if (pruning.isEmpty || snapshotFiles == 0) 0.0
        else 1.0 - pruning.map(_._2).sum.toDouble / (pruning.size * snapshotFiles)))
  }

  def fields: Seq[(String, Any)] = Seq("shape" -> shape.json.toMap, "versions" -> versions,
    "bloom_column" -> "sku", "stats_cols" -> "amount", "snapshot_files" -> snapshotFiles,
    "read_mix" -> mix)
}
