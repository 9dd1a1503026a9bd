package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc._

/** One operation as the loop sees it. */
final case class OpOut(kind: String, seconds: Double, ok: Boolean, events: Long = 0L,
    detail: String = "")

/** How an op is timed: plain wall clock, or a traced op span. */
final class Clock(val tracer: Option[Tracer]) {
  def time[T](name: String)(body: => T): (T, Double) = tracer match {
    case Some(t) =>
      val (r, s) = t.op(name)(body)
      (r, s.dur / 1000.0)
    case None =>
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
  }
}

trait Workload {
  def name: String
  /** Length of the fixed op sequence `total_s` times. */
  def fixedOps: Int
  /** Build the initial state under `dir`; input windows land under
    * `src`, shared by the repeated set-ups of one run (same seed, same
    * windows), so a set-up times the system's work, not input generation.
    */
  def setup(dir: String, src: String): Unit
  /** Untimed work on the store the last set-up built, before its ops:
    * on the warm-up store, and on the measured store before timing.
    */
  def warmup(clock: Clock): Unit
  def op(clock: Clock): OpOut
  /** (check, passed, detail) of the end-of-run output checks. */
  def check(): Seq[(String, Boolean, String)]
  /** events_per_s and write_bytes_per_event over the given ops. */
  def throughput(ops: Seq[OpOut], bytesWritten: Long): (Double, Double)
  /** Bytes the store tree holds now. */
  def storeBytes: Long
  /** Per-layer metrics from the traced ops and the untraced ops they
    * alternate with.
    */
  def layers(tracer: Tracer, traced: Seq[(OpOut, Span)], untraced: Seq[OpOut]): Map[String, Double]
  def fields: Seq[(String, Any)]
}

/** Helpers shared by the store-writing workloads: the pipeline config,
  * the landing files, and the plain-Spark truth the checks compare with.
  */
object Store {
  import TypedProjection._

  val specs: Seq[FieldSpec] = Seq(FieldSpec("amount", Cast(LongType)),
    FieldSpec("qty", Cast(IntegerType)), FieldSpec("cat", Cast(StringType)),
    FieldSpec("sku", Cast(StringType)), FieldSpec("updated_at", EpochSeconds),
    FieldSpec("active", BitToInt))

  /** The typed target columns, computed from the generator's `t_*`
    * values with Spark built-ins only.
    */
  val truthCols: Seq[Column] = Seq(col("id"), col("t_amount").as("amount"),
    col("t_qty").as("qty"), col("t_cat").as("cat"), col("t_sku").as("sku"),
    timestamp_seconds(col("t_updated_at")).as("updated_at"),
    when(col("t_active"), 1).otherwise(0).as("active"))

  def config(root: String, src: String, table: String, shape: Shape, rollup: Boolean,
      scd2: Boolean, stats: Seq[String]): CdcTableConfig =
    CdcTableConfig(cdcTable = s"${table}_cdc", sourcePath = src, targetDb = "bench",
      targetTable = table, targetPath = s"$root/target", pk = Seq("id"),
      fieldSpecs = specs, numBuckets = Some(shape.buckets),
      rollups = if (rollup) Seq(RollupSpec("by_cat", Seq("cat"), Seq("amount"),
        minCols = Seq("qty"), maxCols = Seq("qty"))) else Nil,
      scd2 = if (scd2) Some(Scd2Spec()) else None, statsCols = stats)

  def windowDir(src: String, w: Int): String = f"$src/win_$w%06d"

  /** Land window `w` unless an earlier set-up of this run already did. */
  def land(spark: SparkSession, src: String, w: Int, rows: => Seq[org.apache.spark.sql.Row]): Unit =
    if (!new File(s"${windowDir(src, w)}/_SUCCESS").isFile)
      Gen.frame(spark, rows).write.mode("overwrite").parquet(windowDir(src, w))

  /** Newest event per key over windows 0..upTo (ROW_NUMBER), live keys only. */
  def truthSnapshot(spark: SparkSession, src: String, upTo: Int): DataFrame = {
    val ev = spark.read.parquet((0 to upTo).map(windowDir(src, _)): _*)
    val byKey = Window.partitionBy("id").orderBy(col("__ts_us").desc, col("__pos").desc)
    ev.withColumn("_rn", row_number().over(byKey)).filter(col("_rn") === 1)
      .filter(col("__op") =!= "d").select(truthCols: _*)
  }

  /** Per window: (inserted, updated, deleted) as the job log should
    * count them — newest event per (window, key), then the previous
    * window's newest op for the key decides insert vs update.
    */
  def truthRunCounts(spark: SparkSession, src: String, upTo: Int): Map[Long, (Long, Long, Long)] = {
    val ev = spark.read.parquet((0 to upTo).map(windowDir(src, _)): _*)
    val inWindow = Window.partitionBy("id", "window").orderBy(col("__ts_us").desc, col("__pos").desc)
    val last = ev.withColumn("_rn", row_number().over(inWindow)).filter(col("_rn") === 1)
      .withColumn("_prev", lag(col("__op"), 1).over(Window.partitionBy("id").orderBy("window")))
    last.groupBy("window").agg(
      sum(when(col("__op") === "u" && (col("_prev").isNull || col("_prev") === "d"), 1)
        .otherwise(0)).cast(LongType).as("i"),
      sum(when(col("__op") === "u" && col("_prev") === "u", 1).otherwise(0)).cast(LongType).as("u"),
      sum(when(col("__op") === "d", 1).otherwise(0)).cast(LongType).as("d"))
      .collect().map(r => Gen.windowEndUs(r.getInt(0)) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  /** Order-independent fingerprint of a frame: row count and the sum
    * of per-row 64-bit hashes over the named columns.
    */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast(DecimalType(38, 0)))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** `actual` cast to `truth`'s column types, fingerprints compared. */
  def sameRows(actual: DataFrame, truth: DataFrame): (Boolean, String) = {
    val names = truth.schema.fieldNames.toSeq
    val a = actual.select(truth.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    val fa = fingerprint(a, names)
    val ft = fingerprint(truth, names)
    // on a mismatch, name the columns whose (key, column) pairs differ
    val bad =
      if (fa == ft) Nil
      else names.tail.filter(c => fingerprint(a, Seq(names.head, c)) != fingerprint(truth, Seq(names.head, c)))
    (fa == ft, s"rows ${fa._1} vs truth ${ft._1}" +
      (if (bad.isEmpty) "" else s"; columns differing: ${bad.mkString(",")}"))
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def parquetRows(dir: File): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) Seq(f) else Nil
    files(dir).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def rollupTruth(snap: DataFrame): DataFrame =
    snap.groupBy("cat").agg(count(lit(1)).as("n_rows"), sum("amount").as("sum_amount"),
      min("qty").as("min_qty"), max("qty").as("max_qty"))
}

/** `cdc_trickle`: a closed loop of `CdcPipeline.run`, one window per
  * op, each window landed as its own parquet directory before the op
  * starts. The config declares typed fields, a rollup, SCD2 and stats.
  */
final class CdcWorkload(val name: String, spark: SparkSession, seed: Long, shape: Shape,
    val fixedOps: Int) extends Workload {
  private var root: String = _
  private var src: String = _
  private var cfg: CdcTableConfig = _
  private var stream: Gen.Stream = _
  private var window = 0
  /** Per traced run: (buckets rewritten / buckets, rows rewritten / rows
    * changed, bytes of the new version directory).
    */
  private val storeOps = mutable.ArrayBuffer.empty[(Double, Double, Double)]

  private def logDir = s"$root/joblog"

  def setup(dir: String, src: String): Unit = {
    root = dir
    this.src = src
    cfg = Store.config(root, src, name, shape, rollup = true, scd2 = true, Seq("amount"))
    stream = new Gen.Stream(shape, seed)
    window = 0
    Store.land(spark, src, 0, Gen.bootstrap(shape, seed))
    val r = CdcPipeline.run(spark, cfg, spark.read.parquet(Store.windowDir(src, 0)), logDir,
      Gen.windowEndUs(0))
    require(r.status == "SUCCESS", s"bootstrap run: $r")
  }

  private def runNext(clock: Clock): OpOut = {
    window += 1
    val w = window
    val rows = stream.window(w)
    Store.land(spark, src, w, rows)
    val (r, secs) = clock.time(s"cdc.run w=$w") {
      CdcPipeline.run(spark, cfg, spark.read.parquet(Store.windowDir(src, w)), logDir,
        Gen.windowEndUs(w))
    }
    if (clock.tracer.nonEmpty) {
      // layout the run left behind, read from disk after the op
      val vdir = new File(s"${cfg.targetPath}/v${r.version}")
      val buckets = Option(vdir.listFiles()).toSeq.flatten.count(_.getName.startsWith("_graft_bucket="))
      val changed = math.max(1L, r.inserted + r.updated + r.deleted)
      storeOps += ((buckets.toDouble / shape.buckets,
        Store.parquetRows(vdir).toDouble / changed, Store.dirBytes(vdir).toDouble))
    }
    OpOut("run", secs, r.status == "SUCCESS", rows.size.toLong)
  }

  /** None: the warm-up store (see `Main`) already ran an incremental
    * window, untimed.
    */
  def warmup(clock: Clock): Unit = ()

  def op(clock: Clock): OpOut = runNext(clock)

  def storeBytes: Long = Store.dirBytes(new File(root))

  def throughput(ops: Seq[OpOut], bytesWritten: Long): (Double, Double) = {
    val ev = ops.map(_.events).sum.toDouble
    (ev / ops.map(_.seconds).sum, bytesWritten / ev)
  }

  def check(): Seq[(String, Boolean, String)] = {
    val snapTruth = Store.truthSnapshot(spark, src, window).cache()
    try {
      val snap = CdcPipeline.readSnapshot(spark, cfg.targetPath).get
      val (okSnap, dSnap) = Store.sameRows(snap, snapTruth)
      val counts = Store.truthRunCounts(spark, src, window)
      val logged = graft.cdc.JobLog.read(spark, logDir).get
        .filter(col("run_status") === "SUCCESS")
        .select("cdc_end_us", "records_inserted", "records_updated", "records_deleted")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val badLog = counts.filter { case (k, v) => !logged.get(k).contains(v) }
      val checks = Seq(
        ("snapshot", okSnap, dSnap),
        ("joblog_counts", badLog.isEmpty && logged.size == counts.size,
          s"${counts.size} windows, ${badLog.size} mismatched, ${logged.size} logged"))
      val (okRollup, dRollup) = Store.sameRows(CdcPipeline.readRollup(spark, cfg, "by_cat").get,
        Store.rollupTruth(snapTruth))
      val open = Scd2Store.readHistory(spark, cfg).get.filter(col("valid_to_us").isNull).count()
      val live = snapTruth.count()
      checks ++ Seq(("rollup", okRollup, dRollup),
        ("scd2_open_slices", open == live, s"open $open vs live $live"))
    } finally snapTruth.unpersist()
  }

  private def subdirs(path: String, p: String => Boolean): Int =
    Option(new File(path).listFiles()).toSeq.flatten.count(f => p(f.getName))

  def layers(tracer: Tracer, traced: Seq[(OpOut, Span)], untraced: Seq[OpOut]): Map[String, Double] = {
    val n = traced.size.toDouble
    val phaseNames = Seq("watermark" -> "watermark", "op counts" -> "op_counts",
      "window bounds" -> "window_bounds", "merge+publish" -> "merge_publish",
      "rollups" -> "rollups", "scd2 advance" -> "scd2", "job log append" -> "joblog")
    val sums = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    traced.foreach { case (_, span) =>
      tracer.phases(span).foreach { case (p, ms) =>
        val key = phaseNames.collectFirst { case (l, k) if p == l => k }.getOrElse("unlabeled")
        sums(s"cdc.phase.${key}_s") += ms / 1000.0
      }
      tracer.layers(span).labels.foreach { case (l, ms) =>
        val key =
          if (l.startsWith("store.merge: touched")) Some("touched_buckets")
          else if (l.startsWith("store.merge: matched")) Some("matched_keys")
          else if (l.startsWith("store.") && l.endsWith("bucket write")) Some("bucket_write")
          else if (l.startsWith("store.") && l.endsWith("bucket stats")) Some("bucket_stats")
          else None
        key.foreach(k => sums(s"store.${k}_s") += ms / 1000.0)
      }
    }
    val perOp = (phaseNames.map(p => s"cdc.phase.${p._2}_s") :+ "cdc.phase.unlabeled_s" :+
      "store.touched_buckets_s" :+ "store.matched_keys_s" :+ "store.bucket_write_s" :+
      "store.bucket_stats_s").map(k => k -> sums(k) / n).toMap
    val st = storeOps.toSeq
    def avg(f: ((Double, Double, Double)) => Double) = if (st.isEmpty) 0.0 else st.map(f).sum / st.size
    // late over early untraced windows, so traced and untraced ops are not mixed
    val secs = untraced.filter(_.ok).map(_.seconds)
    val third = math.max(1, secs.size / 3)
    perOp ++ Map(
      "store.buckets_rewritten_frac" -> avg(_._1),
      "store.rows_rewritten_per_changed_row" -> avg(_._2),
      "store.bytes_written_per_op" -> avg(_._3),
      "store.versions_live" -> subdirs(cfg.targetPath, _.matches("v\\d+")).toDouble,
      "scd2.closed_dirs" -> subdirs(s"${cfg.targetPath}/_scd2/closed", !_.startsWith("_")).toDouble,
      "joblog.files" -> subdirs(logDir, _.endsWith(".parquet")).toDouble,
      "cdc.run_growth" -> Stats.median(secs.takeRight(third)) / Stats.median(secs.take(third)))
  }

  def fields: Seq[(String, Any)] = Seq("shape" -> shape.json.toMap, "rollup" -> "by_cat",
    "scd2" -> true, "stats_cols" -> "amount", "windows_run" -> window)
}
