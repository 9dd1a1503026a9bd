package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, hash, lit, sum}

/** Benchmark program: one workload, one process, one client thread.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --cores <n>
  *
  * Prints one line `GRAFTBENCH_RESULT {json}` with the end-to-end
  * metrics (untraced run) or the per-layer metrics (traced run), the
  * check outcomes and the run's context fields. `perfbench/run.py`
  * builds this program, launches it and turns that line into the
  * benchmark's result.
  */
object Main {
  /** Timed set-ups in an untraced run; a traced run reports no
    * `setup_s` and sets up once.
    */
  val Setups = 3
  /** Seconds after JVM start by which the timed phase must end. */
  val DeadlineS = 120.0

  val shape = Shape(targetKeys = 10000, eventsPerWindow = 250, deleteShare = 0.1,
    newKeyShare = 0.1, hotShare = 0.8, hotKeys = 80, buckets = 4)

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "cdc_trickle" => new CdcWorkload(name, spark, seed, shape, fixedOps = 2)
    case "store_reads" => new ReadWorkload(spark, seed, shape, versions = 1)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }

  /** Bench.scala's two calibration probes (CPU: hash+sum over range();
    * I/O: scan+decode+agg of a fixed parquet table), scaled down to fit
    * a run; min of 3 after one warm-up pass, as there. Recorded as
    * fields, never as metrics, so that drift between boxes can be
    * divided out.
    */
  def calibrate(spark: SparkSession, work: String): Map[String, Any] = {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def minOf3(pass: () => Double): Double = { pass(); (1 to 3).map(_ => pass()).min }
    val cpuRows = 2000000L
    val cpu = minOf3 { () =>
      val t0 = System.nanoTime()
      noop(spark.range(cpuRows).select(sum(hash(col("id"))).as("h")))
      (System.nanoTime() - t0) / 1e9
    }
    val ioRows = 100000L
    val ioDir = s"$work/calibration_io"
    spark.range(ioRows)
      .select(col("id"), concat(lit("payload-"), (col("id") % 9973L).cast("string")).as("s"),
        (col("id") % 1000003L).cast("double").as("v"))
      .write.mode("overwrite").parquet(ioDir)
    val io = minOf3 { () =>
      val t0 = System.nanoTime()
      noop(spark.read.parquet(ioDir).select(sum(hash(col("id"), col("s"), col("v"))).as("h")))
      (System.nanoTime() - t0) / 1e9
    }
    Map("calibration_s" -> cpu, "calibration_rows" -> cpuRows,
      "calibration_io_s" -> io, "calibration_io_rows" -> ioRows)
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = new File(arg(args, "work")).getAbsolutePath
    val cores = arg(args, "cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // wall time of each stage of this run, for sizing the run budget
    val stages = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def stage(n: String): Unit = {
      val now = System.nanoTime()
      stages(n) = (now - mark) / 1e9
      mark = now
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    stages("jvm_and_session") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w = workload(name, spark, seed)
    val failures = mutable.ArrayBuffer.empty[String]

    // One untimed set-up and op on a store of its own first. It pays the
    // JVM's and Spark's first-use cost, so the timed set-ups and ops all
    // run warm. Same seed and shape, so it lands the very input windows
    // the timed set-ups and the first op read, and none of those lands
    // any. (A second warm set-up steadied store_reads' set-up time
    // further, but its cost does not fit the run budget.)
    val warmOp = {
      val ws = workload(name, spark, seed)
      ws.setup(s"$work/warm", s"$work/src")
      ws.warmup(new Clock(None))
      try ws.op(new Clock(None)) finally deleteTree(new File(s"$work/warm"))
    }
    if (!warmOp.ok) failures += s"warm-up ${warmOp.kind}: ${warmOp.detail}"
    stage("warm_store")

    // set-up, several times; the ops run on the last one
    val setupSecs = (0 until (if (trace) 1 else Setups)).map { i =>
      val dir = s"$work/setup$i"
      val t0 = System.nanoTime()
      w.setup(dir, s"$work/src")
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 0) deleteTree(new File(s"$work/setup${i - 1}"))
      s
    }
    stage("setups")
    w.warmup(new Clock(None))
    stage("warmup")

    val untraced = new Clock(None)
    val ops = mutable.ArrayBuffer.empty[OpOut]
    val traced = mutable.ArrayBuffer.empty[(OpOut, Span)]
    // the fixed op sequence always runs in full, unless the run nears
    // the launcher's time limit; `clockOf(i)` times the i-th op
    val deadlineMs = jvmStartMs + DeadlineS * 1000
    def loop(clockOf: Int => Clock, secs: Double, minOps: Int, pairs: Boolean): Seq[OpOut] = {
      val out = mutable.ArrayBuffer.empty[OpOut]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      while ((out.size < minOps || elapsed < secs || (pairs && out.size % 2 == 1)) &&
          System.currentTimeMillis() < deadlineMs) {
        val clock = clockOf(out.size)
        val spans0 = clock.tracer.fold(0)(_.ops.size)
        val o =
          try w.op(clock)
          catch { case e: Throwable =>
            OpOut("error", 0.0, ok = false, detail = s"${e.getClass.getName}: ${e.getMessage}")
          }
        if (!o.ok) failures += s"${o.kind}: ${o.detail}"
        clock.tracer.filter(_.ops.size > spans0).foreach(t => traced += ((o, t.ops.last)))
        out += o
      }
      out.toSeq
    }

    val gc0 = Jvm.gcMs
    val bytes0 = w.storeBytes
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    if (!trace) {
      ops ++= loop(_ => untraced, seconds, w.fixedOps, pairs = false)
      val good = ops.filter(_.ok).map(_.seconds).toSeq
      val tail = Stats.tailPct(good.size)
      val (eps, bpe) = w.throughput(ops.filter(_.ok).toSeq, w.storeBytes - bytes0)
      metrics ++= Seq(
        "setup_s" -> Stats.median(setupSecs),
        "op_s.p50" -> Stats.median(good),
        "op_s.tail" -> Stats.quantile(good, tail / 100.0),
        "total_s" -> ops.take(w.fixedOps).map(_.seconds).sum,
        "events_per_s" -> eps,
        "write_bytes_per_event" -> bpe)
      extra ++= Seq("tail_percentile" -> s"p$tail", "setup_runs_s" -> setupSecs,
        "fixed_ops" -> w.fixedOps)
    } else {
      // untraced and traced ops alternate, so both kinds see the same
      // warm state, store growth and host drift
      val tracer = new Tracer(spark)
      val clock = new Clock(Some(tracer))
      Jvm.watchLiveHeap()
      ops ++= loop(i => if (i % 2 == 0) untraced else clock, seconds, 2 * w.fixedOps,
        pairs = true)
      val plain = ops.indices.filter(_ % 2 == 0).map(ops)
      val t = traced.toSeq
      val n = t.size.toDouble
      val ls = t.map { case (_, s) => (s, tracer.layers(s)) }
      val wallMs = t.map(_._2.dur).sum
      val taskMs = ls.map(_._2.taskMs).sum
      metrics ++= Seq(
        "spark.jobs_per_op" -> ls.map(_._2.jobs).sum / n,
        "spark.gap_s_per_op" -> ls.map(_._2.gapMs).sum / n / 1000,
        "spark.plan_s_per_op" -> ls.map(_._2.planMs).sum / n / 1000,
        "spark.job_s_per_op" -> ls.map(_._2.jobMs).sum / n / 1000,
        "spark.task_s_per_op" -> taskMs / n / 1000,
        "spark.core_util" -> taskMs / (wallMs * cores),
        "spark.shuffle_write_bytes_per_op" -> ls.map(_._2.shuffleWrite).sum / n,
        "spark.spill_bytes_per_op" -> ls.map(_._2.spill).sum / n)
      metrics ++= w.layers(tracer, t, plain)
      val tracedP50 = Stats.median(t.filter(_._1.ok).map(_._1.seconds))
      val plainP50 = Stats.median(plain.filter(_.ok).map(_.seconds))
      metrics ++= Seq(
        "jvm.gc_s_per_op" -> (Jvm.gcMs - gc0) / 1000.0 / ops.size,
        "jvm.peak_heap_mb" -> Jvm.peakLiveHeapMb,
        "trace.overhead_s" -> (tracedP50 - plainP50))
      val spans = new File(s"$work/spans.jsonl")
      tracer.writeSpans(spans)
      extra ++= Seq("untraced_ops" -> plain.size, "traced_ops" -> t.size,
        "traced_op_s.p50" -> tracedP50, "untraced_op_s.p50" -> plainP50,
        "spans_file" -> spans.getName)
    }
    stage("measure")
    val checks =
      try w.check()
      catch { case e: Throwable => Seq(("checks", false, s"${e.getClass.getName}: ${e.getMessage}")) }
    checks.filterNot(_._2).foreach(c => failures += s"check ${c._1}: ${c._3}")
    stage("checks")
    // probed last, on a warm JVM: the probes then time the box, not JIT warm-up
    val calibration = calibrate(spark, work)
    stage("calibration")
    val attempted = 1 + ops.size + checks.size
    val failed = Seq(warmOp).count(!_.ok) + ops.count(!_.ok) + checks.count(!_._2)
    val result = Seq(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "ops" -> ops.size, "op_seconds" -> ops.map(o => Map("kind" -> o.kind, "s" -> o.seconds)).toSeq,
      "metrics" -> metrics.toMap,
      "checks" -> checks.map(c => Map("name" -> c._1, "ok" -> c._2, "detail" -> c._3)),
      "failures" -> failures.take(20).toSeq,
      "calibration" -> calibration, "stage_s" -> stages.toSeq.toMap) ++ extra.toSeq ++ w.fields
    println("GRAFTBENCH_RESULT " + Json.obj(result))
    spark.stop()
  }
}
