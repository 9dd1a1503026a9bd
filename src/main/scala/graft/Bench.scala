package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    // Materialize EVERY column through the noop sink: a bare count()
    // lets Catalyst prune top-level projections, which under-reports
    // projection-heavy queries (langid, scrub, fingerprint) — noop
    // runs the full plan with zero write cost.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // SPARK_GRAFT_ONLY=a,b,c restricts the timed set — an iteration
    // aid for optimizing one query without paying the full sweep; the
    // official driver run leaves it unset and times everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Warm-up at the smallest SF: JVM/codegen/parquet-footer costs land
    // here, so the timed pass measures the plans, not session startup.
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name)))
        try run(fn(spark, "/root/testdata/sf0.001")) catch { case _: Throwable => () }
    }
    // Pinned calibration workload (r6 verdict #1): a fixed synthetic
    // plan — 400M rows of hash+sum, no I/O, no shuffle beyond the
    // final scalar exchange — whose cost tracks THIS machine's
    // CPU/JVM speed and can never drift with the library. The record
    // carries its time so cross-machine/cross-round drift divides
    // out of per-query comparisons (r5→r6's uniform 1.16x was
    // unattributable without it). Same min-of-3 protocol as the
    // queries.
    def calibrationPass(): Double = {
      val t0 = System.nanoTime()
      run(spark.range(400000000L)
        .select(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.hash(
            org.apache.spark.sql.functions.col("id"))).as("h")))
      (System.nanoTime() - t0) / 1e9
    }
    calibrationPass() // its own warm-up
    val calibration = (1 to 3).map(_ => calibrationPass()).min
    // Second, I/O-bound calibration probe (r10 verdict #2): the pure-CPU
    // yardstick above missed a board-wide 2.24x driver/in-repo gap in
    // r10 — whatever slowed that box was I/O or memory bandwidth, which
    // hash+sum over range() never touches. This probe writes a FIXED
    // 20M-row parquet table (same bytes every run, independent of SF),
    // then times scan+decode+agg over it. The plan cannot drift with
    // the library (self-contained literals only). Recorded as
    // "calibration_io" so a verdict can attribute cross-box drift to
    // CPU vs scan bandwidth instead of guessing. The freshly-written
    // file usually sits in page cache, so this measures parquet decode
    // + memory bandwidth — exactly the non-CPU resource the queries
    // contend on at local[32].
    val ioDir = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_bench_cal_io").getAbsolutePath
    locally {
      import org.apache.spark.sql.functions._
      spark.range(20000000L)
        .select(col("id"),
          concat(lit("payload-"), (col("id") % 9973L).cast("string")).as("s"),
          (col("id") % 1000003L).cast("double").as("v"))
        .write.mode("overwrite").parquet(ioDir)
    }
    def calibrationIoPass(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      run(spark.read.parquet(ioDir)
        .select(sum(hash(col("id"), col("s"), col("v"))).as("h")))
      (System.nanoTime() - t0) / 1e9
    }
    calibrationIoPass() // its own warm-up
    val calibrationIo = (1 to 3).map(_ => calibrationIoPass()).min
    // Three timed passes for EVERY query, keep the min, GC between
    // queries: one JVM runs all queries back-to-back, so a neighbor's
    // garbage otherwise leaks into the next timing (observed 5x
    // swings on the same plan). ONE pass count for the whole set —
    // r6's selective min-of-3 for four hand-picked queries biased
    // exactly those low relative to the min-of-2 rest (ADVICE r6);
    // the recorded "passes" field keeps future protocol changes
    // comparable. A query that throws records the sentinel -1 and is
    // listed in "failed" instead of silently skewing the total
    // (ADVICE r2).
    // SPARK_GRAFT_PASSES: pass-count override for OFF-BOARD scale
    // probes (the sf1.0 top-20 point would pay 3× its multi-minute
    // truth gates for nothing); the official driver run leaves it
    // unset and times everything min-of-3.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      System.gc()
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { run(fn(spark, sfDir)); true } catch { case _: Throwable => false }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }.toMap
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    // 3-decimal values: ms resolution is all the timing loop can
    // resolve anyway, and the shorter line keeps the full record
    // inside the driver's fixed-size stdout tail (r4's 9-decimal
    // line outgrew it and the round lost its parsed perf total).
    def f3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","calibration":${f3(calibration)},"calibration_io":${f3(calibrationIo)},"passes":$passes,"queries":$qs,"failed":$fs,"sf":"$sfDir"}"""
    // Compact fallback AFTER the full line: if the tail capture ever
    // starts mid-way through the full record again, the last complete
    // line still carries the headline total.
    val compact = s"""{"metric":"total","value":${f3(total)},"unit":"sec","calibration":${f3(calibration)},"calibration_io":${f3(calibrationIo)},"passes":$passes,"nqueries":${names.size},"failed":$fs,"sf":"$sfDir"}"""
    // stdout (forwarded verbatim via run/outputStrategy := StdoutOutput)
    // plus stderr as a belt-and-braces copy for the driver's parser.
    println(line)
    println(compact)
    System.err.println(line)
    // Durable copy of the FULL record: the driver's fixed-size stdout
    // tail truncated r7's per-query entries (first 16 lost), so the
    // complete record also lands in a committed file the judge can
    // always read (r7 verdict #4).
    // Read the PREV artifact's bytes BEFORE writing the new record —
    // pointing SPARK_GRAFT_PREV_BENCH at the default record path
    // otherwise compares the run against itself (observed r9: a
    // delta table of uniform +0.00).
    val prevBytes = sys.env.get("SPARK_GRAFT_PREV_BENCH").flatMap { prevPath =>
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(prevPath))))
      catch { case e: Throwable =>
        System.err.println(s"[bench] prev record unreadable: $e"); None }
    }
    // The record FILE is written only on explicit request: either
    // SPARK_GRAFT_RECORD=1 (committed-record refresh protocol) or an
    // explicit SPARK_GRAFT_BENCH_OUT path. Default is print-only —
    // three rounds running, scoped SPARK_GRAFT_ONLY= iteration runs
    // and the driver's own sweep clobbered the committed quiet-box
    // BENCH_LOCAL.json by side effect (r12 verdict #4); an opt-in
    // write ends that class structurally instead of by discipline.
    val recordPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (sys.env.get("SPARK_GRAFT_RECORD").contains("1"))
        Some("BENCH_LOCAL.json") else None)
    recordPath.foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] record write skipped: $e") }
    }
    // Per-query delta vs a previous bench artifact (regression catch;
    // stderr only, so the driver's one-line JSON contract holds).
    prevBytes.foreach { prev =>
      try {
        // tolerate a raw bench line OR one embedded (escaped) in a
        // driver artifact, hence the optional backslash before ":
        val pat = java.util.regex.Pattern.compile("\"([a-z0-9_]+)\\\\?\":(-?[0-9.]+)")
        val m = pat.matcher(prev)
        val prevTimes = scala.collection.mutable.Map.empty[String, Double]
        while (m.find()) prevTimes(m.group(1)) = m.group(2).toDouble
        System.err.println(f"${"query"}%-28s ${"prev"}%8s ${"now"}%8s ${"delta"}%8s")
        names.foreach { n =>
          (prevTimes.get(n), results.get(n)) match {
            case (Some(p), Some(c)) if p >= 0 && c >= 0 =>
              System.err.println(f"$n%-28s $p%8.2f $c%8.2f ${c - p}%+8.2f")
            case _ => ()
          }
        }
      } catch { case e: Throwable => System.err.println(s"[bench] delta skipped: $e") }
    }
    spark.stop()
  }
}
