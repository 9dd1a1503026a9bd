package graft

import org.apache.spark.sql.types.LongType
import graft.cdc._

/** Runnable end-to-end demo of the config-driven CDC pipeline: two
  * incremental merge runs of the events change stream into a
  * versioned parquet snapshot, with the watermark/job log in between.
  *
  *   sbt 'runMain graft.PipelineDemo /root/testdata/sf0.001 /tmp/graft_demo'
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("WARN")

    val cfg = CdcTableConfig(
      cdcTable = "events_cdc", sourcePath = s"$sfDir/events.parquet",
      targetDb = "graft", targetTable = "events_snapshot",
      targetPath = s"$outDir/snapshot", pk = Seq("user_id"),
      fieldSpecs = Seq(TypedProjection.FieldSpec("k", TypedProjection.Cast(LongType))),
      passthrough = Seq("event_id", "value"),
      // the maintained derived state: a count/sum/min/max rollup and
      // the SCD2 history, both advanced inside each run
      rollups = Seq(RollupSpec("by_k", Seq("k"), Seq("event_id"),
        minCols = Seq("value"), maxCols = Seq("value"))),
      scd2 = Some(Scd2Spec()),
      // per-bucket min/max in the manifest: readRange prunes on it
      statsCols = Seq("event_id"))
    val logDir = s"$outDir/joblog"
    val env = CdcEnvelope.fromEvents(Tables.events(spark, sfDir))

    for (now <- Seq("2024-01-16T00:00:00Z", "2024-01-31T00:00:00Z")) {
      val r = CdcPipeline.run(spark, cfg, env, logDir, CdcEnvelope.epochUs(now))
      println(s"[demo] run@$now -> $r")
    }
    val snap = CdcPipeline.readSnapshot(spark, cfg.targetPath).get
    println(s"[demo] final snapshot rows=${snap.count()} version=${CdcPipeline.currentVersion(cfg.targetPath).get}")
    snap.orderBy("user_id").show(5)
    println("[demo] maintained rollup by_k (count/sum/min/max):")
    CdcPipeline.readRollup(spark, cfg, "by_k").foreach(_.orderBy("k").show(5))
    println("[demo] SCD2 history (closed + open slices):")
    Scd2Store.readHistory(spark, cfg).foreach { h =>
      println(s"[demo] history slices=${h.count()} " +
        s"open=${h.filter(org.apache.spark.sql.functions.col("valid_to_us").isNull).count()}")
      h.orderBy("user_id", "valid_from_us").show(5)
    }
    println("[demo] stats-pruned range read (event_id middle third):")
    val b = snap.agg(org.apache.spark.sql.functions.min("event_id"),
      org.apache.spark.sql.functions.max("event_id")).collect()(0)
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    CdcPipeline.readRange(spark, cfg.targetPath, "event_id",
        Some(mn + (mx - mn) / 3), Some(mn + 2 * (mx - mn) / 3))
      .foreach { r =>
        println(s"[demo] readRange rows=${r.count()} files=${r.inputFiles.length} " +
          s"(full snapshot: ${snap.inputFiles.length} files)")
      }
    println("[demo] zero-copy clone (one manifest write, pinned against vacuum):")
    val cloneDir = s"$outDir/snapshot_clone"
    CdcPipeline.cloneSnapshot(cfg.targetPath, cloneDir)
    println(s"[demo] clone rows=${CdcPipeline.readSnapshot(spark, cloneDir).get.count()}")
    JobLog.read(spark, logDir).foreach(_.orderBy("insert_ts_us").show(truncate = false))
    spark.stop()
  }
}
