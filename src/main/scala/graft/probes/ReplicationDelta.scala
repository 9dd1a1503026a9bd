package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Probe.secs

/** r9 final-batch scale probes (A82 replication) — runnable
  * standalone (`sbt 'runMain graft.Probe replication_delta [multiplier]'`)
  * and part of `Probe all`. Claim probed:
  *
  *  - replication: after bootstrap, converging the replica to a
  *    5-key source commit is priced ∝ the DELTA — the replica commit
  *    rewrites only the keys' buckets and writes a small fraction of
  *    the bootstrap bytes; a current replica's noop poll is
  *    metadata-only (no Spark job).
  */
object ReplicationDelta {
  def run(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    import graft.cdc.{CdcEnvelope, CdcPipeline => P, CdcTableConfig, Replication, StoreFs}

    // A82: replicate a 10M-row / 64-bucket store, then converge a
    // 5-key source commit. The incremental replica commit must be
    // delta-priced: ≤ 5 rewritten buckets, bytes ≪ bootstrap.
    {
      val src = java.nio.file.Files.createTempDirectory("stress-repl-s").toString
      val dst = java.nio.file.Files.createTempDirectory("stress-repl-d").toString + "/r"
      val rows = spark.range(0, n).select(col("id"), (col("id") % 997L).as("v"))
      P.publish(rows, src, Seq("id"), buckets = Some(64))
      val (_, tBoot) = secs { Replication.replicate(spark, src, dst, Seq("id")).get }
      val bootBytes = StoreFs.treeBytes(s"$dst/v0")

      val cfg = CdcTableConfig(
        cdcTable = "t", sourcePath = "s", targetDb = "g", targetTable = "r",
        targetPath = src, pk = Seq("id"), fieldSpecs = Nil,
        passthrough = Seq("v"), numBuckets = Some(64))
      val delta = Seq.tabulate(5)(i => (i * 1000L + 1L, 7777777L, CdcEnvelope.Upsert))
        .toDF("id", "v", CdcEnvelope.OpCol)
      P.mergeAndPublish(spark, cfg, delta, P.summarize(cfg, delta)) // src v1
      val (r1, tInc) = secs { Replication.replicate(spark, src, dst, Seq("id")).get }
      val m1 = P.manifest(dst, r1.dstVersion).get
      val rewritten = P.bucketsWrittenAt(m1, s"v${r1.dstVersion}").size
      val incBytes = StoreFs.treeBytes(s"$dst/v${r1.dstVersion}")
      assert(r1.mode == "incremental" && rewritten <= 5,
        s"5-key replication must rewrite <=5 buckets, got $rewritten")
      val (r2, tNoop) = secs { Replication.replicate(spark, src, dst, Seq("id")).get }
      assert(r2.mode == "noop")
      println(f"[stress] replication on ${n / 1e6}%.1f M rows/64 buckets: " +
        f"bootstrap $tBoot%.1f s ($bootBytes b), 5-key converge $tInc%.1f s " +
        f"($rewritten/64 buckets, $incBytes b = ${incBytes * 100.0 / bootBytes}%.2f%% " +
        f"of bootstrap), noop poll $tNoop%.3f s")
      StoreFs.deleteRecursive(src); StoreFs.deleteRecursive(dst)
    }

    // A87: sparse partial merge at 10M rows — a 5-PK patch window
    // must price ∝ the touched buckets (read + rewrite ≤ 5 of 64),
    // never the table. A85: verifyChain over the resulting 3-version
    // history is metadata-only (no Spark jobs — milliseconds at any
    // data size).
    {
      import graft.cdc.{PartialMerge, TypedProjection}
      val dir = java.nio.file.Files.createTempDirectory("stress-pm").toString
      val fields = Seq(
        TypedProjection.FieldSpec("a", TypedProjection.Cast(
          org.apache.spark.sql.types.LongType)),
        TypedProjection.FieldSpec("b", TypedProjection.Cast(
          org.apache.spark.sql.types.LongType)))
      val boot = spark.range(0, n).select(col("id").as("user_id"),
        lit("u").as(CdcEnvelope.OpCol), lit(100L).as(CdcEnvelope.TsCol),
        col("id").as(CdcEnvelope.PosCol),
        concat(lit("""{"a":"""), col("id") % 1000L, lit(""","b":"""),
          col("id") % 97L, lit("}")).as(CdcEnvelope.DataCol))
      val (_, tBoot) = secs {
        PartialMerge.mergeAndPublish(spark, dir, Seq("user_id"), fields, boot,
          numBuckets = Some(64))
      }
      val patch = Seq.tabulate(5)(i =>
          (i * 1000L + 1L, "u", 200L, n + i, s"""{"a":${888000 + i}}"""))
        .toDF("user_id", CdcEnvelope.OpCol, CdcEnvelope.TsCol,
          CdcEnvelope.PosCol, CdcEnvelope.DataCol)
      val (v1, tPatch) = secs {
        PartialMerge.mergeAndPublish(spark, dir, Seq("user_id"), fields, patch)
      }
      val m0 = P.manifest(dir, 0L).get
      val m1 = P.manifest(dir, v1).get
      val rewritten = P.changedBuckets(m0, m1).size
      assert(rewritten <= 5, s"5-PK patch rewrote $rewritten buckets")
      val patchBytes = StoreFs.treeBytes(s"$dir/v$v1")
      val bootBytes = StoreFs.treeBytes(s"$dir/v0")
      PartialMerge.mergeAndPublish(spark, dir, Seq("user_id"), fields,
        patch.withColumn(CdcEnvelope.TsCol, lit(300L))
          .withColumn(CdcEnvelope.PosCol, col(CdcEnvelope.PosCol) + 10L)) // v2
      val (issues, tChain) = secs { P.verifyChain(dir) }
      assert(issues.isEmpty, issues.toString)
      println(f"[stress] partial merge on ${n / 1e6}%.1f M rows/64 buckets: " +
        f"bootstrap $tBoot%.1f s ($bootBytes b), 5-PK patch $tPatch%.1f s " +
        f"($rewritten/64 buckets, $patchBytes b = ${patchBytes * 100.0 / bootBytes}%.2f%% " +
        f"of bootstrap); verifyChain over 3 versions $tChain%.3f s")
      StoreFs.deleteRecursive(dir)
    }

    // C90/C91/C93/C98: the new per-row loader ops at 1M docs
    // (~30-word synthetic texts, every 10th doc an exact dup of its
    // neighbor). All are single-scan shapes: C90/C91/C98 are pure
    // codegen projections + a small agg, C93 adds one co-keyed hash
    // join — throughput should be scan-bound, wall-clock ∝ docs.
    {
      val docs1m = n / 10
      val docs = spark.range(0, docs1m).select(
        col("id").as("doc_id"),
        (col("id") % 20).cast("string").as("source"),
        expr("""array_join(transform(sequence(1, 30),
          |  i -> substring(md5(concat(CAST(CASE WHEN id % 10 = 9
          |    THEN id - 1 ELSE id END AS STRING), ':', CAST(i AS STRING))),
          |    1, 5)), ' ')""".stripMargin).as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .localCheckpoint()
      def gate(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val rows = df.count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[stress] $name over ${docs1m / 1e6}%.1f M docs: " +
          f"$secs%.1f s ($rows rows, ${docs1m / secs / 1e6}%.2f M docs/s)")
      }
      gate("compressibility (C91)") {
        docs.filter(length(col("text")) >= 4)
          .select(col("doc_id"),
            expr("transform(sequence(1, length(text) - 3), i -> substring(text, i, 4))")
              .as("g"))
          .select(size(col("g")).cast("long").as("n_grams"),
            size(array_distinct(col("g"))).cast("long").as("n_distinct"))
          .groupBy().sum("n_grams", "n_distinct")
      }
      gate("weighted sampling (C90)") {
        val nib = (i: Int) =>
          s"(instr('0123456789abcdef', substring(h, $i, 1)) - 1)"
        val u = s"((((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + " +
          s"${nib(4)}) * 16 + ${nib(5)}) % 1000000"
        docs.select(col("doc_id"),
          expr("1L + least(4L, n_chars DIV 100)").as("w"),
          md5(concat(lit("wsamp1:"), col("doc_id").cast("string"))).as("h"))
          .select(col("w"), expr(s"CAST($u AS BIGINT)").as("u_ppm"))
          .filter(col("u_ppm") < col("w") * lit(120000L))
          .groupBy("w").count()
      }
      gate("dedup savings (C93)") {
        val keyed = docs.select(col("doc_id"), col("source"), col("n_chars"),
          md5(col("text")).as("h"))
        val keep = keyed.groupBy("h").agg(min("doc_id").as("keep_id"))
        keyed.join(keep, "h")
          .groupBy("source")
          .agg(count(when(col("doc_id") =!= col("keep_id"), 1)).as("n_dupes"))
      }
      docs.unpersist()
    }
  }
}
