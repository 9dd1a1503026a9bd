package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Probe.secs

/** r9 late-batch scale probes (A78 branch WAP, C79 BFS, B62 event
  * patterns, B63 rolling MAD, C81 cross-source overlap) — runnable
  * standalone (`sbt 'runMain graft.Probe branch_bfs_patterns [multiplier]'`)
  * and part of `Probe all`. Claims probed:
  *
  *  - branch WAP: the fast-forward publish is priced ∝ the BRANCH
  *    DELTA (copied buckets), never the 10M-row table — and the
  *    published upstream never reads through the branch dir.
  *  - BFS: per-round cost ∝ frontier-adjacent edges; 3 hops over a
  *    1M-node/8M-edge graph with constant-size checkpointed state.
  *  - event patterns: segment strings + two hash aggs + one key
  *    join, all ∝ events — 10M events through the ^vc+p matcher.
  *  - rolling MAD: per-key window sort + O(w log w) per row at
  *    w=21 — 10M rows, 100k keys.
  *  - cross-source overlap: postings-shaped self-join ∝ distinct
  *    (source, gram) postings at 1M docs.
  */
object BranchBfsPatterns {
  def run(spark: SparkSession, n: Long): Unit = {
    import graft.cdc.{CdcPipeline => P, StoreFs}

    // A78: branch WAP on a 10M-row store — fork, rewrite 2 of 64
    // buckets on the branch, fast-forward. The publish must be priced
    // like the 2-bucket delta, not the bootstrap.
    {
      val dir = java.nio.file.Files.createTempDirectory("stress-wap").toString
      val br = java.nio.file.Files.createTempDirectory("stress-wap-b").toString + "/b"
      val rows = spark.range(0, n).select(col("id"), (col("id") % 997L).as("v"))
      val (_, tBoot) = secs {
        P.publish(rows, dir, Seq("id"), buckets = Some(64))
      }
      val (_, tFork) = secs { P.createBranch(dir, br, "wap").get }
      val m0 = P.manifest(br, 0).get
      val delta = P.readSnapshot(spark, br).get
        .filter(pmod(hash(col("id")), lit(64)).isin(3, 17))
        .withColumn("v", col("v") + 1000000L)
      val (_, tWrite) = secs {
        P.publishDelta(delta, br, Seq("id"), m0, Set(3, 17), batchId = -1L)
      }
      val (v1, tPub) = secs { P.publishBranch(br).get }
      println(f"[stress] branch WAP on ${n / 1e6}%.1f M rows/64 buckets: " +
        f"bootstrap $tBoot%.2f s, fork $tFork%.2f s (zero-copy), " +
        f"2-bucket branch write $tWrite%.2f s, fast-forward $tPub%.2f s")
      assert(v1 == 1L)
      assert(tPub < math.max(1.0, tBoot / 3),
        f"fast-forward must be delta-priced, not a table rewrite: $tPub%.2f vs bootstrap $tBoot%.2f")
      val files = P.readSnapshot(spark, dir).get.inputFiles
      assert(files.forall(f => !f.contains(br)),
        "published upstream must not read through the branch dir")
      StoreFs.deleteRecursive(dir); StoreFs.deleteRecursive(br)
    }

    // C79: 3-hop BFS over the same 1M-host/8-out-edge graph shape the
    // PageRank probe uses.
    {
      val hosts = n / 10
      val edges = spark.range(0, hosts)
        .withColumn("m", explode(array((1 to 8).map(lit): _*)))
        .select(concat(lit("h"), col("id")).as("src"),
          concat(lit("h"), (col("id") * col("m") + col("m")) % hosts).as("dst"))
        .filter(col("src") =!= col("dst"))
      val seeds = spark.range(0, 2).select(concat(lit("h"), col("id")).as("node"))
      val (reach, tBfs) = secs {
        graft.ops.Graphs.bfsHops(edges, seeds, maxHops = 3)
          .groupBy("dist").count().orderBy("dist")
          .collect().map(r => s"d${r.getLong(0)}:${r.getLong(1)}").mkString(" ")
      }
      println(f"[stress] bfs: ${hosts / 1e6}%.1f M hosts, ~8 edges each, 3 hops: " +
        f"$tBfs%.2f s ($reach)")
    }

    // B62: the ^vc+p matcher over 10M events, 200k users.
    {
      val ev = spark.range(0, n).select(
        (col("id") % 200000L).as("user_id"), col("id").as("event_id"),
        col("id").as("us"),
        element_at(array(Seq("v", "c", "p", "s", "e").map(lit): _*),
          (pmod(hash(col("id")), lit(5)) + 1).cast("int")).as("sym"))
      val (matches, tPat) = secs {
        graft.queries.Relational.eventPatternMatches(ev)
          .agg(sum("n_matches")).collect()(0).getLong(0)
      }
      println(f"[stress] event pattern (v c+ p) over ${n / 1e6}%.1f M events, " +
        f"200k users: $tPat%.2f s ($matches matches)")
    }

    // B63: rolling MAD over 10M rows, 100k keys, w=21.
    {
      val ev = spark.range(0, n).select(
        (col("id") % 100000L).as("user_id"), col("id").as("event_id"),
        col("id").as("us"),
        pmod(hash(col("id")), lit(10000)).cast("long").as("v_c"))
      val (flagged, tMad) = secs {
        graft.queries.Relational.rollingMadAnomalies(ev)
          .filter(col("is_anomaly")).count()
      }
      println(f"[stress] rolling MAD (w=21) over ${n / 1e6}%.1f M rows, " +
        f"100k keys: $tMad%.2f s ($flagged flagged)")
    }

    // C81: cross-source 5-gram matrix over 1M synthetic 30-token docs,
    // 20 sources sharing one generator (dense postings — worst case).
    {
      val docs = spark.range(0, n / 10).select(col("id").as("doc_id"),
        concat(lit("src"), col("id") % 20).as("source"),
        concat_ws(" ", (0 until 30).map(i =>
          concat(lit("w"), pmod(col("id") * 7 + i * 13, lit(100)))): _*).as("text"))
      val (pairs, tOv) = secs {
        graft.ops.TextAnalysis.crossSourceNgramOverlap(docs, n = 5).count()
      }
      println(f"[stress] cross-source 5-gram matrix over ${n / 10 / 1e6}%.1f M docs, " +
        f"20 sources: $tOv%.2f s ($pairs pairs)")
    }
  }
}
