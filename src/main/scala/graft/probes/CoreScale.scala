package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cdc._
import Probe.secs

/** Compaction/merge throughput at volumes beyond the test parquet —
  * events are synthesized in-flight (explode of the sf0.1 table, no
  * testdata writes) to validate the §5 scale claims on this machine:
  *
  *  - uniform keys: shuffle volume ≈ |distinct keys|, so compaction
  *    throughput should be scan-bound;
  *  - one hot key (50% of all events): map-side partial combine must
  *    absorb the skew (a sort- or window-based compaction would put
  *    half the data in one task).
  *
  *   sbt 'runMain graft.Probe core_scale [multiplier]'
  */
object CoreScale {
  def run(spark: SparkSession, mult: Int): Unit = {
    // 100k base events × mult, replica i shifts key space and position.
    val base = Tables.events(spark, "/root/testdata/sf0.1")
    val env0 = CdcEnvelope.fromEvents(base)
    val big = env0
      .withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
      .withColumn("user_id", col("user_id") + col("rep") * 1000L)
      .withColumn(CdcEnvelope.PosCol, col(CdcEnvelope.PosCol) * mult + col("rep"))
      .drop("rep")
    val n = big.count()

    def time[T](what: String)(f: => T): T = {
      val (r, t) = secs(f)
      println(f"[stress] $what: $t%.2f s  (${n / 1e6}%.1f M rows)")
      r
    }

    // warm-up
    big.limit(1000).groupBy("user_id").count().count()

    time("uniform-key compaction") {
      ChangeCompaction.compactForMerge(big, Seq("user_id")).count()
    }

    // skew: half of all events on one key
    val skewed = big.withColumn("user_id",
      when(pmod(col(CdcEnvelope.PosCol), lit(2)) === 0, lit(0L)).otherwise(col("user_id")))
    time("hot-key (50% on one key) compaction") {
      ChangeCompaction.compactForMerge(skewed, Seq("user_id")).count()
    }

    val target = ChangeCompaction.compactForMerge(
      big.filter(col(CdcEnvelope.TsCol) % 2 === 0), Seq("user_id"))
      .filter(col(CdcEnvelope.OpCol) =!= CdcEnvelope.Delete)
    val changes = ChangeCompaction.compactForMerge(
      big.filter(col(CdcEnvelope.TsCol) % 2 === 1), Seq("user_id"))
    time("snapshot merge (anti-join + union)") {
      SnapshotMerge.merge(target, changes, Seq("user_id")).count()
    }
    time("snapshot merge (large-delta shuffled-hash path)") {
      SnapshotMerge.merge(target, changes, Seq("user_id"), Some(n / 2)).count()
    }

    // New-operator scale probes (r2): all shapes that must stay
    // shuffle-local at 100 TB.
    time("interval join (keyed lookback, 10M left x 10M right, bucketed)") {
      val l = big.select(col("user_id"), col(CdcEnvelope.TsCol).as("l_ts"))
      val r = big.select(col("user_id"), col(CdcEnvelope.TsCol).as("r_ts"))
      graft.ops.Temporal.intervalJoin(l, r, Seq("user_id"), "l_ts", "r_ts", 60000000L)
        .groupBy("user_id").count().count()
    }
    time("sequence packing (windowed prefix sum per shard)") {
      graft.ops.Packing.packSequences(
        big.select(col(CdcEnvelope.PosCol).as("doc_id"),
          (pmod(col(CdcEnvelope.PosCol), lit(400L)) + 1).as("len")),
        col("len"), 2048L, 256)
        .agg(max(col("seq_in_shard"))).count()
    }
    time("split assign (mod-prime bucketing)") {
      graft.ops.Packing.splitAssign(
        big.select(col(CdcEnvelope.PosCol).as("doc_id")), col("doc_id"))
        .groupBy("split").count().count()
    }

    // Incremental publish: write I/O must scale with the DELTA, not
    // the target (r3 bucketed manifest layout). A small-key delta
    // onto a full target should write a few buckets' worth of bytes.
    locally {
      def dirBytes(d: java.io.File): Long =
        Option(d.listFiles()).toSeq.flatten
          .map(f => if (f.isDirectory) dirBytes(f) else f.length()).sum
      val tdir = java.nio.file.Files.createTempDirectory("graft-stress-tgt").toString
      val cfg = CdcTableConfig("stress_cdc", "mem", "graft", "t", tdir,
        pk = Seq("user_id"), fieldSpecs = Nil,
        passthrough = Seq("event_id", "value"), numBuckets = Some(64))
      val initial = ChangeCompaction.compactForMerge(big, Seq("user_id"))
      val initialSummary = CdcPipeline.summarize(cfg, initial)
      val v0 = time("bucketed publish: initial full build") {
        CdcPipeline.mergeAndPublish(spark, cfg, initial, initialSummary, -1L).version
      }
      // a handful of keys — the typical micro-batch regime; ≤ 5 of
      // the 64 buckets get rewritten, the rest carry by reference
      val delta = ChangeCompaction.compactForMerge(
        big.filter(col("user_id") < 5), Seq("user_id"))
      val dSummary = CdcPipeline.summarize(cfg, delta)
      val v1 = time(s"bucketed publish: ${dSummary.rows}-key delta onto the full target") {
        CdcPipeline.mergeAndPublish(spark, cfg, delta, dSummary, -1L).version
      }
      val b0 = dirBytes(new java.io.File(s"$tdir/v$v0"))
      val b1 = dirBytes(new java.io.File(s"$tdir/v$v1"))
      println(f"[stress] publish bytes: full v$v0 ${b0 / 1e6}%.1f MB, delta v$v1 ${b1 / 1e6}%.1f MB (${100.0 * b1 / b0}%.1f%%)")

      // r4: change feed — reads only the buckets the delta touched.
      val (mf, mt) = (CdcPipeline.manifest(tdir, v0).get, CdcPipeline.manifest(tdir, v1).get)
      val touched = CdcPipeline.changedBuckets(mf, mt)
      time(s"snapshotDiff v$v0->v$v1 (${touched.size}/${mf.numBuckets} buckets read)") {
        CdcPipeline.snapshotDiff(spark, tdir, v0, v1, Seq("user_id")).get.count()
      }

      // r5: point lookup — key-hash bucket pruning vs the full scan
      locally {
        import spark.implicits._
        val keys = Seq(1L, 2L, 3L).toDF("user_id")
        val looked = CdcPipeline.readKeys(spark, tdir, Seq("user_id"), keys).get
        time(s"point lookup: 3 keys, ${looked.inputFiles.length} files scanned (bucket-pruned)") {
          looked.count()
        }
        val full = CdcPipeline.readSnapshot(spark, tdir).get
        time(s"point lookup: full-scan filter, ${full.inputFiles.length} files (the avoided cost)") {
          full.filter(col("user_id").isin(1L, 2L, 3L)).count()
        }
      }
    }

    // r4: incremental aggregate maintenance on a 10M-KEY bucketed
    // target (pk = position, every event its own row): a micro-batch
    // delta advances the rollup reading only its own buckets (retired
    // rows can't hash anywhere else), while the avoided recompute
    // must rescan and re-aggregate the whole fact table. This is the
    // claim "update cost ∝ delta + state, never the fact table" in
    // numbers.
    locally {
      val tdir = java.nio.file.Files.createTempDirectory("graft-stress-ivm").toString
      val cfg = CdcTableConfig("stress_ivm", "mem", "graft", "t", tdir,
        pk = Seq("pk"), fieldSpecs = Nil,
        passthrough = Seq("user_id", "value"), numBuckets = Some(64))
      val facts = big.withColumn("pk", col(CdcEnvelope.PosCol))
      val compacted = ChangeCompaction.compactForMerge(facts, Seq("pk"))
      val compactedSummary = CdcPipeline.summarize(cfg, compacted)
      time("ivm: 10M-key bucketed target build (one-time)") {
        CdcPipeline.mergeAndPublish(spark, cfg, compacted, compactedSummary, -1L)
      }
      def withGrp(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("grp", pmod(col("user_id"), lit(1024L)))
      val m = CdcPipeline.currentManifest(tdir).get
      val state0 = IncrementalAgg.fromSnapshot(
        withGrp(CdcPipeline.readSnapshot(spark, tdir).get), Seq("grp"), "value")
        .localCheckpoint(true)
      // micro-batch-sized delta, checkpointed so the timing below
      // measures the update, not the synthetic delta's lineage
      val delta = ChangeCompaction.compactForMerge(
        facts.filter(col("pk") < 10), Seq("pk")).localCheckpoint(true)
      val dRows = delta.count()
      val deltaBuckets = CdcPipeline.bucketSet(delta,
        CdcPipeline.bucketExpr(Seq("pk"), m.numBuckets))
      val preSlice = withGrp(CdcPipeline.readBuckets(spark, tdir, m, deltaBuckets))
      time(s"ivm applyDelta, $dRows-key delta (pre-target = ${deltaBuckets.size}/${m.numBuckets} buckets)") {
        IncrementalAgg.applyDelta(state0, preSlice, withGrp(delta),
          Seq("pk"), Seq("grp"), "value", Some(dRows)).count()
      }
      time("ivm full recompute over the 10M-row target (the avoided cost)") {
        IncrementalAgg.fromSnapshot(
          withGrp(CdcPipeline.readSnapshot(spark, tdir).get), Seq("grp"), "value").count()
      }
      // wall-clock at local[16] understates the gap (the page cache
      // serves the full rescan at memory speed); the scale claim is
      // the read VOLUME, which a 1000-executor cluster pays for over
      // the network:
      val preRows = preSlice.count()
      val allRows = CdcPipeline.readSnapshot(spark, tdir).get.count()
      println(f"[stress] ivm read volume: applyDelta ${preRows / 1e6}%.2f M target rows vs recompute ${allRows / 1e6}%.2f M (${100.0 * preRows / allRows}%.1f%%)")
    }

    // r4: hot-key equi-join — 50% of the fact side on one key, the
    // dim side too big to broadcast. AQE's skew handling and the
    // explicit salt both bound the straggler; the AQE-off row shows
    // the unmitigated cost the salt exists for (streaming joins and
    // other plans AQE can't rewrite).
    locally {
      val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // checkpointed so the timings measure the JOIN, not the
        // synthetic fact's explode lineage; 90% of rows on key 0
        val fact = big
          .withColumn("k", when(pmod(col(CdcEnvelope.PosCol), lit(10)) =!= 0, lit(0L))
            .otherwise(col("user_id")))
          .select(col("k"), col(CdcEnvelope.PosCol).as("payload"))
          .localCheckpoint(true)
        val dim = spark.range(0, 200000)
          .select(col("id").as("k"), (col("id") * 7).as("dim"))
          .localCheckpoint(true)
        time("hot-key join (50% one key), plain, AQE skew handling") {
          fact.join(dim, Seq("k")).count()
        }
        time("hot-key join, salted x16") {
          graft.ops.Skew.saltedJoin(fact, dim, Seq("k"), 16).count()
        }
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        time("hot-key join, plain, AQE off (the unmitigated straggler)") {
          fact.join(dim, Seq("k")).count()
        }
        time("hot-key join, salted x16, AQE off") {
          graft.ops.Skew.saltedJoin(fact, dim, Seq("k"), 16).count()
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        spark.conf.set("spark.sql.adaptive.enabled", prevA)
      }
    }

    // r4: Bloom-prefiltered decontamination, in the regime it exists
    // for — a benchmark-gram set too big to broadcast (at real
    // benchmark-suite sizes the build side is GBs): the exact join
    // then shuffles EVERY exploded corpus gram, while the bloom probe
    // keeps the ≥99% clean majority out of that exchange. Broadcast
    // is disabled to model exactly that regime at local scale.
    locally {
      val docs = Tables.documents(spark, "/root/testdata/sf0.1")
      val corpus = docs
        .withColumn("rep", explode(sequence(lit(0), lit(19))))
        .withColumn("doc_id", col("doc_id") * lit(20L) + col("rep"))
        .drop("rep")
      val bench = docs.filter(col("doc_id") < 50)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        time("decontamination screen, exact join, no-broadcast regime (100k docs)") {
          graft.ops.TextAnalysis.benchmarkOverlap(corpus, bench).count()
        }
        time("decontamination screen, bloom-prefiltered, no-broadcast regime (100k docs)") {
          graft.ops.TextAnalysis.benchmarkOverlapBloom(corpus, bench,
            expectedGrams = Some(1L << 20)).count()
        }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    // r5: IVF×PQ at 1M vectors — the composed index's scale contract:
    // the one corpus-sized cost is the build (encode + centroid
    // assignment, single pass); a query then ADC-scores only the
    // probed lists' CODES (nprobe/M of the corpus, 16 lookups per
    // row, no float math) before the bounded exact rerank.
    locally {
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
      val corpus = emb
        .withColumn("rep", explode(sequence(lit(0), lit(49))))
        .withColumn("vec_id", col("vec_id") * 50L + col("rep"))
        .drop("rep")
        .localCheckpoint(true)
      val nVec = corpus.count()
      val queries = emb.filter(col("vec_id") < 10)
      val cent = corpus.filter(pmod(col("vec_id"), lit(512L)) === 0)
        .localCheckpoint(true)
      val nCent = cent.count()
      val model = graft.ops.Pq.fitDf(
        corpus.filter(col("vec_id") < 2000), m = 16, k = 64, iters = 5)
      time(f"ann: brute-force top-5, 10 queries x ${nVec / 1e6}%.1f M vectors") {
        graft.ops.Similarity.cosineTopK(queries, corpus, 5).count()
      }
      var index: org.apache.spark.sql.DataFrame = null
      time(s"ann: IVF x PQ index build ($nVec vectors, $nCent lists, one pass)") {
        index = graft.ops.Pq.ivfPqIndex(corpus, cent, model).localCheckpoint(true)
        index.count()
      }
      time(s"ann: IVF x PQ top-5 query, nprobe 8/$nCent lists") {
        graft.ops.Pq.ivfPqTopK(queries, index, corpus, cent, model, 5, 8).count()
      }
      val scored = index.join(
        graft.ops.Pq.probeSet(queries, cent, 8), "cid").count()
      println(f"[stress] ann scored rows: ADC ${scored / 1e3}%.0f k codes vs brute ${10L * nVec / 1e6}%.1f M float pairs (${100.0 * scored / (10L * nVec)}%.1f%%)")
    }

    // r6: salted join feeding an IMMEDIATE aggregation — the one
    // salt/AQE interplay regime the r4 probe left uncovered. The
    // salted join's output is partitioned on (k, salt); the following
    // groupBy(k) must keep its map-side partial aggregation (each
    // salt sub-key combines locally before the exchange) or the hot
    // key's rows re-converge on one task and the salt bought nothing.
    // The plan assert pins it: a partial_sum must appear between the
    // join and the final aggregate, with AQE on AND off.
    locally {
      val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val fact = big
          .withColumn("k", when(pmod(col(CdcEnvelope.PosCol), lit(10)) =!= 0, lit(0L))
            .otherwise(col("user_id")))
          .select(col("k"), col(CdcEnvelope.PosCol).as("payload"))
          .localCheckpoint(true)
        val dim = spark.range(0, 200000)
          .select(col("id").as("k"), (col("id") * 7).as("dim"))
          .localCheckpoint(true)
        def saltedAgg = graft.ops.Skew.saltedJoin(fact, dim, Seq("k"), 16)
          .groupBy("k").agg(sum(col("payload")).as("s"), count(lit(1)).as("n"))
        def plainAgg = fact.join(dim, Seq("k"))
          .groupBy("k").agg(sum(col("payload")).as("s"), count(lit(1)).as("n"))
        def assertPartialAgg(tag: String): Unit = {
          val plan = saltedAgg.queryExecution.executedPlan.toString
          require(plan.contains("partial_sum"),
            s"salted join must keep map-side partial aggregation ($tag); plan:\n$plan")
        }
        assertPartialAgg("AQE on")
        time("hot-key join -> agg, salted x16, AQE on (partial agg asserted)") {
          saltedAgg.count()
        }
        time("hot-key join -> agg, plain, AQE on") { plainAgg.count() }
        // equality spot-check: same group count, same global sum
        val sAgg = saltedAgg.agg(sum(col("s")), sum(col("n")), count(lit(1))).collect()(0)
        val pAgg = plainAgg.agg(sum(col("s")), sum(col("n")), count(lit(1))).collect()(0)
        require(sAgg == pAgg, s"salted agg must equal plain agg: $sAgg vs $pAgg")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        assertPartialAgg("AQE off")
        time("hot-key join -> agg, salted x16, AQE off") { saltedAgg.count() }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        spark.conf.set("spark.sql.adaptive.enabled", prevA)
      }
    }

    // r6: store-integrated SCD2 at 10M rows — the scale contract is
    // advancement I/O ∝ window, never ∝ history: a 5-key window must
    // append a tiny closed dir and rewrite ≤ 5 of the 64 open-slice
    // buckets, while the 10M-slice closed history is not touched.
    locally {
      import org.apache.spark.sql.types.LongType
      val tdir = java.nio.file.Files.createTempDirectory("graft-stress-scd2").toString
      val log = java.nio.file.Files.createTempDirectory("graft-stress-scd2-log").toString
      val sCfg = CdcTableConfig(
        cdcTable = "stress_scd2", sourcePath = "synthetic", targetDb = "graft",
        targetTable = "t", targetPath = tdir, pk = Seq("user_id"),
        fieldSpecs = Seq(TypedProjection.FieldSpec("k", TypedProjection.Cast(LongType))),
        passthrough = Seq("event_id", "value"),
        numBuckets = Some(64), scd2 = Some(Scd2Spec()))
      val t0 = 1L << 60
      time("scd2: initial window — merge + full per-event history build") {
        CdcPipeline.run(spark, sCfg, big, log, t0)
      }
      val delta = spark.range(5).select(
        (col("id") + 1).as("user_id"),
        lit("u").as(CdcEnvelope.OpCol),
        (lit(t0) + col("id") + 1).as(CdcEnvelope.TsCol),
        (col("id") + 1).as(CdcEnvelope.PosCol),
        lit(t0 + 10).as(CdcEnvelope.LoadTsCol),
        concat(lit("{\"k\":"), col("id"), lit("}")).as(CdcEnvelope.DataCol),
        col("id").as("event_id"),
        lit(1.5).as("value"))
      time("scd2: 5-key window advancement onto the 10M-slice history") {
        CdcPipeline.run(spark, sCfg, delta, log, t0 + 100)
      }
      def du(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
          else f.length()
        walk(new java.io.File(p))
      }
      val init = du(s"$tdir/_scd2/closed/d0") + du(s"$tdir/_scd2/open/v0")
      val adv = du(s"$tdir/_scd2/closed/d1") + du(s"$tdir/_scd2/open/v1")
      val openBuckets = CdcPipeline.listedBuckets(s"$tdir/_scd2/open/v1").size
      println(f"[stress] scd2 advancement wrote ${adv / 1e3}%.0f KB ($openBuckets/64 open buckets) vs initial history ${init / 1e6}%.1f MB (${100.0 * adv / init}%.2f%%)")

      // r7: the layout-maintenance half (VERDICT r6 #7). More small
      // advancements fan the closed history into one dir each, so a
      // key lookup touches O(advancements) bucket dirs; compactClosed
      // must return it to O(|keys|) files, and a retention horizon
      // must drop bytes by the dropped-slice fraction while leaving
      // post-horizon content bit-identical.
      (2 to 9).foreach { i =>
        val w = spark.range(5).select(
          (col("id") * 64 + i).as("user_id"),
          lit("u").as(CdcEnvelope.OpCol),
          (lit(t0) + lit(i * 100L) + col("id")).as(CdcEnvelope.TsCol),
          (col("id") + i * 10).as(CdcEnvelope.PosCol),
          lit(t0 + i * 100L).as(CdcEnvelope.LoadTsCol),
          concat(lit("{\"k\":"), col("id") + i, lit("}")).as(CdcEnvelope.DataCol),
          (col("id") + i).as("event_id"),
          lit(2.0).as("value"))
        CdcPipeline.run(spark, sCfg, w, log, t0 + i * 100L + 50)
      }
      val keys = spark.range(2).select((col("id") * 64 + 1).as("user_id"))
      def lookupFiles(): Int = Scd2Store.readKeys(spark, sCfg, keys).get.inputFiles.length
      val filesBefore = lookupFiles()
      val closedBefore = du(s"$tdir/_scd2/closed")
      val hist = Scd2Store.readHistory(spark, sCfg).get
      val keptExpected = hist
        .filter(col("valid_to_us").isNotNull && col("valid_to_us") > t0).count()
      val closedSlicesBefore = hist.filter(col("valid_to_us").isNotNull).count()
      time("scd2: compactClosed over 10 closed dirs at 10M slices") {
        Scd2Store.compactClosed(spark, sCfg)
      }
      Scd2Store.compactClosed(spark, sCfg) // orphan sweep of superseded dirs
      val filesAfter = lookupFiles()
      require(filesAfter < filesBefore,
        s"compaction must shrink lookup fan-out: $filesBefore -> $filesAfter")
      println(s"[stress] scd2 2-key lookup reads $filesBefore files over 10 dirs -> $filesAfter after compactClosed")
      time("scd2: retention rewrite dropping pre-horizon closed slices") {
        Scd2Store.compactClosed(spark, sCfg, dropClosedBeforeUs = Some(t0))
      }
      Scd2Store.compactClosed(spark, sCfg) // sweep the superseded generation
      val closedAfterBytes = du(s"$tdir/_scd2/closed")
      val closedSlicesAfter = Scd2Store.readHistory(spark, sCfg).get
        .filter(col("valid_to_us").isNotNull).count()
      require(closedSlicesAfter == keptExpected,
        s"retention must keep exactly the post-horizon slices: $closedSlicesAfter vs $keptExpected")
      println(f"[stress] scd2 retention: $closedSlicesBefore%,d closed slices / ${closedBefore / 1e6}%.1f MB -> $closedSlicesAfter%,d / ${closedAfterBytes / 1e6}%.1f MB (${100.0 * (closedBefore - closedAfterBytes) / closedBefore}%.1f%% bytes dropped)")
    }

    // r7: data-skipping stats + zero-copy clone on a 10M-row target.
    // The stats index must cost one delta-sized agg at publish, prune
    // range-read I/O to the overlapping buckets, and a shallow clone
    // must be O(manifest) regardless of target size.
    locally {
      def duBytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
          else f.length()
        walk(new java.io.File(p))
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-stress-store").toString
      // v correlates with the PK-hash bucket: each of 64 buckets owns
      // a disjoint 1M-wide range, so range pruning has real work to do
      val rows10m = spark.range(0, n).select(col("id"),
        (pmod(hash(col("id")), lit(64)) * 1000000L + pmod(col("id"), lit(1000000L)))
          .as("v"))
      time("store: publish 10M rows, 64 buckets, WITH stats index") {
        CdcPipeline.publish(rows10m, dir, Seq("id"), buckets = Some(64),
          statsCols = Seq("v"))
      }
      val full = CdcPipeline.readSnapshot(spark, dir).get
      val pruned = CdcPipeline.readRange(spark, dir, "v",
        Some(3000000L), Some(4999999L)).get
      val (fullFiles, prunedFiles) = (full.inputFiles.length, pruned.inputFiles.length)
      require(prunedFiles * 8 <= fullFiles,
        s"range read must prune to ~2/64 buckets: $prunedFiles of $fullFiles files")
      time("store: stats-pruned range read (2/64 buckets)") { pruned.count() }
      println(s"[stress] readRange touches $prunedFiles of $fullFiles files")
      val cloneDir = dir + "-clone"
      time("store: shallow clone of the 10M-row target") {
        CdcPipeline.cloneSnapshot(dir, cloneDir)
      }
      val (srcBytes, cloneBytes) = (duBytes(dir), duBytes(cloneDir))
      require(cloneBytes * 100 < srcBytes,
        s"shallow clone must move no data: $cloneBytes B vs $srcBytes B source")
      println(f"[stress] clone holds ${cloneBytes / 1e3}%.1f KB of metadata vs ${srcBytes / 1e6}%.1f MB cloned")
      // the clone's pruned reads resolve into the source's files
      val cPruned = CdcPipeline.readRange(spark, cloneDir, "v",
        Some(3000000L), Some(4999999L)).get
      require(cPruned.inputFiles.length == prunedFiles &&
        cPruned.inputFiles.forall(_.contains(dir)),
        "clone range reads must prune identically against source files")
    }

    // r8: merge-on-read deletion vectors (A53) + bloom point lookup
    // (A54) at 10M rows / 64 buckets. Claims probed: a scattered
    // 0.1% delete that TOUCHES EVERY BUCKET costs a full rewrite on
    // the copy-on-write path but only a position sidecar on the MoR
    // path (bytes ratio printed); the DV-applied read pays the
    // position filter + `_metadata` materialization (measured ~5x on a
    // bare count(*) with the earlier anti-join — the worst case: the
    // vector-free count is nearly I/O-free — and proportionally less
    // on payload-bearing reads);
    // OPTIMIZE retires the cost. The bloom index prunes a secondary
    // point probe to ~1/64 of the files.
    locally {
      def duBytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
          else f.length()
        walk(new java.io.File(p))
      }
      val cow = java.nio.file.Files.createTempDirectory("graft-stress-cow").toString
      val mor = java.nio.file.Files.createTempDirectory("graft-stress-mor").toString
      // id % 641 == 0 matches ~0.16% of rows spread over all 64 buckets
      val rows10m = spark.range(0, n).select(col("id"),
        concat(lit("t-"), col("id") * 2654435761L).as("tag"))
      Seq(cow, mor).foreach { d =>
        time(s"dv: publish 10M rows, 64 buckets (${d.takeRight(3)})") {
          CdcPipeline.publish(rows10m, d, Seq("id"), buckets = Some(64))
        }
      }
      time("dv: copy-on-write delete of 0.16% scattered over EVERY bucket") {
        CdcPipeline.deleteWhere(spark, cow, Seq("id"), col("id") % 641 === 0)
      }
      time("dv: merge-on-read delete of the same rows (positions only)") {
        CdcPipeline.deleteWhereMoR(spark, mor, Seq("id"), col("id") % 641 === 0)
      }
      val (cowBytes, morBytes) = (duBytes(s"$cow/v1"), duBytes(s"$mor/v1"))
      require(morBytes * 10 < cowBytes,
        s"MoR commit must be far smaller than the CoW rewrite: $morBytes vs $cowBytes")
      println(f"[stress] delete commit bytes: CoW ${cowBytes / 1e6}%.1f MB vs MoR ${morBytes / 1e3}%.1f KB (${cowBytes.toDouble / morBytes}%.0f x)")
      val nCow = time("dv: snapshot count on the rewritten (vector-free) store") {
        CdcPipeline.readSnapshot(spark, cow).get.count()
      }
      val nMor = time("dv: snapshot count THROUGH the deletion vector") {
        CdcPipeline.readSnapshot(spark, mor).get.count()
      }
      require(nCow == nMor, s"MoR and CoW snapshots must agree: $nCow vs $nMor")
      time("bloom: one-pass index build on tag (10M rows, 64 buckets)") {
        CdcPipeline.buildBloomIndex(spark, mor, "tag",
          expectedPerBucket = 2L * n / 64)
      }
      val probe = "t-" + (2654435761L * 123457L)
      val fullFiles = CdcPipeline.readSnapshot(spark, mor).get.inputFiles.length
      val point = CdcPipeline.readPoint(spark, mor, "tag", Seq(probe)).get
      require(point.inputFiles.length * 8 <= fullFiles,
        s"bloom probe must prune: ${point.inputFiles.length} of $fullFiles files")
      val hits = time("bloom: secondary point lookup through the index") {
        point.count()
      }
      require(hits == 1L, s"probe must find its row through the DV store: $hits")
      println(s"[stress] bloom point probe reads ${point.inputFiles.length} of $fullFiles files")
    }

    // r5: job-log compaction — the run log must stay O(bounded) files
    // however many runs append (un-compacted, every watermark lookup
    // footer-merges one file per historical run).
    locally {
      val log = java.nio.file.Files.createTempDirectory("graft-stress-log").toString
      def rec(i: Int) = JobLog.RunRecord(s"run-$i", "stress_cdc", "graft", "t",
        i * 1000L, (i + 1) * 1000L, i.toLong, "SUCCESS", "", 1, 0, 0)
      time("job log: 200 appends, auto-compaction at 32 files") {
        (0 until 200).foreach(i => JobLog.append(spark, log, rec(i), autoCompactAt = 32))
      }
      val files = Option(new java.io.File(log).listFiles()).toSeq.flatten
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      val rows = JobLog.read(spark, log).get.count()
      println(s"[stress] job-log after 200 runs: $files files (bound 32), $rows rows intact")
    }

    // r8: the two connected-components strategies at scale, on
    // clique-shaped graphs (the LSH near-dup regime; 4-cliques, 6
    // edges each). (a) A/B at 3M edges — ABOVE the collect gate —
    // shows why the gate is conservative: driver union-find loses to
    // the distributed loop there (measured 10.6 s vs 4.7 s; collect
    // deserialization dominates), so canonicalAssignment must route
    // big graphs to the loop. (b) Just under the 2^19 gate the
    // union-find path must win and agree exactly.
    locally {
      val bigCliques = 500000L // 3M edges: distributed regime
      def cliqueEdges(nc: Long) = spark.range(0, nc)
        .select(col("id").as("c"),
          explode(expr("array(struct(0,1),struct(0,2),struct(0,3)," +
            "struct(1,2),struct(1,3),struct(2,3))")).as("e"))
        .select((col("c") * 4 + col("e.col1")).as("id_a"),
          (col("c") * 4 + col("e.col2")).as("id_b"))
        .localCheckpoint(true)
      val big3m = cliqueEdges(bigCliques)
      val losersUf = time(s"components: 3M edges, FORCED driver union-find (A/B)") {
        graft.ops.Clusters.connectedComponents(big3m, collectEdges = Long.MaxValue)
          .filter(col("id") =!= col("cluster_id")).count()
      }
      val losersDist = time(s"components: 3M edges, distributed min-label loop (the default route)") {
        graft.ops.Clusters.canonicalAssignment(big3m)
          .filter(!col("is_canonical")).count()
      }
      assert(losersUf == bigCliques * 3 && losersDist == bigCliques * 3,
        s"strategies must agree: uf=$losersUf dist=$losersDist")
      val smallCliques = 80000L // 480k edges: just under the 2^19 gate
      val small = cliqueEdges(smallCliques)
      val losersSmall = time(s"components: 480k edges, union-find gate (the default route)") {
        graft.ops.Clusters.canonicalAssignment(small)
          .filter(!col("is_canonical")).count()
      }
      assert(losersSmall == smallCliques * 3)
    }

    // r8: gapFill at 10M observations — per-(key,bucket) agg + grid
    // explode + one window over the bounded grid; the probe asserts
    // the output is grid-sized (keys × span/step), not
    // observation-sized, and that the fill is total.
    locally {
      val obs = big.select(col("user_id"), col(CdcEnvelope.TsCol).as("ts_us"),
        col(CdcEnvelope.PosCol).as("pos"), col("value"))
      val dayUs = 86400L * 1000000L
      val filled = time("gapFill: daily grid over the 10M-row envelope") {
        graft.ops.Temporal.gapFill(obs, Seq("user_id"), "ts_us", dayUs,
          "value", struct(col("ts_us"), col("pos")))
          .localCheckpoint(true)
      }
      val gridRows = filled.count()
      val nulls = filled.filter(col("value").isNull).count()
      println(s"[stress] gapFill grid: $gridRows rows (vs $n observations), $nulls unfilled")
      assert(nulls == 0L, "fill must be total (grid starts at each key's first bucket)")
    }
    // r8: store maintenance at 10M rows — publish a 64-bucket store
    // of the full envelope (PK = user_id+pos, every row distinct),
    // then (a) OPTIMIZE clustered by event time: the same selective
    // time-range read must return identical rows and get cheaper via
    // parquet row-group skip (time is hash-uncorrelated with the PK
    // buckets, so bucket pruning can't help — the speedup isolates
    // the clustering); (b) deleteWhere on a 3-key predicate must
    // rewrite ONLY the buckets those keys hash to, carrying the rest.
    locally {
      val dir = java.nio.file.Files.createTempDirectory("graft-stress-store").toString
      val pk = Seq("user_id", CdcEnvelope.PosCol)
      val snap = big.select(col("user_id"), col(CdcEnvelope.PosCol),
        col(CdcEnvelope.TsCol).as("ts_us"), col("value"), col("event_id"))
      time("store publish: 10M rows, 64 buckets") {
        CdcPipeline.publish(snap, dir, pk, buckets = Some(64))
      }
      val b = snap.agg(min("ts_us"), max("ts_us")).collect()(0)
      val (lo, hi) = (b.getLong(0), b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 20)
      def rangeCount(): Long =
        CdcPipeline.readRange(spark, dir, "ts_us", Some(lo), Some(hi)).get.count()
      val preCount = time("range read (5% time slice), pre-optimize")(rangeCount())
      time("optimize: cluster 64 buckets by ts_us, 200k rows/file") {
        CdcPipeline.optimize(spark, dir, pk, Seq("ts_us"), maxRecordsPerFile = 200000L)
      }
      val postCount = time("range read (5% time slice), post-optimize")(rangeCount())
      assert(preCount == postCount, s"optimize changed results: $preCount vs $postCount")
      val keys = snap.select("user_id", CdcEnvelope.PosCol).limit(3)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val keyPred = keys.map { case (u, p) =>
        col("user_id") === u && col(CdcEnvelope.PosCol) === p }.reduce(_ || _)
      val mPrev = CdcPipeline.currentManifest(dir).get
      val (vAfter, nDel) = time("deleteWhere: 3 specific PKs out of 10M") {
        CdcPipeline.deleteWhere(spark, dir, pk, keyPred).get
      }
      val mNext = CdcPipeline.manifest(dir, vAfter).get
      val rewritten = CdcPipeline.changedBuckets(mPrev, mNext).size
      println(s"[stress] deleteWhere: $nDel rows deleted, $rewritten/64 buckets rewritten")
      assert(nDel == 3 && rewritten <= 3,
        s"rewrite must be bounded by the keys' buckets: $rewritten")
      StoreFs.deleteRecursive(dir)
    }

    // A50 (r8): maintained join view at 10M facts — the dim-side
    // delta must touch only the fact buckets the fk index names, and
    // the fact-side delta must cost ∝ delta. Facts keyed by
    // (user_id, pos); 100k distinct fks, one dim row each; a handful
    // of fks get a single referer so the dim probe isolates pruning.
    locally {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-stress-jv").toString
      val spec = graft.cdc.JoinView.JoinViewSpec(dir,
        Seq("user_id", CdcEnvelope.PosCol), "fk", "dk", Seq("seg"), numBuckets = 64)
      val facts = big.select(col("user_id"), col(CdcEnvelope.PosCol),
          col("event_id"), col("value"))
        // rare fks 0..9 get exactly one referer each (pos 0..9);
        // everything else hashes into 100k common fks
        .withColumn("fk", when(col(CdcEnvelope.PosCol) < 10, col(CdcEnvelope.PosCol))
          .otherwise(pmod(col("event_id"), lit(100000L)) + 10L))
      val dim = spark.range(0L, 100010L).select(col("id").as("dk"),
        concat(lit("seg"), col("id") % 37).as("seg"))
      time("join view bootstrap: 10M facts x 100k dims, 64 buckets") {
        graft.cdc.JoinView.bootstrap(spark, spec, facts, dim)
      }
      val delta = facts.filter(col(CdcEnvelope.PosCol) % 1000000 === 17)
        .withColumn("value", col("value") + 1).withColumn("__op", lit("u"))
      time(s"join view fact delta (${delta.count()} rows)") {
        graft.cdc.JoinView.applyFactDelta(spark, spec, delta, dim, Some(100L))
      }
      val mPrev = graft.cdc.CdcPipeline.currentManifest(dir).get
      time("join view dim delta (1 rare fk, 1 referer)") {
        graft.cdc.JoinView.applyDimDelta(spark, spec,
          Seq((3L, "HOT", "u")).toDF("dk", "seg", "__op"))
      }
      val mNext = graft.cdc.CdcPipeline.currentManifest(dir).get
      val rewrote = graft.cdc.CdcPipeline.changedBuckets(mPrev, mNext).size
      println(s"[stress] join view dim delta rewrote $rewrote/64 buckets")
      assert(rewrote <= 2, s"single-referer dim delta must be bucket-pruned: $rewrote")
      StoreFs.deleteRecursive(dir)
    }

    // C55 (late r8): passage-level dedup at corpus scale — the fixture
    // corpus replicated 10·mult× (every duplicated segment's doc
    // frequency multiplies with it, the boilerplate-world shape). The
    // duplicate directory stays ∝ DISTINCT duplicated segments, so
    // cost grows with the corpus, not with dup multiplicity.
    {
      val reps = 10 * mult
      val docsBig = Tables.documents(spark, "/root/testdata/sf0.1")
        .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
        .select((col("doc_id") + col("rep") * 10000L).as("doc_id"), col("text"))
      val nd = 500L * reps
      time(f"segment dedup over ${nd / 1000}%dk docs (every segment ${reps}x-duplicated)") {
        graft.ops.Dedup.dedupSegments(docsBig, segTokens = 5, minDocs = 2)
          .agg(sum("n_dropped")).collect()
      }
    }

    // C58 (late r8): epoch manifest at 10M docs — per-shard window
    // chains only; the probe pins shard balance and wall time.
    {
      val docs10m = spark.range(0, n).select(col("id").as("doc_id"),
        (pmod(col("id"), lit(41)) + 5).as("toks"))
      val m = time(s"epoch manifest: ${n / 1000000}M docs, 16 shards, 4096-token bins") {
        val df = graft.ops.Packing.epochManifest(docs10m, col("doc_id"),
          col("toks"), "probe", 4096L, 16)
        df.groupBy("shard").agg(count(lit(1)).as("docs"), max("bin").as("bins"))
          .collect()
      }
      val sizes = m.map(_.getLong(1))
      assert(sizes.min > n / 32, s"shard deal must balance: ${sizes.mkString(",")}")
      println(s"[stress] epoch manifest shards: min ${sizes.min} max ${sizes.max} docs")
    }

    // A60 (late r8): data audit of a 10M-row store — one scan + one
    // PK-keyed agg, the declared audit price.
    {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_stress_audit").toString
      val facts = spark.range(0, n).select(col("id"), (col("id") % 97).as("k"))
      graft.cdc.CdcPipeline.publish(facts, dir, Seq("id"), buckets = Some(64))
      val rep = time(s"auditData: ${n / 1000000}M rows / 64 buckets (scan + PK agg)") {
        graft.cdc.CdcPipeline.auditData(spark, dir, Seq("id")).get.collect()
      }
      assert(rep.forall(_.getString(0) == "ok"), rep.mkString(";"))
      // A64: idle maintain is metadata-only — milliseconds against any size
      time("maintain (idle store, all triggers cold)") {
        graft.cdc.CdcPipeline.maintain(spark, dir, Seq("id"),
          graft.cdc.CdcPipeline.MaintenancePolicy(smallFilesPerBucket = Some(4)))
      }
      StoreFs.deleteRecursive(dir)
    }

    // A70 (r9): bloom-index heal I/O ∝ degraded buckets — after a
    // delta drops 3/64 buckets' sidecars, maintain's incremental
    // repair must cost a fraction of the full build (which scans the
    // whole 10M-row store), and the healed index must answer point
    // lookups with pruning restored.
    {
      val P = graft.cdc.CdcPipeline
      val dir = java.nio.file.Files.createTempDirectory("graft_stress_bloom").toString
      val facts = spark.range(0, n).select(col("id"),
        concat(lit("t-"), col("id") * 7919L).as("tag"))
      P.publish(facts, dir, Seq("id"), buckets = Some(64))
      val (_, tFull) = secs(P.buildBloomIndex(spark, dir, "tag",
        expectedPerBucket = math.max(1000L, n / 32)).get)
      println(f"[stress] bloom full build (${n / 1e6}%.1f M rows / 64 buckets): $tFull%.2f s")
      val m = P.currentManifest(dir).get
      P.rewriteBuckets(spark, dir, Seq("id"), m, Set(1, 2, 3))(s =>
        P.KeyedDelta.Content(s.withColumn("tag", concat(col("tag"), lit("-x")))))
      val (rep, tHeal) = secs(P.maintain(spark, dir, Seq("id"),
        P.MaintenancePolicy(dvFoldPct = None, smallFilesPerBucket = None,
          keepVersions = None, bloomRebuildPct = Some(1),
          bloomExpectedPerBucket = math.max(1000L, n / 32))).get)
      println(f"[stress] bloom heal of 3/64 buckets via maintain: $tHeal%.2f s")
      assert(rep.bloomRebuilt == Seq("tag"), s"heal must fire: $rep")
      assert(tHeal < tFull * 0.5,
        f"3/64 heal must cost a fraction of the full build: $tHeal%.2f vs $tFull%.2f")
      val probe = P.readBuckets(spark, dir,
        P.currentManifest(dir).get, Set(1))
        .select("id", "tag").limit(1).collect()(0)
      val found = P.readPoint(spark, dir, "tag", Seq(probe.getString(1))).get
      assert(found.inputFiles.length <
        P.readSnapshot(spark, dir).get.inputFiles.length,
        "healed index must prune")
      assert(found.select("id").collect().map(_.getLong(0)).toSet ==
        Set(probe.getLong(0)))
      StoreFs.deleteRecursive(dir)
    }

    // r9 loader-op probes at 10M docs: the claims are all "no global
    // state" shapes — temperature sampling is one |groups|-row agg
    // broadcast back onto a scan filter; budget selection's only
    // per-doc window is confined to the one boundary bucket; the
    // interleave's windows are per-source; chunking is a shuffle-free
    // row expansion. Each must run in seconds at 10M docs.
    {
      import graft.ops.{Packing, TextAnalysis}
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
        (pmod(col("id") * 131, lit(97)) + 3).as("toks"),
        pmod(col("id") * 7919, lit(500)).as("score"),
        concat(lit("s"), pmod(col("id"), lit(12))).as("src")).localCheckpoint()
      val (kept, tTemp) = secs(Packing.sampleTemperature(docs,
        col("src"), col("doc_id"), quarters = 2).count())
      println(f"[stress] temperature sampling (12 groups, α=1/2): $tTemp%.2f s, kept $kept")
      assert(tTemp < 30, f"temperature sampling must be scan-bound: $tTemp%.2f")
      val (nb, tBud) = secs(Packing.selectByTokenBudget(docs, col("doc_id"),
        col("toks"), col("score"), budget = n * 10, bucketWidth = 10).count())
      println(f"[stress] token-budget selection (two-level cut): $tBud%.2f s, kept $nb")
      assert(tBud < 60, f"budget cut must avoid the global window: $tBud%.2f")
      val (ni, tIlv) = secs(Packing.mixtureInterleave(docs,
        col("src"), col("doc_id")).count())
      println(f"[stress] mixture interleave key assignment (12 sources): $tIlv%.2f s over $ni docs")
      assert(ni == n && tIlv < 60)
      // dense positions: the two-pass prefix-offset form vs the
      // textbook single-task global window, SAME result (equality
      // join-asserted) — the measured case for C74's existence
      val order = Seq(col("score"), col("doc_id"))
      val (twoPass, tTwo) = secs {
        val p = Packing.materializePositions(docs, order, partitions = 32)
          .select(col("doc_id"), col("pos")).localCheckpoint()
        p.count(); p
      }
      val (win, tWin) = secs {
        val w = docs.withColumn("pos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(order: _*)).cast("long") - 1)
          .select(col("doc_id"), col("pos").as("pos_w")).localCheckpoint()
        w.count(); w
      }
      val agree = twoPass.join(win, "doc_id")
        .filter(col("pos") === col("pos_w")).count()
      assert(agree == n, s"two-pass must equal the window: $agree of $n")
      println(f"[stress] dense positions at 10M: two-pass $tTwo%.2f s vs single-task window $tWin%.2f s")

      // chunking on 1M real-text docs (synthesized ~60-token texts,
      // 16/8 windows → ~7 chunks/doc row expansion)
      val texts = spark.range(0, n / 10).select(col("id").as("doc_id"),
        expr("array_join(transform(sequence(1, 60), i -> concat('w', (id + i) % 1000)), ' ')")
          .as("text"))
      val (nc, tCh) = secs(TextAnalysis.chunkDocs(texts, col("doc_id"),
        col("text"), 16, 8).count())
      println(f"[stress] chunking 1M docs into 16/8 windows: $tCh%.2f s, $nc chunks")
      assert(nc == (n / 10) * 7 && tCh < 60,
        s"chunk count must be exact: $nc, time $tCh")
    }

    // CHECK constraints + virtual generated columns (A71/A72) at 10M
    // rows / 64 buckets. Claims probed: the DECLARATION pays the
    // full-snapshot validation scan exactly once; write-time
    // enforcement is DELTA-sized (a 10k-row check must cost a small
    // fraction of the declaration's 10M-row scan — induction, never a
    // re-scan of the table); and a computed column aggregates at the
    // same price as the inlined expression (it IS the same codegen'd
    // projection on the scan).
    {
      val P = graft.cdc.CdcPipeline
      val dir = java.nio.file.Files
        .createTempDirectory("graft_stress_congen").toString
      val facts = spark.range(0, n).select(col("id"),
        (col("id") % 1000L).as("v"))
      P.publish(facts, dir, Seq("id"), buckets = Some(64))
      val (_, tDecl) = secs(P.addCheckConstraint(spark, dir, "nonneg_v", "v >= 0").get)
      println(f"[stress] constraint declaration scan (${n / 1e6}%.1f M rows): $tDecl%.2f s")
      val m = P.currentManifest(dir).get
      val delta = spark.range(0, 10000).select(col("id"),
        (col("id") % 1000L).as("v"))
      val (_, tEnf) = secs(P.enforceConstraints(m, delta, dir))
      println(f"[stress] write-time enforcement of a 10k-row delta: $tEnf%.2f s")
      assert(tEnf < math.max(0.5, tDecl / 5),
        f"enforcement must be delta-sized, not a table re-scan: $tEnf%.2f vs declaration $tDecl%.2f")
      P.addGeneratedColumn(dir, "v2",
        org.apache.spark.sql.types.LongType, "v * 2 + 1")
      val (sVirt, tVirt) = secs(P.readSnapshot(spark, dir).get
        .agg(sum(col("v2"))).head().getLong(0))
      val (sPhys, tPhys) = secs(P.readSnapshot(spark, dir).get
        .agg(sum(expr("v * 2 + 1"))).head().getLong(0))
      assert(sVirt == sPhys, s"computed column must equal its expression: $sVirt vs $sPhys")
      println(f"[stress] 10M-row agg over generated column: $tVirt%.2f s (inlined expr: $tPhys%.2f s)")
      assert(tVirt < math.max(1.0, tPhys * 3),
        f"virtual column must ride the scan, not re-derive: $tVirt%.2f vs $tPhys%.2f")
      StoreFs.deleteRecursive(dir)
    }
  }
}
