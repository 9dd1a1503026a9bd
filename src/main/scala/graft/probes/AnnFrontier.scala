package graft
package probes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Pq, Similarity}
import Probe.secs

/** r14 scale probe (r13 verdict #2): the ANN recall/cost FRONTIER at
  * 10 M vectors — recall@10 vs probe budget for `ann_ivf` (C16) and
  * `ann_ivf_pq` (C30, with and without the exact rerank), against
  * brute-force truth on a capped query batch. The §2 rows' recall
  * claims were spec-gated at sf0.01 (5 k vectors); this measures the
  * curve a user actually needs before trusting the index family at
  * 100 TB: how much probe budget buys how much recall, and what the
  * PQ compression + rerank each cost/recover, at 3 orders beyond the
  * gate SF.
  *
  * Corpus shape (planted neighborhoods, fully deterministic — every
  * component is a Murmur3 hash of (id, dim), no RNG):
  *  - 1 024 planted clusters; vector = center(id mod 1024) + noise at
  *    FULL center scale — same-cluster cosine ≈ 0.5 vs ≈ 0 cross, so
  *    neighborhoods are real but members spread across several
  *    Voronoi cells of the sampled centroids and recall rises
  *    GRADUALLY with nprobe instead of stepping 0→1 (a half-scale
  *    noise was measured degenerate: the shared center term dominates
  *    every member's assignment argmax, whole clusters land in one
  *    list, and every algo's curve is flat at its nprobe=1 value);
  *  - 256 IVF centroids = the gated op's deterministic id-sample
  *    (ids ≡ 7 mod n/256 — deliberately MISALIGNED with the planted
  *    clusters: several clusters per centroid on average, some
  *    clusters centroid-rich and some centroid-free, the production
  *    misfit the frontier must price in). 256 keeps the one-time
  *    index build (the N·M assignment crossJoin — the dominant cost,
  *    measured ~4 µs·core/pair through the scalar-only argmax agg)
  *    near 10 minutes at 10 M; the SEARCH stage each frontier point
  *    times touches nprobe/256 of the corpus regardless;
  *  - 64 queries = corpus vectors spread across clusters (ids ≡ 3 mod
  *    n/64) — a bounded ANN batch, the C6/C7 contract;
  *  - TWO PQ models sample-trained (16 384 ids ≡ 11 mod n/16384):
  *    m=16 k=16 (the gated default — 4-bit codes, 16× compression)
  *    and m=16 k=256 (the standard 8-bit configuration, 8×) — the
  *    compression↔recall dial is exactly what the frontier must price:
  *    under this fixture's full-scale noise the 4-bit codebooks are
  *    QUANTIZATION-limited (first 10 M run: adc plateaued ≈ 0.21 and
  *    refine=4 rerank ≈ 0.35 while exact-float ivf reached 0.88), so
  *    the 8-bit point shows what the extra 4 bits/subspace buy.
  *
  * Protocol: truth = exact cosineTopK over the full corpus; each
  * index BUILDS ONCE (ivfIndex / ivfPqIndex, localCheckpointed — the
  * deployment persists these), then nprobe ∈ {1,2,4,8,16} sweeps the
  * SEARCH stage only, timed per point. recall@10 = |result ∩ truth| /
  * (64·10).
  *
  * Hard-required LAWS (what must hold at any scale):
  *  - ivf recall monotone non-decreasing in nprobe — a THEOREM for
  *    exact scoring (a candidate that displaces a true top-k member
  *    would itself be in the true top-k), tolerance one tie pair;
  *  - the quantized curves (adc, rerank) are NOT theorems — an added
  *    candidate with an overestimated ADC score can displace a true
  *    neighbor, so small local dips are expected behavior (measured:
  *    2–3 pairs at 100 k); required instead: no point more than 5
  *    pairs below the curve's running max, and last ≥ first;
  *  - dominance at every budget: ivf ≥ ivf_pq_rerank ≥ ivf_pq_adc;
  *  - a non-degenerate sweep (max-budget ivf strictly above its
  *    nprobe=1 point — the fixture must actually spread neighborhoods
  *    across lists, or the sweep measures nothing).
  * The recall VALUES are the deliverable, reported in the artifact,
  * not pinned a priori.
  *
  * Runnable standalone:
  *   `sbt 'runMain graft.Probe ann_frontier [multiplier] [outPath]'`
  * (multiplier 100 = 10 M vectors; outPath writes the JSON frontier
  * artifact, e.g. STRESS_ANN_FRONTIER.json).
  */
object AnnFrontier {
  def run(spark: SparkSession, n: Long, out: Option[String]): Unit = {
    val dims = 64
    val nClusters = 1024L
    val nQueries = 64L
    val k = 10
    // hash(x, j) / 2^31 ∈ (−1, 1), deterministic per (seed, dim)
    def h(c: org.apache.spark.sql.Column, off: Int) =
      (j: Int) => hash(c, lit(j + off)).cast("double") / lit(2.147483648e9)
    val center = h(col("c"), 0)
    val noise = h(col("id"), dims)
    val emb = array((0 until dims).map(j =>
      (center(j) + noise(j)).cast("float")): _*)
    val corpus = spark.range(n)
      .withColumn("c", pmod(col("id"), lit(nClusters)))
      .select(col("id").as("vec_id"), emb.as("embedding"))
      .localCheckpoint(true) // reused by truth, 2 index builds, rerank
    val nCent = 256L
    val queries = corpus.filter(pmod(col("vec_id"), lit(n / nQueries)) === 3L)
      .localCheckpoint(true)
    val centroids = corpus.filter(pmod(col("vec_id"), lit(n / nCent)) === 7L)
      .localCheckpoint(true)
    val nq = queries.count()
    println(s"[ann-frontier] n=$n queries=$nq centroids=${centroids.count()}")

    val (truth, tTruth) = secs {
      val t = Similarity.cosineTopK(queries, corpus, k,
        queryRows = Some(nQueries)).localCheckpoint(true)
      t.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    println(f"[ann-frontier] brute-force truth: ${truth.size} pairs in $tTruth%.1f s")
    require(truth.size == (nq * k).toInt, s"truth size ${truth.size}")

    val (lists, tIvf) = secs {
      val l = Similarity.ivfIndex(corpus, centroids).localCheckpoint(true)
      l.count(); l
    }
    val sampleMod = math.max(n / 16384L, 1L)
    val sample = corpus.filter(
      pmod(col("vec_id"), lit(sampleMod)) === lit(11L % sampleMod))
    // pq indexes share the ivf lists' assignment (ivfPqIndex would
    // re-run the N·M centroid crossJoin — the build's dominant cost)
    def pqBuild(k: Int): (Pq.PqModel, DataFrame, Double) = {
      val (r, t) = secs {
        val model = Pq.fitDf(sample, k = k)
        val i = Pq.encode(corpus, model)
          .withColumnRenamed("vec_id", "neighbor_id")
          .join(lists.select("cid", "neighbor_id"), "neighbor_id")
          .select("cid", "neighbor_id", "codes", "recon_norm")
          .localCheckpoint(true)
        i.count(); (model, i)
      }
      (r._1, r._2, t)
    }
    val (pq16, pqIndex16, tPq16) = pqBuild(16)
    val (pq256, pqIndex256, tPq256) = pqBuild(256)
    println(f"[ann-frontier] index builds: ivf=$tIvf%.1f s " +
      f"pq16=$tPq16%.1f s pq256=$tPq256%.1f s")

    def recallOf(res: DataFrame): Double = {
      val got = res.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val budgets = Seq(1, 2, 4, 8, 16)
    case class Point(algo: String, nprobe: Int, recall: Double, s: Double)
    val points = scala.collection.mutable.ArrayBuffer[Point]()
    budgets.foreach { np =>
      val (r1, t1) = secs { recallOf(
        Similarity.annIvfSearch(queries, lists, centroids, k, np)) }
      points += Point("ivf", np, r1, t1)
      def pqLegs(tag: String, model: Pq.PqModel, idx: DataFrame): Unit = {
        val (ra, ta) = secs { recallOf(
          Pq.ivfPqTopK(queries, idx, corpus, centroids, model, k, np,
            rerank = false)) }
        points += Point(s"${tag}_adc", np, ra, ta)
        val (rr, tr) = secs { recallOf(
          Pq.ivfPqTopK(queries, idx, corpus, centroids, model, k, np)) }
        points += Point(s"${tag}_rerank", np, rr, tr)
        println(f"[ann-frontier] nprobe=$np%2d  ${tag}_adc=${ra}%.3f " +
          f"(${ta}%.1f s)  ${tag}_rerank=${rr}%.3f (${tr}%.1f s)")
      }
      println(f"[ann-frontier] nprobe=$np%2d  ivf=${r1}%.3f (${t1}%.1f s)")
      pqLegs("pq16", pq16, pqIndex16)
      pqLegs("pq256", pq256, pqIndex256)
    }

    // Binary sign-quantization leg (C142 at scale — the 32×-compression
    // point of the dial the PQ legs don't reach): pack once (two 32-bit
    // sign words per vector), Hamming-shortlist R candidates per query
    // (popcount(xor) through the same bounded top-k agg — the corpus
    // streams as two Longs per row, not a 64-float array), exact float
    // rerank of the shortlist → top-10. The budget knob is the
    // SHORTLIST DEPTH R (the binary analog of nprobe), swept
    // {10,40,160,640}; R=10 is the raw no-rerank point (rerank of a
    // k-sized set is a reorder — identical membership).
    val (packed, tPack) = secs {
      def word(off: Int) =
        s"aggregate(sequence(0, 31), 0L, (acc, i) -> acc + " +
          s"IF(element_at(embedding, i + ${off + 1}) > 0, shiftleft(1L, i), 0L))"
      val p = corpus.selectExpr("vec_id",
        s"${word(0)} AS b_lo", s"${word(32)} AS b_hi").localCheckpoint(true)
      p.count(); p
    }
    println(f"[ann-frontier] binary pack: $tPack%.1f s")
    val qPack = packed.join(
        queries.select(col("vec_id"), col("embedding").as("emb_q")), "vec_id")
      .select(col("vec_id").as("query_id"), col("emb_q"),
        col("b_lo").as("q_lo"), col("b_hi").as("q_hi"))
      .localCheckpoint(true)
    val shortlists = Seq(10, 40, 160, 640)
    shortlists.foreach { rdepth =>
      val (rb, tb) = secs {
        val short = packed.crossJoin(broadcast(qPack.drop("emb_q")))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            (-expr("cast(bit_count(q_lo ^ b_lo) + bit_count(q_hi ^ b_hi)" +
              " as bigint)")).as("negham"))
          .groupBy("query_id")
          .agg(graft.functions.TopKByOrder(struct(col("neighbor_id")),
            col("negham"), col("neighbor_id"), rdepth).as("top"))
          .select(col("query_id"), explode(col("top")).as("t"))
          .select(col("query_id"), col("t.neighbor_id").as("neighbor_id"))
          .join(broadcast(qPack.select(col("query_id"), col("emb_q"))),
            "query_id")
          .localCheckpoint(true) // nq·R rows, read by the rerank stream
        // exact rerank: the corpus streams once, the shortlist is the
        // broadcast side (nq·R rows) — float reads ∝ shortlist hits
        recallOf(corpus
          .select(col("vec_id").as("neighbor_id"), col("embedding").as("emb_c"))
          .join(broadcast(short), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"),
            graft.functions.SortableDoubleBits(
              Similarity.cosine(col("emb_q"), col("emb_c"))).as("ord"))
          .groupBy("query_id")
          .agg(graft.functions.TopKByOrder(struct(col("neighbor_id")),
            col("ord"), col("neighbor_id"), k).as("top"))
          .select(col("query_id"), explode(col("top")).as("t"))
          .select(col("query_id"), col("t.neighbor_id").as("neighbor_id")))
      }
      points += Point("binary_rerank", rdepth, rb, tb)
      println(f"[ann-frontier] R=$rdepth%4d  binary_rerank=${rb}%.3f (${tb}%.1f s)")
    }
    // nested shortlists + EXACT rerank ⇒ recall monotone in R (same
    // theorem as exact in-list IVF: a displacer outscoring a true
    // member is itself a true member)
    locally {
      val rs = points.filter(_.algo == "binary_rerank")
        .sortBy(_.nprobe).map(_.recall)
      rs.sliding(2).foreach { w =>
        require(w(1) >= w(0) - 1.0 / truth.size,
          s"binary_rerank not monotone: $rs")
      }
    }

    // laws: monotone in budget (±1 pair of float-tie jitter), exact
    // floats dominate reranked PQ dominates raw ADC, and the fixture
    // genuinely spreads neighborhoods (otherwise the sweep is vacuous)
    val eps = 1.0 / truth.size
    locally {
      val rs = points.filter(_.algo == "ivf").sortBy(_.nprobe).map(_.recall)
      rs.sliding(2).foreach { w =>
        require(w(1) >= w(0) - eps, s"ivf recall not monotone: $rs")
      }
    }
    Seq("pq16_adc", "pq16_rerank", "pq256_adc", "pq256_rerank").foreach { a =>
      val rs = points.filter(_.algo == a).sortBy(_.nprobe).map(_.recall)
      var runMax = 0.0
      rs.foreach { r =>
        require(r >= runMax - 5 * eps,
          s"$a dipped ${runMax - r} below its running max: $rs")
        runMax = math.max(runMax, r)
      }
      require(rs.last >= rs.head - eps, s"$a ended below its start: $rs")
    }
    budgets.foreach { np =>
      val at = points.filter(_.nprobe == np).map(p => p.algo -> p.recall).toMap
      Seq("pq16", "pq256").foreach { m =>
        require(at("ivf") >= at(s"${m}_rerank") - eps,
          s"nprobe=$np: ivf ${at("ivf")} < reranked ${at(s"${m}_rerank")} ($m)")
        require(at(s"${m}_rerank") >= at(s"${m}_adc") - eps,
          s"nprobe=$np: $m rerank ${at(s"${m}_rerank")} < adc ${at(s"${m}_adc")}")
      }
    }
    val ivfCurve = points.filter(_.algo == "ivf").sortBy(_.nprobe).map(_.recall)
    require(ivfCurve.last > ivfCurve.head + eps,
      s"degenerate fixture: ivf recall flat at ${ivfCurve.head} across budgets")

    val pj = points.map(p =>
        s"""{"algo":"${p.algo}","nprobe":${p.nprobe},"recall":${f3(p.recall)},"secs":${f3(p.s)}}""")
      .mkString("[", ",", "]")
    val json = s"""{"metric":"ann_frontier","n":$n,"queries":$nq,"k":$k,""" +
      s""""dims":$dims,"truth_s":${f3(tTruth)},"ivf_index_s":${f3(tIvf)},""" +
      s""""pq16_build_s":${f3(tPq16)},"pq256_build_s":${f3(tPq256)},""" +
      s""""binary_pack_s":${f3(tPack)},""" +
      s""""points":$pj}"""
    println(json)
    out.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes("UTF-8"))
      println(s"[ann-frontier] wrote $p")
    }
    println("[ann-frontier] OK")
  }

  private def f3(d: Double): String = f"$d%.3f"
}
