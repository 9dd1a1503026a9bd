package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product-quantization ANN (SURVEY.md §2 C26) — the memory-bound
  * scale path: at 100 TB the embedding column IS the dataset, and a
  * 16× code compression (D=64 floats → M=16 byte-ish codes) is the
  * difference between an index that fits the cluster and one that
  * doesn't. Pipeline:
  *
  *   fit     — per-subspace Lloyd's k-means on a bounded SAMPLE
  *             (codebooks are always sample-trained; M·K·dsub floats,
  *             driver-sized by construction);
  *   encode  — one codegen'd pass over the corpus
  *             (PqEncode: argmin centroid per subspace + stored
  *             reconstruction norm), the only full-data touch;
  *   adcTopK — per-query ADC tables built once on the driver
  *             (Q·M·K floats), then the scored cross join reads
  *             (query index, codes) and does M table lookups per
  *             pair — the same broadcast-queries / map-side
  *             TopKByOrder shape as the exact scan, with the D-wide
  *             float math gone from the hot path.
  *
  * Approximation contract: score = ADC-dot / (‖q‖·‖recon(c)‖) ≈
  * cosine(q, c) — exact if every vector equalled its reconstruction.
  * Recall against the exact scan is spec-gated (OpsSpec), not
  * assumed; like IVF/LSH, brute force stays the correctness baseline.
  */
object Pq {

  /** Trained codebooks: `codebooks` is [m][k][dsub] flattened. */
  final case class PqModel(m: Int, k: Int, dims: Int, codebooks: Array[Float]) {
    def dsub: Int = dims / m
  }

  /** Lloyd's per subspace over a driver-side sample. Deterministic:
    * init = first k sample vectors' subvectors, ties to the lowest
    * code, empty clusters keep their previous centroid.
    */
  def fit(sample: Array[Array[Float]], m: Int = 16, k: Int = 16,
      iters: Int = 10): PqModel = {
    require(sample.nonEmpty, "pq fit needs a non-empty sample")
    val dims = sample.head.length
    require(dims % m == 0, s"$dims dims not divisible into $m subspaces")
    val dsub = dims / m
    val codebooks = new Array[Float](m * k * dsub)
    var mi = 0
    while (mi < m) {
      // init: subvectors of the first k sample rows (wrap if fewer)
      var ki = 0
      while (ki < k) {
        val src = sample(ki % sample.length)
        System.arraycopy(src, mi * dsub, codebooks, (mi * k + ki) * dsub, dsub)
        ki += 1
      }
      var it = 0
      while (it < iters) {
        val sums = Array.ofDim[Double](k, dsub)
        val counts = new Array[Long](k)
        sample.foreach { vec =>
          val sub = java.util.Arrays.copyOfRange(vec, mi * dsub, (mi + 1) * dsub)
          val code = PqAssign.argmin(sub, codebooks, mi, k, dsub)
          counts(code) += 1
          var j = 0
          while (j < dsub) { sums(code)(j) += sub(j); j += 1 }
        }
        ki = 0
        while (ki < k) {
          if (counts(ki) > 0) {
            var j = 0
            while (j < dsub) {
              codebooks((mi * k + ki) * dsub + j) = (sums(ki)(j) / counts(ki)).toFloat
              j += 1
            }
          }
          ki += 1
        }
        it += 1
      }
      mi += 1
    }
    PqModel(m, k, dims, codebooks)
  }

  /** Collect a sample column and fit. The caller bounds the sample
    * (e.g. a deterministic id filter); this collects it.
    */
  def fitDf(sample: DataFrame, vec: Column = col("embedding"),
      m: Int = 16, k: Int = 16, iters: Int = 10): PqModel =
    fit(sample.select(vec).collect().map(_.getSeq[Float](0).toArray), m, k, iters)

  /** The PQ index: (vec_id, codes, recon_norm) — one codegen'd pass,
    * no shuffle. This is what a 100 TB deployment persists instead of
    * the float column.
    */
  def encode(corpus: DataFrame, model: PqModel, id: Column = col("vec_id"),
      vec: Column = col("embedding")): DataFrame =
    corpus.select(id.as("vec_id"),
      graft.functions.toCol(graft.functions.PqEncode(
        graft.functions.toExpr(vec), model.m, model.k, model.codebooks)).as("pq"))
      .select(col("vec_id"), col("pq.codes").as("codes"),
        col("pq.recon_norm").as("recon_norm"))

  /** Top-k by ADC cosine against an encoded corpus. Queries must be a
    * bounded ANN batch — their vectors are collected to build the ADC
    * tables (Q·M·K floats) and the (query_id, index) pairs broadcast.
    */
  def adcTopK(queries: DataFrame, encoded: DataFrame, model: PqModel,
      topK: Int): DataFrame = {
    val q = queries.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (m, k, dsub) = (model.m, model.k, model.dsub)
    // ADC table: tables[qi][mi][ki] = dot(q_sub, centroid) / ‖q‖ —
    // folding the query norm in here makes the pair score directly
    // comparable across queries (it never affects per-query rank).
    val tables = new Array[Float](q.length * m * k)
    q.zipWithIndex.foreach { case ((_, vec), qi) =>
      val qNorm = math.sqrt(vec.map(v => v.toDouble * v).sum)
      val inv = if (qNorm > 0) 1.0 / qNorm else 0.0
      for (mi <- 0 until m; ki <- 0 until k) {
        var d = 0.0
        var j = 0
        while (j < dsub) {
          d += vec(mi * dsub + j) * model.codebooks((mi * k + ki) * dsub + j)
          j += 1
        }
        tables(qi * m * k + mi * k + ki) = (d * inv).toFloat
      }
    }
    val spark = queries.sparkSession
    import spark.implicits._
    val qIdx = broadcast(q.map(_._1).zipWithIndex
      .map { case (id, i) => (id, i) }.toSeq.toDF("query_id", "_qi"))
    val dot = graft.functions.toCol(graft.functions.PqAdcDot(
      graft.functions.toExpr(col("_qi")), graft.functions.toExpr(col("codes")),
      m, k, tables))
    val scored = encoded.crossJoin(qIdx)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.SortableDoubleBits(
          dot / greatest(col("recon_norm"), lit(1e-30))).as("ord"))
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByOrder(struct(col("neighbor_id")),
        col("ord"), col("neighbor_id"), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("query_id"), col("r.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Two-stage search — the production PQ shape: ADC shortlists
    * `topK·refine` candidates from the codes alone, then ONLY those
    * rows re-join the float vectors for an exact cosine rerank. The
    * full-width embedding column is touched for |Q|·topK·refine rows
    * instead of the corpus, so the refine factor buys back the
    * quantization error at a cost that never scales with N.
    */
  def adcTopKRerank(queries: DataFrame, encoded: DataFrame, corpus: DataFrame,
      model: PqModel, topK: Int, refine: Int = 4): DataFrame = {
    // Q·topK·refine rows with their query vectors attached — bounded
    // small by construction, so it BROADCASTS and the corpus streams
    // through its scan (never shuffled, never broadcast).
    val shortlist = adcTopK(queries, encoded, model, topK * refine)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("emb_q"))), "query_id")
    val scored = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("emb_c"))
      .join(broadcast(shortlist), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.SortableDoubleBits(
          Similarity.cosine(col("emb_q"), col("emb_c"))).as("ord"))
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByOrder(struct(col("neighbor_id")),
        col("ord"), col("neighbor_id"), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("query_id"), col("r.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"))
  }
  /** IVF×PQ composed index (SURVEY.md §2 C16 ∘ C26) — the production
    * 100 TB vector-index shape: inverted lists whose entries are PQ
    * CODES, so probing is list-limited (IVF's win) AND code-width
    * (PQ's win). The persisted index is (cid, vec_id, codes,
    * recon_norm); the embedding column is only ever read again by the
    * rerank stage.
    *
    * Build shape: the N×M assignment candidate stream reduces through
    * LatestByOrder with a SCALAR-ONLY value (just the cid) —
    * ObjectHashAggregate with map-side combine, nothing sorted. Two
    * wrong shapes measured at 100 k×196: carrying the codes struct
    * through the aggregate value costs an array copy per CANDIDATE
    * row (163.7 s vs ~12 s); and `max_by(cid, struct(ord, tb))`
    * plans SortAggregate, which SORTS the N×M stream on the group
    * key — fine locally, the classic straggler at 100 TB. The codes
    * come from their own single encode pass and join back
    * co-partitioned on the id.
    */
  def ivfPqIndex(corpus: DataFrame, centroids: DataFrame, model: PqModel,
      id: Column = col("vec_id"), vec: Column = col("embedding")): DataFrame = {
    val cent = centroids.select(col("vec_id").as("cid"), col("embedding").as("emb_cent"))
    val assign = corpus.select(id.as("neighbor_id"), vec.as("emb_c"))
      .crossJoin(broadcast(cent))
      .select(col("neighbor_id"), col("cid"),
        graft.functions.SortableDoubleBits(
          Similarity.cosine(col("emb_c"), col("emb_cent"))).as("ord"))
      .groupBy("neighbor_id")
      .agg(graft.functions.LatestByOrder(struct(col("cid")),
        col("ord"), -col("cid")).as("best"))
      .select(col("neighbor_id"), col("best.cid").as("cid"))
    val encoded = corpus.select(id.as("neighbor_id"),
        graft.functions.toCol(graft.functions.PqEncode(
          graft.functions.toExpr(vec), model.m, model.k, model.codebooks)).as("pq"))
      .select(col("neighbor_id"), col("pq.codes").as("codes"),
        col("pq.recon_norm").as("recon_norm"))
    encoded.join(assign.hint("shuffle_hash"), "neighbor_id")
      .select(col("cid"), col("neighbor_id"), col("codes"), col("recon_norm"))
  }

  /** Top-`nprobe` centroids per query — the probe set both
    * [[ivfPqTopK]] and its scored-row-count spec gate share (so the
    * gate measures exactly what the query touches). Bounded hash agg,
    * |Q|·nprobe output rows.
    */
  def probeSet(queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val cent = centroids.select(col("vec_id").as("cid"), col("embedding").as("emb_cent"))
    queries.select(col("vec_id").as("query_id"), col("embedding").as("emb_q"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("cid"),
        graft.functions.SortableDoubleBits(
          Similarity.cosine(col("emb_q"), col("emb_cent"))).as("ord"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByOrder(struct(col("cid")),
        col("ord"), col("cid"), nprobe).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.cid").as("cid"))
  }

  /** Probe-limited two-stage search over an [[ivfPqIndex]]: ADC
    * scores ONLY the probed lists' codes (scored rows ∝ probed lists,
    * not corpus — the composition C16 alone lacks: its probed lists
    * hold floats; and C26 alone lacks: its ADC scans every code),
    * shortlists `topK·refine` per query, then exact-cosine reranks
    * just those rows against the float column. Queries are a bounded
    * ANN batch (ADC tables are Q·M·K driver-side floats; probes and
    * shortlist broadcast).
    *
    * `rerank = false` returns the top-`topK` by RAW ADC order (refine
    * ignored, the float column never touched) — the memory-floor
    * configuration whose recall gap vs the reranked path the
    * 10M-vector frontier probe (`graft.Probe ann_frontier`) measures.
    */
  def ivfPqTopK(queries: DataFrame, index: DataFrame, corpus: DataFrame,
      centroids: DataFrame, model: PqModel, topK: Int, nprobe: Int,
      refine: Int = 4, rerank: Boolean = true): DataFrame = {
    val q = queries.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (m, k, dsub) = (model.m, model.k, model.dsub)
    val tables = new Array[Float](q.length * m * k)
    q.zipWithIndex.foreach { case ((_, vec), qi) =>
      val qNorm = math.sqrt(vec.map(v => v.toDouble * v).sum)
      val inv = if (qNorm > 0) 1.0 / qNorm else 0.0
      for (mi <- 0 until m; ki <- 0 until k) {
        var d = 0.0
        var j = 0
        while (j < dsub) {
          d += vec(mi * dsub + j) * model.codebooks((mi * k + ki) * dsub + j)
          j += 1
        }
        tables(qi * m * k + mi * k + ki) = (d * inv).toFloat
      }
    }
    val spark = queries.sparkSession
    import spark.implicits._
    val qIdx = q.map(_._1).zipWithIndex.map { case (id, i) => (id, i) }
      .toSeq.toDF("query_id", "_qi")
    val probes = probeSet(queries, centroids, nprobe).join(qIdx, "query_id")
    val dot = graft.functions.toCol(graft.functions.PqAdcDot(
      graft.functions.toExpr(col("_qi")), graft.functions.toExpr(col("codes")),
      m, k, tables))
    // ADC stage: probed lists only — the broadcast probe join prunes
    // un-probed lists at the index scan, and each surviving row costs
    // M table lookups, no float math.
    val scored = index.join(broadcast(probes), "cid")
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.SortableDoubleBits(
          dot / greatest(col("recon_norm"), lit(1e-30))).as("ord"))
    if (!rerank)
      return scored.groupBy("query_id")
        .agg(graft.functions.TopKByOrder(struct(col("neighbor_id")),
          col("ord"), col("neighbor_id"), topK).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "r")))
        .select(col("query_id"), col("r.neighbor_id").as("neighbor_id"),
          (col("pos") + 1).cast("int").as("rnk"))
    val shortlist = scored.groupBy("query_id")
      .agg(graft.functions.TopKByOrder(struct(col("neighbor_id")),
        col("ord"), col("neighbor_id"), topK * refine).as("top"))
      .select(col("query_id"), explode(col("top")).as("r"))
      .select(col("query_id"), col("r.neighbor_id").as("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("emb_q"))), "query_id")
    // exact rerank touches |Q|·topK·refine float rows, never the corpus
    val reranked = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("emb_c"))
      .join(broadcast(shortlist), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.SortableDoubleBits(
          Similarity.cosine(col("emb_q"), col("emb_c"))).as("ord"))
    reranked.groupBy("query_id")
      .agg(graft.functions.TopKByOrder(struct(col("neighbor_id")),
        col("ord"), col("neighbor_id"), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("query_id"), col("r.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"))
  }
}

/** Shared argmin kernel for fit (driver) — mirrors PqOps.encode's
  * executor loop so train and encode assignments agree bit-for-bit.
  */
private[ops] object PqAssign {
  def argmin(sub: Array[Float], codebooks: Array[Float], mi: Int,
      k: Int, dsub: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var ki = 0
    while (ki < k) {
      val off = (mi * k + ki) * dsub
      var d = 0.0
      var j = 0
      while (j < dsub) {
        val diff = sub(j) - codebooks(off + j)
        d += diff * diff
        j += 1
      }
      if (d < bestD) { bestD = d; best = ki }
      ki += 1
    }
    best
  }
}
