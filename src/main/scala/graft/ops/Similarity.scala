package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY.md §2 C5–C7).
  *
  * Cosine is computed in float64 with a sequential left fold
  * (`aggregate` over the zipped arrays) — deterministic and
  * bit-matching a scalar loop, which is what the DuckDB oracle does.
  *
  * Scale paths: brute force is O(N·Q·d) — correct baseline, used for
  * verification; the LSH variant buckets by random-hyperplane sign
  * bits so a probe touches ~1 bucket (≈ N/2^planes of the corpus)
  * per table, trading recall for a 2^planes fan-in reduction. At
  * 100 TB the bucketed layout is the difference between an
  * all-to-all broadcast and a co-partitioned join on bucket id.
  */
object Similarity {

  /** Cosine similarity of two float vectors, computed in double.
    * Native codegen expression — the equivalent
    * aggregate/zip_with fold runs interpreted per element and made
    * the O(N²) scans ~50× slower (see CosineSimilarity).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** All pairs (id_a < id_b) with cosine ≥ minCos — brute force,
    * O(N²); the exact reference for the LSH variants.
    */
  def cosinePairs(emb: DataFrame, minCos: Double): DataFrame = {
    // r14: spread the stream side — a single-row-group corpus scans as
    // one partition and the O(N²) cosine loop ran single-task (Spread).
    val a = Spread(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("emb_a"), col("emb_b")) >= lit(minCos))
      .select("id_a", "id_b")
  }

  /** Scale path for embedding near-dup (the primary C5 operator):
    * multi-table random-hyperplane buckets generate candidates, exact
    * cosine verifies — same candidates→verify shape as the MinHash→
    * Jaccard text path. Precision is exact (every emitted pair passed
    * the true cosine test); recall is the multi-table LSH collision
    * probability 1 − (1 − p^planes)^tables with p = 1 − θ/π.
    *
    * τ as low as 0.42 (θ≈65°, p≈0.64) is the hard regime for sign
    * LSH — per-table collision p^planes is small — hence the deep
    * table count default; at the τ≥0.8 a production near-dup dedup
    * uses, a handful of tables reaches the same recall. The driver
    * gate runs this at τ=0.42 against the exact all-pairs oracle, so
    * the tuned default's 100% recall on the test corpus is
    * hash-checked, not asserted.
    *
    * At scale: candidates ≈ tables·N²/2^planes bucket-local pairs —
    * the join is co-partitioned on (tbl, bucket), never all-to-all;
    * the verify join fans the candidate ids back to embeddings by id.
    */
  /** Buckets of `keyed` (tbl, bucket, …) whose member count exceeds
    * `maxBucket` — the degenerate-band guard every LSH pair/probe
    * join needs: a bucket holding B members expands B² candidate
    * tuples ON ONE TASK, and a pathological corpus (near-zero
    * vectors collapsing to one sign pattern) makes B corpus-sized.
    * Same contract as Dedup.bucketPairs: oversized buckets are
    * dropped (documented recall trade; production would salt-split).
    */
  private def oversizedBuckets(keyed: DataFrame, maxBucket: Int): DataFrame =
    keyed.groupBy("tbl", "bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .select("tbl", "bucket")

  /** Corpus-size-aware LSH parameters (r11 — the sf1.0 scale probe
    * caught fixed (tables=24, planes=4) going quadratic: 2^4 buckets
    * per table means candidates ∝ N²/16 at ANY corpus size, 4.6 s →
    * 393 s for ×10 data). Planes grow with log₂(N/occupancy) so
    * expected bucket membership stays ~`targetOccupancy` and
    * per-table candidates stay ∝ N·occupancy; tables then rise to
    * hold the DECLARED recall at the collision probability
    * p = 1 − acos(τ)/π: recall = 1 − (1 − p^planes)^tables. Cost at
    * fixed recall/τ therefore grows ~N·tables (the LSH ρ-exponent
    * tax shows up in `tables`, not in a silent recall drop — recall
    * is never traded without a parameter saying so). At gate scale
    * (N ≤ ~6k with occupancy 64) this resolves to the same
    * planes=4 neighborhood the τ=0.42 oracle was tuned on.
    */
  def lshAutoParams(n: Long, minCos: Double, targetRecall: Double = 0.99,
      targetOccupancy: Long = 64L, minPlanes: Int = 4, maxPlanes: Int = 20,
      maxTables: Int = 256): (Int, Int) = {
    val planes = math.max(minPlanes, math.min(maxPlanes,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetOccupancy)) /
        math.log(2.0)).toInt))
    val p = 1.0 - math.acos(math.min(1.0, math.max(-1.0, minCos))) / math.Pi
    val pc = math.pow(p, planes.toDouble)
    val tables =
      if (pc >= 1.0) 1
      else math.min(maxTables, math.max(1,
        math.ceil(math.log1p(-targetRecall) / math.log1p(-pc)).toInt))
    (tables, planes)
  }

  /** `cosinePairsLsh` with parameters derived from the corpus size
    * (one count job) — the shape that survives a 100× corpus: bucket
    * occupancy pinned, recall declared.
    */
  def cosinePairsLshAuto(emb: DataFrame, minCos: Double,
      targetRecall: Double = 0.99, dims: Int = 64,
      maxBucket: Int = 10000): DataFrame = {
    val (tables, planes) = lshAutoParams(emb.count(), minCos, targetRecall)
    cosinePairsLsh(emb, minCos, tables, planes, dims, maxBucket)
  }

  def cosinePairsLsh(emb: DataFrame, minCos: Double, tables: Int = 24,
      planes: Int = 4, dims: Int = 64, maxBucket: Int = 10000): DataFrame = {
    // Same bounded-bucket shape as the MinHash path (Dedup.bucketPairs):
    // ONE hash evaluation per vector, one aggregation materializing
    // each (table, bucket) member list capped at maxBucket — a
    // degenerate bucket (near-zero vectors collapsing onto one sign
    // pattern) arrives NULL and is dropped instead of expanding B²
    // pairs on one task. The r4 form self-joined the keyed relation:
    // correct, but unguarded and it hashed every vector twice.
    // (r14 note: spreading the scan before this explode was measured
    // SLOWER at sf0.1 — the hashing is not the dominant cost here and
    // the extra exchange is pure overhead; left as-is.)
    val keyed = emb.select(col("vec_id").as("doc_id"),
        explode(lshTableBuckets(col("embedding"), tables, planes, dims)).as("tb"))
      .select(col("doc_id"), col("tb.tbl").as("band"), col("tb.bucket").as("bucket"))
    val cand = Dedup.bucketPairs(keyed, maxBucket, spreadExpand = true)
      .select("id_a", "id_b")
    val e = emb.select(col("vec_id"), col("embedding"))
    cand.join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .filter(cosine(col("emb_a"), col("emb_b")) >= lit(minCos))
      .select("id_a", "id_b")
  }

  /** Order-preserving BIGINT view of a cosine score — lets every
    * top-k/argmax here run as a TopKByOrder/LatestByOrder hash
    * aggregate (bounded buffer, map-side combine, no sort) instead of
    * a row_number window, which would shuffle AND sort the full
    * query×candidate score relation. Exact: signed-long order of the
    * encoding equals double order (see SortableDoubleBits).
    */
  private def ordOf(cos: Column): Column = graft.functions.SortableDoubleBits(cos)

  /** Top-k rows of `scored(query_id, neighbor_id, ord)` per query —
    * ord DESC, neighbor_id ASC tiebreak (the oracle's ORDER BY cos
    * DESC, neighbor_id) — as a bounded hash aggregation + explode.
    * Shuffle volume is ≤ k rows per query, not the score relation.
    */
  private def topByOrd(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByOrder(struct(col("neighbor_id")),
        col("ord"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("query_id"), col("r.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"))

  /** Brute-force top-k neighbors for each query vector. Output is the
    * (query_id, neighbor_id) membership set — ranks are implied by
    * cosine but not exported (cross-engine float ties on *rank* are
    * possible; set membership has a measured 1e-5 margin on this
    * corpus, see SURVEY.md §5).
    */
  /** Above this many query vectors the query-side broadcast is
    * dropped (same known-row-count gating pattern as
    * SnapshotMerge.LargeDeltaRows): a corpus-vs-corpus self-join
    * style batch would OOM the driver/executors if force-broadcast,
    * while an un-hinted cross join merely shuffles.
    */
  val BroadcastQueryRows: Long = 100000L

  /** Exact top-k unless `approx` opts in. `queryRows` is a PHYSICAL
    * hint only — above [[BroadcastQueryRows]] it drops the query-side
    * broadcast (an un-hinted exact cross join shuffles instead of
    * OOMing) but never changes the result. A corpus-sized batch that
    * accepts approximation passes `approx = true` to route through
    * the multi-table bucketed LSH: both sides key on (tbl, bucket),
    * the join co-partitions, and candidate volume is
    * ≈ tables·|Q|·|N|/2^planes instead of |Q|·|N|. The deep default
    * (48×4 — top-k pairs reach lower cosine than the τ≈0.42 dedup
    * floor, needing twice its 24 tables) is recall-tested at small SF
    * (OpsSpec: equality vs brute force on this corpus); production
    * tunes tables/planes to its similarity floor. Result semantics
    * are the caller's explicit choice, never a side effect of the
    * batch-size hint (ADVICE r5).
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      queryRows: Option[Long] = None,
      approx: Boolean = false,
      largeBatchTables: Int = 48, largeBatchPlanes: Int = 4,
      dims: Int = 64): DataFrame = {
    val largeBatch = queryRows.exists(_ > BroadcastQueryRows)
    if (approx && largeBatch)
      annLshTopK(queries, corpus, k, largeBatchTables, largeBatchPlanes, dims)
        .select("query_id", "neighbor_id")
    else {
      val q0 = queries.select(col("vec_id").as("query_id"), col("embedding").as("emb_q"))
      val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("emb_c"))
      // broadcast the QUERY side: an ANN batch has queries ≪ corpus, so
      // the corpus streams through the scan untouched and the top-k
      // partials combine map-side — k rows per (task, query) hit the
      // shuffle. Broadcasting the corpus (the r2 shape) capped the
      // baseline at corpus-fits-in-memory. Pass `queryRows` when the
      // caller knows the batch size; a large known batch drops the
      // hint (the exact cartesian shuffles both sides, slow but
      // correct — the scale path is the explicit `approx` opt-in).
      val q = if (largeBatch) q0 else broadcast(q0)
      val scored = c.crossJoin(q)
        .select(col("query_id"), col("neighbor_id"),
          ordOf(cosine(col("emb_q"), col("emb_c"))).as("ord"))
      topByOrd(scored, k).select("query_id", "neighbor_id")
    }
  }

  /** LSH bucket id in one hash table: sign bits of the vector against
    * `planes` random hyperplanes. Native single-pass expression with
    * the plane matrix precomputed once (see LshTableBuckets — the
    * previous transform/aggregate formulation ran interpreted and
    * regenerated the weights per (row, plane)).
    */
  def lshBucket(v: Column, planes: Int, dims: Int): Column =
    graft.functions.LshTableBuckets(v, 1, planes, dims).getItem(0).getField("bucket")

  /** (table, bucket) pairs for multi-table LSH: table t's bucket is
    * the sign-bit code against its own `planes` hyperplanes (plane
    * ids offset by t·planes so tables are independent).
    */
  private def lshTableBuckets(v: Column, tables: Int, planes: Int, dims: Int): Column =
    graft.functions.LshTableBuckets(v, tables, planes, dims)

  /** IVF-style ANN (SURVEY.md §2 C16): coarse-quantize the corpus
    * into `centroids`' inverted lists (each corpus vector joins its
    * argmax-cosine centroid), probe the `nprobe` nearest centroids
    * per query, exact-search only those lists. The second scale path
    * next to sign-LSH: centroids broadcast (small), corpus shuffles
    * ONCE on centroid id to form lists, and each query touches
    * nprobe/M of the corpus — at 100 TB the probe join is
    * co-partitioned on cid, never all-to-all.
    *
    * Centroids here are a deterministic id-sample of the corpus
    * (training-free quantizer — production would k-means); recall
    * depends on how clustered the data is. Implementation is
    * exact-checked by a DuckDB oracle that re-expresses the same IVF
    * semantics, independent of recall.
    */
  def annIvfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    annIvfSearch(queries, ivfIndex(corpus, centroids), centroids, k, nprobe)

  /** The IVF inverted lists — `(cid, neighbor_id, emb_c)`, each
    * corpus vector under its argmax-cosine centroid. A deployment
    * PERSISTS this and sweeps probe budgets against it; exposed
    * separately from [[annIvfSearch]] so the 10M-vector frontier
    * probe (`graft.Probe ann_frontier`) builds once per index like a deployment
    * would, instead of re-assigning the corpus per nprobe point.
    *
    * Assignment shape: the r2 form was a row_number window (N·M
    * scored rows through shuffle+sort); r4's LatestByOrder carried
    * the EMBEDDING in the aggregate value — an array copy per
    * CANDIDATE row, N·M of them (measured 163.7 s vs ~12 s at
    * 100 k×196 on the PQ variant); max_by(cid, struct) plans
    * SortAggregate and sorts the N·M stream. The shape that survives
    * 100 TB: LatestByOrder with a SCALAR-ONLY value (the cid) —
    * ObjectHashAggregate, map-side combine, ties to the smallest cid
    * (the oracle's ORDER BY cos DESC, cid) — then the embedding joins
    * back co-partitioned on the id.
    */
  def ivfIndex(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cent = centroids.select(col("vec_id").as("cid"), col("embedding").as("emb_cent"))
    val assign = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("emb_c"))
      .crossJoin(broadcast(cent))
      .select(col("neighbor_id"), col("cid"),
        ordOf(cosine(col("emb_c"), col("emb_cent"))).as("ord"))
      .groupBy("neighbor_id")
      .agg(graft.functions.LatestByOrder(struct(col("cid")),
        col("ord"), -col("cid")).as("best"))
      .select(col("neighbor_id"), col("best.cid").as("cid"))
    corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("emb_c"))
      .join(assign.hint("shuffle_hash"), "neighbor_id")
      .select(col("cid"), col("neighbor_id"), col("emb_c"))
  }

  /** Incremental IVF maintenance (C144): fold a NEW vector batch into
    * a persisted [[ivfIndex]] without touching the existing lists —
    * assignment is per-vector against the FIXED centroid table, so
    * append ≡ rebuild exactly (`ivfIndex(a ∪ b) = ivfIndex(a) ∪
    * ivfIndex(b)`, a law OpsSpec pins) and the delta costs
    * |batch|·M, not |corpus|·M. This is the ingestion-path shape: a
    * crawl lands, its vectors append, searches see them immediately;
    * the index only degrades as the DATA drifts off the frozen
    * centroids — which is exactly what `ann_ivf_stats` (C143)
    * measures, and when its shares/residuals drift, rebuild with
    * fresh centroids (the one operation that IS corpus-sized).
    */
  def ivfAppend(lists: DataFrame, newVecs: DataFrame,
      centroids: DataFrame): DataFrame =
    lists.unionByName(ivfIndex(newVecs, centroids))

  /** Probe-limited exact search over prebuilt [[ivfIndex]] lists. */
  def annIvfSearch(queries: DataFrame, lists: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cent = centroids.select(col("vec_id").as("cid"), col("embedding").as("emb_cent"))
    // Probe set: top-nprobe centroids per query — same shape, bounded
    // top-k buffer instead of a window.
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("emb_q"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("emb_q"), col("cid"),
        ordOf(cosine(col("emb_q"), col("emb_cent"))).as("ord"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByOrder(struct(col("cid"), col("emb_q")),
        col("ord"), col("cid"), nprobe).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.emb_q").as("emb_q"), col("t.cid").as("cid"))
    // Exact search within the probed lists only. The probe set is
    // |queries|·nprobe rows — the small side by construction (an ANN
    // batch has queries ≪ corpus) — so it broadcasts and the corpus
    // lists are never shuffled or sorted on cid; un-probed lists are
    // skipped by the join. Final per-query rank is again a bounded
    // hash agg.
    val scored = lists.join(broadcast(probes), "cid")
      .select(col("query_id"), col("neighbor_id"),
        ordOf(cosine(col("emb_q"), col("emb_c"))).as("ord"))
    topByOrd(scored, k).select("query_id", "neighbor_id")
  }

  /** K-means centroid training for the IVF quantizer (cosine /
    * spherical variant — cosine is scale-invariant, so the plain
    * member mean is a valid centroid). annIvfTopK's doc notes its
    * id-sample centroids are the training-free stand-in "production
    * would k-means"; this is that trainer, built from the same
    * scale kernels the query path uses:
    *
    *   assign  = broadcast(centroids) crossJoin → scalar-only
    *             LatestByOrder argmax (identical plan to the IVF list
    *             assignment — no sort, no window, no array-valued
    *             aggregate, shuffle = one scalar row per vector);
    *   update  = groupBy(cid) + VectorAvg (map-side partial combine:
    *             reduce side sees |k|·|tasks| partial sums, never the
    *             corpus);
    *   each round localCheckpoints the k-row centroid frame so the
    *   iterative plan's lineage stays flat (same discipline as
    *   Clusters.connectedComponents).
    *
    * Init = the k lowest-id corpus vectors (deterministic); a cluster
    * that loses all members drops out (k shrinks) rather than being
    * respawned. Returns (cid, embedding) ready for `annIvfTopK`.
    */
  def kmeansFit(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val base = corpus.select(col("vec_id"), col("embedding"))
    var cent = base.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("embedding").as("emb_cent"))
      .localCheckpoint(true)
    var it = 0
    while (it < iters) {
      // scalars-only LatestByOrder assignment + join-back, same shape
      // (and reason) as annIvfTopK's list build: the embedding must
      // never ride the N·k aggregate value, and max_by would sort.
      val assign = base
        .crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"),
          ordOf(cosine(col("embedding"), col("emb_cent"))).as("ord"))
        .groupBy("vec_id")
        .agg(graft.functions.LatestByOrder(struct(col("cid")),
          col("ord"), -col("cid")).as("best"))
        .select(col("vec_id"), col("best.cid").as("cid"))
      cent = base.join(assign.hint("shuffle_hash"), "vec_id")
        .groupBy("cid")
        .agg(graft.functions.VectorAvg(col("embedding")).as("emb_cent"))
        .localCheckpoint(true)
      it += 1
    }
    cent.select(col("cid").as("vec_id"), col("emb_cent").as("embedding"))
  }

  /** Bucketed ANN, multi-table: a candidate is any corpus vector
    * sharing a bucket with the query in ≥1 of `tables` independent
    * hash tables; exact cosine ranks the candidates. Single-table
    * sign-LSH has recall p^planes (p = 1 − θ/π) — e.g. 0.04 on this
    * corpus — so production LSH is always multi-table:
    * 1 − (1 − p^planes)^tables. Recall < 1 by design; brute force
    * above is the correctness baseline. At scale each table is a
    * co-partitioned join on (tbl, bucket) — candidate volume
    * ≈ tables·N/2^planes per query, never the corpus.
    */
  def annLshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      tables: Int = 4, planes: Int = 4, dims: Int = 64,
      maxBucket: Int = 10000): DataFrame = {
    def keyed(df: DataFrame, idAs: String, embAs: String) = df
      .select(col("vec_id").as(idAs), col("embedding").as(embAs),
        explode(lshTableBuckets(col("embedding"), tables, planes, dims)).as("tb"))
      .select(col(idAs), col(embAs), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = keyed(queries, "query_id", "emb_q")
    // degenerate-bucket guard on the corpus side: an oversized bucket
    // would pair with every probing query on one task. Costs a second
    // corpus hash pass (a persisted deployment hashes once and keeps
    // the keyed index); candidates lost to the cap are the documented
    // recall trade.
    val c0 = keyed(corpus, "neighbor_id", "emb_c")
    val c = c0.join(oversizedBuckets(c0, maxBucket), Seq("tbl", "bucket"), "left_anti")
    val scored = q.join(c, Seq("tbl", "bucket"))
      .select(col("query_id"), col("neighbor_id"),
        ordOf(cosine(col("emb_q"), col("emb_c"))).as("ord"))
      .distinct()
    topByOrd(scored, k)
  }

  /** Semantic decontamination (C40) — the embedding twin of the C24
    * n-gram screen: drop every corpus vector within cosine `minCos`
    * of ANY benchmark vector (eval paraphrases that n-gram overlap
    * can't see). Cross-set candidates via the same multi-table
    * sign-LSH keying as [[cosinePairsLsh]] — each table a
    * co-partitioned join on (tbl, bucket), candidate volume
    * ≈ tables·|corpus|·|bench|/2^planes bucket-local, never the
    * cross product — then exact cosine verifies and the flagged ids
    * anti-join off. The benchmark side is tiny next to the corpus
    * (AQE broadcasts its keyed form); recall is the C5b multi-table
    * collision bound, hash-gated against the exact oracle at the
    * driver's τ.
    */
  /** `semanticDecontaminate` with corpus-size-derived LSH parameters
    * (same [[lshAutoParams]] contract as [[cosinePairsLshAuto]]):
    * candidate volume stays ∝ tables·occupancy·|corpus| instead of
    * ∝ |corpus|·|bench|/2^fixed-planes.
    */
  def semanticDecontaminateAuto(corpus: DataFrame, benchmark: DataFrame,
      minCos: Double, targetRecall: Double = 0.99, dims: Int = 64,
      maxBucket: Int = 10000): DataFrame = {
    val (tables, planes) = lshAutoParams(corpus.count(), minCos, targetRecall)
    semanticDecontaminate(corpus, benchmark, minCos, tables, planes, dims,
      maxBucket)
  }

  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      minCos: Double, tables: Int = 24, planes: Int = 4, dims: Int = 64,
      maxBucket: Int = 10000): DataFrame = {
    def keyed(df: DataFrame, idAs: String) = df
      .select(col("vec_id").as(idAs),
        explode(lshTableBuckets(col("embedding"), tables, planes, dims)).as("tb"))
      .select(col(idAs), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val ck0 = keyed(corpus, "cid")
    // degenerate-bucket guard on the corpus side (the benchmark side
    // is bounded by its own size): same cap-and-drop contract as the
    // other LSH joins
    val ck = ck0.join(oversizedBuckets(ck0, maxBucket), Seq("tbl", "bucket"), "left_anti")
    val contaminated = ck.join(keyed(benchmark, "bid"), Seq("tbl", "bucket"))
      .select("cid", "bid").distinct()
      .join(corpus.select(col("vec_id").as("cid"), col("embedding").as("emb_c")), "cid")
      .join(benchmark.select(col("vec_id").as("bid"), col("embedding").as("emb_b")), "bid")
      .filter(cosine(col("emb_c"), col("emb_b")) >= lit(minCos))
      .select(col("cid").as("vec_id")).distinct()
    corpus.join(contaminated, Seq("vec_id"), "left_anti")
  }

  /** Int8 scalar quantization of an embedding column (SURVEY.md §2
    * C66) — the 4× storage/bandwidth compression every large vector
    * store applies before ANN serving: per-vector asymmetric SQ with
    * code_i = floor((x_i − min) · 255 / (max − min) + 0.5) in [0, 255]
    * (degenerate max == min vectors quantize to all-zero codes), plus
    * the dequantized absolute reconstruction error summed in strict
    * index order (a sequential left fold, so the double is
    * bit-reproducible on any engine — no parallel-reduction
    * reordering leaks into the contract).
    *
    * Pure per-row map work on one scan: no shuffle at any corpus
    * size, codes ship as 1 byte/dim where the float ships 4.
    */
  def quantizeInt8(emb: DataFrame, vecCol: Column): DataFrame =
    emb
      .withColumn("__v", transform(vecCol, _.cast("double")))
      .withColumn("vmin", array_min(col("__v")))
      .withColumn("vmax", array_max(col("__v")))
      .withColumn("codes",
        when(col("vmax") === col("vmin"),
          transform(col("__v"), _ => lit(0L)))
        .otherwise(transform(col("__v"), x =>
          floor((x - col("vmin")) * lit(255.0d) / (col("vmax") - col("vmin"))
            + lit(0.5d)).cast("long"))))
      .withColumn("abs_err_sum",
        expr("""aggregate(
                  zip_with(__v, codes,
                    (x, c) -> abs(x - (vmin + c * (vmax - vmin) / 255.0D))),
                  0.0D, (a, e) -> a + e)"""))
      .drop("__v")
}
