package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-linguistics statistics for training-data analysis
  * (SURVEY.md §2 C124/C125/C127): collocation mining, term
  * burstiness, and per-source keyness — the "what is this corpus made
  * of, and where does it deviate" readouts a data-curation run
  * consults between dedup and packing. All three follow the repo's
  * exact-integer discipline: every exported statistic is a pinned
  * floor-division form both engines compute bit-identically (the
  * kn_ppm / C78 pattern) — no floats, no logs.
  */
object CorpusStats {

  /** Collocation mining via lift (C124): bigrams whose observed
    * frequency beats the independence expectation — the
    * phrase-mining / multi-word-expression pass ("new york",
    * "machine learning") a tokenizer-vocab or entity pipeline runs.
    * Dunning's log-likelihood is the classic score but needs logs;
    * LIFT preserves the same over-representation ordering in pure
    * integer arithmetic:
    *
    *   lift = P(w1 w2) / (P(w1·) · P(·w2))
    *        = pair_n · N / (c1 · c2),   N = Σ pair_n
    *
    * exported in the pinned two-step floor form (deviation from the
    * real-valued lift ≤ ~1 ppm-step per stage, identical in both
    * engines):
    *
    *   pyx_ppm  = pair_n · 10⁶ div c1        (= P(w2 | w1) in ppm)
    *   lift_ppm = pyx_ppm · N div c2
    *
    * Long headroom: pair_n·10⁶ ≤ 9.2·10¹⁸ at pair_n ≤ 9.2·10¹²; and
    * pyx_ppm ≤ 10⁶, so pyx_ppm·N is Long-safe to N ≤ 9.2·10¹² total
    * bigrams — the C120 family bound (shard by source beyond it).
    *
    * Scale shape: the pair table is checkpointed ONCE (3 consumers —
    * the C104 lesson) and is ∝ distinct bigrams; both marginals are
    * vocab-sized hash aggs joined back on their keys; N is a 1-row
    * broadcast; the top-k is orderBy+limit (distributed TakeOrdered),
    * never a global window.
    */
  def collocations(docs: DataFrame, minPair: Long = 5L, k: Int = 100,
      text: Column = col("text")): DataFrame = {
    val pc = TextAnalysis.bigramCounts(docs, text).localCheckpoint(true)
    val left = pc.groupBy("w1").agg(sum(col("pair_n")).as("c1"))
    val right = pc.groupBy("w2").agg(sum(col("pair_n")).as("c2"))
    val nb = pc.agg(sum(col("pair_n")).as("n_big"))
    pc.filter(col("pair_n") >= minPair)
      .join(left, "w1").join(right, "w2").crossJoin(broadcast(nb))
      .withColumn("pyx_ppm", expr("pair_n * 1000000L div c1"))
      .withColumn("lift_ppm", expr("pyx_ppm * n_big div c2"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "pair_n", "c1", "c2", "pyx_ppm", "lift_ppm")
  }

  /** Term burstiness (C125): the variance-to-mean ratio of a term's
    * per-document count — Church & Gale's observation that content
    * words arrive in BURSTS (high VMR: a doc that mentions a topic
    * mentions it repeatedly) while function words spread uniformly
    * (VMR near its minimum). The readout that separates topical
    * vocabulary from glue, feeding stopword induction and the C47
    * salient-terms weighting. Zero-count documents are part of the
    * distribution (mean and variance are over ALL n_docs documents),
    * which the moment algebra absorbs without materializing zeros:
    *
    *   VMR = Var(c)/E(c) = Σc²/cf − cf/n_docs   (cf = Σc)
    *
    * pinned floor form (each term floored independently — both
    * engines identical):
    *
    *   vmr_ppm = s2·10⁶ div cf − cf·10⁶ div n_docs
    *
    * Long headroom: s2·10⁶ Long-safe to Σc² ≤ 9.2·10¹² (the C120
    * family bound; shard by source beyond it).
    *
    * Scale shape: one (doc_id, token) hash agg (∝ corpus tokens,
    * partial-aggregable), one per-term agg (∝ vocabulary), a 1-row
    * doc-count broadcast, and an orderBy+limit top-k. No windows.
    */
  def termBurstiness(docs: DataFrame, minDf: Long = 10L, k: Int = 100,
      text: Column = col("text")): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(split(lower(text), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    perDoc.groupBy("token")
      .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"),
        sum(expr("c * c")).as("s2"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nd))
      .withColumn("vmr_ppm",
        expr("s2 * 1000000L div cf - cf * 1000000L div n_docs"))
      .orderBy(col("vmr_ppm").desc, col("token"))
      .limit(k)
      .select("token", "df", "cf", "s2", "vmr_ppm")
  }

  /** Per-source keyness (C127): for every source, the tokens most
    * over-represented against the REST of the corpus — corpus
    * linguistics' keyword analysis, the readout that tells a mixture
    * designer what each source actually contributes (and flags
    * contaminated/TEMPLATED sources whose top keys are boilerplate).
    * χ²/LLR keyness needs squares/logs that overflow any integer
    * width at corpus scale; the RATE RATIO preserves the same
    * per-source ordering in the pinned staged-floor form:
    *
    *   rate_s_ppm = a·10⁶ div t_src          (token rate inside)
    *   rate_r_ppm = b·10⁶ div t_rest         (token rate outside)
    *   ratio_ppm  = rate_s_ppm · t_rest div b
    *
    * (the ratio divides by the REST COUNT b directly rather than the
    * floored rate, so a rest-rate that floors to 0 ppm cannot zero
    * the denominator; b ≥ 1 is required — a token unseen outside its
    * source has unbounded keyness and is reported by its absence).
    * Long headroom: rate_s_ppm ≤ 10⁶ and t_rest ≤ 9.2·10¹² (the C120
    * family bound) keep the product Long-safe.
    *
    * Scale shape: one (source, token) hash agg (∝ corpus tokens,
    * partial-aggregable); source totals are a sources-sized broadcast;
    * token totals a vocab-sized join; the per-source top-k window
    * runs over the minCnt-FILTERED relation — ≤ t_src/minCnt rows per
    * source by construction, so the partition is bounded by the
    * filter, not the vocabulary.
    */
  def sourceKeyness(docs: DataFrame, minCnt: Long = 10L, k: Int = 5,
      text: Column = col("text")): DataFrame = {
    val st = docs
      .select(col("source"), explode(split(lower(text), " ")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("a"))
      .localCheckpoint(true)
    val srcTot = st.groupBy("source").agg(sum(col("a")).as("t_src"))
    val tokTot = st.groupBy("token").agg(sum(col("a")).as("g_tok"))
    val allTot = st.agg(sum(col("a")).as("t_all"))
    val scored = st
      .join(broadcast(srcTot), "source").join(tokTot, "token")
      .crossJoin(broadcast(allTot))
      .withColumn("b", col("g_tok") - col("a"))
      .withColumn("t_rest", col("t_all") - col("t_src"))
      .filter(col("a") >= minCnt && col("b") >= 1L)
      .withColumn("rate_s_ppm", expr("a * 1000000L div t_src"))
      .withColumn("rate_r_ppm", expr("b * 1000000L div t_rest"))
      .withColumn("ratio_ppm", expr("rate_s_ppm * t_rest div b"))
    val w = Window.partitionBy("source")
      .orderBy(col("ratio_ppm").desc, col("token"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("source", "rk", "token", "a", "b", "rate_s_ppm",
        "rate_r_ppm", "ratio_ppm")
  }

  /** Deterministic Poisson(1) bootstrap weight for (id, replicate) —
    * the scale-correct bootstrap (Chamandy et al.'s Poisson
    * bootstrap): resampling-with-replacement needs a global draw, but
    * Poissonizing the replicate gives every row an INDEPENDENT
    * per-row weight, so the whole resample is one map-side
    * expression at any corpus size. The uniform is the C34/C70
    * multiplicative-hash ppm ((id mod p + rep·12289)·c mod p mod 10⁶,
    * p = 10⁹+7 — id reduced mod p BEFORE the mix, so every
    * intermediate is Long-safe at ANY id), and the inverse CDF is a
    * pinned integer threshold table (cumulative Poisson(1) ppm,
    * round(Σ₀..k e⁻¹/i!·10⁶) — the C109 discount-table trick: the
    * one irrational piece is a shared literal, so both engines
    * compute identical weights), truncated at w = 9
    * (P(X > 9 | λ=1) < 10⁻⁶ — the ppm grid cannot see it).
    */
  def poissonWeight(id: String, rep: String): Column = {
    val u = s"(($id % 1000000007L + $rep * 12289L) % 1000000007L" +
      s" * 554862419L) % 1000000007L % 1000000L"
    expr(s"""CASE WHEN $u < 367879L THEN 0L WHEN $u < 735759L THEN 1L
      WHEN $u < 919699L THEN 2L WHEN $u < 981012L THEN 3L
      WHEN $u < 996340L THEN 4L WHEN $u < 999406L THEN 5L
      WHEN $u < 999917L THEN 6L WHEN $u < 999990L THEN 7L
      WHEN $u < 999999L THEN 8L ELSE 9L END""")
  }

  /** Poisson-bootstrap replicate accuracies (C128): `scored` carries
    * one row per item with an integer 0/1 `correct` column; the
    * output is one row per replicate b ∈ [0, reps) with the
    * weighted-accuracy evidence (n_eff = Σw, n_correct_w = Σw·correct,
    * acc_ppm floored) — the confidence interval is read off the
    * sorted replicate accuracies (2.5 %/97.5 % ranks; notebook work on
    * the exact rows, as with the C119/C123 curve exports).
    *
    * Scale shape: explode ×reps feeds straight into a partial
    * aggregate in the same codegen stage — nothing reps-times the
    * corpus is ever materialized or shuffled; the shuffle is `reps`
    * partial rows per task and the result is `reps` rows. Long
    * headroom: Σw ≤ 9·rows — exact to ~10¹⁸ rows.
    */
  def poissonBootstrapAccuracy(scored: DataFrame, idCol: Column,
      correct: Column, reps: Int = 40): DataFrame =
    scored.select(idCol.cast("long").as("__id"), correct.as("correct"))
      .withColumn("b", explode(sequence(lit(0L), lit(reps - 1L))))
      .withColumn("w", poissonWeight("__id", "b"))
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"),
        sum(expr("w * correct")).as("n_correct_w"))
      .withColumn("acc_ppm", expr(
        "CASE WHEN n_eff > 0 THEN n_correct_w * 1000000L div n_eff ELSE 0L END"))
      .select("b", "n_eff", "n_correct_w", "acc_ppm")

  /** Exact-integer multinomial Naive Bayes (C134) — the CCNet-style
    * slot where the pipeline FITS a classifier instead of applying
    * fixed weights (C53 scores with hand-pinned weights; C8/C133 are
    * deterministic heuristics): train per-class token counts against
    * a deterministic binary label relation (here the C77 Gopher
    * screen — the published CCNet recipe trains on a rule/reference
    * split exactly like this), then score every document log-free.
    *
    * Model, all integers: with Laplace(+1) smoothing over the shared
    * vocabulary V and the two-step pinned floors (nano conditionals,
    * then the ppm ratio),
    *
    *   p_c(tok)_nano = (c_c+1)·10⁹ div (T_c+V)
    *   w_ppm(tok)    = clamp(p₁_nano·10⁶ div p₀_nano,
    *                         [10⁶/64, 64·10⁶]) − 10⁶
    *   evidence_ppm  = Σ_occurrences w_ppm(tok)
    *   nb_keep       = evidence_ppm > 0
    *
    * i.e. the per-token evidence is the CENTERED CLASS-CONDITIONAL
    * RATIO in ppm — the first-order surrogate of NB's log ratio
    * (log x ≈ x−1 near 1), with the standard ±6-bit weight clip
    * bounding rare-token ratios. True NB sums LOG ratios; log is not
    * cross-engine bit-stable, so the CONTRACT is this pinned-integer
    * form (C39/C124 discipline) and both engines compute it
    * bit-identically — the gate is hash-exact. Measured against the
    * Gopher labels it fits them at 93–98 % accuracy across
    * sf0.001–0.1 with both decision classes populated; the additive
    * probability-DIFFERENCE linearization was prototyped first and
    * rejected at ~55 % (common shared tokens dominate the sums).
    *
    * The class prior is exported as its own ppm column, NOT folded
    * into the decision: a linearized doc-count prior is in doc-mass
    * units while the token weights are in ratio units — measured, the
    * prior (+0.79·10⁶ ppm here) exceeds the entire evidence IQR and
    * folding it in makes the decision vacuous. A deployment weighting
    * the prior picks its own λ; log-NB gets this for free, the
    * log-free form must not pretend the scales match.
    *
    * Long headroom: (c+1)·10⁹ needs c ≤ 9.2·10⁹ class tokens, and
    * p₀_nano ≥ 1 needs T₀+V ≤ 10⁹ — the nano scale is exact to ~1 G
    * smoothed-denominator tokens (beyond it raise the conditional
    * scale, or shard by source — the C120-family move). The ratio
    * numerator p₁_nano·10⁶ ≤ 10¹⁵ and per-doc sums |w_ppm| ≤ 63·10⁶ ⇒
    * |evidence| ≤ n_toks·63·10⁶ — Long-safe to 10¹¹-token documents.
    *
    * Scale shape: one explode ∝ corpus tokens → (token, class) hash
    * agg = vocab-sized model state; scoring is a second token pass
    * joined against the vocab-sized weight table (corpus-sized
    * streams are never checkpointed — two scans is the honest 100 TB
    * shape; only the doc-sized label relation, read twice, is
    * checkpointed once). Every token is in-vocabulary by construction
    * (self-scoring, the C39 contract); held-out scoring with the
    * smoothed unseen-token weight is [[naiveBayesScoresHoldout]].
    *
    * Scoring-join scale contract: below
    * `spark.sql.autoBroadcastJoinThreshold` the vocab-sized weight
    * table BROADCASTS and the scoring pass is map-side. Past it (a
    * 100 TB-corpus vocabulary easily exceeds the threshold) the join
    * becomes a token-keyed SHUFFLE whose hot keys are exactly the
    * stopwords — the 10M-doc probe measured one filler token carrying
    * 50 % of the stream — so the shuffle regime leans on AQE's
    * skew-join split (`spark.sql.adaptive.skewJoin`, on by default
    * here); if a single token still overflows a split, salt the token
    * key (the C28 move). The naive_bayes probe's shuffle leg drives this
    * exact shape — the 10M-doc 50%-one-key corpus with the broadcast
    * threshold forced to −1 — and proves truth and conservation hold
    * through the skew-split join.
    */
  def naiveBayesScores(docs: DataFrame, labels: DataFrame,
      text: Column = col("text")): DataFrame = {
    val lbl = labels
      .select(col("doc_id"), col("label").cast("boolean").as("label"))
      .localCheckpoint(true)
    def toks = docs.select(col("doc_id"),
      explode(split(lower(text), " ")).as("tok"))
    val (w, _) = nbWeightTable(toks, lbl)
    val pr = lbl.agg(
        sum(when(col("label"), 1L).otherwise(0L)).as("nd1"),
        count(lit(1)).as("nd"))
      .withColumn("prior_ppm", expr(
        "(nd1 + 1L) * 1000000L div (nd + 2L)" +
          " - (nd - nd1 + 1L) * 1000000L div (nd + 2L)"))
      .select("prior_ppm")
    toks.join(w, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("w_ppm").as("evidence_ppm"))
      .crossJoin(broadcast(pr)) // 1-row prior broadcast
      .withColumn("nb_keep", col("evidence_ppm") > 0L)
      .select("doc_id", "n_toks", "evidence_ppm", "prior_ppm", "nb_keep")
  }

  /** Shared NB training pass: (token, class) Laplace counts over the
    * training token stream → the vocab-sized `(tok, w_ppm)` weight
    * table plus the 1-row guarded totals `(t1, t0, v)`.
    *
    * The nano headroom limit (T_c+V ≤ 10⁹, the documented exactness
    * bound) is asserted IN-ENGINE on the totals row: past it Spark's
    * integer `div` floors p₀ to 0 and the ratio division NULLs
    * silently — silently dropping docs from downstream keep-gates —
    * while DuckDB errors loudly. The `assert_true` makes both engines
    * fail loudly at the same documented limit (r13 ADVICE).
    */
  private def nbWeightTable(trainToks: DataFrame,
      lbl: DataFrame): (DataFrame, DataFrame) = {
    val (m, tot) = nbModel(trainToks, lbl)
    (m.select("tok", "w_ppm"), tot)
  }

  // guard folded into the USED column so pruning can't drop it
  private def guardedTotal(t: String) = expr(
    s"coalesce(cast(assert_true($t + v <= 1000000000L, concat(" +
      s"'NB nano-scale headroom exceeded: $t+v = ', $t + v, " +
      s"' > 1e9 — raise the conditional scale or shard by source'" +
      s")) as bigint), $t)").as(t)

  private val WPpmExpr =
    "least(greatest(((c1 + 1L) * 1000000000L div (t1 + v)) * 1000000L" +
      " div ((c0 + 1L) * 1000000000L div (t0 + v)), 15625L), 64000000L)" +
      " - 1000000L"

  private val WUnseenExpr =
    "least(greatest((1000000000L div (t1 + v)) * 1000000L" +
      " div (1000000000L div (t0 + v)), 15625L), 64000000L)" +
      " - 1000000L"

  /** The NB model WITH its per-token support: `(tok, c1, c0, w_ppm)`
    * plus the 1-row guarded totals `(t1, t0, v)` — the introspectable
    * form (C139 reads the support columns; scoring callers go through
    * [[nbWeightTable]]'s `(tok, w_ppm)` projection).
    */
  def nbModel(trainToks: DataFrame,
      lbl: DataFrame): (DataFrame, DataFrame) = {
    val vc = trainToks.join(lbl, "doc_id").groupBy("tok").agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("label"), 0L).otherwise(1L)).as("c0"))
    val tot = vc.agg(sum("c1").as("t1"), sum("c0").as("t0"),
        count(lit(1)).as("v"))
      .select(guardedTotal("t1"), guardedTotal("t0"), col("v"))
    val m = vc.crossJoin(broadcast(tot)) // 1-row totals broadcast
      .withColumn("w_ppm", expr(WPpmExpr))
      .select("tok", "c1", "c0", "w_ppm")
    (m, tot)
  }

  /** Held-out NB scoring (C136) — the deployment shape the C134
    * docstring promises: TRAIN on `trainDocs` against `trainLabels`,
    * SCORE `scoreDocs` (disjoint by construction in the gated query —
    * the C18 split). Score-side tokens LEFT-join the weight table and
    * vocabulary misses take the smoothed Laplace-floor weight
    *
    *   w_unseen_ppm = clamp((10⁹ div (T₁+V)) · 10⁶
    *                        div (10⁹ div (T₀+V)),
    *                        [10⁶/64, 64·10⁶]) − 10⁶
    *
    * — exactly [[naiveBayesScores]]'s per-token weight at c₁=c₀=0
    * against the SAME training totals, i.e. the weight Laplace(+1)
    * smoothing assigns any token outside the training vocabulary. The
    * per-doc `n_unseen` is exported so a consumer can gate on OOV
    * mass (a high-unseen doc's evidence is mostly the floor weight,
    * not the model).
    *
    * Long headroom: identical to [[naiveBayesScores]] (same weight
    * clamp, same nano guard via the shared trainer); the floor weight
    * is one more clamped ratio, |w_unseen_ppm| ≤ 63·10⁶.
    *
    * Scale shape: training is the C134 pass over the train split;
    * scoring is one token pass over the score split, LEFT-joined
    * against the vocab-sized weight table under the same
    * broadcast-below-threshold / AQE-skew-join-above contract as
    * [[naiveBayesScores]], plus a 1-row floor-weight broadcast.
    */
  def naiveBayesScoresHoldout(trainDocs: DataFrame, trainLabels: DataFrame,
      scoreDocs: DataFrame, text: Column = col("text")): DataFrame = {
    val lbl = trainLabels
      .select(col("doc_id"), col("label").cast("boolean").as("label"))
      .localCheckpoint(true)
    def tokify(d: DataFrame) = d.select(col("doc_id"),
      explode(split(lower(text), " ")).as("tok"))
    val (w, tot) = nbWeightTable(tokify(trainDocs), lbl)
    val wu = tot.withColumn("w_unseen_ppm", expr(WUnseenExpr))
      .select("w_unseen_ppm")
    nbScore(scoreDocs, w, wu, text)
  }

  /** Fit the NB model once and MATERIALIZE it — the persisted-model
    * deployment shape (fit on yesterday's labeled corpus, score every
    * new crawl shard against the same frozen weights; the streaming
    * ingestion path scores each micro-batch through [[nbScore]]).
    * Returns the vocab-sized `(tok, w_ppm)` weight table and the
    * 1-row `(w_unseen_ppm)` Laplace floor, both eagerly checkpointed
    * so repeated scoring passes do not re-run the training aggregation
    * (a cluster deployment writes them to parquet instead — same
    * contract, durable storage).
    */
  def nbFit(trainDocs: DataFrame, trainLabels: DataFrame,
      text: Column = col("text")): (DataFrame, DataFrame) = {
    val lbl = trainLabels
      .select(col("doc_id"), col("label").cast("boolean").as("label"))
      .localCheckpoint(true)
    val (w, tot) = nbWeightTable(
      trainDocs.select(col("doc_id"),
        explode(split(lower(text), " ")).as("tok")), lbl)
    val wu = tot.withColumn("w_unseen_ppm", expr(WUnseenExpr))
      .select("w_unseen_ppm")
    (w.localCheckpoint(true), wu.localCheckpoint(true))
  }

  /** Score a document batch against a fitted model — the shared
    * scoring tail of [[naiveBayesScoresHoldout]], public so a fitted
    * `(w, wu)` pair from [[nbFit]] can score many batches (or each
    * streaming micro-batch) without re-training. Same join contract
    * as [[naiveBayesScores]]: weight table broadcasts below the
    * threshold, AQE skew-join above it.
    */
  def nbScore(scoreDocs: DataFrame, w: DataFrame, wu: DataFrame,
      text: Column = col("text")): DataFrame =
    scoreDocs.select(col("doc_id"),
        explode(split(lower(text), " ")).as("tok"))
      .join(w, Seq("tok"), "left")
      .crossJoin(broadcast(wu)) // 1-row unseen-floor broadcast
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("w_ppm").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(coalesce(col("w_ppm"), col("w_unseen_ppm"))).as("evidence_ppm"))
      .withColumn("nb_keep", col("evidence_ppm") > 0L)
      .select("doc_id", "n_toks", "n_unseen", "evidence_ppm", "nb_keep")

  /** Split-conformal threshold (C138): given a calibration relation
    * `(doc_id, s)` of nonconformity scores on TRUE-labeled items, the
    * ⌈(1−α)(n+1)⌉-th smallest s — the distribution-free cut: gating
    * test items at s ≤ threshold drops at most α of true items in
    * expectation (marginal, under exchangeability of calibration and
    * test). Rank selection runs through [[Prefix.globalRank]] (no
    * single-task window over the calibration relation); if the rank
    * exceeds n the threshold is Long.MaxValue (keep everything — the
    * standard small-n degeneracy). Returns the 1-row `(thr_s)` frame
    * plus (n_cal, k_rank) for the caller's report.
    */
  def conformalThreshold(cal: DataFrame,
      alphaPpm: Long): (DataFrame, Long, Long) = {
    val (ranked, nCal) = Prefix.globalRank(cal, "rk",
      Seq(col("s"), col("doc_id")))
    val kRank = ((1000000L - alphaPpm) * (nCal + 1L) + 999999L) / 1000000L
    val thr =
      if (kRank > nCal)
        cal.sparkSession.range(1).select(lit(Long.MaxValue).as("thr_s"))
      else ranked.filter(col("rk") === lit(kRank))
        .select(col("s").as("thr_s"))
    (thr, nCal, kRank)
  }

  /** K-fold cross-validated NB scoring (C137) — every document scored
    * by the model trained on the OTHER k−1 folds, in ONE relational
    * pass (no per-fold driver loop): the training token stream is the
    * corpus replicated to each fold it trains (explode over folds,
    * filtered off the doc's own fold — the declared ×(k−1) CV cost),
    * per-(fold, token) Laplace counts give k vocab-sized models, and
    * each doc's tokens LEFT-join its own fold's weights with
    * vocabulary misses taking that fold's Laplace floor (the C136
    * unseen contract, per fold).
    *
    * `fold` must be a deterministic integer column in [0, k) (the C18
    * permille bucket div (1000/k) — engine-reproducible at any SF).
    * `scoreText` defaults to `trainText` but the gated query passes
    * the OOV-suffixed text so the floor path stays live in the hash
    * gate (the C136 fixture).
    *
    * Long headroom: identical to [[naiveBayesScores]] per fold (each
    * fold's totals are bounded by the full-corpus totals; the nano
    * guard asserts per fold row). Scale shape: one explode ∝ k ×
    * corpus tokens → (fold, token) hash agg = k vocab-sized models;
    * scoring is one token pass joined on (fold, token); the totals
    * and floors are k-row broadcasts.
    */
  def naiveBayesKfoldScores(docs: DataFrame, labels: DataFrame, k: Int,
      fold: Column, trainText: Column = col("text"),
      scoreText: Column = null): DataFrame = {
    val scoreT = Option(scoreText).getOrElse(trainText)
    val lbl = labels
      .select(col("doc_id"), col("label").cast("boolean").as("label"))
      .localCheckpoint(true)
    val dk = docs.withColumn("__fold", fold.cast("long"))
    def tokify(t: Column) = dk.select(col("doc_id"), col("__fold"),
      explode(split(lower(t), " ")).as("tok"))
    val trainToks = tokify(trainText)
      .withColumn("f", explode(sequence(lit(0L), lit(k - 1L))))
      .filter(col("f") =!= col("__fold"))
      .select("doc_id", "f", "tok")
    val vc = trainToks.join(lbl, "doc_id").groupBy("f", "tok").agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("label"), 0L).otherwise(1L)).as("c0"))
    val tot = vc.groupBy("f").agg(sum("c1").as("t1"), sum("c0").as("t0"),
        count(lit(1)).as("v"))
      .select(col("f"), guardedTotal("t1"), guardedTotal("t0"), col("v"))
    val w = vc.join(broadcast(tot), "f") // k-row totals broadcast
      .withColumn("w_ppm", expr(WPpmExpr))
      .select("f", "tok", "w_ppm")
    val wu = tot.withColumn("w_unseen_ppm", expr(WUnseenExpr))
      .select("f", "w_unseen_ppm")
    tokify(scoreT).withColumnRenamed("__fold", "f")
      .join(w, Seq("f", "tok"), "left")
      .join(broadcast(wu), "f") // k-row floor broadcast
      .groupBy("doc_id", "f")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("w_ppm").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(coalesce(col("w_ppm"), col("w_unseen_ppm"))).as("evidence_ppm"))
      .withColumn("nb_keep", col("evidence_ppm") > 0L)
      .select(col("doc_id"), col("f").as("fold"), col("n_toks"),
        col("n_unseen"), col("evidence_ppm"), col("nb_keep"))
  }
}
