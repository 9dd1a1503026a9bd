package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Vocab
import Probe.secs

/** r12 scale probe: C119's vocabulary-growth curve at 10 M docs —
  * the operator this round rebuilt from a single-task global window
  * onto the C74 partition-wise prefix shape, so the probe exists to
  * show the doc-level rank/cumsum stage survives a docs relation
  * 3 orders beyond the sf0.1 board.
  *
  * Corpus shape: 8 tokens per doc drawn from a universe that grows
  * with doc_id (1 + id/16 values available at doc id), so the Heaps
  * curve keeps climbing through all ten checkpoints — the regime the
  * operator exists to chart.
  *
  * Truth, independent of the operator's bucketing path:
  *  - the final checkpoint must equal the corpus-wide countDistinct
  *    and the corpus-wide token sum (full-prefix identity);
  *  - a MID checkpoint (decile 5) is re-derived by a direct
  *    filter-then-countDistinct over docs ≤ its threshold — the
  *    per-checkpoint rescan the operator avoids, affordable once
  *    here AS the truth;
  *  - the curve is strictly monotone in docs/tokens and nondecreasing
  *    in distinct tokens.
  *
  * Runnable standalone: `sbt 'runMain graft.Probe vocab_growth [multiplier]'`
  * (multiplier 100 = 10 M docs).
  */
object VocabGrowth {
  def run(spark: SparkSession, n: Long): Unit = {
    // 8 tokens/doc; token universe at doc id is 1 + id/16 distinct
    // values, so later deciles keep minting first-seen tokens
    val docs = spark.range(0, n).select(col("id").as("doc_id"),
      expr("""array_join(transform(sequence(0, 7),
             |  j -> concat('t', pmod(hash(id, j), 1L + id div 16L))), ' ')"""
        .stripMargin).as("text"))

    val (curve, t) = secs {
      Vocab.vocabGrowthCurve(docs, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
    }
    println(f"[stress9] vocabGrowthCurve over $n%d docs: ${t}%.1f s")
    assert(curve.length == 10, s"expected 10 checkpoints, got ${curve.length}")
    // monotonicity + the exact decile doc counts
    curve.zipWithIndex.foreach { case ((k, nd, cum, dv), i) =>
      assert(nd == (i + 1) * n / 10, s"decile $k n_docs=$nd != ${(i + 1) * n / 10}")
      if (i > 0) {
        assert(cum > curve(i - 1)._3, s"cum_tokens not increasing at $k")
        assert(dv >= curve(i - 1)._4, s"distinct_tokens decreasing at $k")
      }
    }
    // full-prefix identity: last checkpoint == corpus-wide truth
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val full = toks.agg(count(lit(1)).as("nt"),
      countDistinct(col("tok")).as("dv")).collect()(0)
    assert(curve.last._3 == full.getLong(0),
      s"final cum_tokens ${curve.last._3} != corpus sum ${full.getLong(0)}")
    assert(curve.last._4 == full.getLong(1),
      s"final distinct ${curve.last._4} != corpus countDistinct ${full.getLong(1)}")
    // mid-checkpoint truth by the direct rescan the operator avoids:
    // decile 5 distinct = countDistinct over doc_id rank ≤ 5N/10. The
    // synthetic doc_id IS the rank-1 offset, so the threshold is a
    // plain id cut — no window needed for the truth either.
    val midDocs = 5L * n / 10
    val midTruth = toks.filter(col("doc_id") < midDocs)
      .agg(countDistinct(col("tok"))).collect()(0).getLong(0)
    assert(curve(4)._4 == midTruth,
      s"decile-5 distinct ${curve(4)._4} != direct rescan $midTruth")
    println(f"[stress9] 10-checkpoint curve matches corpus truth " +
      f"(final distinct=${curve.last._4}%d, mid rescan OK); OK")
  }
}
