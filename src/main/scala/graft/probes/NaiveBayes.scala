package graft
package probes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.CorpusStats
import Probe.secs

/** r13 scale probe: the C134 Naive Bayes classifier at 10 M docs /
  * 80 M tokens — the round's fitted-classifier addition, probed at
  * 3 orders beyond the sf0.1 board to back the §2 claim that the
  * model state is VOCAB-sized (one (token, class) hash agg) and the
  * scoring pass is a plain token-stream hash join, so the shape is
  * two corpus scans + vocab-sized state at any corpus size.
  *
  * Corpus shape (adversarial on purpose):
  *  - 8 tokens/doc; HOT-KEY skew — every doc carries 4 copies of ONE
  *    shared filler token (50 % of the entire token stream on one
  *    key, the prefix_rank adversary applied to the (token,
  *    class) agg and the scoring join);
  *  - the remaining 4 tokens are class-discriminative: class-1 docs
  *    draw from a 100 k-token A-vocabulary, class-0 docs from a
  *    disjoint 100 k B-vocabulary — so the planted truth is exact;
  *  - labels: 75 % class 1 (doc_id % 4 != 0), the skewed-prior
  *    regime where the r13 decision contract (evidence only, prior
  *    exported) must still split.
  *
  * Truth, independent of the operator:
  *  - every doc classifies to its planted class (the vocabularies are
  *    disjoint; the shared filler's weight must not flip anything —
  *    this is exactly the failure mode that sank the additive
  *    difference kernel at gate scale, replayed at 10 M docs);
  *  - filler tokens contribute a near-zero weight in both classes
  *    (the ratio form's defining property);
  *  - n_toks conservation: Σ n_toks = 8 · docs.
  *
  * SHUFFLE-regime leg (r14, r13 verdict #5): the same corpus and the
  * same truth with `autoBroadcastJoinThreshold = −1` — the regime a
  * 100 TB-corpus vocabulary lands in when the weight table outgrows
  * the broadcast threshold. The scoring join then shuffles the token
  * stream on the token key with the hot filler carrying 50 % of it;
  * AQE's skew-join split is the declared mitigation
  * (CorpusStats.naiveBayesScores scale contract), and this leg proves
  * the shape survives it: identical agreement/conservation, wall time
  * reported next to the broadcast leg.
  *
  * Runnable standalone: `sbt 'runMain graft.Probe naive_bayes [multiplier]'`
  * (multiplier 100 = 10 M docs).
  */
object NaiveBayes {
  def run(spark: SparkSession, n: Long): Unit = {
    // 4 hot filler copies + 4 class-vocabulary tokens per doc; the
    // class vocabularies are disjoint 100k-token universes
    val docs = spark.range(n)
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          lit("f f f f"),
          concat(
            when(col("id") % 4 =!= 0, lit("a")).otherwise(lit("b")),
            pmod(hash(col("id"), lit(1)), lit(100000)).cast("string")),
          concat(
            when(col("id") % 4 =!= 0, lit("a")).otherwise(lit("b")),
            pmod(hash(col("id"), lit(2)), lit(100000)).cast("string")),
          concat(
            when(col("id") % 4 =!= 0, lit("a")).otherwise(lit("b")),
            pmod(hash(col("id"), lit(3)), lit(100000)).cast("string")),
          concat(
            when(col("id") % 4 =!= 0, lit("a")).otherwise(lit("b")),
            pmod(hash(col("id"), lit(4)), lit(100000)).cast("string"))
        ).as("text"))
    val labels = spark.range(n)
      .select(col("id").as("doc_id"), (col("id") % 4 =!= 0).as("label"))

    def leg(tag: String): Double = {
      val (agg, t) = secs {
        CorpusStats.naiveBayesScores(docs, labels)
          .select(
            count(lit(1)).as("docs"),
            sum("n_toks").as("toks"),
            sum(when(col("nb_keep") === (col("doc_id") % 4 =!= 0), 1L)
              .otherwise(0L)).as("agree"))
          .collect()(0)
      }
      val (d, tok, agree) =
        (agg.getLong(0), agg.getLong(1), agg.getLong(2))
      println(f"[stress-nb] $tag n=$n%,d docs=$d%,d tokens=$tok%,d " +
        f"planted-class agreement=$agree%,d (${100.0 * agree / d}%.3f%%) " +
        f"fit+score=${t}%.1f s")
      require(d == n, s"$tag row conservation: $d != $n")
      require(tok == 8L * n, s"$tag token conservation: $tok != ${8L * n}")
      require(agree == n,
        s"$tag planted truth violated: $agree of $n docs agree — the hot " +
          "filler or the skewed prior flipped a decision")
      t
    }
    val tBroadcast = leg("broadcast")
    // shuffle regime: the weight table past the broadcast threshold —
    // token-keyed shuffle with the 50%-one-key filler, AQE skew-join
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val tShuffle =
      try leg("shuffle")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    println(f"[stress-nb] broadcast=${tBroadcast}%.1f s " +
      f"shuffle=${tShuffle}%.1f s (x${tShuffle / tBroadcast}%.2f)")
    println("[stress-nb] OK")
  }
}
