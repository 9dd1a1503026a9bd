package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.{Tables => T}

/** One-off tuning probe: recall + candidate volume of
  * Similarity.cosinePairsLsh vs the exact all-pairs ground truth, per
  * (planes, tables) — run at sf0.01/sf0.1 to pin the default params
  * the oracle gate relies on.
  */
object LshTune {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = T.embeddings(spark, sfDir).cache()
    val truth = Similarity.cosinePairs(emb, 0.42)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"TRUTH ${truth.size}")
    for ((planes, tables) <- Seq((3, 8), (3, 12), (3, 16), (4, 16), (4, 24), (4, 32))) {
      val got = Similarity.cosinePairsLsh(emb, 0.42, tables, planes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val missed = truth -- got
      println(s"planes=$planes tables=$tables recall=${got.size}/${truth.size} missed=${missed.size}")
    }
    spark.stop()
  }
}
