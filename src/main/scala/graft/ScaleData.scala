package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measurement harness (r10 verdict #7): build a ×N scale point from
  * an existing testdata dir so the bench can measure sf0.1→sf1.0
  * SLOPES instead of asserting "linear in tokens" untested.
  *
  * The scale-up must preserve each query's selectivity structure, not
  * just row counts, so replicas are SHIFTED/TRANSFORMED, never plain
  * copies:
  *
  *  - fact/dim keys shift by replica × (max+1): join fan-outs and
  *    group cardinalities scale ×N, dims nation/region stay fixed
  *    (as TPC-H scaling does);
  *  - `documents.text` gets a per-replica deterministic word
  *    permutation: within a replica the near-dup structure survives
  *    (near-identical docs permute to near-identical docs), across
  *    replicas shingle overlap is destroyed — a plain copy would give
  *    every doc 9 exact twins and blow the LSH candidate volume
  *    quadratically, which is a DIFFERENT workload, not a bigger one;
  *  - `embeddings.embedding` is rotated by replica positions — an
  *    orthogonal transform, so all within-replica cosines are
  *    preserved exactly while cross-replica vectors decorrelate;
  *  - `events` keeps its time range (×N traffic in the same window)
  *    with event/user ids shifted.
  *
  * Usage: `sbt 'runMain graft.ScaleData /root/testdata/sf0.1 /tmp/sf1.0 10'`
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, src, dst, factor)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    /** Union of `factor` transformed replicas (replica 0 = identity). */
    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = rd(t)
      wr((0 until factor).map(r => f(base, r)).reduce(_ unionAll _), t)
    }
    def shift(df: DataFrame, c: String, step: Long, r: Int): DataFrame =
      df.withColumn(c, col(c) + lit(step * r))

    // key steps: max+1 from the base tables (exact, not guessed)
    def maxOf(t: String, c: String): Long =
      rd(t).agg(max(col(c))).collect()(0).getLong(0) + 1L

    val (ordStep, custStep, partStep, suppStep) =
      (maxOf("orders", "o_orderkey"), maxOf("customer", "c_custkey"),
        maxOf("part", "p_partkey"), maxOf("supplier", "s_suppkey"))
    val docStep = maxOf("documents", "doc_id")
    val vecStep = maxOf("embeddings", "vec_id")
    val evStep = maxOf("events", "event_id")
    val userStep = maxOf("events", "user_id")

    // dims stay fixed
    wr(rd("nation"), "nation")
    wr(rd("region"), "region")

    replicate("customer")((d, r) => shift(d, "c_custkey", custStep, r))
    replicate("supplier")((d, r) => shift(d, "s_suppkey", suppStep, r))
    replicate("part")((d, r) => shift(d, "p_partkey", partStep, r))
    replicate("orders")((d, r) =>
      shift(shift(d, "o_orderkey", ordStep, r), "o_custkey", custStep, r))
    replicate("lineitem")((d, r) =>
      shift(shift(shift(d, "l_orderkey", ordStep, r), "l_partkey", partStep, r),
        "l_suppkey", suppStep, r))
    replicate("events")((d, r) =>
      shift(shift(d, "event_id", evStep, r), "user_id", userStep, r))

    replicate("documents") { (d, r) =>
      val shifted = shift(d, "doc_id", docStep, r)
      if (r == 0) shifted
      else {
        // deterministic per-replica word permutation: sort positions
        // by hash(i, replica-salt); same-length near-identical docs
        // permute identically, so within-replica similarity survives
        shifted.withColumn("text", expr(
          s"""array_join(transform(array_sort(transform(split(text, ' '),
             |  (w, i) -> struct(hash(i, ${r * 7919}) AS h, i AS i, w AS w))),
             |  s -> s.w), ' ')""".stripMargin))
      }
    }
    replicate("embeddings") { (d, r) =>
      val shifted = shift(d, "vec_id", vecStep, r)
      if (r == 0) shifted
      else shifted.withColumn("embedding", expr(
        s"""concat(slice(embedding, ${r + 1}, size(embedding) - $r),
           |  slice(embedding, 1, $r))""".stripMargin))
    }
    val counts = Seq("lineitem", "orders", "events", "documents", "embeddings")
      .map(t => s"$t=${spark.read.parquet(s"$dst/$t.parquet").count()}")
    println(s"[scale] wrote $dst at x$factor: ${counts.mkString(", ")}")
  }
}
