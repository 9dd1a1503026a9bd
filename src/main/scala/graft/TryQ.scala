package graft

/** Dev harness: run named registry queries against a data dir and
  * print OK/row-count or the failure class+message — the fast loop
  * for scale-probe triage (`sbt 'runMain graft.TryQ /tmp/sf1.0 a,b'`).
  */
object TryQ {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- args(1).split(",")) {
      try {
        val df = SparkEntry.queries(n)(spark, args(0))
        val c = df.count()
        println(s"[tryq] $n OK rows=$c")
      } catch { case e: Throwable =>
        println(s"[tryq] $n FAILED: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      }
    }
    spark.stop()
  }
}
