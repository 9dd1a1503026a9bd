package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark re-use across
  * suites is much faster than per-suite sessions).
  */
object LocalSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
