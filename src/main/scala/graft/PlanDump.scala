package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for named declared queries to files —
  * the before/after plan evidence for optimization rounds
  * (`plans/rNN/<query>_<tag>.txt`). Usage:
  *
  *   runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  *
  * Same session shape as Bench (AQE on, shuffle partitions = cpus) so
  * the dumped initial plan matches what the bench executes; AQE's
  * runtime re-optimization is visible in the audit instead
  * (EXPLAIN_AUDIT.txt captures executed plans).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, qlist) = args.take(4)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qlist.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
