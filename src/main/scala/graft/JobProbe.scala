package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall-clock attribution for ONE declared query (guide §1 —
  * measure first): runs the query once at the given SF through the
  * noop sink and prints every Spark job's duration with its call site,
  * so a multi-action operator (the CDC store gates run counts, merge,
  * rollup, SCD2 and log jobs per publish) shows where its seconds go.
  * Driver gaps (planning, file listing, pointer I/O) appear as the
  * difference between the job-sum and the total. Usage:
  *
  *   runMain graft.JobProbe <sfDir> <q1,q2,...> [passes]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        val stages = js.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '\n')}[${si.numTasks}]").mkString(" | ")
        starts.put(js.jobId, (System.nanoTime(), s"$site :: $stages"))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          rows.add((je.jobId, (System.nanoTime() - t0) / 1e9, site))
          spans.add((t0, System.nanoTime(), site))
        }
      }
    })
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      run(fn(spark, "/root/testdata/sf0.001")) // warm-up
      (1 to passes).foreach { p =>
        rows.clear()
        spans.clear()
        val t0 = System.nanoTime()
        run(fn(spark, sfDir))
        val tEnd = System.nanoTime()
        val total = (tEnd - t0) / 1e9
        Thread.sleep(200) // let the listener bus drain
        val sorted = rows.toArray(Array.empty[(Int, Double, String)]).sortBy(_._1)
        val jobSum = sorted.map(_._2).sum
        println(f"== $name pass $p: total $total%.3f s, ${sorted.length} jobs " +
          f"(job-sum $jobSum%.3f s, driver gap ${total - jobSum}%.3f s)")
        sorted.foreach { case (id, sec, site) =>
          if (sec >= 0.010) println(f"  job $id%4d $sec%8.3f s  $site")
        }
        // Gap attribution: idle driver time before each job charged to
        // that job's label (planning happens before submission); the
        // tail after the last job charged to "(end)". Labels collapse
        // to their first " :: " token.
        val byStart = spans.toArray(Array.empty[(Long, Long, String)]).sortBy(_._1)
        var cursor = t0
        val gapBy = scala.collection.mutable.Map.empty[String, Double]
        val runBy = scala.collection.mutable.Map.empty[String, Double]
        byStart.foreach { case (s0, e0, site) =>
          val lbl = site.split(" :: ").head
          if (s0 > cursor) gapBy(lbl) = gapBy.getOrElse(lbl, 0.0) + (s0 - cursor) / 1e9
          runBy(lbl) = runBy.getOrElse(lbl, 0.0) + (math.min(e0, tEnd) - math.max(s0, cursor)).max(0L) / 1e9
          cursor = math.max(cursor, e0)
        }
        if (tEnd > cursor) gapBy("(end)") = gapBy.getOrElse("(end)", 0.0) + (tEnd - cursor) / 1e9
        println(f"  -- gap/run by label (pass $p):")
        (gapBy.keySet ++ runBy.keySet).toSeq
          .sortBy(l => -(gapBy.getOrElse(l, 0.0) + runBy.getOrElse(l, 0.0)))
          .foreach { l =>
            println(f"  gap ${gapBy.getOrElse(l, 0.0)}%7.3f s  run ${runBy.getOrElse(l, 0.0)}%7.3f s  $l")
          }
      }
    }
    spark.stop()
  }
}
