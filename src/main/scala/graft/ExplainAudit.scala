package graft
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-regression audit: prints a grep-able skeleton of every registered
  * query's physical plan (scans, exchanges, joins, aggregates, windows,
  * codegen spans) plus a per-query `Scan parquet` count. Covers the FULL
  * `SparkEntry.queries` registry — not a hand-maintained list — so a new
  * gate is audited the day it lands. Output is committed as
  * `EXPLAIN_AUDIT.txt`; plan regressions show up as diffs.
  *
  * EAGER stages are audited too (r11 verdict #3): operators that run
  * driver actions inside the builder (per-partition prefix collects,
  * BPE training rounds, packing histograms) execute jobs BEFORE the
  * returned DataFrame exists, so the tail plan alone hides exactly the
  * stages where bad shapes hide — r11's single-task vocab_growth window
  * was invisible to the old audit. A QueryExecutionListener now captures
  * EVERY plan executed while a gate builds, deduped by plan hash, and
  * prints each as an `eager stage` section under the query.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_FULL=1 prints whole plans instead of the skeleton —
    // the drill-down mode for adjudicating a flagged section (the
    // skeleton drops the Project/Filter lines between an exchange and
    // its real child)
    val full = sys.env.get("SPARK_GRAFT_FULL").contains("1")
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")

    val captured = new scala.collection.mutable.LinkedHashMap[Int, String]()
    val capture = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        val p = qe.executedPlan.toString
        captured.synchronized { captured.getOrElseUpdate(p.hashCode, p) }
      }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(capture)

    def skeleton(plan: String): Seq[String] = plan.linesIterator.filter(l =>
      l.contains("Scan parquet") || l.contains("PushedFilters") ||
      l.contains("ReadSchema") || l.contains("Exchange") ||
      l.contains("Broadcast") || l.contains("WholeStageCodegen") ||
      l.contains("HashAggregate") || l.contains("Join") ||
      l.contains("Sort") || l.contains("Window") ||
      l.contains("Sessions")).toSeq
    // a SinglePartition exchange whose child is a PARTIAL aggregate
    // (one row per upstream partition crosses) or a LocalLimit (≤ n
    // rows per partition cross — the take(n)/isEmpty probe shape) is
    // benign at any scale. Anything else funnels real rows into one
    // task: the C119/C52/C73 defect class this audit exists to
    // surface. Counted from the FULL plan (the skeleton drops the
    // child lines the classification needs).
    // Returns one SIGNATURE per suspect — the first non-empty line
    // after the exchange (the operator feeding it), so the declared
    // map below can fold by PLAN FRAGMENT instead of bare count: a
    // declared query that loses its adjudicated exchange while
    // gaining a new unrelated one at equal count must still surface
    // the newcomer (ADVICE r13 — the count-based fold masked exactly
    // that swap).
    def suspectSingles(plan: String): Seq[String] = {
      val ls = plan.linesIterator.toArray
      ls.indices.flatMap { i =>
        // a ReusedExchange line NAMES its reuse target ("ReusedExchange
        // [...], Exchange SinglePartition, ...") — that is a reference
        // to an exchange audited at its definition site, not a second
        // exchange; flagging it double-counts and (under AQE, where the
        // next line is a QueryStage header, not the partial agg) false-
        // positives on benign totals reuse
        if (ls(i).contains("Exchange SinglePartition") &&
            !ls(i).contains("ReusedExchange")) {
          val nxt = ls.drop(i + 1).find(_.trim.nonEmpty)
          // keyless aggregates emit ≤ 1 row per upstream partition
          // into the exchange whether they carry partial_ functions
          // or NONE AT ALL (functions=[] — a bare existence/1-row
          // funnel, e.g. the NB prior's broadcast side): both are the
          // benign global-agg shape
          val benign = nxt.exists(l =>
            ((l.contains("HashAggregate(keys=[]") ||
              l.contains("SortAggregate(key=[]") ||
              l.contains("ObjectHashAggregate(keys=[]")) &&
             (l.contains("partial_") || l.contains("functions=[]"))) ||
            l.contains("LocalLimit "))
          if (benign) None else Some(nxt.map(_.trim).getOrElse(""))
        } else None
      }
    }
    // Declared bounded-domain single-partition shapes, adjudicated in
    // SURVEY §2: the exchanged relation is ∝ a bounded domain
    // (calendar days, value levels, fixed bins/buckets) or a
    // gate-fixture publish — not ∝ corpus. Each entry carries the
    // EXPECTED per-section suspect count (ADVICE r12) AND a plan
    // FRAGMENT the suspect's signature must contain (ADVICE r13):
    // only matching suspects fold into `declaredSinglePartition`, up
    // to the expected count; anything else — a newly-introduced
    // unrelated single-task exchange, even at equal count — still
    // prints as `suspectSinglePartition` and is a regression to fix,
    // not to re-adjudicate. Fragments are the adjudicated operators'
    // stable keys (the grouping key / projected column of the
    // bounded-domain relation). Entries whose suspects have since
    // optimized away stay listed with their fragment: they fold
    // nothing today and can never mask an unrelated newcomer.
    val declared = Map(
      "q_changepoint" -> (2, "AS dev#", "calendar-day cumsum (B91 sweep)"),
      "q_concurrent_sessions" -> (1, "dt#", "calendar-day boundary sweep"),
      "q_mann_whitney" -> (1, "AS cnt#", "value-level rank relation"),
      "q_period_over_period" -> (1, "keys=[week#", "calendar-week lag"),
      "q_range_join" -> (1, "keys=[bkt#", "calendar-day prefix over day nets"),
      "q_survival" -> (1, "Project [bucket#", "duration-bucket life table"),
      "select_token_budget" -> (1, "keys=[b#", "config-sized score buckets (C35)"),
      "eval_auc_binned" -> (1, "keys=[bin#", "fixed 400-bin grid"),
      "q_window_actives" -> (1, "day#", "calendar-day boundary weights"),
      "q_forecast_backtest" -> (1, "day#", "calendar-day series"),
      "q_seasonal_index" -> (1, "month#", "calendar-month index"),
      "q_trend_forecast" -> (1, "day#", "calendar-day regression moments"),
      "q_equidepth_hist" -> (1, "bound#", "config-sized quantile boundaries"),
      "q_benford" -> (1, "digit#", "9-digit domain"),
      "q_ab_srm" -> (1, "arm#", "2-arm contingency"),
      "q_chi_squared" -> (1, "cell#", "bounded category contingency"),
      "q_gap_fill" -> (1, "grid#", "calendar grid"),
      "q_gap_interp" -> (1, "grid#", "calendar grid"),
      "mixture_waterfill" -> (2, "keys=[source#", "sources-sized allocation relation"),
      "multimodal_dims" -> (1, "AS media_id#", "fixture publish repartition(1), gate-sized media"),
      "multimodal_image_dedup" -> (1, "AS media_id#", "fixture publish repartition(1), gate-sized media"))
    def summarize(kept: Seq[String], plan: String, name: String): String = {
      val scans = kept.count(_.contains("Scan parquet"))
      val reused = kept.count(_.contains("ReusedExchange"))
      val single = kept.count(_.contains("SinglePartition"))
      val suspects = suspectSingles(plan)
      val tail = declared.get(name) match {
        case Some((expected, fragment, reason)) if suspects.nonEmpty =>
          val folded = suspects.count(_.contains(fragment)) min expected
          s" suspectSinglePartition=${suspects.size - folded}" +
            s" declaredSinglePartition=$folded ($reason)"
        case _ => s" suspectSinglePartition=${suspects.size}"
      }
      s"scans=$scans reusedExchange=$reused singlePartitionExchanges=$single$tail"
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    for (name <- names) {
      println(s"========== $name ==========")
      try {
        captured.synchronized { captured.clear() }
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.toString
        // drain the async listener bus so every eager plan is in the
        // buffer before it is read (see graftaudit.ListenerFlush)
        org.apache.spark.graftaudit.ListenerFlush.flush(spark.sparkContext)
        val kept = skeleton(plan)
        println(s"-- ${summarize(kept, plan, name)}")
        println(if (full) plan else kept.mkString("\n"))
        val eager = captured.synchronized { captured.values.toSeq }
        eager.zipWithIndex.foreach { case (p, i) =>
          val ek = skeleton(p)
          println(s"---- eager stage ${i + 1}/${eager.size} ----")
          println(s"-- ${summarize(ek, p, name)}")
          println(if (full) p else ek.mkString("\n"))
        }
      } catch {
        case e: Exception =>
          println(s"-- PLAN FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
