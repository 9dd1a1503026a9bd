package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional for
  * spans the benchmark times itself); `parent` is the index of the
  * enclosing span in the same trace, -1 for a root.
  */
final case class Span(name: String, kind: String, start: Double, end: Double, parent: Int,
    attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory tracer. It listens only while a traced op runs, so the
  * untraced ops of the same run pay nothing for it:
  *
  *   - a SparkListener records job, stage and task spans, each job
  *     with its `spark.job.description` label (the label
  *     `CdcPipeline.labeled` sets) and each stage with its metrics;
  *   - a QueryExecutionListener records the Catalyst phases
  *     (analysis, optimization, planning) of every action and the
  *     files its scans read.
  *
  * Every span is placed by times taken where the work ran (job and
  * task times from the scheduler, phase times from the client
  * thread), never by when the listener bus delivers the event. Ops
  * are the benchmark's own spans; everything else is attached to the
  * op it falls in. All spans are kept in memory and written out as
  * JSON lines at the end.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  final case class Job(id: Int, label: String, start: Double, var end: Double = -1)
  final case class Stage(id: Int, job: Int, start: Double, end: Double, tasks: Int,
      taskMs: Double, shuffleWrite: Long, spill: Long)
  /** One action's Catalyst phases and the store data files its scans
    * read; `end` is when its last phase ended on the client thread.
    */
  final case class Plan(func: String, phases: Map[String, (Double, Double)], files: Set[String]) {
    def end: Double = phases.values.map(_._2).max
  }

  private val lock = new Object
  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Span]
  val plans = mutable.ArrayBuffer.empty[Plan]
  val ops = mutable.ArrayBuffer.empty[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val j = Job(e.jobId, label, e.time.toDouble)
    jobs += j; jobById(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val i = e.taskInfo
    tasks += Span(s"task ${e.stageId}.${i.index}", "task", i.launchTime.toDouble,
      i.finishTime.toDouble, -1, Map("stage" -> e.stageId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val s = e.stageInfo
    val m = Option(s.taskMetrics)
    stages += Stage(s.stageId, stageJob.getOrElse(s.stageId, -1),
      s.submissionTime.getOrElse(0L).toDouble, s.completionTime.getOrElse(0L).toDouble,
      s.numTasks,
      m.map(_.executorRunTime.toDouble).getOrElse(0.0),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
  }

  /** Bucket data files (not index or log sidecars) the plan's scans list. */
  private def scannedFiles(plan: SparkPlan): Set[String] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      .flatMap(_.relation.location.inputFiles).filter(_.contains("_graft_bucket=")).toSet

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble)
    }
    // an action with no recorded phase has no client-side time to place it by
    if (phases.nonEmpty) {
      val files = try scannedFiles(qe.executedPlan) catch { case _: Throwable => Set.empty[String] }
      lock.synchronized { plans += Plan(func, phases, files) }
    }
  }

  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = ()

  /** Time one op on the client thread with the listeners registered,
    * then wait for the events it caused and unregister them.
    */
  def op[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): (T, Span) = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    try {
      val s = nowMs
      val r = body
      val span = Span(name, "op", s, nowMs, -1, attrs)
      lock.synchronized { ops += span }
      (r, span)
    } finally {
      drain()
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
  }

  /** Wait until the listener bus has delivered every event so far. */
  private def drain(): Unit = {
    val m = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    m.getClass.getMethod("waitUntilEmpty").invoke(m)
  }

  // --- analysis ----------------------------------------------------------

  private def within(op: Span, t: Double): Boolean = t >= op.start - 1 && t <= op.end + 1

  /** Length of the union of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var tot = 0.0; var curS = Double.NaN; var curE = Double.NaN
    c.foreach { case (a, b) =>
      if (curS.isNaN) { curS = a; curE = b }
      else if (a > curE) { tot += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (!curS.isNaN) tot += curE - curS
    tot
  }

  /** `labels`: op wall time per job label; each job is charged its
    * own time plus the driver gap before it, and the time after the
    * op's last job goes to the empty label. `plans` counts the
    * actions placed in the op; `files` are the data files their scans
    * read.
    */
  final case class OpLayers(jobs: Int, jobMs: Double, gapMs: Double, planMs: Double,
      taskMs: Double, shuffleWrite: Long, spill: Long, plans: Int, files: Int,
      labels: Map[String, Double])

  def layers(op: Span): OpLayers = lock.synchronized {
    val js = jobs.filter(j => within(op, j.start)).sortBy(_.start).toSeq
    val ids = js.map(_.id).toSet
    def endOf(j: Job) = if (j.end < 0) op.end else math.min(j.end, op.end)
    val jobMs = covered(js.map(j => (j.start, endOf(j))), op.start, op.end)
    val st = stages.filter(s => ids.contains(s.job))
    val ps = plans.filter(p => within(op, p.end))
    val planMs = ps.map(_.phases.values.map { case (a, b) => b - a }.sum).sum
    val labels = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var cursor = op.start
    js.foreach { j =>
      val e = endOf(j)
      if (e > cursor) { labels(j.label) += e - cursor; cursor = e }
    }
    if (op.end > cursor) labels("") += op.end - cursor
    OpLayers(js.size, jobMs, op.dur - jobMs, planMs,
      st.map(_.taskMs).sum, st.map(_.shuffleWrite).sum, st.map(_.spill).sum,
      ps.size, ps.flatMap(_.files).toSet.size, labels.toMap)
  }

  /** Wall time per `cdc.run:` phase within an op, from `layers`: a
    * `store.*` job runs inside the run's merge+publish phase and is
    * charged to it; unlabelled time, and any other label, is
    * `unlabeled`.
    */
  def phases(op: Span): Map[String, Double] =
    layers(op).labels.toSeq.map { case (l, ms) =>
      (if (l.startsWith("cdc.run: ")) l.stripPrefix("cdc.run: ")
       else if (l.startsWith("store.")) "merge+publish"
       else "unlabeled") -> ms
    }.groupMapReduce(_._1)(_._2)(_ + _)

  def writeSpans(file: File): Unit = lock.synchronized {
    val all = mutable.ArrayBuffer.empty[Span]
    ops.foreach(all += _)
    def parentOf(t: Double): Int = ops.indexWhere(o => within(o, t))
    val jobIdx = mutable.HashMap.empty[Int, Int]
    jobs.foreach { j =>
      jobIdx(j.id) = all.size
      all += Span(if (j.label.isEmpty) s"job ${j.id}" else j.label, "job", j.start, j.end,
        parentOf(j.start), Map("job" -> j.id))
    }
    val stageIdx = mutable.HashMap.empty[Int, Int]
    stages.foreach { s =>
      stageIdx(s.id) = all.size
      all += Span(s"stage ${s.id}", "stage", s.start, s.end, jobIdx.getOrElse(s.job, -1),
        Map("tasks" -> s.tasks, "task_ms" -> s.taskMs, "shuffle_write" -> s.shuffleWrite,
          "spill" -> s.spill))
    }
    tasks.foreach(t => all += t.copy(parent = stageIdx.getOrElse(
      t.attrs("stage").asInstanceOf[Int], -1)))
    plans.foreach { p =>
      p.phases.foreach { case (ph, (a, b)) =>
        all += Span(s"catalyst.$ph", "plan", a, b, parentOf(a),
          Map("func" -> p.func, "files" -> p.files.size))
      }
    }
    val w = new PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq("name" -> s.name, "kind" -> s.kind, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent) ++ s.attrs.toSeq))
    } finally w.close()
  }
}

/** JVM-level counters for the jvm.* metrics. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakLive = 0L

  /** From now on, track the heap in use right after each collection.
    * Its peak is the live set at its largest; the raw peak of a fixed,
    * pre-touched heap is just the heap size.
    */
  def watchLiveHeap(): Unit = {
    peakLive = 0L
    val listener: NotificationListener = (n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakLive = math.max(peakLive, live)
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  /** Peak heap after a collection since `watchLiveHeap`, in MB; the
    * heap in use now when no collection ran.
    */
  def peakLiveHeapMb: Double = {
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (if (peakLive > 0) peakLive else now) / 1048576.0
  }
}
