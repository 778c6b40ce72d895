package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * One traced call into a layer. Times are epoch milliseconds (fractional),
 * on the clock Spark stamps job events with. `rep` groups the spans of one
 * job repetition or query; `parent` is -1 for the repetition's root.
 */
final case class Span(id: Long, name: String, parent: Long, rep: Int,
    start: Double, buildEnd: Double, end: Double, collectedRows: Long)

/** Spark work attributed to one span (its own jobs only, not its children's). */
final class SpanWork {
  var jobs, buildJobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs, shuffleBytes, spillBytes, rowsWritten = 0L
}

/**
 * The benchmark's own tracer. Each span's id is set as the Spark job group
 * while the span runs, and a local property marks the build or run phase,
 * so the listener can attribute every job, stage and task to the innermost
 * span. Spans stay in memory until the run ends.
 */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  var rep = 0

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  /** job id -> (span id, start ms, end ms) */
  val jobs = new ConcurrentHashMap[Int, Array[Double]]()
  val work = new ConcurrentHashMap[Long, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  /** (start ms, end ms, planning ms) per successful query execution */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var markerJobsSeen = 0L
  @volatile private var markerPlansSeen = 0L
  private var markersSent = 0L

  private def spanWork(id: Long) = work.computeIfAbsent(id, _ => new SpanWork)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).foreach { g =>
        if (g == Tracer.MarkerGroup) markerJobs.add(e.jobId)
        else if (g.startsWith("span-")) {
          val id = g.stripPrefix("span-").toLong
          jobs.put(e.jobId, Array(id.toDouble, e.time.toDouble, Double.NaN))
          val w = spanWork(id)
          w.synchronized {
            w.jobs += 1
            if (p.exists(_.getProperty("perfbench.phase") == "build")) w.buildJobs += 1
          }
          e.stageIds.foreach(s => stageSpan.put(s, id))
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_(2) = e.time.toDouble)
      if (markerJobs.remove(e.jobId)) markerJobsSeen += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
        val w = spanWork(id)
        w.synchronized { w.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val m = e.taskMetrics
        val w = spanWork(id)
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.taskMs += m.executorRunTime
            w.cpuNs += m.executorCpuTime
            w.gcMs += m.jvmGCTime
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.diskBytesSpilled
            w.rowsWritten += m.outputMetrics.recordsWritten
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (qe.analyzed.output.exists(_.name == Tracer.MarkerColumn)) markerPlansSeen += 1
      else if (ph.nonEmpty)
        plans.add(Array(ph.map(_.startTimeMs).min.toDouble, ph.map(_.endTimeMs).max.toDouble,
          ph.map(_.durationMs).sum.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /**
   * Runs `build` (the call that returns a Dataset, with whatever eager work
   * it does) and then `run` (materializing its output at the boundary), as
   * one span. `run` returns the rows it collected, or -1 when the rows are
   * counted from the written files' task metrics.
   */
  def span[T](name: String)(build: => T)(run: T => Long): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(-1L)
    stack = id :: stack
    sc.setJobGroup(s"span-$id", name)
    sc.setLocalProperty("perfbench.phase", "build")
    val start = nowMs
    try {
      val out = build
      val buildEnd = nowMs
      sc.setLocalProperty("perfbench.phase", "run")
      val rows = run(out)
      spans += Span(id, name, parent, rep, start, buildEnd, nowMs, rows)
      out
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", "")
        case None => sc.clearJobGroup()
      }
      sc.setLocalProperty("perfbench.phase", "run")
    }
  }

  /** Waits until both listeners have seen every event posted so far: a
    * marker query runs after the traced work, and the listener bus delivers
    * each queue's events in order, so seeing the marker's job end and query
    * success means everything before it was delivered. */
  def drain(): Unit = {
    markersSent += 1
    sc.setJobGroup(Tracer.MarkerGroup, "")
    try spark.range(1).toDF(Tracer.MarkerColumn).collect()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while ((markerJobsSeen < markersSent || markerPlansSeen < markersSent) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    if (markerJobsSeen < markersSent || markerPlansSeen < markersSent)
      sys.error("listener bus did not drain within 30 s")
  }

  def stop(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }
}

object Tracer {
  val MarkerGroup = "perfbench-marker"
  val MarkerColumn = "perfbench_marker"
}

/** Folds a finished traced run into the per-layer metrics. */
object TraceReport {

  val SpanNames: Seq[String] = Seq("sources.read", "sources.write", "core.normalize",
    "core.alignedPairs", "core.pairMods", "core.allSimilarityValue", "core.topSimilar",
    "core.persist", "core.similarity", "ext.Dedup.autoDedupPairs",
    "ext.Dedup.dupGroupsStars", "ext.Dedup.keepBest")

  val SpanMetrics: Seq[(String, String)] = Seq("build_s" -> "s", "build_jobs" -> "count",
    "run_s" -> "s", "self_s" -> "s", "gap_s" -> "s", "jobs" -> "count", "task_s" -> "s",
    "shuffle_bytes" -> "bytes", "rows" -> "count")

  val SparkMetrics: Seq[(String, String)] = Seq("plan_s" -> "s", "job_active_s" -> "s",
    "driver_gap_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "spill_bytes" -> "bytes")

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /**
   * Per-layer metrics: for each span name, the per-repetition sum over its
   * spans, then the median over the repetitions it ran in. Span counters
   * include child spans' work; `self_s` is the span's wall minus its
   * children's. `gap_s` is wall time not covered by any Spark job, so
   * wall = (wall − gap_s) + gap_s holds per span by construction; the
   * returned `violations` counts spans where the parts failed to add up.
   */
  def build(tr: Tracer): (Seq[(String, (Double, String))], Int) = {
    val spans = tr.spans.toSeq
    val children = spans.groupBy(_.parent)
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => !j(2).isNaN)
    val jobIv = jobs.map(j => (j(1), j(2)))
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def workOf(ss: Seq[Span]): Seq[SpanWork] = ss.flatMap(x => Option(tr.work.get(x.id)))
    var violations = 0

    def spanValues(s: Span): Map[String, Double] = {
      val wall = (s.end - s.start) / 1e3
      val gap = wall - covered(jobIv, s.start, s.end) / 1e3
      if (gap < -1e-9 || gap > wall + 1e-9) violations += 1
      val sub = subtree(s)
      val w = workOf(sub)
      val childWall = children.getOrElse(s.id, Nil).map(c => (c.end - c.start) / 1e3).sum
      val rows = sub.map(x => if (x.collectedRows >= 0) x.collectedRows.toDouble else 0.0).sum +
        w.map(_.rowsWritten.toDouble).sum
      Map(
        "build_s" -> (s.buildEnd - s.start) / 1e3,
        "build_jobs" -> Option(tr.work.get(s.id)).map(_.buildJobs.toDouble).getOrElse(0.0),
        "run_s" -> (s.end - s.buildEnd) / 1e3,
        "self_s" -> (wall - childWall),
        "gap_s" -> gap,
        "jobs" -> w.map(_.jobs.toDouble).sum,
        "task_s" -> w.map(_.taskMs / 1e3).sum,
        "shuffle_bytes" -> w.map(_.shuffleBytes.toDouble).sum,
        "rows" -> rows)
    }

    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    for (name <- SpanNames) {
      val perRep = spans.filter(_.name == name).groupBy(_.rep).values.map { ss =>
        ss.map(spanValues).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
      }.toSeq
      for ((m, u) <- SpanMetrics) out += s"$name.$m" -> (median(perRep.map(_(m))), u)
    }

    // whole-repetition Spark totals, from the timed repetitions' roots
    val roots = spans.filter(s => s.parent == -1L && s.name == "rep")
    val planned = tr.plans.asScala.toSeq
    val perRoot = roots.map { r =>
      val w = workOf(subtree(r))
      val wall = (r.end - r.start) / 1e3
      val active = covered(jobIv, r.start, r.end) / 1e3
      Map(
        "plan_s" -> planned.filter(p => p(0) >= r.start - 1 && p(1) <= r.end + 1).map(_(2) / 1e3).sum,
        "job_active_s" -> active,
        "driver_gap_s" -> (wall - active),
        "jobs" -> w.map(_.jobs.toDouble).sum,
        "stages" -> w.map(_.stages.toDouble).sum,
        "tasks" -> w.map(_.tasks.toDouble).sum,
        "task_s" -> w.map(_.taskMs / 1e3).sum,
        "cpu_s" -> w.map(_.cpuNs / 1e9).sum,
        "gc_s" -> w.map(_.gcMs / 1e3).sum,
        "spill_bytes" -> w.map(_.spillBytes.toDouble).sum)
    }
    for ((m, u) <- SparkMetrics) out += s"spark.$m" -> (median(perRoot.map(_(m))), u)
    (out.toSeq, violations)
  }
}
