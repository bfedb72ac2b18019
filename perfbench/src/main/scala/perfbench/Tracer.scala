package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans recorded around the benchmark's calls into each layer, plus the
  * Spark jobs and stages those calls started, all kept in memory and read
  * once at the end of the run.
  *
  * Spans are always recorded (they time the passes). The listener and the
  * job descriptions that attribute Spark work to a layer are installed by
  * [[enable]], in a traced run only. A job started on the benchmark's own
  * thread carries the layer name as its job description; a job started on
  * another thread (the server's pool) has none and is attributed by its
  * program call site. */
final class Tracer(val runId: String) extends SparkListener {
  import Tracer._

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same base as Spark's listener timestamps. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val parents = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var sc: SparkContext = _
  @volatile private var traced = false

  def attach(context: SparkContext): Unit = sc = context

  /** From now on, listen to Spark and label jobs with their layer. */
  def enable(): Unit = {
    sc.addSparkListener(this)
    traced = true
  }

  def disable(): Unit = {
    traced = false
    sc.removeSparkListener(this)
  }

  /** Time `f` as a span named `name`, child of the span open on this thread.
    * With `layer` set, a traced run labels the jobs `f` starts with it. */
  def span[T](name: String, layer: String = null)(f: => T): T = {
    val id = ids.incrementAndGet()
    val stack = parents.get
    parents.set(id :: stack)
    val labelled = traced && layer != null && sc != null
    val previous = if (labelled) sc.getLocalProperty(DescriptionKey) else null
    if (labelled) sc.setJobDescription(layer)
    val t0 = nowMs
    try f
    finally {
      spans.add(Span(id, name, layer, stack.headOption.getOrElse(0L), t0, nowMs))
      if (labelled) sc.setJobDescription(previous)
      parents.set(stack)
    }
  }

  /** A span of layer `layer` measured elsewhere (a client request on a
    * sender thread). */
  def record(layer: String, start: Double, end: Double): Unit =
    spans.add(Span(ids.incrementAndGet(), layer, layer, 0L, start, end))

  def spansNamed(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq
  def allSpans: Seq[Span] = spans.asScala.toSeq

  // ------------------------------------------------------------ listener
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val exec = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
    val site = e.stageInfos.map(_.details) ++
      prop("spark.sql.execution.id").flatMap(id => Option(executionSites.get(id)))
    jobs.put(e.jobId, Job(e.jobId, prop(DescriptionKey).orNull, site.mkString("\n"),
      exec.orNull, e.time, -1L, e.stageIds))
  }

  // SQL executions' call sites: a query's jobs launched from Spark's own
  // threads (adaptive query stages) carry no program frame themselves
  private val executionSites = new ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionSites.put(s.executionId.toString, s.details)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = Option(si.taskMetrics)
    stages.put(si.stageId, Stage(si.stageId,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      si.numTasks, m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
  }

  /** Wait until the listener bus has delivered the end of every job seen. */
  def drain(timeoutMs: Long = 10000): Unit = if (traced) {
    val until = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < until)
      Thread.sleep(20)
  }

  /** Layer of every job: its description when the benchmark set one, else
    * its call site, else the layer of another job of the same SQL
    * execution. */
  def jobsByLayer: Map[String, Seq[Job]] = {
    val all = jobs.values.asScala.toSeq
    def direct(j: Job): Option[String] =
      if (j.desc != null && Layers.all.contains(j.desc)) Some(j.desc)
      else if (j.site.contains("WellsQuery.scala")) Some("wells.query")
      else if (j.site.contains("Serve.scala")) Some("wells.serve")
      else None
    val byExec = all.flatMap(j => direct(j).filter(_ => j.exec != null).map(j.exec -> _)).toMap
    all.groupBy(j => direct(j).orElse(Option(j.exec).flatMap(byExec.get)).getOrElse("unattributed"))
  }

  /** Per-layer totals over the window [from, to], divided by `units`. */
  def layerMetrics(from: Double, to: Double, units: Double): Map[String, Double] = {
    drain()
    val byLayer = jobsByLayer
    Layers.all.flatMap { layer =>
      val js = byLayer.getOrElse(layer, Nil).filter(j => j.start >= from && j.start <= to)
      // jobs no benchmark span covers (the server's pool) are their own spans
      val covered = allSpans.filter(s => s.layer == layer && s.start >= from && s.end <= to)
      val intervals = covered.map(s => (s.start, s.end)) ++
        js.filter(_.desc == null).map(j => (j.start.toDouble, math.max(j.end, j.start).toDouble))
      val st = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
      val wall = Intervals.length(intervals)
      val busy = Intervals.overlap(intervals,
        st.map(s => (s.submitted.toDouble, s.completed.toDouble)))
      Seq(
        s"$layer.s" -> wall / 1000 / units,
        s"$layer.jobs" -> js.size / units,
        s"$layer.tasks" -> st.map(_.tasks).sum / units,
        s"$layer.exec_run_s" -> st.map(_.runMs).sum / 1000.0 / units,
        s"$layer.shuffle_bytes" -> st.map(_.shuffleBytes).sum / units,
        s"$layer.driver_only_s" -> (wall - busy) / 1000 / units)
    }.toMap
  }

  /** Every job seen, with its layer, as JSON lines for the trace file. */
  def jobLines: Seq[String] = jobsByLayer.toSeq.flatMap { case (layer, js) =>
    js.map(j => (j.id, s"""{"run": "$runId", "job": ${j.id}, "layer": "$layer", """ +
      s""""start_ms": ${j.start}, "end_ms": ${j.end}, "stages": ${j.stageIds.size}, """ +
      s""""site": "${j.site.linesIterator.take(3).mkString(" | ").replace("\\", "/").replace("\"", "'")}"}"""))
  }.sortBy(_._1).map(_._2)

  /** Spark jobs attributed to `layers` that started inside [from, to]. */
  def jobCount(layers: Set[String], from: Double, to: Double): Int =
    jobsByLayer.filter(kv => layers(kv._1)).values.flatten
      .count(j => j.start >= from && j.start <= to)

  /** Distinct SQL executions attributed to `layer` inside [from, to]. */
  def executions(layer: String, from: Double, to: Double): Int =
    jobsByLayer.getOrElse(layer, Nil)
      .filter(j => j.start >= from && j.start <= to)
      .map(j => Option(j.exec).getOrElse(s"job${j.id}")).distinct.size

  /** Self time of span `p`: its length minus the part its children cover. */
  def selfTime(p: Span): Double = {
    val kids = allSpans.filter(_.parent == p.id).map(k => (k.start, k.end))
    p.ms - Intervals.overlap(Seq((p.start, p.end)), kids)
  }
}

object Tracer {
  val DescriptionKey = "spark.job.description"

  final case class Span(id: Long, name: String, layer: String, parent: Long,
      start: Double, end: Double) {
    def ms: Double = end - start
  }
  final case class Job(id: Int, desc: String, site: String, exec: String,
      start: Long, end: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitted: Long, completed: Long, tasks: Int,
      runMs: Long, shuffleBytes: Long)
}

/** Lengths of unions of [start, end] intervals. */
object Intervals {
  def union(xs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(xs: Seq[(Double, Double)]): Double = union(xs).map(x => x._2 - x._1).sum

  /** Length of union(a) ∩ union(b). */
  def overlap(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double = {
    val ub = union(b)
    union(a).map { case (s, e) =>
      ub.map { case (s2, e2) => math.max(0.0, math.min(e, e2) - math.max(s, s2)) }.sum
    }.sum
  }
}
