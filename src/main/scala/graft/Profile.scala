package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.PlanInspect

/** Where a catalog gate's seconds go, from Spark's own listener events and
  * executed plans: for every gate at two scale dirs, the min and median
  * wall time of three timed runs (after one untimed warm pass, each into a
  * noop sink, as [[Bench]] times them) and, for the median run, its jobs,
  * stages, tasks, executor time, shuffle, spill and input volumes, and the
  * driver-only seconds (wall time minus the union of its stage intervals).
  * The plan columns (exchanges, file scans, files and bytes read, and every
  * interpreted CodegenFallback expression) come from the executed plan of
  * the timed write. Each stage is named by its Spark call site: the first
  * `graft` frame that launched its job, or the gate's final plan when the
  * job came from the timed write itself. From the two scales each gate gets
  * a fixed-cost intercept and a slope per input row read (min wall time
  * against the rows its median run read); a negative intercept is reported
  * as it is.
  *
  * Usage: `runMain graft.Profile <out.json> <sfDirA> <sfDirB> [gatePrefix,…]`
  * (no prefixes = the whole catalog). Runs on `local[SPARK_GRAFT_CPUS]`
  * with Bench's session settings. */
object Profile {
  val Runs = 3
  /** Site of a stage whose job came from the timed write itself. */
  val FinalWrite = "gate plan (timed write)"

  final case class Stage(id: Int, site: String, start: Long, end: Long,
      tasks: Int, runMs: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      shuffleReadBytes: Long, shuffleReadRecords: Long, memorySpill: Long,
      diskSpill: Long, inputBytes: Long, inputRecords: Long)

  final case class Plan(exchanges: Int, fileScans: Int, filesRead: Long,
      bytesRead: Long, interpreted: Seq[String])

  object Plan {
    def of(p: SparkPlan): Plan = {
      val ns = distinct(PlanInspect.nodes(p))
      val scans = ns.collect { case f: FileSourceScanExec => f }
      def metric(f: FileSourceScanExec, k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
      Plan(ns.count(_.isInstanceOf[Exchange]), scans.size,
        scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum,
        PlanInspect.interpreted(p))
    }
    /** Each operator once: a reused exchange reaches the same instance twice. */
    private def distinct(xs: Seq[SparkPlan]): Seq[SparkPlan] = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
      xs.filter(seen.add)
    }
  }

  /** One timed run: its wall time, the part of it some stage of the run
    * covered, its job count, its stages and the plan of its write. */
  final case class Run(wallS: Double, stageS: Double, jobs: Int,
      stages: Seq[Stage], plan: Option[Plan]) {
    def driverOnlyS: Double = wallS - stageS
    def inputRecords: Long = stages.map(_.inputRecords).sum
  }

  /** A gate at one scale; `runs` in run order, empty if every run failed. */
  final case class Row(gate: String, scale: String, runs: Seq[Run]) {
    def minS: Double = runs.map(_.wallS).minOption.getOrElse(-1.0)
    def medianS: Double =
      if (runs.isEmpty) -1.0
      else {
        val s = runs.map(_.wallS).sorted
        val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
      }
    /** The run the metric columns describe: the middle one by wall time. */
    def median: Option[Run] = runs.sortBy(_.wallS).lift((runs.size - 1) / 2)
  }

  final case class Fit(interceptS: Double, slopeSPerRow: Double)

  final case class Result(dirs: Seq[String], rows: Seq[Row],
      failures: Seq[String]) {
    def scales: Seq[String] = dirs.map(scaleOf)
    /** Per gate, the line through its (input rows, min seconds) at the
      * first and last scale; none where the rows read did not change. */
    def fit(gate: String): Option[Fit] = {
      val pts = scales.flatMap(s => rows.find(r => r.gate == gate && r.scale == s))
        .flatMap(r => r.median.map(m => (m.inputRecords.toDouble, r.minS)))
      if (pts.size < 2 || pts.head._1 == pts.last._1) None
      else {
        val ((x0, y0), (x1, y1)) = (pts.head, pts.last)
        val slope = (y1 - y0) / (x1 - x0)
        Some(Fit(y0 - slope * x0, slope))
      }
    }
  }

  /** True for the execution of a `write.format("noop")`: a gate run's
    * timed write. */
  def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.name == "noop-table"
      case _ => false
    }
    case _ => false
  }

  def scaleOf(dir: String): String = java.nio.file.Path.of(dir).getFileName.toString

  /** Profile `gates` on each of `dirs` in turn. The session is the
    * caller's; the listeners live for this call only. */
  def run(spark: SparkSession, dirs: Seq[String], gates: Seq[String]): Result = {
    val rec = new Recorder
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val previous = sc.getLocalProperty(Recorder.DescriptionKey)
    val failures = Seq.newBuilder[String]
    try {
      val rows = for (dir <- dirs; gate <- gates) yield {
        val fn = SparkEntry.queries(gate)
        val runs = (0 to Runs).flatMap { i =>
          val label = s"$gate@${scaleOf(dir)}#$i"
          sc.setJobDescription(label)
          val plans = rec.planCount
          // unpersist (in finally) ONLY blocks this run created, as Bench
          // does: cross-run localCheckpointed state must survive
          val preexisting = sc.getPersistentRDDs.keySet
          val t0 = rec.nowMs
          val ok =
            try {
              fn(spark, dir).write.format("noop").mode("overwrite").save()
              true
            } catch { case e: Throwable =>
              failures += s"$label: ${e.getMessage}"
              System.err.println(s"[profile] $label failed: ${e.getMessage}")
              false
            } finally {
              sc.getPersistentRDDs.filterNot { case (id, _) => preexisting(id) }
                .values.foreach(_.unpersist(false))
            }
          val t1 = rec.nowMs
          sc.setJobDescription(previous)
          val run = if (ok) Some(rec.collect(label, t0, t1, plans)) else None
          rec.forget(label)
          run.filter(_ => i > 0) // run 0 is the untimed warm pass
        }
        val row = Row(gate, scaleOf(dir), runs)
        row.median.foreach(m => System.err.println(
          f"[profile] $gate@${row.scale} min=${row.minS}%.3f s jobs=${m.jobs} " +
            f"stages=${m.stages.size} driver_only=${m.driverOnlyS}%.3f s"))
        row
      }
      Result(dirs, rows, failures.result())
    } finally {
      sc.setJobDescription(previous)
      spark.listenerManager.unregister(rec)
      sc.removeSparkListener(rec)
    }
  }

  /** Every job, stage and noop-write plan of the session, filed under the
    * run label its job carries: its own job description, or for a job
    * started on another thread, the description of its SQL execution. */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    import Recorder._

    private val epoch0 = System.currentTimeMillis()
    private val nano0 = System.nanoTime()
    /** Epoch milliseconds at sub-millisecond resolution, on the base of
      * Spark's listener timestamps. */
    def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    private val execLabel = new ConcurrentHashMap[Long, String]()
    private val execSite = new ConcurrentHashMap[Long, String]()
    private val jobLabel = new ConcurrentHashMap[Int, String]()
    private val openJobs = ConcurrentHashMap.newKeySet[Int]()
    private val stageLabel = new ConcurrentHashMap[Int, String]()
    private val stageSite = new ConcurrentHashMap[Int, String]()
    private val stages = new ConcurrentHashMap[Int, Stage]()
    private val plans = new java.util.concurrent.ConcurrentLinkedDeque[SparkPlan]()

    def planCount: Int = plans.size

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Option(s.description).foreach(execLabel.put(s.executionId, _))
        Option(s.details).foreach(execSite.put(s.executionId, _))
      case s: SparkListenerSQLExecutionEnd =>
        execLabel.remove(s.executionId)
        execSite.remove(s.executionId)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val execs = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(prop).map(_.toLong)
      val label = prop(DescriptionKey)
        .orElse(execs.flatMap(id => Option(execLabel.get(id))).headOption)
      label.foreach { l =>
        jobLabel.put(e.jobId, l)
        openJobs.add(e.jobId)
        val execFrame = execs.flatMap(id => Option(execSite.get(id))).flatMap(graftFrame).headOption
        e.stageInfos.foreach { si =>
          stageLabel.putIfAbsent(si.stageId, l)
          stageSite.putIfAbsent(si.stageId,
            graftFrame(si.details).orElse(execFrame).getOrElse(FinalWrite))
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = openJobs.remove(e.jobId)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageSite.get(si.stageId)).foreach { site =>
        val m = si.taskMetrics
        stages.put(si.stageId, Stage(si.stageId, site,
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
          si.numTasks, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
          m.memoryBytesSpilled, m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (isNoopWrite(qe)) plans.add(qe.executedPlan)

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** The run labelled `label` over [t0, t1]. Waits for the listener bus:
      * the write's plan arrives after its jobs' ends. */
    def collect(label: String, t0: Double, t1: Double, plansBefore: Int): Run = {
      val until = System.currentTimeMillis() + 60000
      def pending = plans.size <= plansBefore ||
        openJobs.asScala.exists(id => jobLabel.get(id) == label)
      while (pending && System.currentTimeMillis() < until) Thread.sleep(5)
      if (pending) System.err.println(s"[profile] $label: listener events still pending")
      val ss = stages.asScala.collect {
        case (id, s) if stageLabel.get(id) == label => s
      }.toSeq.sortBy(_.id)
      val covered = overlap((t0, t1), ss.map(s => (s.start.toDouble, s.end.toDouble)))
      Run((t1 - t0) / 1000, covered / 1000, jobLabel.values.asScala.count(_ == label),
        ss, if (plans.size > plansBefore) Some(Plan.of(plans.peekLast)) else None)
    }

    /** Drop what the listener filed under `label`. */
    def forget(label: String): Unit = {
      openJobs.removeIf(id => jobLabel.get(id) == label)
      jobLabel.values.removeIf(_ == label)
      stageLabel.asScala.collect { case (id, l) if l == label => id }.foreach { id =>
        stageLabel.remove(id); stageSite.remove(id); stages.remove(id)
      }
      while (plans.size > 1) plans.pollFirst()
    }
  }

  private object Recorder {
    val DescriptionKey = "spark.job.description"

    /** The first two program frames of a call-site stack, outside this
      * profiler (and its spec), innermost first: the line that launched
      * the job and the line that called it, so a shared helper (a
      * checkpoint, a table read) still names its caller. */
    def graftFrame(stack: String): Option[String] =
      Some(Option(stack).toSeq.flatMap(_.linesIterator.map(_.trim))
        .filter(l => l.startsWith("graft.") && !l.startsWith("graft.Profile"))
        .take(2).mkString(" <- ")).filter(_.nonEmpty)

    /** Length of [t0, t1] ∩ (union of `xs`). */
    def overlap(window: (Double, Double), xs: Seq[(Double, Double)]): Double = {
      val clipped = xs.map { case (s, e) => (math.max(s, window._1), math.min(e, window._2)) }
        .filter(x => x._2 > x._1).sortBy(_._1)
      clipped.foldLeft((0.0, Double.NegativeInfinity)) { case ((len, reach), (s, e)) =>
        if (e <= reach) (len, reach) else (len + e - math.max(s, reach), e)
      }._1
    }
  }

  // ------------------------------------------------------------------ JSON
  private def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", v)
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  private def rowJson(r: Row): String = {
    val m = r.median
    def sum(f: Stage => Long) = m.map(_.stages.map(f).sum).getOrElse(0L).toString
    val p = m.flatMap(_.plan)
    obj("min_s" -> num(r.minS), "median_s" -> num(r.medianS),
      "runs_s" -> arr(r.runs.map(x => num(x.wallS))),
      "wall_s" -> num(m.map(_.wallS).getOrElse(-1.0)),
      "stage_s" -> num(m.map(_.stageS).getOrElse(0.0)),
      "driver_only_s" -> num(m.map(_.driverOnlyS).getOrElse(0.0)),
      "jobs" -> m.map(_.jobs).getOrElse(0).toString,
      "stages" -> m.map(_.stages.size).getOrElse(0).toString,
      "tasks" -> sum(_.tasks.toLong),
      "exec_run_s" -> num(m.map(_.stages.map(_.runMs).sum / 1000.0).getOrElse(0.0)),
      "shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "shuffle_write_records" -> sum(_.shuffleWriteRecords),
      "shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "shuffle_read_records" -> sum(_.shuffleReadRecords),
      "memory_spill_bytes" -> sum(_.memorySpill),
      "disk_spill_bytes" -> sum(_.diskSpill),
      "input_bytes" -> sum(_.inputBytes),
      "input_records" -> sum(_.inputRecords),
      "exchanges" -> p.map(_.exchanges).getOrElse(0).toString,
      "file_scans" -> p.map(_.fileScans).getOrElse(0).toString,
      "files_read" -> p.map(_.filesRead).getOrElse(0L).toString,
      "file_bytes_read" -> p.map(_.bytesRead).getOrElse(0L).toString,
      "interpreted" -> arr(p.map(_.interpreted).getOrElse(Nil).map(str)))
  }

  def json(res: Result, cpus: String): String = {
    val gates = res.rows.map(_.gate).distinct.map { g =>
      val scales = res.rows.filter(_.gate == g).map(r => r.scale -> rowJson(r))
      val fit = res.fit(g).map(f => obj("intercept_s" -> num(f.interceptS),
        "slope_s_per_row" -> String.format(java.util.Locale.ROOT, "%.6e", f.slopeSPerRow)))
      obj("gate" -> str(g), "scales" -> obj(scales: _*), "fit" -> fit.getOrElse("null"))
    }
    val stages = for (r <- res.rows; m <- r.median.toSeq; s <- m.stages) yield
      obj("gate" -> str(r.gate), "scale" -> str(r.scale), "stage" -> s.id.toString,
        "site" -> str(s.site), "s" -> num((s.end - s.start) / 1000.0),
        "tasks" -> s.tasks.toString, "exec_run_s" -> num(s.runMs / 1000.0),
        "shuffle_write_bytes" -> s.shuffleWriteBytes.toString,
        "shuffle_read_bytes" -> s.shuffleReadBytes.toString,
        "disk_spill_bytes" -> s.diskSpill.toString,
        "input_records" -> s.inputRecords.toString)
    obj("dirs" -> arr(res.dirs.map(str)), "cpus" -> cpus,
      "runs_per_gate" -> Runs.toString, "metrics_of" -> str("median run"),
      "fit_of" -> str("min_s against input_records, first to last scale"),
      "gates" -> arr(gates), "stages" -> arr(stages),
      "failed" -> arr(res.failures.map(str))) + "\n"
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: graft.Profile <out.json> <sfDirA> <sfDirB> [gatePrefix,…]")
    val dirs = Seq(args(1), args(2))
    val gates = SparkEntry.queries.keys.toSeq.sorted.filter(n =>
      args.lift(3).forall(_.split(",").exists(n.startsWith)))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/executor warm-up, as Bench's, before the first gate's warm pass
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val res = run(spark, dirs, gates)
    java.nio.file.Files.writeString(java.nio.file.Path.of(args(0)), json(res, cpus))
    println(s"[profile] wrote ${args(0)}: ${gates.size} gates x ${dirs.size} scales, " +
      s"${res.failures.size} failed runs")
    spark.stop()
  }
}
