package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The layers per-layer metrics are reported for, named after the program's
  * modules. A catalog gate's layer is its family prefix. */
object Layers {
  val wells: Seq[String] =
    Seq("wells.extract", "wells.load", "wells.enrich", "wells.query", "wells.serve")
  val catalog: Seq[String] = Seq("q", "dd", "ta", "mm", "vs", "sa", "pp").map("catalog." + _)
  val all: Seq[String] = wells ++ catalog

  def ofGate(gate: String): String = "catalog." + gate.takeWhile(_.isLetter)
}

/** Every metric the benchmark can print, with its unit. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s")

  val perLayer: Seq[(String, String)] =
    Layers.all.flatMap(l => Seq(s"$l.s" -> "s", s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.exec_run_s" -> "s", s"$l.shuffle_bytes" -> "bytes", s"$l.driver_only_s" -> "s")) ++
    Seq("wells.extract.docs" -> "count", "wells.extract.pdf_mb" -> "MB",
      "wells.load.rows" -> "count", "wells.load.reload_s" -> "s",
      "wells.enrich.fetches" -> "count", "wells.enrich.max_inflight" -> "count",
      "wells.enrich.site_wait_s" -> "s", "wells.enrich.rejects" -> "count",
      "wells.query.rows" -> "count", "wells.query.payload_bytes" -> "bytes",
      "wells.serve.hit_p50_ms" -> "ms", "wells.serve.hit_p99_ms" -> "ms",
      "wells.serve.miss_ms" -> "ms", "wells.serve.jobs_per_request" -> "count",
      "wells.serve.recomputes_per_publish" -> "count",
      "wells.serve.client_lag_p99_ms" -> "ms", "wells.serve.p99_ms" -> "ms",
      "wells.serve.max_rps" -> "req/s", "wells.serve.fresh_ms" -> "ms",
      "wells.serve.failed_requests" -> "count", "wells.serve.publish_errors" -> "count") ++
    CatalogRun.gates.map(g => s"gate.$g.s" -> "s") ++
    Seq("bench.gap_s" -> "s", "bench.pass_s" -> "s", "bench.latency_ms" -> "ms",
      "bench.peak_rss_mb" -> "MiB", "bench.overhead_pass_s" -> "s",
      "bench.overhead_latency_ms" -> "ms")
}

/** What a workload measured. `endToEnd` holds pass_s and latency_ms (the
  * latter prints as the per-layer `bench.latency_ms`); `perLayer` the
  * workload's own per-layer values (the rest print as 0). */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
    endToEnd: Map[String, Double], perLayer: Map[String, Double], notes: Seq[String])

/** A workload: inputs are generated before set-up (untimed), the warm-up
  * ends set-up, `measure` runs for about `seconds`. */
trait Workload {
  def generate(): Unit
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Int): Outcome
  def close(): Unit = ()
}

object Host {
  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def procKb(file: String, key: String): Long =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().collectFirst { case l if l.startsWith(key) =>
        l.split("\\s+")(1).toLong }.getOrElse(-1L)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }

  def memAvailableMb: Long = procKb("/proc/meminfo", "MemAvailable:") / 1024
  /** Peak resident set size of this process (VmHWM), MiB. */
  def peakRssMb: Double = procKb("/proc/self/status", "VmHWM:") / 1024.0
}

object Session {
  /** A session set up as `graft.Bench` sets up its own. */
  def start(cpus: Int, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `f`, then drop the persisted RDD blocks it created, as Bench does. */
  def releasing[T](spark: SparkSession)(f: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try f
    finally spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before(id) }.values.foreach(_.unpersist(false))
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      if (pos == lo) s(lo) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workloadName = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val traced = arg(args, "trace") == "1"
    val work = Path.of(arg(args, "work"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val start = (Host.loadAvg, Host.memAvailableMb)
    val tracer = new Tracer(s"$workloadName-$seed")
    val workload: Workload = workloadName match {
      case "wells" => new WellsRun(tracer, work, seed, cpus)
      case "catalog" => new CatalogRun(tracer, arg(args, "data"), arg(args, "fingerprints"))
    }
    val t0 = System.nanoTime()
    workload.generate()
    val generateS = (System.nanoTime() - t0) / 1e9

    val spark = Session.start(cpus, Map(
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString))
    tracer.attach(spark.sparkContext)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0 - generateS
    var setupEnd = 0.0
    val outcome = try {
      workload.warmUp(spark)
      setupEnd = tracer.nowMs
      // set-up: process start to the end of the warm-up, input generation excluded
      val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0 - generateS
      val plain = workload.measure(spark, seconds)
      val o = if (!traced) plain else {
        // the same measurement with tracing on, between two without: the
        // traced one minus the mean of the others is the tracing overhead
        // (the mean cancels the runs getting warmer)
        tracer.enable()
        val t = workload.measure(spark, seconds)
        tracer.disable()
        val plain2 = workload.measure(spark, seconds)
        def overhead(m: String) = t.endToEnd(m) - (plain.endToEnd(m) + plain2.endToEnd(m)) / 2
        t.copy(attempted = plain.attempted + t.attempted + plain2.attempted,
          failed = plain.failed + t.failed + plain2.failed,
          errors = (plain.errors ++ t.errors ++ plain2.errors).distinct,
          perLayer = t.perLayer ++ Seq("bench.overhead_pass_s" -> overhead("pass_s"),
            "bench.overhead_latency_ms" -> overhead("latency_ms")))
      }
      o.copy(endToEnd = o.endToEnd + ("setup_s" -> setupS), perLayer = o.perLayer +
        ("bench.peak_rss_mb" -> Host.peakRssMb))
    } finally {
      workload.close()
      spark.stop()
    }
    val end = (Host.loadAvg, Host.memAvailableMb)

    // an output that does not match is incorrect; a failed request (HTTP
    // 500 outside a publish, timeout, stale body) counts in `failed` only
    val correct = outcome.errors.isEmpty
    val shown = if (traced) Metrics.perLayer else Metrics.endToEnd
    val values = if (traced)
      outcome.perLayer ++ Seq("bench.pass_s" -> outcome.endToEnd("pass_s"),
        "bench.latency_ms" -> outcome.endToEnd("latency_ms"))
    else outcome.endToEnd
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val metricsJson = shown.map { case (n, u) =>
      s""""$n": {"value": ${num(values.getOrElse(n, 0.0))}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    Files.writeString(Path.of(arg(args, "result")),
      s"""{"correct": $correct, "attempted": ${outcome.attempted}, "failed": ${outcome.failed}, "metrics": $metricsJson}""")

    if (traced) Files.write(Path.of(arg(args, "trace-out")), tracer.allSpans.sortBy(_.start).map { x =>
      f"""{"run": "${tracer.runId}", "id": ${x.id}, "parent": ${x.parent}, "name": "${x.name}", "layer": "${Option(x.layer).getOrElse("")}", "start_ms": ${x.start}%.3f, "end_ms": ${x.end}%.3f}"""
    }.++(tracer.jobLines).asJava)

    val lines = Seq(
      f"[perfbench] workload=$workloadName seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} cpus=$cpus",
      f"[perfbench] host loadavg ${start._1}%.2f -> ${end._1}%.2f, MemAvailable ${start._2} -> ${end._2} MiB, input generation $generateS%.2f s, session up after $sessionS%.2f s") ++
      Seq("[perfbench] set-up spans: " + tracer.allSpans.filter(_.end <= setupEnd)
        .map(x => f"${x.name} ${x.ms / 1000}%.2f").mkString(", ")) ++
      outcome.notes.map("[perfbench] " + _) ++
      outcome.errors.take(20).map("[perfbench] CHECK FAILED: " + _) ++
      Metrics.endToEnd.map { case (n, u) => f"[perfbench] $n = ${outcome.endToEnd.getOrElse(n, 0.0)}%.4f $u" } ++
      Seq(f"[perfbench] latency_ms = ${outcome.endToEnd("latency_ms")}%.4f ms (per-layer bench.latency_ms)",
        f"[perfbench] peak_rss_mb = ${outcome.perLayer("bench.peak_rss_mb")}%.1f MiB (per-layer bench.peak_rss_mb)") ++
      (if (traced) Metrics.perLayer.map { case (n, u) => f"[perfbench] $n = ${values.getOrElse(n, 0.0)}%.4f $u" } else Nil)
    Files.writeString(Path.of(arg(args, "summary")), lines.mkString("", "\n", "\n"))
  }
}
