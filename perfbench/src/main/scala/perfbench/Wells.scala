package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.wells._
import perfbench.WellsCorpus._

/** The wells pipeline in the order `graft.wells.Main` runs it: extract to
  * CSV, load, enrich, `/wells`. Each call into a layer is a span. */
object WellsPipeline {
  final case class Result(headerRows: Long, wells: Seq[String])

  def run(spark: SparkSession, t: Tracer, docDir: String, out: String, root: String,
      client: Enrichment.EnrichmentClient): Result = {
    t.span("wells.extract", "wells.extract") {
      val docs = Extraction.scanDocuments(spark, docDir, PdfText.AutoDetect).cache()
      try {
        val (header, stim) = Extraction.extractAll(docs)
        header.coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(s"$out/well_header")
        stim.coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(s"$out/well_stimulation")
        docs.count()
      } finally docs.unpersist()
    }
    val stats = t.span("wells.load", "wells.load") {
      Loader.run(spark, s"$out/well_header", s"$out/well_stimulation", root)
    }
    t.span("wells.enrich", "wells.enrich") { Enrichment.run(spark, root, client).count() }
    val wells = t.span("wells.query", "wells.query") {
      WellsQuery.wellsJson(spark.read.parquet(s"$root/well_info"),
        spark.read.parquet(s"$root/well_stimulation"))
    }
    Result(stats.rows, wells)
  }

  def payloadBytes(wells: Seq[String]): Long =
    wells.map(_.getBytes(UTF_8).length.toLong).sum + math.max(wells.size - 1, 0) + 2
}

/** `wells`: the user's job, then the map users' view of its result.
  *
  * Batch: generated well PDFs go through the whole pipeline, pass after
  * pass, each pass on fresh tables and checked after it ends.
  *
  * Serve: the last pass's table root is served by `Serve.start` and read by
  * an open loop of independent map users (Poisson arrivals from the seed, at
  * most `cpus` sender threads), one phase per fixed rate. Under each phase
  * a writer publishes a small delta `Loader.run` whose rows carry a version
  * marker, so a stale body is detectable. */
final class WellsRun(t: Tracer, work: Path, seed: Long, cpus: Int) extends Workload {
  import WellsPipeline._
  import Session.releasing
  import WellsRun._

  // Half the 2,000 documents of the plan: at 2,000 a run takes about 80 s
  // and 24 of them do not fit the time budget (see perfbench/README.md).
  private val docs = 1000
  // A warm-up as large as the corpus costs about 10 s of set-up, and its
  // first measured pass was not steadier (15.1, 14.1, 11.6 s in one run).
  private val warmDocs = 150
  // One sender holds a connection for a hit's 20-30 ms, about 40 requests/s;
  // the rates go from below one sender's share to 2.5 of them (of `cpus`).
  private val rates = Seq(25.0, 50.0, 100.0) // requests per second, one phase each
  private val referenceRate = 50.0
  private val deltaWells = 20

  private var corpus: Corpus = _
  private var warm: Corpus = _
  private var pdfBytes = 0L
  private var site: Site = _
  private val rng = new Random(seed * 31 + 7)
  private val errors = ArrayBuffer.empty[String]
  private var passNo = 0

  def generate(): Unit = {
    corpus = WellsCorpus.generate(seed, docs, firstId = 10000)
    warm = WellsCorpus.generate(seed + 1, warmDocs, firstId = 1000)
    pdfBytes = WellsCorpus.write(corpus, work.resolve("docs"), seed)
    WellsCorpus.write(warm, work.resolve("warm-docs"), seed + 1)
    site = new Site(corpus.docs ++ warm.docs, cpus, delayMs = 2)
  }

  /** One pipeline pass into `work/<name>`, checked after it ends. */
  private def pass(spark: SparkSession, c: Corpus, docDir: String, name: String): Result = {
    val dir = work.resolve(name)
    val r = releasing(spark) {
      t.span("pass") {
        run(spark, t, docDir, s"$dir/csv", s"$dir/root", new HttpEnrichmentClient(site.url))
      }
    }
    errors ++= Checks.pipeline(spark, s"$dir/root", c.expected, Checks.jsonRows(r.wells))
    r
  }

  /** A pipeline pass, server and requests on a smaller corpus, so the
    * measured pass and read phases start warm. */
  def warmUp(spark: SparkSession): Unit = {
    pass(spark, warm, work.resolve("warm-docs").toString, "warm")
    val s = new Serving(spark, s"${work.resolve("warm")}/root", warm)
    try {
      val readers = (1 to cpus).map(_ => new Thread(() => for (_ <- 1 to 10) s.get()))
      readers.foreach(_.start())
      readers.foreach(_.join())
    } finally s.stop()
  }

  def measure(spark: SparkSession, seconds: Int): Outcome = {
    // batch: passes for half the window, at least one
    val from = t.nowMs
    val (req0, err0, wait0) = (site.requests.get, site.errors.get, site.waitNs.get)
    site.maxInFlight.set(0)
    var passes, failed = 0
    var last: Result = null
    while (passes == 0 || t.nowMs - from < seconds * 500.0) {
      val before = errors.size
      passNo += 1
      try last = pass(spark, corpus, work.resolve("docs").toString, s"pass$passNo")
      catch { case NonFatal(e) => errors += s"pass $passNo threw $e" }
      if (errors.size > before) failed += 1
      passes += 1
    }
    val to = t.nowMs
    val n = passes.toDouble
    val passSpans = t.spansNamed("pass").filter(_.start >= from)
    val batch = t.layerMetrics(from, to, n).filter(_._1.startsWith("wells.")) ++ Seq(
      "wells.extract.docs" -> corpus.docs.size.toDouble,
      "wells.extract.pdf_mb" -> pdfBytes / 1e6,
      "wells.load.rows" -> Option(last).map(_.headerRows.toDouble).getOrElse(0.0),
      "wells.enrich.fetches" -> (site.requests.get - req0) / n,
      "wells.enrich.max_inflight" -> site.maxInFlight.get.toDouble,
      "wells.enrich.site_wait_s" -> (site.waitNs.get - wait0) / 1e9 / n,
      "wells.enrich.rejects" -> (site.errors.get - err0) / n,
      "wells.query.rows" -> Option(last).map(_.wells.size.toDouble).getOrElse(0.0),
      "wells.query.payload_bytes" -> Option(last).map(r => payloadBytes(r.wells).toDouble).getOrElse(0.0),
      "bench.gap_s" -> passSpans.map(p => t.selfTime(p)).sum / 1000 / n)

    // serve: the last pass's tables
    val s = new Serving(spark, s"${work.resolve(s"pass$passNo")}/root", corpus)
    val served = try s.phases(seconds * 1000.0 / 12) finally s.stop()
    Outcome(passes + served.attempted, failed + served.failed, errors.toSeq ++ served.errors,
      Map("pass_s" -> Stats.median(passSpans.map(_.ms / 1000)),
        "latency_ms" -> served.referenceP50),
      batch ++ served.perLayer,
      Seq(f"$passes passes of ${corpus.docs.size} documents (${pdfBytes / 1e6}%.1f MB), " +
        f"pass_s samples ${passSpans.map(_.ms / 1000).map(v => f"$v%.3f").mkString(" ")}") ++
        served.notes)
  }

  override def close(): Unit = if (site != null) site.stop()
  /** A `Serve` instance over `root`, the writer that publishes deltas into
    * it, and the open-loop readers. */
  private final class Serving(spark: SparkSession, root: String, c: Corpus) {
    private var current = c.expected.map(w => w.pdfName -> w).toMap
    private var version = 0
    // the server's pool threads inherit this thread's job properties: start
    // it with none, so its jobs are attributed by call site
    private val server = Serve.start(spark, root, 0, None)
    private val url = s"http://127.0.0.1:${server.getAddress.getPort}/wells"

    def stop(): Unit = server.stop(0)

    def get(): Got = {
      val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(5000)
      c.setReadTimeout(10000)
      try {
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        Got(code, if (in == null) "" else new String(in.readAllBytes(), UTF_8))
      } finally c.disconnect()
    }

    private def csvField(s: String): String =
      if (s == null) ""
      else if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
      else s

    /** The next delta, written to disk: `deltaWells` wells get new
      * stimulation values, and their `details` carry the marker
      * `bench-v<version>`. */
    private def nextDelta(): Delta = {
      version += 1
      val picked = rng.shuffle(current.keys.toSeq.sorted).take(deltaWells).map(current)
      val changed = picked.map(w => w.copy(stim = w.stim.copy(
        lbs = (1000000 + rng.nextInt(8000000)).toString, details = s"bench-v$version")))
      val dir = Path.of(root).resolveSibling(s"delta$version")
      Files.createDirectories(dir)
      val header = Model.headerCols.mkString(",") +: changed.map { w =>
        val h = Checks.headerRow(w)
        Model.headerCols.map(c => csvField(
          if (c == "latitude" || c == "longitude")
            Option(h(c)).map(v => BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString).orNull
          else h(c))).mkString(",")
      }
      val stim = Model.stimCols.mkString(",") +: changed.map { w =>
        val s = Checks.stimRow(w)
        Model.stimCols.map(c => csvField(s.getOrElse(c, null))).mkString(",")
      }
      Files.write(dir.resolve("header.csv"), (header.mkString("\n") + "\n").getBytes(UTF_8))
      Files.write(dir.resolve("stim.csv"), (stim.mkString("\n") + "\n").getBytes(UTF_8))
      Delta(version, dir.toString, changed)
    }

    /** Publish `d` into the served root with `Loader.run`. */
    private def publish(d: Delta): Unit = releasing(spark) {
      t.span("wells.load", "wells.load") {
        Loader.run(spark, s"${d.dir}/header.csv", s"${d.dir}/stim.csv", root)
      }
    }

    /** One read phase: an open loop at `rate` while a writer publishes one
      * delta `quietMs` in. Reading goes on until a request sent after the
      * publish returned shows the delta, then for `quietMs` more.
      *
      * A request fails on an exception, a non-200 answer, or a body older
      * than the last publish that had returned when it was sent; an HTTP
      * 500 that overlapped the publish is the known defect and is counted
      * apart (`Phase.racing`). */
    private def phase(rate: Double, quietMs: Double, reasons: ArrayBuffer[String]): Phase = {
      val delta = nextDelta()
      val limitMs = 60000.0
      def gap() = -math.log(1 - rng.nextDouble()) * 1000 / rate
      val schedule = Iterator.iterate(gap())(_ + gap()).takeWhile(_ < limitMs).toVector
      val required = new AtomicInteger(delta.version - 1)
      val stopAt = new AtomicLong(java.lang.Double.doubleToLongBits(limitMs))
      def stopAfter(ms: Double): Unit = stopAt.getAndUpdate(b =>
        java.lang.Double.doubleToLongBits(math.min(java.lang.Double.longBitsToDouble(b), ms)))
      val t0 = t.nowMs
      @volatile var pubStart, pubEnd = Double.NaN
      @volatile var pubError: String = null
      val writer = new Thread(() => {
        val wait = t0 + quietMs - t.nowMs
        if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
        pubStart = t.nowMs
        try { publish(delta); pubEnd = t.nowMs; required.set(delta.version) }
        catch { case NonFatal(e) => pubError = e.toString; stopAfter(t.nowMs - t0 + quietMs) }
      }, "perfbench-writer")
      writer.start()
      val next = new AtomicInteger()
      val done = new ConcurrentLinkedQueue[Req]()
      val senders = (0 until cpus).map { k =>
        val th = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < schedule.size &&
              schedule(i) < java.lang.Double.longBitsToDouble(stopAt.get)) {
            val due = t0 + schedule(i)
            val wait = due - t.nowMs
            if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
            val need = required.get
            val sent = t.nowMs
            val r = try Right(get()) catch { case NonFatal(e) => Left(e.toString) }
            val end = t.nowMs
            val v = r.toOption.filter(_.status == 200).map(g => versionOf(g.body)).getOrElse(-1)
            val failure = r match {
              case Left(e) => Some(e)
              case Right(g) if g.status != 200 => Some(s"HTTP ${g.status}: ${g.body.take(80)}")
              case _ if v < need => Some(s"stale body: version $v < $need")
              case _ => None
            }
            val after = need == delta.version
            if (after && v >= delta.version) stopAfter(end - t0 + quietMs)
            t.record("wells.serve", sent, end)
            done.add(Req(rate, due, sent, end, r.fold(_ => -1, _.status), failure, after,
              v >= delta.version))
            i = next.getAndIncrement()
          }
        }, s"perfbench-client-$k")
        th.setDaemon(true)
        th.start()
        th
      }
      senders.foreach(_.join(limitMs.toLong + 20000))
      writer.join()
      if (pubError == null) current ++= delta.changed.map(w => w.pdfName -> w)
      else reasons += s"publish v${delta.version} threw $pubError"
      Phase(rate, t0, t.nowMs, done.toArray(new Array[Req](0)).toSeq.sortBy(_.sent),
        pubStart, Option(pubEnd).filterNot(_.isNaN))
    }

    /** A cold request, then one read phase per rate, each with a publish
      * under it; then the served rows must equal the planted values with
      * every delta applied. */
    def phases(quietMs: Double): Served = {
      val reasons = ArrayBuffer.empty[String]
      val cold = { val a = t.nowMs; get(); t.nowMs - a }
      val from = t.nowMs
      val ps = rates.map(rate => phase(rate, quietMs, reasons))
      val to = t.nowMs
      val last = get()
      val finalErrors =
        if (last.status != 200) Seq(s"final /wells returned ${last.status}")
        else Checks.diffOrdered("/wells", "pdf_name",
          Checks.wellsRows(current.values.toSeq), Checks.bodyRows(last.body))
      val reqs = ps.flatMap(_.reqs)
      // the known `Serve` defect (see perfbench/README.md) is counted apart:
      // it strikes a varying few requests, and `failed` must repeat
      val raced = ps.flatMap(p => p.reqs.filter(p.racing))
      val bad = ps.flatMap(p => p.reqs.filter(r => !r.ok && !p.racing(r)))
      reasons ++= bad.flatMap(_.failure)
      val unpublished = ps.count(_.pubEnd.isEmpty)
      def lat(rate: Double) = ps.filter(_.rate == rate).flatMap(_.reqs).filter(_.ok).map(_.latency)
      val hits = ps.filter(_.rate <= referenceRate).flatMap(_.hits).filter(_.ok).map(_.latency)
      // a failed request misses the latency limit
      val sustained = ps.filter { p =>
        val rs = p.reqs.sortBy(_.due)
        val q = math.max(rs.size / 4, 1)
        val growth = Stats.median(rs.takeRight(q).map(_.lag)) - Stats.median(rs.take(q).map(_.lag))
        rs.nonEmpty && growth <= 100 &&
          Stats.quantile(rs.map(r => if (r.ok) r.latency else Double.PositiveInfinity), 0.99) <= 1000
      }.map(_.rate)
      val ref = lat(referenceRate)
      val n = ps.size.toDouble
      val perLayer = t.layerMetrics(from, to, n).filter(_._1.startsWith("wells.serve")) ++ Seq(
        "wells.load.reload_s" -> Stats.median(ps.flatMap(p => p.pubEnd.map(e => (e - p.pubStart) / 1000))),
        "wells.serve.hit_p50_ms" -> Stats.median(hits),
        "wells.serve.hit_p99_ms" -> Stats.quantile(hits, 0.99),
        "wells.serve.miss_ms" -> Stats.median(ps.flatMap(_.miss.map(_.latency))),
        "wells.serve.jobs_per_request" -> ps.map(p => p.hitWindows.map { case (a, b) =>
          t.jobCount(Set("wells.query", "wells.serve"), a, b) }.sum).sum.toDouble /
          math.max(ps.map(_.hits.size).sum, 1),
        "wells.serve.recomputes_per_publish" -> t.executions("wells.query", from, to) / n,
        "wells.serve.client_lag_p99_ms" -> Stats.quantile(reqs.map(_.lag), 0.99),
        "wells.serve.p99_ms" -> Stats.quantile(ref, 0.99),
        "wells.serve.max_rps" -> sustained.maxOption.getOrElse(0.0),
        "wells.serve.fresh_ms" -> Stats.median(ps.flatMap(_.freshMs)),
        "wells.serve.failed_requests" -> bad.size.toDouble,
        "wells.serve.publish_errors" -> raced.size.toDouble)
      val why = reasons.toSeq
      Served(reqs.size + ps.size, bad.size + unpublished, finalErrors, Stats.median(ref), perLayer,
        Seq(f"served ${reqs.size} requests (${bad.size} failed), cold first request $cold%.0f ms; " +
          f"quiet reading ${quietMs / 1000}%.2f s before each publish and after it shows",
          "latency from scheduled send by rate (p50 / p99 ms): " + rates.map(r =>
            f"${r.toInt}/s ${Stats.median(lat(r))}%.1f / ${Stats.quantile(lat(r), 0.99)}%.1f (n=${lat(r).size})")
            .mkString(", "),
          "publishes under reads: reload s " + ps.map(p => p.pubEnd.map(e => f"${(e - p.pubStart) / 1000}%.3f")
            .getOrElse("failed")).mkString(" ") + ", miss ms " +
            ps.flatMap(_.miss).map(m => f"${m.latency}%.0f").mkString(" ") +
            ", fresh ms " + ps.flatMap(_.freshMs).map(f => f"$f%.0f").mkString(" ")) ++
          Seq(s"publish race (known Serve defect, not in failed): ${raced.size} requests answered " +
            "HTTP 500 while a publish was in progress" + (if (raced.isEmpty) "" else
              s", first: ${raced.head.failure.get.take(80)}")) ++
          (if (why.isEmpty) Nil else Seq(s"failed requests (${why.size}), first: " +
            why.groupBy(identity).toSeq.sortBy(-_._2.size).take(3)
              .map { case (w, xs) => s"${xs.size}x $w" }.mkString("; "))))
    }
  }
}

object WellsRun {
  final case class Got(status: Int, body: String)

  final case class Delta(version: Int, dir: String, changed: Seq[Well])

  /** One request of the open loop. Times are epoch ms; latency counts from
    * the scheduled send time. `afterPublish`: sent after the phase's publish
    * returned; `shows`: the body carries the phase's delta. */
  final case class Req(rate: Double, due: Double, sent: Double, done: Double, status: Int,
      failure: Option[String], afterPublish: Boolean, shows: Boolean) {
    def ok: Boolean = failure.isEmpty
    def latency: Double = done - due
    def lag: Double = sent - due
  }

  /** One read phase, `reqs` sorted by send time; `pubEnd` is empty if the
    * publish failed. */
  final case class Phase(rate: Double, start: Double, end: Double, reqs: Seq[Req],
      pubStart: Double, pubEnd: Option[Double]) {
    /** The first request sent after the publish returned: the cache miss. */
    def miss: Option[Req] = reqs.find(_.afterPublish)
    /** The first of those that shows the delta. */
    def fresh: Option[Req] = reqs.find(r => r.afterPublish && r.shows)
    def freshMs: Option[Double] = for (f <- fresh; e <- pubEnd) yield f.done - e
    /** Where the cache is warm and no publish is in progress: before the
      * publish starts, and after its first fresh response. */
    def hitWindows: Seq[(Double, Double)] = (start, pubStart) +: fresh.map(f => (f.done, end)).toSeq
    def hits: Seq[Req] = reqs.filter(r => hitWindows.exists { case (a, b) => r.sent >= a && r.sent < b })
    /** An HTTP 500 to a request that overlapped the publish: `Serve`'s
      * snapshot listing or its recompute raced `MergeWriter`'s renames. */
    def racing(r: Req): Boolean =
      r.status == 500 && r.sent < pubEnd.getOrElse(end) && r.done > pubStart
  }

  final case class Served(attempted: Long, failed: Long, errors: Seq[String],
      referenceP50: Double, perLayer: Map[String, Double], notes: Seq[String])

  private val Marker = "bench-v(\\d+)".r
  def versionOf(body: String): Int =
    Marker.findAllMatchIn(body).map(_.group(1).toInt).maxOption.getOrElse(0)
}
