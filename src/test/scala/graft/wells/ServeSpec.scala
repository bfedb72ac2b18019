package graft.wells

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** End-to-end HTTP shell: the reference app.py's routes served by
  * graft.wells.Serve against the engine's parquet tables.
  *
  * Inputs per leg:
  *  - "/wells serves the 76-row JSON array…" is a golden-value leg: it
  *    loads the reference's shipped CSVs from `/root/reference` and fails
  *    where they are absent.
  *  - the static/exact-route leg, "serving without a static dir…", the
  *    cache/swap leg and the single-flight leg assert only serving
  *    behaviour, so they load
  *    [[WellsCsvs.pair]]: the reference CSVs where present, else the
  *    committed fixture (FIXTURES.md §1a).
  *  - The publish race leg generates its own tables. */
class ServeSpec extends AnyFunSuite with SparkSpec {

  /** A fresh table root loaded and enriched from the given CSV pair. */
  private def loadedRoot(prefix: String, csvs: (String, String)): String = {
    val dir = Files.createTempDirectory(prefix).toString
    Loader.run(spark, csvs._1, csvs._2, dir)
    Enrichment.run(spark, dir)
    dir
  }

  private lazy val root: String = loadedRoot("wells-serve",
    ("/root/reference/well_header.csv", "/root/reference/well_stimulation.csv"))

  private lazy val mechanicsRoot: String =
    loadedRoot("wells-serve-mechanics", WellsCsvs.pair)

  private def get(port: Int, path: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())

  test("/wells serves the 76-row JSON array; static routes resolve") {
    val staticDir = Files.createTempDirectory("static")
    Files.writeString(staticDir.resolve("map.html"), "<html>map</html>")
    val server = Serve.start(spark, root, 0, Some(staticDir.toString))
    try {
      val port = server.getAddress.getPort
      val wells = get(port, "/wells")
      assert(wells.statusCode() == 200)
      assert(wells.headers().firstValue("Content-Type").get() == "application/json")
      assert(wells.body().startsWith("[{") && wells.body().endsWith("}]"))
      // 76 surviving wells -> 76 top-level objects
      assert(wells.body().split("\\},\\{").length == 76)

      val map = get(port, "/map")
      assert(map.statusCode() == 200 && map.body().contains("map"))
      assert(get(port, "/nope.html").statusCode() == 404)
      // exact-route parity with Flask: prefix extensions must not match
      assert(get(port, "/wells/1").statusCode() == 404)
      assert(get(port, "/wellsfoo").statusCode() == 404)
      // traversal guard: escaping the static root is a 404, not a file read
      assert(get(port, "/..%2F..%2Fetc%2Fpasswd").statusCode() == 404)
      // symlink guard: a link inside the static dir pointing outside it
      // must not serve the target
      Files.createSymbolicLink(staticDir.resolve("leak.html"),
        java.nio.file.Path.of("/etc/hostname"))
      assert(get(port, "/leak.html").statusCode() == 404)
    } finally server.stop(0)
  }

  test("static and exact routes: / and /map resolve; prefix, traversal and symlink escapes 404") {
    val staticDir = Files.createTempDirectory("static")
    Files.writeString(staticDir.resolve("index.html"), "<html>index</html>")
    Files.writeString(staticDir.resolve("map.html"), "<html>map</html>")
    val outside = Files.createTempFile("outside", ".html")
    Files.writeString(outside, "outside the static root")
    Files.createSymbolicLink(staticDir.resolve("leak.html"), outside)
    val server = Serve.start(spark, mechanicsRoot, 0, Some(staticDir.toString))
    try {
      val port = server.getAddress.getPort
      val index = get(port, "/")
      assert(index.statusCode() == 200 && index.body().contains("index"))
      val map = get(port, "/map")
      assert(map.statusCode() == 200 && map.body().contains("map"))
      assert(get(port, "/wells").statusCode() == 200)
      assert(get(port, "/wellsfoo").statusCode() == 404)
      assert(get(port, "/wells/1").statusCode() == 404)
      // the static dir and the outside file share the temp root
      assert(get(port, s"/..%2F${outside.getFileName}").statusCode() == 404)
      assert(get(port, "/..%2F..%2Fetc%2Fpasswd").statusCode() == 404)
      assert(get(port, "/leak.html").statusCode() == 404)
    } finally server.stop(0)
  }

  test("serving without a static dir still answers /wells, 404s the rest") {
    val server = Serve.start(spark, mechanicsRoot, 0, None)
    try {
      val port = server.getAddress.getPort
      assert(get(port, "/wells").statusCode() == 200)
      assert(get(port, "/").statusCode() == 404)
    } finally server.stop(0)
  }

  test("a failed /wells answers 500 'internal error' and logs the exception at ERROR") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // the session first: starting Spark reconfigures logging, which would
    // drop an appender added before it
    val session = spark
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val capture = new AbstractAppender("serve-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    capture.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger("graft.wells.Serve")
    logger.addAppender(capture)
    // a table root whose tables hold a part file that is not parquet: the
    // snapshot is stable and the /wells query fails on every read
    val broken = Files.createTempDirectory("wells-broken")
    for (t <- Seq("well_info", "well_stimulation")) {
      Files.createDirectories(broken.resolve(t))
      Files.writeString(broken.resolve(t).resolve("part-00000.parquet"), "not parquet")
    }
    val server = Serve.start(session, broken.toString, 0, None)
    try {
      val r = get(server.getAddress.getPort, "/wells")
      assert(r.statusCode() == 500)
      assert(r.body() == "internal error", "the failure's detail reached the client")
      val logged = events.toArray(Array.empty[LogEvent]).toSeq
      assert(logged.exists(e => e.getLevel == Level.ERROR &&
        e.getMessage.getFormattedMessage.contains("/wells") && e.getThrown != null),
        s"no ERROR event with the exception attached: ${logged.map(_.getMessage)}")
    } finally {
      server.stop(0)
      logger.removeAppender(capture)
    }
  }

  test("/wells is served from cache (no Spark job per request) and a " +
      "snapshot swap invalidates it") {
    // a fresh table root so the other tests' cache state can't interfere
    val dir = loadedRoot("wells-serve-cache", WellsCsvs.pair)

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // listener events are delivered async: wait until the counter has been
    // quiet for a few polls before reading it
    def settled(): Int = {
      var last = -1
      var cur = jobs.get()
      while (cur != last) { Thread.sleep(150); last = cur; cur = jobs.get() }
      cur
    }
    val server = Serve.start(spark, dir, 0, None)
    try {
      val port = server.getAddress.getPort
      val first = get(port, "/wells")
      assert(first.statusCode() == 200)
      val afterFirst = settled()
      assert(afterFirst > 0) // the first request did run the query

      val second = get(port, "/wells")
      assert(second.statusCode() == 200 && second.body() == first.body())
      assert(settled() == afterFirst) // cache hit: zero new Spark jobs

      // snapshot swap via the engine's own atomic publish: drop one well,
      // overwrite well_info in place — the directory rename bumps the
      // cache token, so the NEXT request recomputes and sees the new data
      import org.apache.spark.sql.functions.col
      val info = spark.read.parquet(s"$dir/well_info")
      // drop a well that /wells actually serves (coords present), so the
      // served row count must shrink by exactly one
      val victim = info
        .filter(col("latitude").isNotNull && col("longitude").isNotNull)
        .select("pdf_name").orderBy("pdf_name").head().getString(0)
      val oneLess = info.filter(col("pdf_name") =!= victim)
      graft.operators.MergeWriter.publish(oneLess, s"$dir/well_info")
      val third = get(port, "/wells")
      assert(third.statusCode() == 200)
      assert(third.body() != first.body())
      assert(third.body().split("\\},\\{").length ==
        first.body().split("\\},\\{").length - 1)
    } finally {
      server.stop(0)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("concurrent cold /wells requests single-flight one computation") {
    val dir = loadedRoot("wells-serve-flight", WellsCsvs.pair)

    // count DISTINCT serving computations, not Spark jobs (one computation
    // launches several): each wellsJson run starts with a fresh parquet
    // read, so count /wells-path job groups via the description is fragile —
    // instead fire N requests at a cold cache and assert they all get the
    // same 200 body while the job counter matches what ONE cold request
    // costs (measured right after on a second cold server)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def settled(): Int = {
      var last = -1
      var cur = jobs.get()
      while (cur != last) { Thread.sleep(150); last = cur; cur = jobs.get() }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    val server = Serve.start(spark, dir, 0, None)
    try {
      val port = server.getAddress.getPort
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = (1 to 8).map(_ => scala.concurrent.Future(get(port, "/wells")))
      val bodies = futs.map(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration("60s")))
      pool.shutdown()
      assert(bodies.forall(_.statusCode() == 200))
      assert(bodies.map(_.body()).distinct.size == 1)
      val burstJobs = settled()

      // baseline: one cold request on a fresh server + fresh table copy
      jobs.set(0)
      val dir2 = loadedRoot("wells-serve-flight2", WellsCsvs.pair)
      jobs.set(0)
      val server2 = Serve.start(spark, dir2, 0, None)
      try {
        assert(get(server2.getAddress.getPort, "/wells").statusCode() == 200)
        val oneCold = settled()
        // 8 concurrent misses must not cost ~8x one miss; single-flight
        // means the burst ran exactly one computation
        assert(burstJobs <= oneCold)
      } finally server2.stop(0)
    } finally {
      server.stop(0)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("/wells answers 200, never older than the last publish, while publishes swap a table") {
    import spark.implicits._
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    import graft.operators.MergeWriter
    // generated tables (no reference corpus): every row of well_info
    // carries the version of the publish that wrote it
    val dir = Files.createTempDirectory("wells-serve-race").toString
    def info(version: Int) = (1 to 20)
      .map(i => (f"W$i%03d.pdf", s"WELL $i", 48.0 + i / 100.0, -103.0, version))
      .toDF("pdf_name", "well_name", "latitude", "longitude", "version")
    MergeWriter.publish(info(0), s"$dir/well_info")
    MergeWriter.publish((1 to 20).map(i => (f"W$i%03d.pdf", s"d$i"))
      .toDF("pdf_name", "details"), s"$dir/well_stimulation")
    val Version = "\"version\":(\\d+)".r

    val server = Serve.start(spark, dir, 0, None)
    val port = server.getAddress.getPort
    val published = new AtomicInteger(0)
    val stop = new AtomicBoolean(false)
    val answered = new AtomicInteger(0)
    val failures = new ConcurrentLinkedQueue[String]()
    val readers = (1 to 4).map(_ => new Thread(() =>
      while (!stop.get) {
        val need = published.get
        try {
          val r = get(port, "/wells")
          val v = Version.findFirstMatchIn(r.body()).map(_.group(1).toInt).getOrElse(-1)
          if (r.statusCode() != 200) failures.add(s"HTTP ${r.statusCode()}")
          else if (v < need) failures.add(s"stale body: version $v < $need")
        } catch { case e: Exception => failures.add(e.toString) }
        answered.incrementAndGet()
      }))
    readers.foreach(_.start())
    // after each publish, wait for one more answer: a snapshot that never
    // stays put for one query's length cannot be read at all
    try for (v <- 1 to 6) {
      MergeWriter.publish(info(v), s"$dir/well_info")
      published.set(v)
      val before = answered.get
      val deadline = System.nanoTime() + 30e9.toLong
      while (answered.get == before && System.nanoTime() < deadline) Thread.sleep(5)
    } finally {
      stop.set(true)
      readers.foreach(_.join(60000))
      server.stop(0)
    }
    import scala.jdk.CollectionConverters._
    assert(failures.isEmpty, s"${failures.size} of ${answered.get} requests failed: " +
      failures.asScala.take(3).mkString("; "))
    assert(answered.get >= 6)
  }
}
