package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import perfbench.WellsCorpus._

/** The loopback well-information site the enrichment stage scrapes: the
  * search and detail page shapes HttpEnrichmentSpec pins, a fixed delay per
  * response, and at most `threads` daemon handler threads. Planted wells
  * answer not-found (a results page without a link) or HTTP 500. */
final class Site(wells: Seq[Well], threads: Int, delayMs: Int) {
  private val byName = wells.map(w => w.wellName -> w).toMap
  private val byStem = wells.map(w => w.pdfName.stripSuffix(".pdf") -> w).toMap

  val requests = new AtomicLong()
  val errors = new AtomicLong()
  val waitNs = new AtomicLong()
  private val inFlight = new AtomicInteger()
  val maxInFlight = new AtomicInteger()

  private val pool = Executors.newFixedThreadPool(threads, { (r: Runnable) =>
    val t = new Thread(r, "perfbench-site"); t.setDaemon(true); t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/search", (ex: HttpExchange) => serve(ex) {
    val q = query(ex)
    byName.get(q.getOrElse("well_name", "")).map(_.web) match {
      case Some(ServerError) => (500, "boom")
      case Some(_: Found) =>
        val w = byName(q("well_name"))
        (200, s"""<ul class="search-results"><li><a href="/wells/${w.api}/""" +
          s"""${w.pdfName.stripSuffix(".pdf")}">${html(w.wellName)}</a></li></ul>""")
      case _ => (200, "<p>No results</p>")
    }
  })
  server.createContext("/wells/", (ex: HttpExchange) => serve(ex) {
    val stem = ex.getRequestURI.getPath.split("/").last
    byStem.get(stem).map(_.web) match {
      case Some(f: Found) => (200, detail(f))
      case _ => (404, "not found")
    }
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> URLDecoder.decode(v, UTF_8) }
      .toMap

  private def html(s: String) = s.replace("&", "&amp;")

  private def detail(f: Found): String =
    s"""<html><body><h1>Well Details</h1><table>
       |<tr><th>Well Status</th><td>${f.status}</td></tr>
       |<tr><th>Well Type</th><td>${html(f.wellType)}</td></tr>
       |<tr><th>Closest City</th><td>${f.city}</td></tr>
       |</table>
       |<p class="block_stat"><span class="dropcap">${f.oil}</span> Barrels of Oil Produced in 2024</p>
       |<p class="block_stat"><span class="dropcap">${f.gas}</span> MCF of Gas Produced in 2024</p>
       |</body></html>""".stripMargin

  private def serve(ex: HttpExchange)(page: => (Int, String)): Unit = {
    val now = inFlight.incrementAndGet()
    maxInFlight.accumulateAndGet(now, math.max)
    requests.incrementAndGet()
    try {
      val t0 = System.nanoTime()
      Thread.sleep(delayMs)
      waitNs.addAndGet(System.nanoTime() - t0)
      val (code, body) = page
      if (code == 500) errors.incrementAndGet()
      val b = body.getBytes(UTF_8)
      ex.sendResponseHeaders(code, b.length.toLong)
      ex.getResponseBody.write(b)
    } finally {
      ex.close()
      inFlight.decrementAndGet()
    }
  }
}
