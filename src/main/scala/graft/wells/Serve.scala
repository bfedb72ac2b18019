package graft.wells

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicReference

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession

/** Thin HTTP shell over the serving query (reference: app.py:15-39) — the
  * Flask app's three routes on the JDK's built-in server, zero new
  * dependencies. The engine owns the query ([[WellsQuery]]); this layer
  * only maps routes to bytes:
  *
  *   GET /wells  → JSON array from WellsQuery.wellsJson, served from an
  *                 in-memory payload cache — NOT a Spark job per request.
  *                 The cache key is the snapshot token (a fingerprint of
  *                 the parquet tables' file listings): `MergeWriter
  *                 .overwriteAtomic` publishes a new snapshot by directory
  *                 rename with fresh part-file names, which changes the
  *                 token, so the next request recomputes — the reference's
  *                 read-your-load semantics (a load swaps the table, the
  *                 next query sees it) at a directory listing per request
  *                 instead of a query. The token also moves when OTHER
  *                 processes swap the snapshot — an in-process
  *                 invalidation callback would miss the CLI `load` running
  *                 in its own JVM. Cache misses are single-flighted:
  *                 concurrent requests share one computation. A request
  *                 that overlaps a publish is answered from the next
  *                 stable snapshot, not with a 500.
  *   GET /       → static/index.html   (when a static dir is configured)
  *   GET /map    → static/map.html
  *   GET /<file> → static asset, traversal-guarded
  *
  * Requests run on a cached thread pool (daemon threads): the default
  * zero-executor HttpServer dispatches everything on one thread, where a
  * single slow /wells recompute would block the static routes too.
  */
object Serve {

  private final case class Cached(token: String,
      body: java.util.concurrent.CompletableFuture[Array[Byte]])

  /** Bind and start; port 0 picks an ephemeral port (tests). The returned
    * server's actual port is `getAddress.getPort`. */
  def start(spark: SparkSession, tableRoot: String, port: Int,
      staticDir: Option[String]): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val cache = new AtomicReference[Cached]()

    // snapshot identity: fingerprint of each table's RECURSIVE file
    // listing (path:length:mtime per file) — NOT the directory mtime,
    // which object stores report as fake/zero for prefixes and coarse
    // filesystems may not bump on a swap. A rename-publish (MergeWriter
    // .overwriteAtomic) writes fresh UUID-named part files, so the
    // listing always changes even where mtimes lie. Recursion matters for
    // partitioned layouts: a swap inside a partition subdirectory leaves
    // the top-level prefix entries untouched on an object store, so a
    // one-level listStatus would miss it. None while a snapshot is not
    // stable: a table absent (between the two renames of a swap) or a
    // listing that failed on a file the swap moved away.
    def snapshotToken(): Option[String] = {
      val conf = spark.sparkContext.hadoopConfiguration
      def sig(p: String): String = {
        val path = new org.apache.hadoop.fs.Path(p)
        val files = path.getFileSystem(conf).listFiles(path, true)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (files.hasNext) {
          val s = files.next()
          entries += s"${s.getPath.toUri.getPath}:${s.getLen}:${s.getModificationTime}"
        }
        entries.sorted.mkString(",")
      }
      // Hadoop's local filesystem reports a file that vanished mid-listing
      // as a RuntimeException, not a FileNotFoundException
      try Some(sig(s"$tableRoot/well_info") + "|" + sig(s"$tableRoot/well_stimulation"))
      catch { case scala.util.control.NonFatal(_) => None }
    }

    val cacheLock = new Object
    def payloadFor(token: String): Array[Byte] = {
      // token BEFORE the read: if a swap lands mid-read, the stored entry
      // carries the pre-swap token and the next request recomputes.
      // single-flight: exactly one request per token runs the Spark query;
      // concurrent misses for the same token share its future instead of
      // each launching the full computation (and a thread pile-up)
      val (fut, owner) = cacheLock.synchronized {
        val c = cache.get()
        if (c != null && c.token == token) (c.body, false)
        else {
          val f = new java.util.concurrent.CompletableFuture[Array[Byte]]()
          cache.set(Cached(token, f))
          (f, true)
        }
      }
      if (!owner) {
        // bounded wait: if the owning flight is abandoned without ever
        // completing (server stopped / executor shutdown mid-query), the
        // waiters must time out to a 500 instead of parking pool threads
        // forever and starving the static routes too
        try fut.get(120, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException("/wells computation timed out") }
      } else
        try {
          val info = spark.read.parquet(s"$tableRoot/well_info")
          val stim = spark.read.parquet(s"$tableRoot/well_stimulation")
          val body = WellsQuery.wellsJson(info, stim)
            .mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)
          fut.complete(body)
          body
        } catch { case e: Throwable =>
          // a failure must not poison the cache: clear OUR entry (a newer
          // token may have replaced it) so the next request retries, and
          // fail every waiter sharing this flight
          cacheLock.synchronized {
            val c = cache.get()
            if (c != null && (c.body eq fut)) cache.set(null)
          }
          fut.completeExceptionally(e)
          throw e
        } finally {
          // the flight must END on every exit path — if the owner thread
          // died between cache.set and the try (stop-the-thread, stack
          // overflow in frame setup), waiters would otherwise rely only on
          // their timeout; completing here is a no-op when already done
          if (!fut.isDone) {
            cacheLock.synchronized {
              val c = cache.get()
              if (c != null && (c.body eq fut)) cache.set(null)
            }
            fut.completeExceptionally(
              new IllegalStateException("/wells flight abandoned"))
          }
        }
    }

    // A publish (MergeWriter.overwriteAtomic) briefly leaves a table
    // absent, and a read that overlaps it fails on a moved file. Neither is
    // an error of the data: wait for the next stable snapshot and answer
    // from it, a bounded number of times. Each attempt takes a fresh token,
    // so the body is never older than a publish that returned before the
    // request. A failure on a snapshot that did not move is the query's
    // own, and so is an unstable snapshot that outlasts the retries: the
    // query then runs anyway and reports it.
    @scala.annotation.tailrec
    def wellsPayload(retries: Int = SwapRetries): Array[Byte] = {
      val token = snapshotToken()
      val body =
        if (token.isEmpty && retries > 0) None
        else
          try Some(payloadFor(token.getOrElse("unstable")))
          catch { case scala.util.control.NonFatal(_)
            if retries > 0 && snapshotToken() != token => None }
      body match {
        case Some(b) => b
        case None =>
          Thread.sleep(SwapRetryMs)
          wellsPayload(retries - 1)
      }
    }

    server.createContext("/wells", (ex: HttpExchange) =>
      handle(ex) {
        // JDK contexts are longest-prefix matched; Flask routes are exact —
        // /wellsfoo and /wells/1 must 404, not leak the full payload
        if (ex.getRequestURI.getPath != "/wells") notFound
        else (200, "application/json", wellsPayload())
      })

    server.createContext("/", (ex: HttpExchange) =>
      handle(ex) {
        val req = ex.getRequestURI.getPath match {
          case "/" => "index.html"
          case "/map" => "map.html"
          case p => p.stripPrefix("/")
        }
        staticDir match {
          case Some(dir) =>
            // compare REAL paths: normalize alone would let a symlink
            // inside the static dir serve files outside it
            val base = Path.of(dir).toRealPath()
            val f = base.resolve(req).normalize()
            val real =
              try Some(f.toRealPath())
              catch { case _: java.io.IOException => None }
            real match {
              case Some(r) if r.startsWith(base) && Files.isRegularFile(r) =>
                (200, contentType(req), Files.readAllBytes(r))
              case _ => notFound
            }
          case None => notFound
        }
      })

    // daemon threads: the server must not pin the JVM open after the
    // caller's main exits (the CLI stops it explicitly; tests stop(0)).
    // Bounded pool: /wells is single-flighted and static files are cheap,
    // so 16 threads serve a burst without an unbounded thread pile-up.
    server.setExecutor(Executors.newFixedThreadPool(16, { (r: Runnable) =>
      val t = new Thread(r, "graft-serve")
      t.setDaemon(true)
      t
    }))
    server.start()
    server
  }

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.wells.Serve")
  private val SwapRetries = 10
  private val SwapRetryMs = 50L

  private val notFound =
    (404, "text/plain", "not found".getBytes(StandardCharsets.UTF_8))

  private def contentType(name: String): String =
    name.substring(name.lastIndexOf('.') + 1) match {
      case "html" => "text/html; charset=utf-8"
      case "js" => "application/javascript"
      case "css" => "text/css"
      case "json" => "application/json"
      case "png" => "image/png"
      case _ => "application/octet-stream"
    }

  private def handle(ex: HttpExchange)(f: => (Int, String, Array[Byte])): Unit =
    // close on EVERY exit: a fatal error (OOM, LinkageError) from the query
    // path escapes the NonFatal catch below by design — the exchange must
    // still be closed on the way out or the client hangs on a dead request
    try {
      val (status, mime, body) =
        try f
        catch { case scala.util.control.NonFatal(e) =>
          // the exception goes to the server log only: messages carry
          // filesystem paths and Spark internals no HTTP client should see
          log.error(s"${ex.getRequestURI.getPath} failed", e)
          (500, "text/plain",
            "internal error".getBytes(StandardCharsets.UTF_8))
        }
      ex.getResponseHeaders.set("Content-Type", mime)
      ex.sendResponseHeaders(status, body.length.toLong)
      ex.getResponseBody.write(body)
    } finally ex.close()
}
