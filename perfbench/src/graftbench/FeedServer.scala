package graftbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.InReachSource

import java.net.InetSocketAddress
import java.util.concurrent.{Executors, ThreadFactory}

/** Loopback MapShare server: serves pre-generated feed bodies at
  * `/Feed/Share/<shareId>` on 127.0.0.1, always with HTTP 200 for a
  * known share (empty and truncated bodies included). A
  * password-protected share answers 401 unless the request carries the
  * reference's basic-auth header (`task.ts:85-87`).
  *
  * Handler threads are daemons; the JDK's dispatcher thread is not,
  * so the harness always ends with `stop()` and an explicit exit. */
final class FeedServer(feeds: FeedGen.Feeds, threads: Int) {
  private val byId = feeds.shares.map(s => s.shareId -> s).toMap

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"feed-server-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  server.setExecutor(pool)
  server.createContext("/Feed/Share/", (ex: HttpExchange) => serve(ex))
  server.start()

  val port: Int = server.getAddress.getPort

  private def serve(ex: HttpExchange): Unit = try {
    val id = ex.getRequestURI.getPath.stripPrefix("/Feed/Share/")
    val (status, body) = byId.get(id) match {
      case None => (404, Array.emptyByteArray)
      case Some(s) =>
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        if (s.password.exists(p => !auth.contains(InReachSource.basicAuth(p))))
          (401, Array.emptyByteArray)
        else (200, s.body)
    }
    ex.getResponseHeaders.set("Content-Type", "application/vnd.google-earth.kml+xml")
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
  } finally ex.close()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}

object FeedServer {

  /** Rewrite the production feed URL onto the loopback server: only
    * the scheme and authority change, path and query stay as the
    * program built them. */
  def loopback(url: String, port: Int): String =
    url.replaceFirst("^https://share\\.garmin\\.com/", s"http://127.0.0.1:$port/")

  /** The production fetcher, pointed at the loopback server. */
  def fetcher(port: Int): InReachSource.Fetcher =
    (url: String, password: Option[String]) =>
      InReachSource.httpFetcher(loopback(url, port), password)

  /** The same, recording a `fetch` span per call (name, start, end,
    * body size) into the process-wide [[Trace]] collector. */
  def tracedFetcher(port: Int, runId: Int): InReachSource.Fetcher =
    (url: String, password: Option[String]) => {
      val t0 = System.nanoTime()
      val body = InReachSource.httpFetcher(loopback(url, port), password)
      Trace.fetched(runId, t0, System.nanoTime(), body)
      body
    }
}
