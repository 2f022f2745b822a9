package graft.sources

import java.io.IOException
import java.net.http.{HttpConnectTimeoutException, HttpTimeoutException}
import java.net.{HttpURLConnection, SocketTimeoutException, URI}
import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{Duration, Instant}
import java.util.{Base64, Locale}
import scala.util.Try

/** The inReach feed's pure helpers and its fetch seam (SURVEY.md §2.1
  * S1–S8). The source itself is [[graft.sources.v2.InReachDataSource]]
  * (`format("inreach")`).
  *
  * The 30-minute lookback (`task.ts:80-82`) is a source-level
  * predicate pushdown: it ships to the server as the `d1` query param
  * rather than filtering after fetch.
  *
  * `Fetcher` is the networkless test seam (SURVEY.md §7.1): production
  * uses [[InReachSource.httpFetcher]], tests inject KML strings.
  * Fetchers must be Serializable — they run inside executor tasks.
  *
  * `httpFetcher` makes one plain GET per share over one
  * `HttpURLConnection` of its own, sent with `Connection: close`: no
  * connection is reused, because a reused one can wait out the
  * server's delayed ACK on every small feed, and no thread is started.
  * Its read timeout bounds each read, not the whole response; the body
  * is decoded with the `Content-Type` charset, else UTF-8.
  */
object InReachSource {

  type Fetcher = (String, Option[String]) => String // (url, password) => body

  /** Canonicalize a user-supplied ShareId (reference `task.ts:70-74`):
    * full https URL → pathname sans leading '/'; `share.garmin.com/X`
    * prefix → `X`; anything else passes through. */
  def normalizeShareId(raw: String): String =
    if (raw.startsWith("https://")) new URI(raw).getPath.replaceFirst("^/", "")
    else if (raw.startsWith("share.garmin.com")) raw.replace("share.garmin.com/", "")
    else raw

  /** The reference's fixed lookback window (`task.ts:80-82`). */
  val LookbackMinutes: Long = 30L

  /** Feed URL with the lookback pushed down as `d1`
    * (reference `task.ts:78-82`): the window's start is `now` less
    * [[LookbackMinutes]], or `from` when that is later, sent as that
    * exact instant (the server's `d1` is ≥-inclusive, so no fix at or
    * after `from` is dropped). */
  def feedUrl(shareId: String, now: Instant,
              from: Option[Instant] = None): String = {
    val lookbackStart = now.minusSeconds(LookbackMinutes * 60)
    val start = from.filter(_.isAfter(lookbackStart)).getOrElse(lookbackStart)
    s"https://share.garmin.com/Feed/Share/$shareId?d1=${DateTimeFormatter.ISO_INSTANT.format(start)}"
  }

  /** Basic-auth header value for password-protected shares:
    * base64(":" + password) (reference `task.ts:85-87`). */
  def basicAuth(password: String): String =
    "Basic " + Base64.getEncoder.encodeToString((":" + password).getBytes("UTF-8"))

  /** Bound of the TCP connect of one feed fetch. */
  val ConnectTimeout: Duration = Duration.ofSeconds(10)

  /** Bound of each wait for bytes of one feed's response: for the
    * status line and headers, then for every read of the body. A
    * server that keeps trickling bytes is not cut off by it. The
    * shares of a scan partition are fetched one after another, so a
    * share that hangs holds back the ones queued behind it for about
    * this long. */
  val RequestTimeout: Duration = Duration.ofSeconds(30)

  /** Largest feed body the fetcher reads; a longer one fails that
    * share. A fleet share with thousands of placemarks is a few MB. */
  val MaxFeedBytes: Int = 64 << 20

  /** Production fetcher: one plain HTTP/1.1 GET (reference
    * `task.ts:78-90`) over a connection of its own, bounded by
    * [[ConnectTimeout]], [[RequestTimeout]] and [[MaxFeedBytes]].
    * A non-2xx status throws (`HTTP <code> for share feed`, naming
    * neither the URL nor the credentials), so a 401 or 500 error page
    * never reaches the parser, and a redirect is not followed; a
    * timeout throws the JDK's `HttpTimeoutException`
    * (`HttpConnectTimeoutException` for the connect); a longer body
    * throws `feed body over <N> bytes`. The body is decoded with the
    * charset its `Content-Type` names, UTF-8 when it names none or an
    * unknown one. The source's failure isolation turns any of these
    * into no rows for that share plus a `FEED:` line. */
  val httpFetcher: Fetcher = httpFetcherWithin(ConnectTimeout, RequestTimeout)

  /** [[httpFetcher]] with the given bounds. Each call opens one TCP
    * connection through the JVM's default proxy selection, sends
    * `Connection: close` and disconnects when done, so no connection
    * is ever reused and no thread is started. Reuse is what hurts: a
    * kept-alive connection to a server that writes headers and body
    * separately without TCP_NODELAY waits out the ~40 ms delayed ACK
    * on every small response. Defined in an object so the closure
    * captures only the bounds and stays serializable. */
  private[sources] def httpFetcherWithin(connect: Duration, request: Duration,
                                         maxBytes: Int = MaxFeedBytes): Fetcher =
    (url: String, password: Option[String]) => {
      val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      try {
        conn.setConnectTimeout(connect.toMillis.toInt)
        conn.setReadTimeout(request.toMillis.toInt)
        conn.setInstanceFollowRedirects(false)
        conn.setRequestProperty("Connection", "close")
        password.foreach(p => conn.setRequestProperty("Authorization", basicAuth(p)))
        try conn.connect()
        catch { case _: SocketTimeoutException =>
          throw new HttpConnectTimeoutException("HTTP connect timed out") }
        try {
          val status = conn.getResponseCode
          if (status / 100 != 2) throw new IOException(s"HTTP $status for share feed")
          val in = conn.getInputStream
          val bytes = try in.readNBytes(maxBytes + 1) finally in.close()
          if (bytes.length > maxBytes) throw new IOException(s"feed body over $maxBytes bytes")
          new String(bytes, charsetOf(conn.getContentType))
        } catch { case _: SocketTimeoutException =>
          throw new HttpTimeoutException("request timed out") }
      } finally conn.disconnect()
    }

  /** The `charset` parameter of a `Content-Type` value, or UTF-8 when
    * there is none or it names no charset this JVM knows (as the JDK's
    * `BodyHandlers.ofString` decodes). */
  private def charsetOf(contentType: String): Charset =
    Option(contentType).toSeq.flatMap(_.split(';').drop(1)).map(_.trim)
      .collectFirst { case p if p.toLowerCase(Locale.ROOT).startsWith("charset=") =>
        p.drop("charset=".length).trim.stripPrefix("\"").stripSuffix("\"") }
      .flatMap(name => Try(Charset.forName(name)).toOption)
      .getOrElse(UTF_8)
}
