package graft.sources

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.format.DateTimeFormatter
import java.time.{Duration, Instant}
import java.util.Base64

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
    * (reference `task.ts:78-82`). */
  def feedUrl(shareId: String, now: Instant,
              lookbackMinutes: Long = LookbackMinutes): String = {
    val d1 = DateTimeFormatter.ISO_INSTANT.format(
      now.minusSeconds(lookbackMinutes * 60))
    s"https://share.garmin.com/Feed/Share/$shareId?d1=$d1"
  }

  /** Basic-auth header value for password-protected shares:
    * base64(":" + password) (reference `task.ts:85-87`). */
  def basicAuth(password: String): String =
    "Basic " + Base64.getEncoder.encodeToString((":" + password).getBytes("UTF-8"))

  /** Bound of the TCP connect of one feed fetch. */
  val ConnectTimeout: Duration = Duration.ofSeconds(10)

  /** Bound of the wait for one feed's response. The shares of a scan
    * partition are fetched one after another, so a hung share holds
    * back the ones queued behind it for at most this long. */
  val RequestTimeout: Duration = Duration.ofSeconds(30)

  /** Production fetcher (java.net.http), bounded by [[ConnectTimeout]]
    * and [[RequestTimeout]]. A non-2xx status throws (`HTTP <code> for
    * share feed`, naming neither the URL nor the credentials), so a
    * 401 or 500 error page never reaches the parser; a timeout throws
    * the JDK's `HttpTimeoutException`. The source's failure isolation
    * turns either into no rows for that share plus a `FEED:` line. */
  val httpFetcher: Fetcher = httpFetcherWithin(ConnectTimeout, RequestTimeout)

  /** [[httpFetcher]] with the given bounds. One `HttpClient` per call:
    * a client shared across a partition's fetches reuses keep-alive
    * connections, which against a server that writes headers and body
    * separately waits out the ~40 ms delayed ACK on every request.
    * Defined in an object so the closure captures only the two
    * durations and stays serializable. */
  private[sources] def httpFetcherWithin(connect: Duration, request: Duration): Fetcher =
    (url: String, password: Option[String]) => {
      val client = HttpClient.newBuilder().connectTimeout(connect).build()
      val builder = HttpRequest.newBuilder(URI.create(url)).timeout(request).GET()
      password.foreach(p => builder.header("Authorization", basicAuth(p)))
      val response = client.send(builder.build(), HttpResponse.BodyHandlers.ofString())
      if (response.statusCode / 100 != 2)
        throw new IOException(s"HTTP ${response.statusCode} for share feed")
      response.body()
    }
}
