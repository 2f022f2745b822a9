package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
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

  /** Feed URL with the lookback pushed down as `d1`
    * (reference `task.ts:78-82`). */
  def feedUrl(shareId: String, now: Instant, lookbackMinutes: Long = 30): String = {
    val d1 = DateTimeFormatter.ISO_INSTANT.format(
      now.minusSeconds(lookbackMinutes * 60).atZone(ZoneOffset.UTC).toInstant)
    s"https://share.garmin.com/Feed/Share/$shareId?d1=$d1"
  }

  /** Basic-auth header value for password-protected shares:
    * base64(":" + password) (reference `task.ts:85-87`). */
  def basicAuth(password: String): String =
    "Basic " + Base64.getEncoder.encodeToString((":" + password).getBytes("UTF-8"))

  /** Production fetcher (java.net.http). Defined as a static method so
    * the closure that captures it stays serializable. */
  val httpFetcher: Fetcher = (url: String, password: Option[String]) => {
    val client = HttpClient.newHttpClient()
    val builder = HttpRequest.newBuilder(URI.create(url)).GET()
    password.foreach(p => builder.header("Authorization", basicAuth(p)))
    client.send(builder.build(), HttpResponse.BodyHandlers.ofString()).body()
  }
}
