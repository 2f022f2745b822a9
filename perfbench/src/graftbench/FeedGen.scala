package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.SplittableRandom

/** Seeded inReach MapShare feed generator with its own ground truth.
  *
  * A feed shape is shares × placemarks-per-share × devices-per-share.
  * Every share gets its own IMEIs, each device's fix times are unique
  * (one fix per time slot inside the 30-minute lookback) and the
  * placemark order inside a document is shuffled, so "last in the
  * document wins" cannot pass for "latest fix wins". A small fraction
  * of shares serve an empty body or a truncated (malformed) document;
  * the pipeline must drop those shares and keep the rest.
  *
  * The expected FeatureCollection is computed here from the generated
  * records, following the reference projection and dedup
  * (`task.ts:102-159`) directly — never through the program's
  * `FeatureProjection` or `Dedup`.
  */
object FeedGen {

  final case class Shape(shares: Int, placemarks: Int, devices: Int,
                         brokenPerMille: Int)

  /** The two benchmark shapes: many small personal shares, and a few
    * fleet shares with a long lookback. */
  val shapes: Map[String, Shape] = Map(
    "feeds_wide" -> Shape(shares = 200, placemarks = 10, devices = 2, brokenPerMille = 15),
    "feeds_deep" -> Shape(shares = 16, placemarks = 2500, devices = 200, brokenPerMille = 0))

  sealed trait Kind
  case object Ok extends Kind
  case object Empty extends Kind
  case object Truncated extends Kind

  /** One generated fix: the values the KML carries, before rendering. */
  final case class Fix(
      imei: String, seq: Long, epochSec: Long,
      lon: Double, lat: Double, alt: Double,
      courseCenti: Int, velocityDeci: Int,
      name: String, deviceType: String, deviceId: String,
      incidentId: String, text: String, event: String)

  /** `rawId` is the ShareId as the user wrote it; `shareId` is its
    * normalized form (what the feed URL and portal link carry). */
  final case class GenShare(
      rawId: String, shareId: String, callSign: Option[String],
      password: Option[String], kind: Kind, fixes: Vector[Fix],
      body: Array[Byte])

  final case class Feeds(now: Instant, shares: Vector[GenShare]) {
    def bytes: Long = shares.map(_.body.length.toLong).sum
    def placemarks: Long = shares.filter(_.kind == Ok).map(_.fixes.size.toLong).sum
  }

  private val deviceTypes = Vector("inReach Mini", "inReach Mini 2", "inReach Messenger",
    "inReach Explorer+", "inReach SE+")
  private val events = Vector("Tracking interval received.", "Msg to shared map received",
    "Tracking turned on from device.", "Reference point received")
  private val texts = Vector("", "", "", "On the summit & heading down <ok>",
    "Camp at \"the lake\"", "All good, 5 km to go")

  /** Deterministic: the same (shape, seed) yields the same bytes. */
  def generate(shape: Shape, seed: Long): Feeds = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + shape.hashCode)
    // a whole-second "now" inside 2026, so every seed has its own clock
    val now = Instant.ofEpochSecond(1767225600L + rnd.nextLong(360L * 86400L))
    val imeiBase = 300434000000000L + rnd.nextLong(10000000L) * 1000L
    val broken = (0 until shape.shares).filter(_ => rnd.nextInt(1000) < shape.brokenPerMille).toSet
    var deviceNo = 0L
    var fixSeq = rnd.nextLong(1000000000L)
    val shares = (0 until shape.shares).toVector.map { s =>
      val shareId = f"Share$s%05d${Integer.toHexString(rnd.nextInt(1 << 20))}"
      val rawId = rnd.nextInt(3) match {
        case 0 => s"https://share.garmin.com/$shareId"
        case 1 => s"share.garmin.com/$shareId"
        case _ => shareId
      }
      val callSign = if (rnd.nextBoolean()) Some(s"CALL-$s") else None
      val password = if (rnd.nextInt(10) == 0) Some(s"pw$s-${rnd.nextInt(1000)}") else None
      val kind: Kind =
        if (!broken(s)) Ok else if (rnd.nextBoolean()) Empty else Truncated
      val devices = (0 until shape.devices).map { _ =>
        deviceNo += 1
        (imeiBase + deviceNo).toString
      }
      // placemark i belongs to device i % devices; its per-device index
      // picks a disjoint time slot, so fix times never tie per IMEI
      val perDevice = (shape.placemarks + shape.devices - 1) / shape.devices
      val slot = math.max(1, 1799 / math.max(1, perDevice))
      val fixes = (0 until shape.placemarks).map { i =>
        val d = i % shape.devices
        val k = i / shape.devices
        fixSeq += 1
        Fix(
          imei = devices(d), seq = fixSeq,
          epochSec = now.getEpochSecond - 1799 + k.toLong * slot + rnd.nextInt(slot),
          lon = -120.0 + rnd.nextInt(20000000) / 1e6,
          lat = 30.0 + rnd.nextInt(15000000) / 1e6,
          alt = rnd.nextInt(400000) / 100.0,
          courseCenti = rnd.nextInt(36000),
          velocityDeci = rnd.nextInt(1200),
          name = s"Hiker ${devices(d).takeRight(5)}",
          deviceType = deviceTypes(d % deviceTypes.size),
          deviceId = f"${rnd.nextLong() & 0xffffffffffffL}%012x",
          incidentId = if (rnd.nextInt(50) == 0) s"INC-${rnd.nextInt(9999)}" else "",
          text = texts(rnd.nextInt(texts.size)),
          event = events(rnd.nextInt(events.size)))
      }.toVector
      val order = shuffled(fixes, rnd)
      val body = kind match {
        case Empty => Array.emptyByteArray
        case Ok => renderKml(shareId, order).getBytes(UTF_8)
        case Truncated =>
          val full = renderKml(shareId, order)
          // cut before the closing tags so the document cannot parse
          full.substring(0, 1 + rnd.nextInt(full.length - 40)).getBytes(UTF_8)
      }
      GenShare(rawId, shareId, callSign, password, kind, fixes, body)
    }
    Feeds(now, shares)
  }

  private def shuffled[A](xs: Vector[A], rnd: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  private val whenFmt = DateTimeFormatter.ISO_INSTANT
  private val garminFmt = DateTimeFormatter.ofPattern("M/d/yyyy h:mm:ss a")
    .withLocale(java.util.Locale.US).withZone(ZoneOffset.UTC)

  def courseText(f: Fix): String = f"${f.courseCenti / 100}%d.${f.courseCenti % 100}%02d ° True"
  def velocityText(f: Fix): String = f"${f.velocityDeci / 10}%d.${f.velocityDeci % 10}%d km/h"
  def coordinatesText(f: Fix): String = s"${f.lon},${f.lat},${f.alt}"

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** The 19 ExtendedData fields a Garmin MapShare placemark carries. */
  def extendedData(f: Fix): Seq[(String, String)] = {
    val t = Instant.ofEpochSecond(f.epochSec)
    Seq(
      "Id" -> f.seq.toString,
      "Time UTC" -> garminFmt.format(t),
      "Time" -> garminFmt.format(t),
      "Name" -> f.name,
      "Map Display Name" -> f.name,
      "Device Type" -> f.deviceType,
      "IMEI" -> f.imei,
      "Incident Id" -> f.incidentId,
      "Latitude" -> f.lat.toString,
      "Longitude" -> f.lon.toString,
      "Elevation" -> f"${f.alt}%.2f m from MSL",
      "Velocity" -> velocityText(f),
      "Course" -> courseText(f),
      "Valid GPS Fix" -> "True",
      "In Emergency" -> "False",
      "Text" -> f.text,
      "Event" -> f.event,
      "Device Identifier" -> f.deviceId,
      "SpatialRefSystem" -> "WGS84")
  }

  def renderKml(shareId: String, fixes: Seq[Fix]): String = {
    val sb = new java.lang.StringBuilder(fixes.size * 1500 + 512)
    sb.append("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n")
    sb.append("<kml xmlns=\"http://www.opengis.net/kml/2.2\">\n<Document>\n")
    sb.append("<name>KML Export ").append(shareId).append("</name>\n")
    sb.append("<Folder>\n<name>").append(shareId).append("</name>\n")
    fixes.foreach { f =>
      sb.append("<Placemark>\n<name>").append(esc(f.name)).append("</name>\n")
      sb.append("<visibility>1</visibility>\n")
      sb.append("<TimeStamp><when>").append(whenFmt.format(Instant.ofEpochSecond(f.epochSec)))
        .append("</when></TimeStamp>\n")
      sb.append("<styleUrl>#style_1</styleUrl>\n<ExtendedData>\n")
      extendedData(f).foreach { case (k, v) =>
        sb.append("<Data name=\"").append(k).append("\"><value>").append(esc(v))
          .append("</value></Data>\n")
      }
      sb.append("</ExtendedData>\n<Point>\n<extrude>false</extrude>\n")
      sb.append("<altitudeMode>absolute</altitudeMode>\n<coordinates>")
        .append(coordinatesText(f)).append("</coordinates>\n</Point>\n</Placemark>\n")
    }
    // MapShare ends each folder with the track line; it has no Point
    // and must not become a feature (task.ts:103)
    sb.append("<Placemark>\n<name>").append(shareId).append(" track</name>\n")
    sb.append("<LineString><tessellate>true</tessellate><coordinates>")
    fixes.take(3).foreach(f => sb.append(coordinatesText(f)).append(' '))
    sb.append("</coordinates></LineString>\n</Placemark>\n")
    sb.append("</Folder>\n</Document>\n</kml>\n")
    sb.toString
  }

  // ---- ground truth -------------------------------------------------

  /** One expected output feature, with the values the reference
    * derives for it (`task.ts:114-149`). */
  final case class Expected(
      id: String, course: Double, speed: Double, callsign: String,
      timeIso: String, url: String, inreachId: String, inreachName: String,
      inreachDeviceType: String, inreachIMEI: String, inreachIncidentId: String,
      inreachValidFix: String, inreachText: String, inreachEvent: String,
      inreachDeviceId: String, coordinates: Seq[Double])

  private val isoMillis = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)

  /** km/h → m/s factor of the reference (`task.ts:120`). */
  val KmhToMs = 0.277778

  def expectedOf(share: GenShare, f: Fix): Expected = Expected(
    id = "inreach-" + f.imei,
    course = f.courseCenti / 100.0,
    speed = (f.velocityDeci / 10.0) * KmhToMs,
    callsign = share.callSign.getOrElse(share.shareId),
    timeIso = isoMillis.format(Instant.ofEpochSecond(f.epochSec)),
    url = "https://share.garmin.com/" + share.shareId,
    inreachId = f.seq.toString, inreachName = f.name, inreachDeviceType = f.deviceType,
    inreachIMEI = f.imei, inreachIncidentId = f.incidentId, inreachValidFix = "True",
    inreachText = f.text, inreachEvent = f.event, inreachDeviceId = f.deviceId,
    coordinates = Seq(f.lon, f.lat, f.alt))

  /** Latest fix per IMEI over the shares that serve a parseable feed;
    * empty and truncated shares contribute nothing. */
  def expected(feeds: Feeds): Map[String, Expected] = {
    val latest = scala.collection.mutable.HashMap.empty[String, (Long, Expected)]
    for (s <- feeds.shares if s.kind == Ok; f <- s.fixes) {
      val id = "inreach-" + f.imei
      latest.get(id) match {
        case Some((t, _)) if t >= f.epochSec => ()
        case _ => latest(id) = (f.epochSec, expectedOf(s, f))
      }
    }
    latest.view.mapValues(_._2).toMap
  }
}
