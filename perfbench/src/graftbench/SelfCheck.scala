package graftbench

import java.io.ByteArrayInputStream
import java.security.MessageDigest
import javax.xml.parsers.DocumentBuilderFactory
import scala.util.Try

/** Checks of the benchmark's own code, independent of the program:
  * generator determinism, ground truth against a brute-force
  * recomputation from the generated bytes, the document checker, and
  * the order-statistics helpers. Prints one line per check. */
object SelfCheck {
  private val small = FeedGen.Shape(shares = 40, placemarks = 12, devices = 3, brokenPerMille = 150)

  def digest(f: FeedGen.Feeds): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(f.now.toString.getBytes("UTF-8"))
    f.shares.foreach { s =>
      md.update(s"${s.rawId}|${s.callSign}|${s.password}|".getBytes("UTF-8"))
      md.update(s.body)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Latest fix per IMEI recomputed from the served bytes alone, with
    * the JDK's DOM parser and a quadratic scan. */
  def bruteForce(feeds: FeedGen.Feeds): Map[String, Map[String, String]] = {
    case class Pm(share: FeedGen.GenShare, when: String, coords: String, data: Map[String, String])
    val dbf = DocumentBuilderFactory.newInstance()
    val pms = feeds.shares.flatMap { s =>
      Try(dbf.newDocumentBuilder().parse(new ByteArrayInputStream(s.body))).toOption.toSeq.flatMap { doc =>
        val nodes = doc.getElementsByTagName("Placemark")
        (0 until nodes.getLength).map(nodes.item(_).asInstanceOf[org.w3c.dom.Element]).flatMap { pm =>
          val point = pm.getElementsByTagName("Point")
          if (point.getLength == 0) None
          else {
            val data = pm.getElementsByTagName("Data")
            val kv = (0 until data.getLength).map(data.item(_).asInstanceOf[org.w3c.dom.Element]).map { d =>
              d.getAttribute("name") -> d.getElementsByTagName("value").item(0).getTextContent
            }.toMap
            Some(Pm(s, pm.getElementsByTagName("when").item(0).getTextContent,
              pm.getElementsByTagName("coordinates").item(0).getTextContent, kv))
          }
        }
      }
    }
    pms.filter(a => !pms.exists(b => b.data("IMEI") == a.data("IMEI") &&
      java.time.Instant.parse(b.when).isAfter(java.time.Instant.parse(a.when))))
      .map { a =>
        val speed = a.data("Velocity").split(" ")(0).toDouble * FeedGen.KmhToMs
        "inreach-" + a.data("IMEI") -> Map(
          "course" -> a.data("Course").split(" ")(0).toDouble.toString,
          "speed" -> speed.toString,
          "callsign" -> a.share.callSign.getOrElse(a.share.shareId),
          "time" -> java.time.Instant.parse(a.when).toEpochMilli.toString,
          "url" -> ("https://share.garmin.com/" + a.share.shareId),
          "id" -> a.data("Id"), "name" -> a.data("Name"), "type" -> a.data("Device Type"),
          "imei" -> a.data("IMEI"), "incident" -> a.data("Incident Id"),
          "fix" -> a.data("Valid GPS Fix"), "text" -> a.data("Text"), "event" -> a.data("Event"),
          "device" -> a.data("Device Identifier"),
          "coordinates" -> a.coords.split(",").map(_.toDouble).mkString(","))
      }.toMap
  }

  def flatten(e: FeedGen.Expected): Map[String, String] = Map(
    "course" -> e.course.toString, "speed" -> e.speed.toString, "callsign" -> e.callsign,
    "time" -> java.time.Instant.parse(e.timeIso).toEpochMilli.toString, "url" -> e.url,
    "id" -> e.inreachId, "name" -> e.inreachName, "type" -> e.inreachDeviceType,
    "imei" -> e.inreachIMEI, "incident" -> e.inreachIncidentId, "fix" -> e.inreachValidFix,
    "text" -> e.inreachText, "event" -> e.inreachEvent, "device" -> e.inreachDeviceId,
    "coordinates" -> e.coordinates.mkString(","))

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** A document rendered straight from the ground truth, in the sink's
    * JSON shape. */
  def render(exp: Iterable[FeedGen.Expected]): String = exp.map { e =>
    s"""{"id":${q(e.id)},"type":"Feature","properties":{"course":${e.course},"speed":${e.speed},""" +
      s""""callsign":${q(e.callsign)},"time":${q(e.timeIso)},"start":${q(e.timeIso)},""" +
      s""""links":[{"uid":${q(e.id)},"relation":"r-u","mime":"text/html","url":${q(e.url)},""" +
      s""""remarks":"Garmin Portal"}],"metadata":{"inreachId":${q(e.inreachId)},""" +
      s""""inreachName":${q(e.inreachName)},"inreachDeviceType":${q(e.inreachDeviceType)},""" +
      s""""inreachIMEI":${q(e.inreachIMEI)},"inreachIncidentId":${q(e.inreachIncidentId)},""" +
      s""""inreachValidFix":${q(e.inreachValidFix)},"inreachText":${q(e.inreachText)},""" +
      s""""inreachEvent":${q(e.inreachEvent)},"inreachDeviceId":${q(e.inreachDeviceId)},""" +
      s""""inreachReceive":${q(e.timeIso)}}},"geometry":{"type":"Point",""" +
      s""""coordinates":[${e.coordinates.mkString(",")}]}}"""
  }.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  def checks: Seq[(String, () => Boolean)] = Seq(
    "same seed gives the same bytes" -> (() =>
      digest(FeedGen.generate(small, 11)) == digest(FeedGen.generate(small, 11))),
    "another seed gives other feeds" -> (() =>
      digest(FeedGen.generate(small, 11)) != digest(FeedGen.generate(small, 12))),
    "workload shapes are deterministic too" -> (() => FeedGen.shapes.values.forall { sh =>
      val s = sh.copy(shares = math.min(sh.shares, 3), placemarks = math.min(sh.placemarks, 200))
      digest(FeedGen.generate(s, 5)) == digest(FeedGen.generate(s, 5))
    }),
    "small feed has broken, empty and password shares" -> (() => {
      val f = FeedGen.generate(small, 11)
      Set[FeedGen.Kind](FeedGen.Ok, FeedGen.Empty, FeedGen.Truncated).subsetOf(f.shares.map(_.kind).toSet) &&
        f.shares.exists(_.password.isDefined) && f.shares.exists(_.callSign.isEmpty)
    }),
    "fix times are unique per IMEI" -> (() => (1L to 5L).forall { seed =>
      val fixes = FeedGen.generate(small, seed).shares.flatMap(_.fixes)
      fixes.groupBy(_.imei).values.forall(fs => fs.map(_.epochSec).distinct.size == fs.size)
    }),
    "fixes lie inside the 30-minute lookback" -> (() => (1L to 5L).forall { seed =>
      val f = FeedGen.generate(small, seed)
      f.shares.flatMap(_.fixes).forall(x => x.epochSec <= f.now.getEpochSecond &&
        x.epochSec > f.now.getEpochSecond - 1800)
    }),
    "ground truth equals a brute-force recomputation" -> (() => (1L to 5L).forall { seed =>
      val f = FeedGen.generate(small, seed)
      val want = bruteForce(f)
      val got = FeedGen.expected(f).view.mapValues(flatten).toMap
      want.nonEmpty && want == got
    }),
    "checker accepts the ground truth rendered as a document" -> (() => {
      val exp = FeedGen.expected(FeedGen.generate(small, 3))
      Check.document(render(exp.values.toSeq.reverse), exp).isEmpty
    }),
    "checker rejects a changed field, a missing and an extra feature" -> (() => {
      val exp = FeedGen.expected(FeedGen.generate(small, 3))
      val es = exp.values.toSeq
      val changed = es.head.copy(speed = es.head.speed + 1e-3)
      val extra = es.head.copy(id = "inreach-1")
      Check.document(render(changed +: es.tail), exp).isDefined &&
        Check.document(render(es.tail), exp).isDefined &&
        Check.document(render(extra +: es), exp).isDefined &&
        Check.document(render(es).replace(""","inreachReceive"""", ""","extra":1,"inreachReceive""""), exp).isDefined
    }),
    "median and nearest-rank percentiles" -> (() => {
      val xs = (1 to 10).map(_.toDouble).reverse
      Stats.median(xs) == 5.5 && Stats.median(xs.tail) == 5.0 &&
        Stats.percentile(xs, 50) == 5.0 && Stats.percentile(xs, 90) == 9.0 &&
        Stats.percentile(xs, 99) == 10.0 && Stats.percentile(Seq(7.0), 99) == 7.0
    }),
    "driver gap excludes time covered by jobs" -> (() =>
      SparkMeter.uncovered(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60 &&
        SparkMeter.uncovered(0, 100, Nil) == 100),
    "utf-8 length counts multi-byte characters" -> (() =>
      Trace.utf8Length("a°€😀") == 1 + 2 + 3 + 4),
    "loopback rewrite keeps path and query" -> (() =>
      FeedServer.loopback("https://share.garmin.com/Feed/Share/X?d1=2026-01-01T00:00:00Z", 8080) ==
        "http://127.0.0.1:8080/Feed/Share/X?d1=2026-01-01T00:00:00Z"))

  def run(): Boolean = checks.map { case (name, check) =>
    val ok = Try(check()).getOrElse(false)
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    ok
  }.forall(identity)
}
