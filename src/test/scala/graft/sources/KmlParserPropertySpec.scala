package graft.sources

import graft.model.RawPlacemark
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.control.NonFatal

/** The one-pass StAX [[KmlParser]] against the scala.xml DOM parser it
  * replaced ([[DomKmlParser]], test-only): on generated KML both return
  * equal placemarks or both throw, and where the reference finds no
  * Document in a well-formed body the new parser says so too. Pure —
  * no Spark session; fixed seed, no shrinking (the generator builds
  * bodies as strings). */
class KmlParserPropertySpec extends AnyFunSuite {

  private val prefix: Gen[String] = Gen.frequency(10 -> "", 1 -> "k:", 1 -> "gx:")

  private val textPiece: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(6)),
    Gen.oneOf("-105.123,39.456,1650.0", "2026-08-12T05:00:00Z", "45.00 ° True", "5.5 km/h"),
    Gen.oneOf(" ", "\n  ", "\t", "\r\n"),
    Gen.oneOf("&amp;", "&lt;", "&gt;", "&quot;", "&apos;", "&#65;", "&#x263A;"),
    Gen.oneOf("<![CDATA[ a<b>&amp; ]]>", "<![CDATA[]]>", "<![CDATA[\n]]>"),
    Gen.oneOf("<!-- note -->", "<?pi data?>"),
    Gen.oneOf("<b>bold</b>", "<i/>", "<value>v</value>", "<coordinates>9,9</coordinates>"))

  private val text: Gen[String] =
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, textPiece)).map(_.mkString)

  /** `<name>content</name>` under a random prefix, or `<name/>` when empty. */
  private def el(name: String, content: Gen[String], attrs: Gen[String] = Gen.const("")): Gen[String] =
    for {
      p <- prefix
      a <- attrs
      c <- content
      short <- Gen.prob(0.5)
    } yield if (c.isEmpty && short) s"<$p$name$a/>" else s"<$p$name$a>$c</$p$name>"

  private val other: Gen[String] =
    Gen.oneOf("name", "description", "Style", "Snippet").flatMap(el(_, text))

  /** `min` to `max` children drawn from the weighted `parts`, unrelated
    * elements and stray text. */
  private def mixOf(min: Int, max: Int)(parts: (Int, Gen[String])*): Gen[String] = {
    val one = Gen.frequency(parts ++
      Seq(1 -> other, 1 -> Gen.oneOf(" ", "\n    ", "stray text")): _*)
    Gen.choose(min, max).flatMap(Gen.listOfN(_, one)).map(_.mkString)
  }

  private val nameAttr: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("IMEI", "Id", "Velocity", "Device Type", "a&amp;b", " spaced ", "")
      .map(n => s""" name="$n""""),
    1 -> Gen.const(""),
    1 -> Gen.const(""" k:name="IMEI""""),
    1 -> Gen.const(""" k:name="Other" name="IMEI""""),
    1 -> Gen.const(""" name='Id' label="x""""))

  private val coordinates = el("coordinates", text)
  private val placemark: Gen[String] = el("Placemark", mixOf(0, 5)(
    4 -> el("Point", mixOf(0, 2)(4 -> coordinates)),
    4 -> el("TimeStamp", mixOf(0, 2)(4 -> el("when", text))),
    4 -> el("ExtendedData", mixOf(0, 5)(4 -> el("Data", mixOf(0, 2)(4 -> el("value", text)), nameAttr))),
    1 -> el("LineString", mixOf(0, 1)(4 -> coordinates))))
  private val folder = el("Folder", mixOf(0, 4)(6 -> placemark))
  private val document = el("Document", mixOf(0, 3)(6 -> folder, 2 -> placemark))
  private val kmlAttrs = Gen.oneOf("", """ xmlns="http://www.opengis.net/kml/2.2"""",
    """ xmlns="http://www.opengis.net/kml/2.2" xmlns:gx="http://www.google.com/kml/ext/2.2"""")
  private val root: Gen[String] = Gen.frequency(
    8 -> el("kml", mixOf(1, 3)(8 -> document, 2 -> folder), kmlAttrs),
    2 -> document,
    1 -> el("Folder", mixOf(0, 2)(4 -> document)))

  /** A whole body, then intact, truncated at a random offset, with
    * trailing garbage, or behind a DOCTYPE. */
  private val body: Gen[String] = for {
    decl <- Gen.oneOf("", """<?xml version="1.0" encoding="UTF-8"?>""" + "\n")
    lead <- Gen.oneOf("", "\n", "<!-- feed -->\n")
    doc <- root
    trail <- Gen.oneOf("", "\n", "<!-- end -->\n")
    full = decl + lead + doc + trail
    cut <- Gen.choose(0, full.length)
    garbage <- Gen.oneOf("x", "<kml/>", "</kml>", "&amp;")
    damage <- Gen.frequency(12 -> 0, 5 -> 1, 1 -> 2, 1 -> 3)
  } yield damage match {
    case 0 => full
    case 1 => full.take(cut)
    case 2 => full + garbage
    case _ => decl + "<!DOCTYPE kml>" + lead + doc + trail
  }

  private def outcome(parse: => Seq[RawPlacemark]): Either[Throwable, Seq[RawPlacemark]] =
    try Right(parse) catch { case NonFatal(e) => Left(e) }

  test("StAX and DOM parsers agree on generated KML") {
    val prop = Prop.forAllNoShrink(body) { b =>
      val dom = outcome(DomKmlParser.parse(b, "share", "CS"))
      val stax = outcome(KmlParser.parse(b, "share", "CS"))
      val (agree, kind) = (dom, stax) match {
        case (Right(a), Right(s)) => (a == s, if (a.isEmpty) "empty" else "rows")
        case (Left(_: KmlParser.KmlDocumentNotFound), Left(e)) =>
          (e.isInstanceOf[KmlParser.KmlDocumentNotFound], "no Document")
        case (Left(_), Left(_)) => (true, "malformed")
        case _ => (false, "disagree")
      }
      Prop.collect(kind)(Prop(agree) :| s"DOM $dom\nStAX $stax")
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(3000).withInitialSeed(Seed(20261018L)).withWorkers(1)
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
    // the generator reaches every outcome, not just one
    Seq("rows", "empty", "no Document", "malformed").foreach { kind =>
      assert(result.freqMap.getCount(Set(kind)).getOrElse(0) >= 100,
        s"$kind: ${Pretty.pretty(result.freqMap)}")
    }
  }
}
