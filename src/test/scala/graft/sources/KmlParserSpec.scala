package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Pins the reference's guard semantics (task.ts:95-112); fixture
  * shapes from FIXTURES.md §A1. Pure — no Spark session. */
class KmlParserSpec extends AnyFunSuite {

  def kml(placemarks: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<kml xmlns="http://www.opengis.net/kml/2.2">
       |  <Document><Folder>$placemarks</Folder></Document>
       |</kml>""".stripMargin

  val fullPlacemark: String =
    """<Placemark>
      |  <TimeStamp><when>2026-08-12T05:00:00Z</when></TimeStamp>
      |  <Point><coordinates>-105.123,39.456,1650.0</coordinates></Point>
      |  <ExtendedData>
      |    <Data name="Id"><value>12345678</value></Data>
      |    <Data name="Name"><value>Jane Operator</value></Data>
      |    <Data name="Device Type"><value>inReach Mini 2</value></Data>
      |    <Data name="IMEI"><value>300434030000000</value></Data>
      |    <Data name="Incident Id"><value></value></Data>
      |    <Data name="Valid GPS Fix"><value>True</value></Data>
      |    <Data name="Course"><value>45.00 ° True</value></Data>
      |    <Data name="Velocity"><value>5.5 km/h</value></Data>
      |  </ExtendedData>
      |</Placemark>""".stripMargin

  test("full placemark extracts coordinates, when, extended map") {
    val rows = KmlParser.parse(kml(fullPlacemark), "share1", "CS")
    assert(rows.size == 1)
    val r = rows.head
    assert(r.shareId == "share1" && r.callSign == "CS")
    assert(r.coordinatesRaw.contains("-105.123,39.456,1650.0"))
    assert(r.whenRaw.contains("2026-08-12T05:00:00Z"))
    assert(r.extended("IMEI") == "300434030000000")
    assert(r.extended("Course") == "45.00 ° True")
    assert(r.extended("Incident Id") == "") // empty <value> → ""
  }

  test("blank body → empty (task.ts:95)") {
    assert(KmlParser.parse("", "s", "c").isEmpty)
    assert(KmlParser.parse("   \n ", "s", "c").isEmpty)
  }

  test("no Document → throw (task.ts:98)") {
    intercept[KmlParser.KmlDocumentNotFound] {
      KmlParser.parse("<kml><NotDocument/></kml>", "s", "c")
    }
  }

  test("Document without Folder → silent empty (task.ts:99)") {
    assert(KmlParser.parse("<kml><Document/></kml>", "s", "c").isEmpty)
  }

  test("placemark without Point → coordinatesRaw None (filtered later, task.ts:103)") {
    val pm = """<Placemark><TimeStamp><when>2026-08-12T05:00:00Z</when></TimeStamp></Placemark>"""
    val rows = KmlParser.parse(kml(pm), "s", "c")
    assert(rows.size == 1 && rows.head.coordinatesRaw.isEmpty)
  }

  test("missing when / missing ExtendedData tolerated") {
    val pm = """<Placemark><Point><coordinates>1,2</coordinates></Point></Placemark>"""
    val rows = KmlParser.parse(kml(pm), "s", "c")
    assert(rows.head.whenRaw.isEmpty && rows.head.extended.isEmpty)
  }

  test("multiple placemarks all extracted in document order") {
    val pm2 = fullPlacemark.replace("300434030000000", "300434030000001")
    val rows = KmlParser.parse(kml(fullPlacemark + pm2), "s", "c")
    assert(rows.map(_.extended("IMEI")) ==
      Seq("300434030000000", "300434030000001"))
  }

  test("names match on the local part; text keeps CDATA, entities and whitespace") {
    val body =
      """<k:kml xmlns:k="http://www.opengis.net/kml/2.2"><k:Document><k:Folder>
        |<k:Placemark><k:Point><k:coordinates> 1,<![CDATA[2]]> </k:coordinates></k:Point>
        |<gx:TimeStamp><when>a&amp;b&lt;<b>c</b></when></gx:TimeStamp>
        |<ExtendedData><Data name="A"><value>x</value></Data><Data k:name="B"><value>y</value></Data>
        |<Data><value>z</value></Data><Data name="A"><value>last</value><value>2nd</value></Data>
        |<Data name="C"/></ExtendedData></k:Placemark>
        |</k:Folder></k:Document></k:kml>""".stripMargin
    val rows = KmlParser.parse(body, "s", "c")
    assert(rows.size == 1)
    assert(rows.head.coordinatesRaw.contains(" 1,2 "))
    assert(rows.head.whenRaw.contains("a&b<c"))
    assert(rows.head.extended == Map("A" -> "last", "C" -> ""))
  }

  test("only the first Document, its first Folder and direct Placemarks are read") {
    val pm = """<Placemark><Point><coordinates>1,2</coordinates></Point></Placemark>"""
    val body = s"""<kml><Document><Folder>$pm<Placemark/><Placemark><Point/></Placemark>
                  |<Other>$pm</Other></Folder><Folder>$pm</Folder></Document>
                  |<Document><Folder>$pm</Folder></Document></kml>""".stripMargin
    val rows = KmlParser.parse(body, "s", "c")
    assert(rows.map(_.coordinatesRaw) == Seq(Some("1,2"), None, Some("")))
  }

  test("a bare Document root is accepted; any other root has no Document") {
    assert(KmlParser.parse("<Document><Folder><Placemark/></Folder></Document>", "s", "c").size == 1)
    intercept[KmlParser.KmlDocumentNotFound] {
      KmlParser.parse("<Folder><Document/></Folder>", "s", "c")
    }
  }

  test("truncated or trailing-garbage body throws instead of returning a partial feed") {
    val body = kml(fullPlacemark + fullPlacemark)
    intercept[Exception](KmlParser.parse(body.dropRight(20), "s", "c"))
    intercept[Exception](KmlParser.parse(body + "garbage", "s", "c"))
    intercept[Exception](KmlParser.parse(body + "<kml/>", "s", "c"))
    assert(KmlParser.parse(body + "\n<!-- trailing comment -->\n", "s", "c").size == 2)
  }

  test("deeply nested skipped markup does not overflow the stack") {
    val deep = "<x>" * 100000 + "</x>" * 100000
    val pm = s"<Placemark><description>$deep</description><Point><coordinates>1,2</coordinates></Point></Placemark>"
    assert(KmlParser.parse(kml(pm), "s", "c").map(_.coordinatesRaw) == Seq(Some("1,2")))
  }

  test("a plain DOCTYPE is rejected") {
    val body = kml(fullPlacemark)
    assert(KmlParser.parse(body, "s", "c").size == 1)
    intercept[Exception](KmlParser.parse(body.replaceFirst("\\?>", "?><!DOCTYPE kml>"), "s", "c"))
  }

  test("an external entity (XXE) is rejected without reading the file") {
    val secret = Files.createTempFile("kml-xxe", ".txt")
    try {
      Files.write(secret, "xxe-secret-4711".getBytes(UTF_8))
      val body =
        s"""<?xml version="1.0"?>
           |<!DOCTYPE kml [<!ENTITY x SYSTEM "${secret.toUri}">]>
           |<kml><Document><Folder><Placemark>
           |<Point><coordinates>&x;</coordinates></Point>
           |</Placemark></Folder></Document></kml>""".stripMargin
      val err = intercept[Exception](KmlParser.parse(body, "s", "c"))
      assert(!String.valueOf(err.getMessage).contains("xxe-secret-4711"))
    } finally Files.delete(secret)
  }
}
