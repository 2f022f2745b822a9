package graft.sources

import graft.model.RawPlacemark
import scala.xml.{Elem, Node, XML}

/** Test-only reference: the scala.xml DOM parser that [[KmlParser]]'s
  * one-pass StAX reader replaced, kept verbatim so
  * `KmlParserPropertySpec` can check that the two agree on generated
  * KML. Delete it together with that property once the StAX parser has
  * run in production long enough.
  *
  * It builds the whole element tree with `XML.loadString` and walks it
  * with `\`, which matches on an element's local name. xml2js wraps
  * every element in an array (`Folder[0].Placemark`), scala.xml does
  * not; the reference reads only Document[0].Folder[0].
  */
object DomKmlParser {

  def parse(body: String, shareId: String, callSign: String): Seq[RawPlacemark] = {
    if (body == null || body.trim.isEmpty) return Seq.empty

    val root: Elem = XML.loadString(body)
    // Accept either <kml><Document>…</kml> or a bare <Document> root;
    // the reference requires kml.Document to exist (task.ts:98).
    val doc: Node =
      if (root.label == "kml") {
        (root \ "Document").headOption.getOrElse(throw new KmlParser.KmlDocumentNotFound)
      } else if (root.label == "Document") root
      else throw new KmlParser.KmlDocumentNotFound

    val folder = (doc \ "Folder").headOption match {
      case None    => return Seq.empty // task.ts:99 — silent empty
      case Some(f) => f
    }

    (folder \ "Placemark").map { pm =>
      val point = (pm \ "Point").headOption
      val coords = point.flatMap(p => (p \ "coordinates").headOption).map(_.text)
      val when = (pm \ "TimeStamp").headOption
        .flatMap(ts => (ts \ "when").headOption).map(_.text)
      // ExtendedData pivot: list of <Data name=k><value>v</value></Data>
      // → string map (task.ts:109-112). Missing <value> → empty string
      // (xml2js yields '' for an empty element).
      val extended: Map[String, String] = (pm \ "ExtendedData").headOption match {
        case None => Map.empty
        case Some(ed) =>
          (ed \ "Data").flatMap { d =>
            d.attribute("name").map(_.text).map { k =>
              k -> (d \ "value").headOption.map(_.text).getOrElse("")
            }
          }.toMap
      }
      RawPlacemark(
        shareId = shareId,
        callSign = callSign,
        coordinatesRaw = if (point.isDefined) coords.orElse(Some("")) else None,
        whenRaw = when,
        extended = extended)
    }
  }
}
