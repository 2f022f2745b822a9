package graft.sources

import graft.model.RawPlacemark

import java.io.StringReader
import javax.xml.stream.XMLStreamConstants._
import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}

/** Pure KML → RawPlacemark extraction. No Spark dependency — this is
  * the partition-level parse function of the inReach source
  * (SURVEY.md §2.1 S6–S8) and is unit-testable without a session.
  *
  * One forward pass of a StAX `XMLStreamReader` over the body builds
  * each [[RawPlacemark]] directly; no element tree is kept. The pass
  * reads to the end of the document before it returns, so a truncated
  * or trailing-garbage body throws instead of yielding a partial feed.
  *
  * Guard semantics pinned to the reference:
  *  - blank body  → empty result          (reference `task.ts:95`)
  *  - no Document → throw                  (`task.ts:98`; caught per
  *    feed by the source's failure isolation, `task.ts:165-168`)
  *  - no Folder   → empty result           (`task.ts:99`)
  *  - placemark without Point → `coordinatesRaw = None`, dropped
  *    later by the projection (`task.ts:103`)
  *
  * xml2js wraps every element in an array and the reference indexes
  * the first one (`Document[0].Folder[0]`, `value[0]`); the pass reads
  * the same way, without building the arrays: the root may be
  * `kml` or a bare `Document`, then only the first `Document`, its
  * first `Folder`, and that Folder's direct `Placemark` children. Per
  * placemark it takes the first `Point`/`coordinates`, the first
  * `TimeStamp`/`when`, the first `ExtendedData`, and from each `Data`
  * with an unprefixed `name` its first `value` (`""` without one; a
  * repeated name keeps the last). Element names match on their local
  * part (text after the first `:`), so prefixed and undeclared-prefix
  * names read as unprefixed ones. Text is all descendant text joined,
  * CDATA and whitespace kept. SURVEY.md §7.4 has the normalization
  * note.
  */
object KmlParser {

  final class KmlDocumentNotFound
      extends RuntimeException("XML Parse Error: Document not found")

  /** One reader factory per thread (a factory is not guaranteed to be
    * thread-safe), always the JDK's own StAX implementation:
    * `XMLInputFactory.newInstance()` follows the classpath's service
    * files, and with Spark's jars that resolves to Hadoop's shaded
    * Woodstox, whose text and error behaviour differ. No DTD and no
    * external entities are processed (XXE), and a DOCTYPE is rejected
    * outright by the pass; adjacent text and CDATA arrive as one event;
    * namespace processing is off, so an undeclared prefix is not an
    * error and names are read as written.
    */
  private val factory: ThreadLocal[XMLInputFactory] = ThreadLocal.withInitial { () =>
    val f = XMLInputFactory.newDefaultFactory()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f
  }

  def parse(body: String, shareId: String, callSign: String): Seq[RawPlacemark] = {
    if (body == null || body.trim.isEmpty) return Seq.empty
    val reader = factory.get.createXMLStreamReader(new StringReader(body))
    try new Pass(reader, shareId, callSign).run()
    finally reader.close()
  }

  /** One pass over one body, descending only into the elements it reads;
    * every other element is skipped through its end tag. */
  private final class Pass(r: XMLStreamReader, shareId: String, callSign: String) {

    def run(): Seq[RawPlacemark] = {
      var docSeen = false
      var folderSeen = false
      val out = Vector.newBuilder[RawPlacemark]
      def document(): Unit = {
        docSeen = true
        children {
          case "Folder" if !folderSeen =>
            folderSeen = true
            children {
              case "Placemark" => out += placemark()
              case _ => skip()
            }
          case _ => skip()
        }
      }
      children { // the root, then on to the end of the document
        case "kml" => children {
          case "Document" if !docSeen => document()
          case _ => skip()
        }
        case "Document" => document()
        case _ => skip()
      }
      if (!docSeen) throw new KmlDocumentNotFound
      if (folderSeen) out.result() else Seq.empty
    }

    private def placemark(): RawPlacemark = {
      var pointSeen = false
      var stampSeen = false
      var extSeen = false
      var coords: String = null
      var when: String = null
      val extended = Map.newBuilder[String, String]
      children {
        case "Point" if !pointSeen =>
          pointSeen = true
          children {
            case "coordinates" if coords == null => coords = text()
            case _ => skip()
          }
        case "TimeStamp" if !stampSeen =>
          stampSeen = true
          children {
            case "when" if when == null => when = text()
            case _ => skip()
          }
        case "ExtendedData" if !extSeen =>
          extSeen = true
          children {
            case "Data" =>
              val name = nameAttribute()
              var value: String = null
              children {
                case "value" if value == null => value = text()
                case _ => skip()
              }
              if (name != null) extended += name -> (if (value == null) "" else value)
            case _ => skip()
          }
        case _ => skip()
      }
      RawPlacemark(
        shareId = shareId,
        callSign = callSign,
        coordinatesRaw = if (pointSeen) Some(if (coords == null) "" else coords) else None,
        whenRaw = Option(when),
        extended = extended.result())
    }

    private def next(): Int = {
      val event = r.next()
      if (event == DTD) throw new XMLStreamException("DOCTYPE is not allowed in a KML feed", r.getLocation)
      event
    }

    /** Calls `child` with the local name of each direct child of the open
      * element (of the document, at the top), at the child's start tag;
      * `child` must read it through its end tag. Returns at the open
      * element's end tag. */
    private def children(child: String => Unit): Unit = {
      var event = next()
      while (event != END_ELEMENT && event != END_DOCUMENT) {
        if (event == START_ELEMENT) child(localName(r.getLocalName))
        event = next()
      }
    }

    private def skip(): Unit = consume(null)

    private def text(): String = {
      val sb = new java.lang.StringBuilder
      consume(sb)
      sb.toString
    }

    /** Reads the open element through its end tag, appending its
      * descendant text to `sb` unless that is null. Iterative, so deep
      * nesting cannot overflow the stack. */
    private def consume(sb: java.lang.StringBuilder): Unit = {
      var depth = 1
      while (depth > 0) next() match {
        case START_ELEMENT => depth += 1
        case END_ELEMENT => depth -= 1
        case CHARACTERS | CDATA | SPACE =>
          if (sb != null) sb.append(r.getTextCharacters, r.getTextStart, r.getTextLength)
        case _ =>
      }
    }

    /** The unprefixed `name` attribute of the open element, or null. */
    private def nameAttribute(): String = {
      var i = 0
      while (i < r.getAttributeCount) {
        val prefix = r.getAttributePrefix(i)
        if (r.getAttributeLocalName(i) == "name" && (prefix == null || prefix.isEmpty))
          return r.getAttributeValue(i)
        i += 1
      }
      null
    }
  }

  private def localName(qname: String): String = {
    val i = qname.indexOf(':')
    if (i < 0) qname else qname.substring(i + 1)
  }
}
