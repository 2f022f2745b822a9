package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Field-by-field comparison of a committed FeatureCollection document
  * with the generator's ground truth. Feature order is free (the
  * dedup shuffle decides it); every field must be present with the
  * expected value, and nothing else may be. Doubles compare with a
  * relative tolerance. */
object Check {
  private val mapper = new ObjectMapper

  val Tolerance = 1e-9

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= Tolerance * math.max(math.abs(a), math.abs(b))

  /** None when the document matches, else the first few differences. */
  def document(doc: String, expected: Map[String, FeedGen.Expected]): Option[String] = {
    val errs = Vector.newBuilder[String]
    val root = mapper.readTree(doc)
    if (root.path("type").asText() != "FeatureCollection") errs += "top-level type"
    if (root.size() != 2) errs += s"top-level fields: ${root.fieldNames().asScala.mkString(",")}"
    val feats = root.path("features").elements().asScala.toVector
    if (feats.size != expected.size) errs += s"${feats.size} features, expected ${expected.size}"
    val seen = scala.collection.mutable.Set.empty[String]
    feats.foreach { f =>
      val id = f.path("id").asText()
      if (!seen.add(id)) errs += s"duplicate feature $id"
      expected.get(id) match {
        case None => errs += s"unexpected feature $id"
        case Some(e) => errs ++= feature(f, e).map(m => s"$id: $m")
      }
    }
    val all = errs.result()
    if (all.isEmpty) None else Some(all.take(5).mkString("; ") + s" (${all.size} differences)")
  }

  private def fields(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  def feature(f: JsonNode, e: FeedGen.Expected): Seq[String] = {
    val errs = Vector.newBuilder[String]
    def str(n: JsonNode, name: String, want: String): Unit = {
      val v = n.get(name)
      if (v == null || !v.isTextual || v.asText() != want) errs += s"$name=${v} want '$want'"
    }
    def dbl(n: JsonNode, name: String, want: Double): Unit = {
      val v = n.get(name)
      if (v == null || !v.isNumber || !close(v.asDouble(), want)) errs += s"$name=${v} want $want"
    }
    def shape(n: JsonNode, path: String, want: Set[String]): Unit =
      if (n == null || !n.isObject || fields(n) != want) errs += s"$path fields ${Option(n).map(fields)}"

    shape(f, "feature", Set("id", "type", "properties", "geometry"))
    str(f, "type", "Feature")
    val p = f.path("properties")
    shape(p, "properties", Set("course", "speed", "callsign", "time", "start", "links", "metadata"))
    dbl(p, "course", e.course)
    dbl(p, "speed", e.speed)
    str(p, "callsign", e.callsign)
    str(p, "time", e.timeIso)
    str(p, "start", e.timeIso)
    val links = p.path("links")
    if (!links.isArray || links.size != 1) errs += s"links=$links"
    else {
      val l = links.get(0)
      shape(l, "link", Set("uid", "relation", "mime", "url", "remarks"))
      str(l, "uid", e.id); str(l, "relation", "r-u"); str(l, "mime", "text/html")
      str(l, "url", e.url); str(l, "remarks", "Garmin Portal")
    }
    val m = p.path("metadata")
    shape(m, "metadata", Set("inreachId", "inreachName", "inreachDeviceType", "inreachIMEI",
      "inreachIncidentId", "inreachValidFix", "inreachText", "inreachEvent", "inreachDeviceId",
      "inreachReceive"))
    str(m, "inreachId", e.inreachId); str(m, "inreachName", e.inreachName)
    str(m, "inreachDeviceType", e.inreachDeviceType); str(m, "inreachIMEI", e.inreachIMEI)
    str(m, "inreachIncidentId", e.inreachIncidentId); str(m, "inreachValidFix", e.inreachValidFix)
    str(m, "inreachText", e.inreachText); str(m, "inreachEvent", e.inreachEvent)
    str(m, "inreachDeviceId", e.inreachDeviceId); str(m, "inreachReceive", e.timeIso)
    val g = f.path("geometry")
    shape(g, "geometry", Set("type", "coordinates"))
    str(g, "type", "Point")
    val c = g.path("coordinates")
    if (!c.isArray || c.size != e.coordinates.size ||
        !c.elements().asScala.zip(e.coordinates).forall { case (v, w) => v.isNumber && close(v.asDouble(), w) })
      errs += s"coordinates=$c want ${e.coordinates}"
    errs.result()
  }
}
