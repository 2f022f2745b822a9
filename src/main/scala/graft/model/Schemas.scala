package graft.model

import org.apache.spark.sql.types._

/** Canonical data model of the engine.
  *
  * Derived from the reference's Feature construction (reference
  * `task.ts:115-149`) and its declared output schema (`task.ts:42-53`);
  * see SURVEY.md §1.3 for the full mapping rationale.
  *
  * The pipeline's inputs are case classes (the share config, and the
  * raw placemark the source emits as a `Dataset[RawPlacemark]`). Its
  * output, the GeoJSON Feature row, is published once, as the explicit
  * `StructType` in [[Schemas]] (the never-inferred schema contract —
  * SURVEY.md §1.4), and PipelineSpec ties it to what the pipeline emits.
  */

/** Input config relation: one row per Garmin MapShare feed
  * (reference `task.ts:8-12`, TypeBox schema `task.ts:14-27`). */
final case class Share(
    ShareId: String,
    CallSign: Option[String] = None,
    Password: Option[String] = None)

/** Engine config (reference Input schema `task.ts:14-27`). */
final case class EngineConfig(
    shares: Seq[Share],
    debug: Boolean = false) {
  // Fail-fast validation mirroring reference `task.ts:63-64`.
  require(shares != null, "No INREACH_MAP_SHARES Provided")
}

/** Raw placemark extracted from a KML document before projection:
  * the fields the reference dereferences (`task.ts:102-112`), plus
  * feed provenance (ShareId/CallSign ride along — SURVEY.md §2.3's
  * implicit broadcast of the share relation). */
final case class RawPlacemark(
    shareId: String,
    callSign: String,
    coordinatesRaw: Option[String],   // Point/coordinates text, None = no Point (task.ts:103)
    whenRaw: Option[String],          // TimeStamp/when text (task.ts:122)
    extended: Map[String, String])    // ExtendedData pivot (task.ts:109-112)

/** Explicit output StructType (SURVEY.md §1.3), published by
  * `Pipeline.capabilities` (§1.4). Optionality mirrors the reference's
  * TypeBox declaration. Timestamps are typed internally; the
  * reference's ISO-8601 strings are rendered only at the sink boundary
  * (SURVEY.md §1.2). */
object Schemas {
  // `properties.links[i]` (reference `task.ts:124-131`)
  val link: StructType = StructType(Seq(
    StructField("uid", StringType, nullable = false),
    StructField("relation", StringType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("remarks", StringType, nullable = false)))

  // `properties.metadata` (reference `task.ts:132-143`, declared output
  // schema `task.ts:42-53`)
  val metadata: StructType = StructType(Seq(
    StructField("inreachId", StringType, nullable = false),
    StructField("inreachName", StringType, nullable = false),
    StructField("inreachDeviceType", StringType, nullable = false),
    StructField("inreachIMEI", StringType, nullable = true),
    StructField("inreachIncidentId", StringType, nullable = true),
    StructField("inreachValidFix", StringType, nullable = true),
    StructField("inreachText", StringType, nullable = true),
    StructField("inreachEvent", StringType, nullable = true),
    StructField("inreachDeviceId", StringType, nullable = false),
    StructField("inreachReceive", TimestampType, nullable = true)))

  // reference `task.ts:118-144`
  val properties: StructType = StructType(Seq(
    StructField("course", DoubleType, nullable = true),
    StructField("speed", DoubleType, nullable = true),
    StructField("callsign", StringType, nullable = false),
    StructField("time", TimestampType, nullable = true),
    StructField("start", TimestampType, nullable = true),
    StructField("links", ArrayType(link, containsNull = false), nullable = false),
    StructField("metadata", metadata, nullable = false)))

  // GeoJSON Point, lon,lat[,alt] in KML order (reference `task.ts:105-107, 145-148`)
  val geometry: StructType = StructType(Seq(
    StructField("type", StringType, nullable = false),
    StructField("coordinates", ArrayType(DoubleType, containsNull = false), nullable = false)))

  // the pipeline's output row (reference `task.ts:115-149`)
  val feature: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("properties", properties, nullable = false),
    StructField("geometry", geometry, nullable = false)))
}
