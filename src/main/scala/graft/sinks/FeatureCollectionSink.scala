package graft.sinks

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** S9 — the sink boundary (SURVEY.md §2.1).
  *
  * The reference POSTs one FeatureCollection per run to the CloudTAK
  * ETL API (`task.ts:182`, env contract `README.md:15-22`). Here the
  * per-feature serialization is a DataFrame transformation (timestamps
  * rendered as millisecond ISO-8601 `Z`, matching `toISOString()`,
  * `task.ts:122`); its output is written to
  * [[graft.sinks.v2.FeatureCollectionDataSource]]
  * (`format("featurecollection")`), which assembles the one document
  * and performs the POST through an injectable effect so tests stay
  * networkless.
  */
object FeatureCollectionSink {

  /** ISO-8601 with milliseconds and Z, the `Date.toISOString` shape. */
  private val IsoMillis = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  /** features DF → one JSON string column per feature, timestamps
    * ISO-rendered. Column order preserved. */
  def toFeatureJson(features: DataFrame): DataFrame = {
    val opts = Map("timestampFormat" -> IsoMillis)
    features.select(to_json(struct(features.columns.map(col): _*), opts).as("feature"))
  }
}
