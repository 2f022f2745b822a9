package graft.sinks.v2

import graft.SparkSpec
import graft.sinks.FeatureCollectionSink
import org.apache.spark.sql.functions._

class FeatureCollectionDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def features = Seq(
    ("inreach-1", 9.5, "2026-08-12T05:10:00.000Z"),
    ("inreach-2", 1.25, "2026-08-12T05:12:00.000Z"),
    ("inreach-3", 0.0, "2026-08-12T05:14:00.000Z")
  ).toDF("id", "speed", "time")

  private val Head = """{"type":"FeatureCollection","features":["""

  test("V2 sink document equals the driver-side collect path, byte for byte") {
    // the document the former driver-side collect path produced
    val want = Head +
      """{"id":"inreach-1","speed":9.5,"time":"2026-08-12T05:10:00.000Z"},""" +
      """{"id":"inreach-2","speed":1.25,"time":"2026-08-12T05:12:00.000Z"},""" +
      """{"id":"inreach-3","speed":0.0,"time":"2026-08-12T05:14:00.000Z"}]}"""
    val json = FeatureCollectionSink.toFeatureJson(features)
    val out = java.nio.file.Files.createTempDirectory("fc-sink")
      .resolve("fc.json").toString
    json.write.format("featurecollection")
      .option("targetPath", out).mode("overwrite").save()
    val got = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(got == want, s"\n$got\n!=\n$want")
    assert(got.startsWith("""{"type":"FeatureCollection","features":[{"""))
  }

  test("V2 sink: distributed fragments assemble in partition order; empty partitions skipped") {
    val json = FeatureCollectionSink.toFeatureJson(features).repartition(8)
    // collect() concatenates partitions in partition order
    val want = json.collect().map(_.getString(0)).mkString(Head, ",", "]}")
    var posted: String = null
    FeatureCollectionDataSource.posts.put("spec", s => posted = s)
    try {
      json.write.format("featurecollection")
        .option("postId", "spec").mode("append").save()
      assert(posted == want)
      // one document, all three features present despite 8 partitions
      assert(posted.split("\\{\"id\"").length == 4)
    } finally FeatureCollectionDataSource.posts.remove("spec")
  }

  test("V2 sink rejects multi-column input (engine-level schema check)") {
    // Spark validates the written columns against the table schema
    // BEFORE our WriteBuilder require — the contract is enforced at
    // the engine layer
    val err = intercept[Exception] {
      features.write.format("featurecollection")
        .option("targetPath", "/tmp/never.json").mode("overwrite").save()
    }
    assert(err.getMessage.contains("TOO_MANY_DATA_COLUMNS") ||
      err.getMessage.contains("ONE string column"))
  }
}
