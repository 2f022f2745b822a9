package graft

import graft.model.{EngineConfig, Share}
import graft.sinks.v2.FeatureCollectionDataSource
import graft.sources.InReachSource
import graft.sources.v2.InReachDataSource
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import java.time.Instant

/** End-to-end golden test: fixture KML (FIXTURES.md §A1) → source →
  * projection → dedup → FeatureCollection JSON. Networkless via the
  * injected fetcher seam. */
/** Fixtures live in a standalone object so the fetcher closures that
  * ship to executors don't capture the (non-serializable) spec. */
object PipelineFixtures extends Serializable {

  def placemark(imei: String, when: String, lon: Double = -105.123,
                course: String = "45.00 ° True", velocity: String = "5.5 km/h"): String =
    s"""<Placemark>
       |  <TimeStamp><when>$when</when></TimeStamp>
       |  <Point><coordinates>$lon,39.456,1650.0</coordinates></Point>
       |  <ExtendedData>
       |    <Data name="Id"><value>id-$imei</value></Data>
       |    <Data name="Name"><value>Jane</value></Data>
       |    <Data name="Device Type"><value>inReach Mini 2</value></Data>
       |    <Data name="IMEI"><value>$imei</value></Data>
       |    <Data name="Valid GPS Fix"><value>True</value></Data>
       |    <Data name="Course"><value>$course</value></Data>
       |    <Data name="Velocity"><value>$velocity</value></Data>
       |    <Data name="Device Identifier"><value>dev-$imei</value></Data>
       |  </ExtendedData>
       |</Placemark>""".stripMargin

  def doc(pms: String): String =
    s"""<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Folder>$pms</Folder></Document></kml>"""

  // Two shares: share A has one device reported twice (dedup keeps the
  // later), share B one device; B's URL-form ShareId gets normalized.
  val feeds: Map[String, String] = Map(
    "alpha" -> doc(
      placemark("111", "2026-08-12T05:00:00Z", lon = -100.0) +
      placemark("111", "2026-08-12T05:10:00Z", lon = -101.0) +
      placemark("222", "2026-08-12T05:05:00Z")),
    "beta" -> doc(placemark("333", "2026-08-12T05:20:00Z")))

  def shareIdOf(url: String): String = url.split("/Feed/Share/")(1).split("\\?")(0)

  /** Serves `feeds` by ShareId; an unknown share throws, as a failed
    * fetch would. */
  def serving(feeds: Map[String, String]): InReachSource.Fetcher =
    (url, _) => feeds(shareIdOf(url))

  val fetcher: InReachSource.Fetcher = serving(feeds)

  val brokenFetcher: InReachSource.Fetcher = (url, pw) =>
    if (url.contains("alpha")) throw new RuntimeException("HTTP 500")
    else fetcher(url, pw)

  val config = EngineConfig(Seq(
    Share("alpha"),
    Share("https://share.garmin.com/beta", CallSign = Some("BETA"))))

  val now = Instant.parse("2026-08-12T05:30:00Z")
}

class PipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import PipelineFixtures._

  test("end-to-end: three deduped features, later fix wins") {
    val out = Pipeline.features(spark, config, fetcher, now)
    val rows = out.orderBy("id").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("inreach-111", "inreach-222", "inreach-333"))
    // dedup kept the -101.0 (later) fix for device 111
    val f111 = out.filter(col("id") === "inreach-111")
      .select(col("geometry.coordinates")(0)).collect().head.getDouble(0)
    assert(f111 == -101.0)
  }

  test("projection semantics: unit strip, km/h→m/s, callsign default") {
    val out = Pipeline.features(spark, config, fetcher, now)
    val r = out.filter(col("id") === "inreach-222")
      .select(col("properties.course"), col("properties.speed"),
        col("properties.callsign")).collect().head
    assert(r.getDouble(0) == 45.00)
    assert(math.abs(r.getDouble(1) - 5.5 * 0.277778) < 1e-9)
    assert(r.getString(2) == "alpha") // CallSign defaulted to ShareId
    val b = out.filter(col("id") === "inreach-333")
      .select(col("properties.callsign")).collect().head.getString(0)
    assert(b == "BETA")
  }

  test("feed failure isolation: broken share contributes 0 rows, run continues") {
    val out = Pipeline.features(spark, config, brokenFetcher, now)
    assert(out.select("id").collect().map(_.getString(0)).toSeq == Seq("inreach-333"))
  }

  test("FeatureCollection JSON golden shape with ISO-millis timestamps") {
    val one = EngineConfig(Seq(Share("beta", CallSign = Some("BETA"))))
    var fc: String = null
    Pipeline.run(spark, one, fetcher, post = d => fc = d, now = now)
    assert(fc.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(fc.contains(""""id":"inreach-333""""))
    assert(fc.contains(""""time":"2026-08-12T05:20:00.000Z""""))
    assert(fc.contains(""""coordinates":[-105.123,39.456,1650.0]"""))
    // no shares: one empty collection is still posted
    Pipeline.run(spark, EngineConfig(Seq.empty), fetcher, post = d => fc = d, now = now)
    assert(fc == """{"type":"FeatureCollection","features":[]}""")
  }

  test("the published output schema is the schema the pipeline emits") {
    import org.apache.spark.sql.types._
    def loose(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f => StructField(f.name, loose(f.dataType))))
      case a: ArrayType => ArrayType(loose(a.elementType))
      case m: MapType => MapType(loose(m.keyType), loose(m.valueType))
      case other => other
    }
    val published = DataType.fromJson(Pipeline.capabilities("output"))
    val emitted = Pipeline.features(spark, config, fetcher, now).schema
    assert(loose(published) == loose(emitted),
      s"published ${published.simpleString}\nemitted ${emitted.simpleString}")
  }

  test("share normalization forms (task.ts:70-74)") {
    assert(InReachSource.normalizeShareId("https://share.garmin.com/xyz") == "xyz")
    assert(InReachSource.normalizeShareId("share.garmin.com/xyz") == "xyz")
    assert(InReachSource.normalizeShareId("xyz") == "xyz")
  }

  test("feed URL carries the 30-min lookback pushdown (task.ts:80-82)") {
    val url = InReachSource.feedUrl("abc", now)
    assert(url == "https://share.garmin.com/Feed/Share/abc?d1=2026-08-12T05:00:00Z")
  }

  test("projection drops non-Point placemarks (task.ts:103)") {
    val noPoint = doc("""<Placemark><TimeStamp><when>2026-08-12T05:00:00Z</when></TimeStamp></Placemark>""" +
      placemark("444", "2026-08-12T05:01:00Z"))
    val f: InReachSource.Fetcher = (_, _) => noPoint
    val out = Pipeline.features(spark, EngineConfig(Seq(Share("s"))), f, now)
    assert(out.select("id").collect().map(_.getString(0)).toSeq == Seq("inreach-444"))
  }

  test("a share listed twice must carry the same CallSign and Password") {
    val err = intercept[IllegalArgumentException](Pipeline.features(spark, EngineConfig(Seq(
      Share("beta", CallSign = Some("B1")),
      Share("https://share.garmin.com/beta", CallSign = Some("B2")))), fetcher, now))
    assert(err.getMessage.contains("share 'beta'"), err.getMessage)
    intercept[IllegalArgumentException](Pipeline.features(spark, EngineConfig(Seq(
      Share("beta", Password = Some("x")), Share("share.garmin.com/beta"))), fetcher, now))
    // the same settings twice are fine: both fetches dedup to one feature
    val twice = Pipeline.features(spark, EngineConfig(Seq(
      Share("beta", CallSign = Some("BETA")),
      Share("https://share.garmin.com/beta", CallSign = Some("BETA")))), fetcher, now)
    assert(twice.select("id").collect().map(_.getString(0)).toSeq == Seq("inreach-333"))
  }

  test("features re-execute after the fetcher entry is gone; run leaves both registries empty") {
    val out = Pipeline.features(spark, config, fetcher, now)
    assert(InReachDataSource.fetchers.isEmpty)
    def ids() = out.select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids() == Seq("inreach-111", "inreach-222", "inreach-333"))
    assert(ids() == Seq("inreach-111", "inreach-222", "inreach-333"))
    Pipeline.run(spark, config, fetcher, post = _ => (), now = now)
    assert(InReachDataSource.fetchers.isEmpty)
    assert(FeatureCollectionDataSource.posts.isEmpty)
  }

  test("the dedup shuffles by id into one partition per slot, whatever the session's shuffle partitions") {
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", "200")
    val out = Pipeline.features(child, config, fetcher, now)
    val rows = out.collect().sortBy(_.getString(0)).toSeq
    val exchanges = collect(out.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, out.queryExecution.executedPlan.treeString)
    val e = exchanges.head
    assert(e.shuffleOrigin == REPARTITION_BY_NUM)
    e.outputPartitioning match {
      case HashPartitioning(Seq(key: AttributeReference), n) =>
        assert(key.name == "id")
        assert(n == spark.sparkContext.defaultParallelism)
      case other => fail(s"dedup exchange partitions as $other")
    }
    assert(child.conf.get("spark.sql.shuffle.partitions") == "200")
    assert(rows == Pipeline.features(spark, config, fetcher, now).collect().sortBy(_.getString(0)).toSeq)
  }

  test("a failed POST surfaces from run after one attempt and leaves both registries empty") {
    var calls = 0
    val err = intercept[RuntimeException](Pipeline.run(spark, config, fetcher,
      post = _ => { calls += 1; throw new RuntimeException("HTTP 503 from the sink") }, now = now))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "HTTP 503 from the sink"), err)
    assert(calls == 1)
    assert(InReachDataSource.fetchers.isEmpty)
    assert(FeatureCollectionDataSource.posts.isEmpty)
  }

  test("a share password appears in neither the query execution nor explain output") {
    val secret = "pw-s3cr3t-7731"
    val out = Pipeline.features(spark,
      EngineConfig(Seq(Share("alpha", Password = Some(secret)))), fetcher, now)
    val qe = out.queryExecution.toString
    val explained = new java.io.ByteArrayOutputStream
    Console.withOut(explained)(out.explain(true))
    assert(qe.contains("inreach") && explained.toString.contains("inreach"))
    assert(!qe.contains(secret), qe)
    assert(!explained.toString.contains(secret), explained.toString)
  }
}
