package graft

import graft.model.{EngineConfig, RawPlacemark}
import graft.operators.{Dedup, FeatureProjection}
import graft.sinks.FeatureCollectionSink
import graft.sinks.v2.FeatureCollectionDataSource
import graft.sources.InReachSource
import graft.sources.v2.InReachDataSource
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import java.time.Instant
import java.util.{Locale, UUID}

/** The end-to-end reference pipeline, Spark-first (SURVEY.md §3.4):
  *
  *   share config → `format("inreach")` scan, one partition per share
  *   (lookback pushed down) → wide projection → latest-per-device
  *   dedup → `format("featurecollection")` commit (one POST)
  *
  * The union across feeds (`task.ts:177-180`) is implicit — feeds are
  * partitions of one scan, so there is no explicit union node. The
  * dedup is global post-union rather than per-feed; since the key
  * embeds the globally-unique IMEI this is semantically equivalent
  * and strictly more correct (SURVEY.md §2.4 scope note).
  *
  * Closures cannot ride string options, so the fetcher and the post
  * effect pass through the sources' registries under a per-call id.
  * The fetcher entry lives only for the `load()` that resolves it; the
  * post entry for the one write.
  */
object Pipeline {

  /** Build the (lazy) features DataFrame. Per-share callsign and
    * password options are keyed by normalized ShareId (matched
    * case-insensitively), so a share listed twice must carry the same
    * CallSign and Password each time. */
  def features(
      spark: SparkSession,
      config: EngineConfig,
      fetcher: InReachSource.Fetcher = InReachSource.httpFetcher,
      now: Instant = Instant.now()): DataFrame = {
    val shareOptions = config.shares
      .groupBy(s => InReachSource.normalizeShareId(s.ShareId).toLowerCase(Locale.ROOT))
      .values.flatMap { same =>
        val s = same.head
        val id = InReachSource.normalizeShareId(s.ShareId)
        require(same.forall(o => o.CallSign == s.CallSign && o.Password == s.Password),
          s"share '$id' is configured more than once with a different CallSign or Password")
        s.CallSign.map(s"share.$id.callsign" -> _) ++ s.Password.map(s"share.$id.password" -> _)
      }.toMap
    val fetcherId = s"pipeline-${UUID.randomUUID()}"
    InReachDataSource.fetchers.put(fetcherId, fetcher)
    val raw = try spark.read.format("inreach")
      .option("shares", config.shares.map(_.ShareId).mkString(","))
      .options(shareOptions)
      .option("now", now.toString)
      .option("debug", config.debug)
      .option("fetcher", fetcherId)
      .load()
    finally InReachDataSource.fetchers.remove(fetcherId)
    val projected = FeatureProjection.project(raw.as(Encoders.product[RawPlacemark]))
    Dedup.latestPerKey(projected, Seq("id"), col("properties").getField("time"))
  }

  /** Full run: source → transform → dedup → submit (entry points A/B,
    * SURVEY.md §3.1-3.2). */
  def run(
      spark: SparkSession,
      config: EngineConfig,
      fetcher: InReachSource.Fetcher = InReachSource.httpFetcher,
      post: String => Unit,
      now: Instant = Instant.now()): Unit = {
    val postId = s"pipeline-${UUID.randomUUID()}"
    FeatureCollectionDataSource.posts.put(postId, post)
    try FeatureCollectionSink.toFeatureJson(features(spark, config, fetcher, now))
      .write.format("featurecollection").option("postId", postId).mode("append").save()
    finally FeatureCollectionDataSource.posts.remove(postId)
  }

  /** Schema/capabilities interrogation (entry point C, SURVEY.md
    * §3.3): machine-readable input/output schemas, the Spark analog
    * of the reference's Capabilities API (`task.ts:34-58`). */
  def capabilities: Map[String, String] = Map(
    "input" -> "INREACH_MAP_SHARES: array<struct<ShareId:string,CallSign:string?,Password:string?>>, DEBUG: boolean",
    "output" -> graft.model.Schemas.feature.json)
}
