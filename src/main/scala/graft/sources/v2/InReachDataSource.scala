package graft.sources.v2

import graft.sources.{InReachSource, KmlParser}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, GreaterThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.time.Instant
import java.util
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The inReach KML feed source (SURVEY.md §2.1 S4, §7.3), the one
  * source path [[graft.Pipeline]] reads through:
  *
  * {{{
  * spark.read.format("inreach")
  *   .option("shares", "alpha,beta")
  *   .option("share.alpha.callsign", "Alpha Team")   // task.ts:75
  *   .option("share.alpha.password", "secret")        // task.ts:84-87
  *   .load()
  *   .filter($"whenRaw" >= "2026-08-12T05:00:00Z")  // ← pushed to the server
  * }}}
  *
  * - the shares dealt round-robin, in configured order, into
  *   `min(#shares, defaultParallelism)` `InputPartition`s, read on the
  *   driver at planning time: the reference's I/O-parallel fan-out
  *   (`task.ts:66-68`) as one scan task per slot, each fetching and
  *   parsing its shares one after another. A task of its own per
  *   share would spend more on scheduling, partial aggregation and
  *   shuffle write than on fetching and parsing a typical 15 kB feed;
  * - per-share credentials and CallSign via `share.<id>.password` /
  *   `share.<id>.callsign` options (`<id>` = normalized ShareId,
  *   matched case-insensitively): the password rides the partition to
  *   the executor and becomes the basic-auth header (`task.ts:84-87`);
  *   a missing callsign defaults to the ShareId (`task.ts:75`);
  * - `SupportsPushDownFilters`: a `whenRaw ≥ t` filter tightens the
  *   server-side `d1` lookback parameter, otherwise the fixed
  *   [[graft.sources.InReachSource.LookbackMinutes]] (`task.ts:80-82`) — genuine
  *   source-level predicate pushdown, visible in `explain` as
  *   `PushedFilters`;
  * - per-share failure isolation: fetch/parse errors yield no rows for
  *   that share plus a `FEED:` warning, never a failed stage, and the
  *   other shares of its partition are read as usual (`task.ts:165-168`);
  * - fetch seam: `option("fetcher", id)` names an
  *   [[graft.sources.InReachSource.Fetcher]] registered in
  *   [[InReachDataSource.fetchers]] (closures cannot ride string
  *   options); without it the source fetches over HTTP with
  *   [[graft.sources.InReachSource.httpFetcher]]. The id is resolved
  *   once, when Spark builds the table at `load()`, so the entry may be
  *   removed as soon as `load()` returns and the DataFrame still
  *   re-executes. The fetcher rides every `InputPartition`, so it is
  *   serialized once per partition, not once per stage: a fetcher must
  *   not capture large data;
  * - `option("debug", "true")`: per-share fetch/parse log lines on
  *   stderr (the reference's DEBUG toggle, `task.ts:190-192`).
  */
class InReachDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "inreach"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    InReachDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new InReachTable(new CaseInsensitiveStringMap(properties))
}

object InReachDataSource {
  /** Raw-placemark schema (mirrors [[graft.model.RawPlacemark]]). */
  val schema: StructType = StructType(Seq(
    StructField("shareId", StringType, nullable = false),
    StructField("callSign", StringType, nullable = false),
    StructField("coordinatesRaw", StringType, nullable = true),
    StructField("whenRaw", StringType, nullable = true),
    StructField("extended", MapType(StringType, StringType), nullable = false)))

  /** Programmatic fetchers by id, named by the `fetcher` option (see
    * class doc); mirrors [[graft.sinks.v2.FeatureCollectionDataSource.posts]]. */
  val fetchers = new java.util.concurrent.ConcurrentHashMap[String, InReachSource.Fetcher]()
}

final class InReachTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  /** Resolved here, at `load()`, and carried from then on. */
  private val fetcher: InReachSource.Fetcher =
    Option(options.get("fetcher")).fold(InReachSource.httpFetcher) { id =>
      val f = InReachDataSource.fetchers.get(id)
      require(f != null, s"inreach: no fetcher registered under '$id' in InReachDataSource.fetchers")
      f
    }
  override def name(): String = "inreach"
  override def schema(): StructType = InReachDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new InReachScanBuilder(new CaseInsensitiveStringMap(
      (options.asScala ++ opts.asScala).asJava), fetcher)
}

final class InReachScanBuilder(options: CaseInsensitiveStringMap,
                               fetcher: InReachSource.Fetcher)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushedTime: Option[Instant] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = InReachDataSource.schema

  /** Column pruning: Catalyst hands us the columns the query actually
    * reads; the scan reports (and the reader materializes) only those,
    * so e.g. `select("whenRaw")` never builds the extended-data map.
    * Visible in `explain` as the pruned `ReadSchema`. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept `whenRaw > t` / `whenRaw ≥ t` (ISO-8601 strings): they
    * tighten the server-side d1 parameter. The accepted filters are
    * still returned as residual (the server's d1 bound is
    * ≥-inclusive, i.e. approximate for `>`), so Spark re-applies them
    * post-scan — the same belt-and-braces contract file sources use. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = filters.flatMap { f =>
      val bound = f match {
        case GreaterThan("whenRaw", v: String) => Some(v)
        case GreaterThanOrEqual("whenRaw", v: String) => Some(v)
        case _ => None
      }
      bound.flatMap(v => Try(Instant.parse(v)).toOption).map(f -> _)
    }
    pushedTime = accepted.map(_._2).maxOption
    pushed = accepted.map(_._1)
    filters // all residual: source pushdown narrows I/O, Spark keeps exactness
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** shares CSV + per-share `share.<id>.callsign` / `share.<id>.password`
    * options (CaseInsensitiveStringMap lookups are case-insensitive)
    * assembled into [[graft.model.Share]] rows. */
  private def shareSpecs: Seq[graft.model.Share] =
    Option(options.get("shares")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .map { raw =>
        val id = InReachSource.normalizeShareId(raw)
        graft.model.Share(raw,
          CallSign = Option(options.get(s"share.$id.callsign")),
          Password = Option(options.get(s"share.$id.password")))
      }

  override def build(): Scan = new InReachScan(
    shares = shareSpecs,
    now = Option(options.get("now")).map(Instant.parse),
    fetcher = fetcher,
    pushedTime = pushedTime,
    debug = options.getBoolean("debug", false),
    required = required)
}

/** `now` is the `now` option; without it each planned round reads
  * the driver's clock once, so every share of the round asks for the
  * same window and each microbatch round for a fresh one. */
final class InReachScan(shares: Seq[graft.model.Share],
                        now: Option[Instant], fetcher: InReachSource.Fetcher,
                        pushedTime: Option[Instant], debug: Boolean,
                        required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"InReachScan(shares=${shares.size}, pushedTime=$pushedTime, " +
      s"readSchema=${required.fieldNames.mkString(",")})"

  /** Share `i` goes to partition `i % slots`: partition sizes differ
    * by at most one share, and each keeps the configured order. */
  override def planInputPartitions(): Array[InputPartition] = {
    val all = shares.toVector
    val slots = math.min(all.size, SparkSession.active.sparkContext.defaultParallelism)
    val roundNow = now.getOrElse(Instant.now())
    Array.tabulate[InputPartition](slots) { k =>
      InReachPartition((k until all.size by slots).map(all), roundNow, fetcher,
        pushedTime, debug, required.fieldNames)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new InReachReaderFactory

  /** Streaming flavor: the reference is a SCHEDULED poller (EventBridge
    * → Lambda every N minutes, task.ts:188-194); its Spark-native form
    * is `spark.readStream.format("inreach")` — each microbatch is one
    * fetch round across all shares, the lookback window absorbs
    * re-delivery, and downstream watermarked dedup/latest-state
    * operators ([[graft.streaming.StreamingOps]]) replace the per-run
    * in-memory Map. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new InReachMicroBatchStream(this)
}

/** One fetch round per microbatch. Offsets count rounds: batch
  * (start, end] re-fetches every share once (regardless of the gap —
  * a feed has no replayable history, exactly like the reference's
  * scheduled run; the lookback window is the only re-delivery
  * buffer). Supports Trigger.AvailableNow (one round, then stop).
  * Every round plans the same partitions as the batch `scan`. */
final class InReachMicroBatchStream(scan: InReachScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class RoundOffset(n: Long) extends Offset {
    override def json(): String = n.toString
  }
  @volatile private var round = 0L
  @volatile private var availableNowRequested = false
  @volatile private var availableNowTarget: Option[Long] = None

  override def initialOffset(): Offset = RoundOffset(0L)
  override def deserializeOffset(json: String): Offset = RoundOffset(json.toLong)
  // SupportsAdmissionControl routes through the (start, limit) overload
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit)")
  /** On restart the in-memory counter is 0 while the checkpoint's
    * committed `start` is higher — seed from `start` so the reported
    * end offset never regresses below it (a lower end would stall the
    * stream / move the offset log backwards). The AvailableNow target
    * is resolved HERE (first call after
    * [[prepareForTriggerAvailableNow]]) for the same reason: computed
    * at prepare time it would be start-unaware, and a target below
    * the committed offset breaks the one-shot batch after a restart. */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    round = math.max(round, start.asInstanceOf[RoundOffset].n)
    availableNowTarget match {
      case Some(t) => RoundOffset(math.max(t, round))
      case None =>
        round += 1
        if (availableNowRequested) availableNowTarget = Some(round)
        RoundOffset(round)
    }
  }
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowRequested = true
  }
  override def reportLatestOffset(): Offset = RoundOffset(round)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    scan.planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class InReachPartition(shares: Seq[graft.model.Share],
                                  now: Instant, fetcher: InReachSource.Fetcher,
                                  pushedTime: Option[Instant], debug: Boolean,
                                  requiredFields: Array[String]) extends InputPartition

final class InReachReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[InReachPartition]
    new InReachPartitionReader(p)
  }
}

final class InReachPartitionReader(p: InReachPartition)
    extends PartitionReader[InternalRow] {

  private val utf8: Any => Any = s => UTF8String.fromString(s.asInstanceOf[String])

  /** The partition's shares, fetched and parsed lazily one after
    * another, each under its own `Try`. */
  private val rows: Iterator[InternalRow] = p.shares.iterator.flatMap(readShare)

  private def readShare(share: graft.model.Share): Iterator[InternalRow] = {
    val shareId = InReachSource.normalizeShareId(share.ShareId)
    val callSign = share.CallSign.getOrElse(shareId) // task.ts:75
    // pushdown: the tighter of the fixed lookback and any pushed
    // time filter wins (server's d1 is ≥-inclusive)
    val url = InReachSource.feedUrl(shareId, p.now, p.pushedTime)
    Try {
      val body = p.fetcher(url, share.Password) // basic-auth header, task.ts:84-87
      if (p.debug) System.err.println( // reference DEBUG, task.ts:190-192
        s"FEED-DEBUG: $callSign: fetched ${body.length} chars from $url")
      KmlParser.parse(body, shareId, callSign)
    }.fold(
      err => { System.err.println(s"FEED: $callSign: $err"); Iterator.empty },
      placemarks => placemarks.iterator.map { r =>
        // project to the pruned schema: only requested fields are
        // materialized (the extended map is only built when asked for)
        val values: Array[Any] = p.requiredFields.map {
          case "shareId" => UTF8String.fromString(r.shareId)
          case "callSign" => UTF8String.fromString(r.callSign)
          case "coordinatesRaw" => r.coordinatesRaw.map(UTF8String.fromString).orNull
          case "whenRaw" => r.whenRaw.map(UTF8String.fromString).orNull
          case "extended" => ArrayBasedMapData(r.extended, utf8, utf8)
        }
        InternalRow(values: _*)
      })
  }

  override def next(): Boolean = rows.hasNext
  override def get(): InternalRow = rows.next()
  override def close(): Unit = ()
}
