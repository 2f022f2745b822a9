package graft.sinks.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** The FeatureCollection sink, the one sink path [[graft.Pipeline]]
  * writes through (reference semantics: ONE FeatureCollection POST per
  * run, `task.ts:172-182`):
  *
  * {{{
  * FeatureCollectionSink.toFeatureJson(features)
  *   .write.format("featurecollection")
  *   .option("targetPath", "/out/fc.json")   // or option("postId", ...)
  *   .mode("overwrite").save()
  * }}}
  *
  * Executors serialize their partition's features into a JSON fragment
  * and ship it as a [[WriterCommitMessage]]; the driver's
  * [[BatchWrite.commit]] assembles the single document in partition
  * order (deterministic output) and performs the POST — so the
  * serialization work is distributed and only the assembled document
  * touches the driver, while the all-or-nothing commit keeps the
  * reference's one-POST-per-run atomicity: a failed task means no
  * partial POST ever happens.
  *
  * Input contract: exactly one string column (the pre-rendered feature
  * JSON from `toFeatureJson`). Effects: `targetPath` writes the
  * document to a file; `postId` looks up a programmatic effect
  * registered in [[FeatureCollectionDataSource.posts]] (closures
  * cannot ride string options; `Pipeline.run` registers its `post`
  * under a per-call id and removes it after the write).
  *
  * Scale note: the assembled document is one string on the driver —
  * appropriate for the reference's payloads (single POST is the API's
  * contract). Corpus-scale output belongs in Spark's distributed file
  * writers, not here.
  */
final class FeatureCollectionDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "featurecollection"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FeatureCollectionDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FcTable(new CaseInsensitiveStringMap(properties))
}

object FeatureCollectionDataSource {
  val schema: StructType =
    StructType(Seq(StructField("feature", StringType, nullable = true)))

  /** Programmatic post effects by id (see class doc). */
  val posts = new java.util.concurrent.ConcurrentHashMap[String, String => Unit]()
}

final class FcTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite {
  override def name(): String = "featurecollection"
  override def schema(): StructType = FeatureCollectionDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val s = info.schema()
    require(s.fields.length == 1 && s.fields.head.dataType == StringType,
      s"featurecollection sink expects ONE string column " +
        s"(FeatureCollectionSink.toFeatureJson output), got ${s.simpleString}")
    import scala.jdk.CollectionConverters._
    val merged = (options.asScala ++ info.options().asScala).toMap
    new FcWriteBuilder(merged.get("targetpath"), merged.get("postid"))
  }
}

final class FcWriteBuilder(targetPath: Option[String], postId: Option[String])
    extends WriteBuilder with SupportsTruncate {
  require(targetPath.isDefined || postId.isDefined,
    "featurecollection sink needs option targetPath or postId")
  // the sink emits ONE document per run; overwrite == append semantics
  override def truncate(): WriteBuilder = this
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new FcBatchWrite(targetPath, postId)
  }
}

/** Partition fragment: features already comma-joined, plus the
  * partition id so the driver can assemble in deterministic order. */
case class FcFragment(partitionId: Int, json: String, n: Long)
    extends WriterCommitMessage

final class FcBatchWrite(targetPath: Option[String], postId: Option[String])
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    FcWriterFactory
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val doc = messages.collect { case f: FcFragment if f.n > 0 => f }
      .sortBy(_.partitionId).map(_.json)
      .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
    targetPath.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), doc))
    postId.foreach { id =>
      val post = FeatureCollectionDataSource.posts.get(id)
      require(post != null, s"no post effect registered under '$id'")
      post(doc)
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

object FcWriterFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FcWriter(partitionId)
}

final class FcWriter(partitionId: Int) extends DataWriter[InternalRow] {
  private val sb = new java.lang.StringBuilder
  private var n = 0L
  override def write(row: InternalRow): Unit =
    if (!row.isNullAt(0)) {
      if (n > 0) sb.append(',')
      sb.append(row.getUTF8String(0).toString)
      n += 1
    }
  override def commit(): WriterCommitMessage = FcFragment(partitionId, sb.toString, n)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
