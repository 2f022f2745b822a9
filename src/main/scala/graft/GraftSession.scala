package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession. Bench, Verify, Prof, the
  * other mains and the spec suite all get the same config from here;
  * only the core count differs between them. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // default: one shuffle partition per core (the sf0.1 sweet
      // spot). SPARK_GRAFT_SHUFFLE overrides for scaled corpora —
      // partitions must grow with data or sorts spill (the k=30
      // q314/q324 lesson, SCALING.md round 9)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet may carry timestamp[ns]; read it as int64 nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-join queries saveAsTable; keep their files in scratch
      .config("spark.sql.warehouse.dir",
        TempDirs.create("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // bounded-relation windows warn "No Partition Defined" ~256×/run,
    // all from documented-correct plans; silence just that logger
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
