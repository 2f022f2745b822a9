package graft

import graft.plans.GraftMeter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast. It comes from the mains' own factory, so the
  * specs run Bench's and Verify's config; only the core count is pinned,
  * at 4, because PlanShapeSpec pins plans at 4 shuffle partitions. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with Spark's own switch for broadcast hints off:
    * `spark.sql.optimizer.disableHints=true` makes the analyzer drop
    * every `broadcast(...)` hint and
    * `spark.sql.autoBroadcastJoinThreshold=-1` stops size-based
    * broadcasts, so every hinted join plans as a shuffle join. Build
    * the frames and collect them inside `body`: a hint is dropped when
    * its frame is analyzed, the threshold applies when it is planned.
    * Both settings are restored afterwards. */
  def withoutBroadcastHints[T](body: => T): T = {
    val off = Seq("spark.sql.optimizer.disableHints" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = off.map { case (k, _) => k -> spark.conf.getOption(k) }
    off.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` with a fresh [[GraftMeter]] on the shared session and
    * unregisters the meter afterwards. */
  def withMeter[T](body: GraftMeter => T): T = {
    val m = new GraftMeter(spark)
    try body(m)
    finally {
      spark.listenerManager.unregister(m)
      spark.sparkContext.removeSparkListener(m)
    }
  }

  /** Whether `df`'s analyzed plan still carries a join hint. */
  def hinted(df: DataFrame): Boolean =
    df.queryExecution.analyzed.toString.contains("ResolvedHint")
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
