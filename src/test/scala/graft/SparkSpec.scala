package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast. It comes from the mains' own factory, so the
  * specs run Bench's and Verify's config; only the core count is pinned,
  * at 4, because PlanShapeSpec pins plans at 4 shuffle partitions. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
