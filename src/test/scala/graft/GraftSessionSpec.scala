package graft

import java.nio.file.{Files, Paths}

/** The session factory's config and the temp-dir owner's delete. */
class GraftSessionSpec extends SparkSpec {

  test("a factory session carries the harness config and a swept warehouse") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(conf.get("spark.sql.shuffle.partitions") ==
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "4"))
    val wh = Paths.get(new org.apache.hadoop.fs.Path(
      conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    assert(TempDirs.owns(wh), s"warehouse $wh is not a TempDirs directory")
  }

  test("rmTree removes a nested non-empty tree and is silent on a missing path") {
    val root = TempDirs.create("rmtree")
    assert(TempDirs.owns(root))
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("a/b/leaf.txt"), "x")
    Files.writeString(root.resolve("top.txt"), "y")
    TempDirs.rmTree(root)
    assert(!Files.exists(root))
    TempDirs.rmTree(root)
    TempDirs.rmTree(root.resolve("never/created"))
  }
}
