package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // optional subset for local iteration (mirrors Bench):
    // SPARK_GRAFT_ONLY=q49,q53. The driver never sets it.
    SparkEntry.queries.filter(q => SparkEntry.picked(q._1)).foreach { case (name, fn) =>
      // coalesce(1) is harness-only: DuckDB diffs one file per query at
      // sf0.01. Product writes stay partitioned — never copy this shape.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      SparkEntry.release(spark)
    }
    val json = SparkEntry.oracleSql.filter(kv => SparkEntry.picked(kv._1))
      .map { case (k, v) => s"${SparkEntry.jsonString(k)}: ${SparkEntry.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
