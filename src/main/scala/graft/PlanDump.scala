package graft
import java.nio.file.{Files, Paths}

/** Measurement tooling (optimization rounds, guide §1.2/§7.2): dump
  * `.explain("formatted")` for registered queries to files, so plan
  * claims ("2 Exchange → 1", "PushedFilters includes …") are
  * committable evidence (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Writes <outDir>/<query>_<suffix>.txt. The session comes from
  * [[GraftSession.local]], as Bench's does, so under the same
  * `SPARK_GRAFT_CPUS`/`SPARK_GRAFT_SHUFFLE` the dumped plan is the
  * plan the bench executes. Streaming queries (which need a
  * started StreamingQuery to have a plan) are skipped with a note —
  * their micro-batch plans are pinned in PlanShapeSpec instead. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]")
      sys.exit(2)
    }
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val only = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    def keep(name: String): Boolean =
      only.forall(o => o.contains(name) || o.contains(name.takeWhile(_ != '_')))
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => keep(q._1))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          println(s"[plandump] $name -> ${name}_$suffix.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }
}
