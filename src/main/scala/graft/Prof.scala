package graft
import graft.plans.GraftMeter
import org.apache.spark.sql.execution.FormattedMode

/** The per-query profiler. Each picked query runs once to warm codegen
  * and the JIT, then once under a job group named after it, measured by
  * [[GraftMeter]]. Prints the job table, the driver gap, the formatted
  * physical plan with its planning phases and the top stages.
  *
  * Usage: runMain graft.Prof <sfDir> <q1,q2,...> [warmPasses] */
object Prof {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Prof <sfDir> <q1,q2,...> [warmPasses]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val warmPasses = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = GraftSession.local()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val meter = new GraftMeter(spark)

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => SparkEntry.selects(args(1), n) }
      .foreach { case (name, fn) =>
        (1 to warmPasses).foreach { _ => fn(spark, sfDir).count(); SparkEntry.release(spark) }
        meter.measure(name)(fn(spark, sfDir).count())
        SparkEntry.release(spark)
        val g = meter(name)
        println(f"%n=== $name: ${g.wallMs / 1e3}%.3f s (warm) ===")
        println("--- jobs (wall ms) ---")
        g.jobTable.values.foreach(j => println(f"job ${j.id}%3d ${j.ms}%6d ms  ${j.description.take(90)}"))
        println(s"sum(job wall) = ${g.jobTable.values.map(_.ms).sum} ms; query wall = ${g.wallMs} ms; " +
          s"driver gap = ${g.driverGapMs} ms (wall not covered by the union of job spans)")
        // planning breakdown (guide §7.3): re-derive the frame and force
        // physical planning only, so the phases show without execution
        val qe = fn(spark, sfDir).queryExecution
        val tp0 = System.nanoTime()
        qe.executedPlan
        val planMs = (System.nanoTime() - tp0) / 1e6
        println("--- plan (formatted) ---")
        println(qe.explainString(FormattedMode))
        println(f"--- planning: executedPlan forced in $planMs%.0f ms; phases: " +
          qe.tracker.phases.map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }.mkString(" "))
        SparkEntry.release(spark)
        println("--- top stages by executor run time ---")
        g.stageTable.sortBy(-_.taskMetrics.executorRunTime).take(14).foreach { s =>
          val m = s.taskMetrics
          println(f"stage ${s.stageId}%4d run ${m.executorRunTime}%6d ms cpu ${m.executorCpuTime / 1000000}%6d ms tasks ${s.numTasks}%3d deser ${m.executorDeserializeTime}%5d/${m.executorDeserializeCpuTime / 1000000}%5d ms gc ${m.jvmGCTime}%4d ms fetchW ${m.shuffleReadMetrics.fetchWaitTime}%4d resSer ${m.resultSerializationTime}%3d peak ${m.peakExecutionMemory / 1e6}%7.1f MB shufR ${m.shuffleReadMetrics.totalBytesRead / 1e6}%6.2f shufW ${m.shuffleWriteMetrics.bytesWritten / 1e6}%6.2f  ${s.name.takeWhile(_ != '\n').take(40)}")
        }
      }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }
}
