package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable

/** Measurement tooling (optimization rounds, guide §1/§7): with the
  * UI disabled in the harness, this is the stage/job profiler — runs
  * one registered query (warm pass first, so codegen/JIT are charged
  * to the warm-up exactly like the bench's min-of-2), then a profiled
  * pass with a SparkListener collecting per-job wall time and per-
  * stage executor metrics. Prints a job table (description, duration)
  * and the top stages by executor run time, so a 5 s query decomposes
  * into "CTAS copy 1.8 s / append wave 0.9 s / serve 0.7 s" instead
  * of one opaque number. It also prints the query's formatted physical
  * plan (`explain("formatted")` of the plan it forces for the planning
  * breakdown), so plan claims ("2 Exchange → 1", "PushedFilters
  * includes …") can be committed as evidence from the same run.
  *
  * Usage: runMain graft.Prof <sfDir> <q1,q2,...> [passes] */
object Prof {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Prof <sfDir> <q1,q2,...> [warmPasses]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).toSet
    val warmPasses = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = GraftSession.local()
    spark.range(1000000).selectExpr("sum(id)").collect()

    case class Job(id: Int, desc: String, start: Long, var end: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
                     cpuMs: Long, shufReadMB: Double, shufWriteMB: Double,
                     deserMs: Long = 0, deserCpuMs: Long = 0, gcMs: Long = 0,
                     resSerMs: Long = 0, fetchWaitMs: Long = 0,
                     peakMemMB: Double = 0)
    val stages = mutable.ArrayBuffer.empty[Stage]
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting) jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId,
            Option(e.properties.getProperty("spark.job.description"))
              .getOrElse(""), e.time)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (collecting) jobs.synchronized {
          jobs.get(e.jobId).foreach(_.end = e.time)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) stages.synchronized {
          val i = e.stageInfo
          val m = i.taskMetrics
          stages += Stage(i.stageId, i.name.takeWhile(_ != '\n').take(80),
            i.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.executorDeserializeTime,
            m.executorDeserializeCpuTime / 1000000L,
            m.jvmGCTime, m.resultSerializationTime,
            m.shuffleReadMetrics.fetchWaitTime,
            m.peakExecutionMemory / 1e6)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        names.contains(n) || names.contains(n.takeWhile(_ != '_')) }
      .foreach { case (name, fn) =>
        (1 to warmPasses).foreach { _ => fn(spark, sfDir).count(); cleanup() }
        jobs.clear(); stages.clear()
        collecting = true
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        collecting = false
        cleanup()
        Thread.sleep(300) // let the listener bus drain the tail events
        println(f"%n=== $name: $dt%.3f s (warm) ===")
        println("--- jobs (wall ms) ---")
        jobs.values.foreach { j =>
          println(f"job ${j.id}%3d ${j.end - j.start}%6d ms  ${j.desc.take(90)}")
        }
        val totalJobMs = jobs.values.map(j => j.end - j.start).sum
        println(f"sum(job wall) = $totalJobMs ms; query wall = ${dt * 1000}%.0f ms; driver gap = ${dt * 1000 - totalJobMs}%.0f ms")
        // driver-side planning breakdown (guide §7.3): re-derive the
        // frame and force physical planning only, so the tracker's
        // phase times are visible without execution
        val dfPlan = SparkEntry.queries(name)(spark, sfDir)
        val tp0 = System.nanoTime()
        dfPlan.queryExecution.executedPlan
        val planMs = (System.nanoTime() - tp0) / 1e6
        val phases = dfPlan.queryExecution.tracker.phases
        println("--- plan (formatted) ---")
        println(dfPlan.queryExecution.explainString(FormattedMode))
        println(f"--- planning: executedPlan forced in $planMs%.0f ms; phases: " +
          phases.map { case (k, v) =>
            s"$k=${v.endTimeMs - v.startTimeMs}ms" }.mkString(" "))
        cleanup()
        println("--- top stages by executor run time ---")
        stages.sortBy(-_.runMs).take(14).foreach { s =>
          println(f"stage ${s.id}%4d run ${s.runMs}%6d ms cpu ${s.cpuMs}%6d ms tasks ${s.tasks}%3d deser ${s.deserMs}%5d/${s.deserCpuMs}%5d ms gc ${s.gcMs}%4d ms fetchW ${s.fetchWaitMs}%4d resSer ${s.resSerMs}%3d peak ${s.peakMemMB}%7.1f MB shufR ${s.shufReadMB}%6.2f shufW ${s.shufWriteMB}%6.2f  ${s.name.take(40)}")
        }
      }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }
}
