package graft.plans

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** graft's one Spark meter, registered with `spark` on construction.
  * Jobs, stages and tasks count toward the job group they ran under;
  * jobs outside any group are not counted. Actions count toward the
  * [[measure]] call they complete in. [[measure]] returns only after
  * the meter has seen a marker job end: the bus delivers events in the
  * order they were posted, so no late event can go missing from its
  * group or land in the next one. */
final class GraftMeter(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import GraftMeter._

  private def sc = spark.sparkContext
  private val groups = mutable.Map.empty[String, Group]
  private val stageGroup = mutable.Map.empty[Int, Group]
  @volatile private var open: Option[Group] = None

  /** What was recorded under job group `group`. */
  def apply(group: String): Group = synchronized(groups.getOrElseUpdate(group, new Group))

  /** Runs `body` under job group `group` and waits until all of its
    * events are recorded. Leaves the thread with no job group. */
  def measure[A](group: String)(body: => A): A = {
    val g = apply(group)
    barrier(g)
    open = Some(g)
    sc.setJobGroup(group, null)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      barrier(g)
      open = None
      synchronized { g.wallMs += t1 - t0; g.driverGapMs += uncovered(t0, t1, g.jobSpans) }
    }
  }

  /** Runs a one-task marker job under its own group, then waits until
    * the meter has seen it end and every job of `g` has ended. */
  private def barrier(g: Group): Unit = {
    sc.setJobGroup(Barrier, null)
    val f = try sc.parallelize(Seq(0), 1).countAsync() finally sc.clearJobGroup()
    f.get()
    def done = synchronized(apply(Barrier).jobTable.get(f.jobIds.head).exists(_.end >= 0) &&
      g.jobTable.values.forall(_.end >= 0))
    val deadline = System.nanoTime() + 30000000000L
    while (!done) {
      require(System.nanoTime() < deadline, s"listener events did not arrive: ${g.jobTable.values}")
      Thread.sleep(2)
    }
  }

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).map(apply).foreach { g =>
      g.jobTable(e.jobId) = Job(e.jobId,
        Option(e.properties.getProperty("spark.job.description")).getOrElse(""), e.time)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    groups.values.find(_.jobTable.contains(e.jobId))
      .foreach(g => g.jobTable(e.jobId) = g.jobTable(e.jobId).copy(end = e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(n => stageGroup(e.stageInfo.stageId) = apply(n))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(_.stageTable += e.stageInfo)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    open.foreach(g => synchronized(g.actions += Action(funcName, qe, durationNs, failed = false)))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    open.foreach(g => synchronized(g.actions += Action(funcName, qe, 0L, failed = true)))

  sc.addSparkListener(this)
  spark.listenerManager.register(this)
}

object GraftMeter extends AdaptiveSparkPlanHelper {
  /** The job group of the meter's marker jobs. */
  private val Barrier = "graft-meter-barrier"

  /** Times in ms; `end` is -1 while the job runs. */
  final case class Job(id: Int, description: String, start: Long, end: Long = -1L) { def ms: Long = end - start }

  final case class Action(name: String, qe: QueryExecution, durationNs: Long, failed: Boolean) {
    lazy val (shuffles, codegenSpans) = planCounts(qe.executedPlan)
  }

  /** One job group's figures. Task counters sum over its completed
    * stages; `wallMs` and `driverGapMs` (wall time no job covers) over
    * its [[GraftMeter.measure]] calls. */
  final class Group {
    val jobTable = mutable.LinkedHashMap.empty[Int, Job]
    val stageTable = mutable.ArrayBuffer.empty[StageInfo]
    val actions = mutable.ArrayBuffer.empty[Action]
    var wallMs = 0L
    var driverGapMs = 0L
    def jobs: Int = jobTable.size
    def stages: Int = stageTable.size
    def tasks: Int = stageTable.map(_.numTasks).sum
    def jobSpans: Seq[(Long, Long)] = jobTable.values.map(j => (j.start, j.end)).toSeq
    private def sum(f: TaskMetrics => Long) = stageTable.flatMap(s => Option(s.taskMetrics)).map(f).sum
    def deserMs: Long = sum(_.executorDeserializeTime)
    def runMs: Long = sum(_.executorRunTime)
    def cpuNs: Long = sum(_.executorCpuTime)
    def gcMs: Long = sum(_.jvmGCTime)
    def shuffleReadBytes: Long = sum(_.shuffleReadMetrics.totalBytesRead)
    def shuffleWriteBytes: Long = sum(_.shuffleWriteMetrics.bytesWritten)
    def spillBytes: Long = sum(m => m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Milliseconds of [t0, t1] outside the union of the (start, end)
    * spans: overlapping jobs count once, so it is never negative. */
  def uncovered(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = t0
    for ((s, e) <- jobs.sortBy(_._1)) {
      covered += math.max(0L, math.min(e, t1) - math.max(s, reach))
      reach = math.max(reach, e)
    }
    (t1 - t0) - covered
  }

  /** (shuffle exchanges, whole-stage-codegen spans) of an executed plan.
    * `collect` descends AQE's `AdaptiveSparkPlanExec` and
    * `QueryStageExec` leaves into the real subtrees and stops at a
    * `ReusedExchangeExec`, counted where it first appears; a broadcast
    * exchange is not a shuffle. */
  def planCounts(plan: SparkPlan): (Int, Int) =
    (collect(plan) { case e: ShuffleExchangeLike => e }.size,
      collect(plan) { case w: WholeStageCodegenExec => w }.size)
}
