package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed layer call. `parent` is the id of the enclosing span
  * (0 for a run's root). */
final case class Span(id: Int, parent: Int, runId: Int, name: String,
                      startNs: Long, endNs: Long, bytes: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span collector. Spans are only appended while a traced
  * run is in progress and written out once, at the end of the process.
  * Fetch spans are recorded from inside Spark tasks, which share this
  * JVM in local mode. */
object Trace {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger

  def nextId(): Int = ids.incrementAndGet()

  def add(s: Span): Unit = spans.add(s)

  /** Time `body` as a span named `name` under `parent`. */
  def span[A](runId: Int, parent: Int, name: String)(body: Int => A): A = {
    val id = nextId()
    val t0 = System.nanoTime()
    try body(id)
    finally spans.add(Span(id, parent, runId, name, t0, System.nanoTime()))
  }

  /** A fetch span; its parent is the run's root, resolved at the end. */
  def fetched(runId: Int, t0: Long, t1: Long, bodyChars: String): Unit =
    spans.add(Span(nextId(), -1, runId, "fetch", t0, t1, utf8Length(bodyChars)))

  def all: Vector[Span] = spans.iterator().asScala.toVector

  def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1 else if (c < 0x800) 2 else if (Character.isHighSurrogate(c)) { i += 1; 4 } else 3)
      i += 1
    }
    n
  }

  def toJson(all: Seq[Span]): String = all.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"run":${s.runId},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"bytes":${s.bytes}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark runtime counters from the public listener APIs: jobs, stages,
  * tasks and their metrics, plus every successful action's
  * QueryExecution (for planning phases and the executed plan). Events
  * arrive asynchronously; [[await]] waits until a job group's jobs have
  * all been seen to end. */
final class SparkMeter extends SparkListener with QueryExecutionListener {
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var deserMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  }

  private var c = new Counters
  private val endedJobs = mutable.Set.empty[Int]
  /** (start, end) wall ms of every ended job. */
  private val jobSpans = mutable.Map.empty[Int, (Long, Long)]
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val actions = new ConcurrentLinkedQueue[(String, QueryExecution)]

  /** Swap in fresh counters and return the old ones. */
  def reset(): Counters = synchronized {
    val old = c
    c = new Counters
    jobSpans.clear()
    old
  }

  def snapshotJobSpans(): Seq[(Long, Long)] = synchronized(jobSpans.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c.jobs += 1
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    endedJobs += e.jobId
    jobStarts.remove(e.jobId).foreach(t0 => jobSpans(e.jobId) = (t0, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.deserMs += m.executorDeserializeTime
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    actions.add(funcName -> qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drainActions(): Vector[(String, QueryExecution)] = {
    val out = Vector.newBuilder[(String, QueryExecution)]
    var a = actions.poll()
    while (a != null) { out += a; a = actions.poll() }
    out.result()
  }

  /** Wait (up to 30 s) until every job of `group` has been seen to
    * end and at least `minActions` actions have been reported. */
  def await(sc: SparkContext, group: String, minActions: Int): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def done = synchronized(sc.statusTracker.getJobIdsForGroup(group).forall(endedJobs.contains)) &&
      actions.size >= minActions
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
    require(done, s"listener events for job group $group did not arrive")
  }
}

object SparkMeter {
  def install(spark: SparkSession): SparkMeter = {
    val m = new SparkMeter
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    m
  }

  /** Milliseconds of [t0, t1] not covered by any job: the time the
    * Spark driver spends planning, assembling and waiting between jobs. */
  def uncovered(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = t0
    for ((s, e) <- jobs.sortBy(_._1)) {
      val a = math.max(s, reach)
      val b = math.min(e, t1)
      if (b > a) covered += b - a
      reach = math.max(reach, e)
    }
    math.max(0L, (t1 - t0) - covered)
  }
}
