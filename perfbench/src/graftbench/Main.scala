package graftbench

import graft.Pipeline
import graft.model.{EngineConfig, RawPlacemark, Share}
import graft.operators.{Dedup, FeatureProjection}
import graft.sinks.FeatureCollectionSink
import graft.sinks.v2.FeatureCollectionDataSource
import graft.sources.{InReachSource, KmlParser}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** The feed-pipeline benchmark: generate seeded feeds, serve them on
  * loopback, and time the program's scheduled run (`Pipeline.run`:
  * fetch → parse → project → latest-per-IMEI dedup → one
  * FeatureCollection commit), checking every committed document
  * against the generator's ground truth.
  *
  * {{{
  * Main --workload feeds_wide|feeds_deep --seed N --seconds S --trace 0|1
  * Main --self-check
  * }}}
  *
  * `--trace 0` reports the end-to-end figures; `--trace 1` runs the
  * traced variant and reports per-layer figures. The last stdout line
  * is the JSON result. */
object Main {
  final case class Opts(workload: String = "", seed: Long = 0L, seconds: Double = 10,
                        trace: Boolean = false, selfCheck: Boolean = false)

  def parseArgs(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parseArgs(t, o.copy(workload = v))
    case "--seed" :: v :: t => parseArgs(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parseArgs(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parseArgs(t, o.copy(trace = v == "1"))
    case "--self-check" :: t => parseArgs(t, o.copy(selfCheck = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unexpected arguments: $other")
  }

  /** Spark's task slots: half of a 4-core host, so the feed server,
    * the HTTP clients' threads, the JIT and the GC run beside the
    * tasks instead of pre-empting them; a run then times the program,
    * not the scheduler. */
  val Cores = 2
  val Setups = 3
  val MinSamples = 3
  /** Untimed runs between set-up and the timed window. A count, not a
    * time: the JIT compiles on its own threads for many runs, so after
    * a fixed number of runs it has had the same share of the host
    * whatever the host's speed, and a fast host does not also time a
    * warmer program than a slow one. */
  val SettleRuns = 3

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args.toList)
    if (o.selfCheck) sys.exit(if (SelfCheck.run()) 0 else 1)
    val shape = FeedGen.shapes.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload '${o.workload}' " +
        s"(known: ${FeedGen.shapes.keys.toSeq.sorted.mkString(", ")})"))
    // exit explicitly: the HTTP server's dispatcher thread is not a
    // daemon and would otherwise hold a failed run open
    val code = try { println(new Bench(o, shape).run()); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  def newSession(): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$Cores]").appName("graftbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def metric(value: Double, unit: String): String =
    s"""{"value": ${if (value == value.toLong.toDouble) value.toLong.toString else value.toString}, "unit": "$unit"}"""
}

final class Bench(o: Main.Opts, shape: FeedGen.Shape) {
  import Main._

  private val gen0 = System.nanoTime()
  private val feeds = FeedGen.generate(shape, o.seed)
  private val expected = FeedGen.expected(feeds)
  private val genS = (System.nanoTime() - gen0) / 1e9
  private val shares = feeds.shares.map(s => Share(s.rawId, s.callSign, s.password))
  private val config = EngineConfig(shares)
  private val server = new FeedServer(feeds, math.min(Cores, Runtime.getRuntime.availableProcessors()))

  private var attempted = 0L
  private var failed = 0L

  /** Count and check one operation's output; true when it matched. */
  private def checked(what: String)(op: => String): Boolean = {
    attempted += 1
    val outcome = try Check.document(op, expected) catch {
      case NonFatal(e) => Some(s"threw $e")
    }
    outcome.foreach { err =>
      failed += 1
      println(s"FAIL ${o.workload} seed=${o.seed} $what: $err")
    }
    outcome.isEmpty
  }

  /** One scheduled run, trigger → committed document; returns
    * (seconds, document). */
  private def pipelineRun(spark: SparkSession, fetcher: InReachSource.Fetcher): (Double, String) = {
    var doc: String = null
    val t0 = System.nanoTime()
    Pipeline.run(spark, config, fetcher, post = d => doc = d, now = feeds.now)
    ((System.nanoTime() - t0) / 1e9, doc)
  }

  /** Run `body` repeatedly until `seconds` have passed and at least
    * `minRuns` runs are done; returns the runs' seconds. Each run
    * starts after a full GC, as a scheduled run starts after the idle
    * time between triggers, so no run pays for its predecessor's
    * garbage. */
  private def window(seconds: Double, minRuns: Int = MinSamples)(
      body: Int => (Double, String)): Vector[Double] = {
    val out = Vector.newBuilder[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minRuns || System.nanoTime() < deadline) {
      i += 1
      System.gc()
      var secs = Double.NaN
      checked(s"run $i") { val (s, d) = body(i); secs = s; d }
      if (!secs.isNaN) out += secs // a wrong document still took its time
    }
    out.result()
  }

  private val start = System.nanoTime()
  private def mark(what: String): Unit =
    System.err.println(f"graftbench +${(System.nanoTime() - start) / 1e9}%.2fs $what")

  def run(): String = {
    mark(f"generated feeds in $genS%.2fs")
    val plain = FeedServer.fetcher(server.port)
    // set-up: a fresh session and one warm-up run, several times over
    var spark: SparkSession = null
    val setups = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      mark(s"set-up $i")
      val t0 = System.nanoTime()
      spark = newSession()
      checked(s"warm-up $i")(pipelineRun(spark, plain)._2)
      (System.nanoTime() - t0) / 1e9
    }
    mark("set-up done")
    window(0, SettleRuns)(_ => pipelineRun(spark, plain))
    mark(s"settled after $SettleRuns runs")
    try {
      val metrics =
        if (o.trace) traced(spark, plain)
        else timed(spark, plain, setups)
      println("host " + Host.facts(spark))
      println(f"summary workload=${o.workload} seed=${o.seed} shares=${feeds.shares.size} " +
        f"placemarks=${feeds.placemarks} kml_bytes=${feeds.bytes} features=${expected.size} " +
        f"gen_s=$genS%.3f setups=${setups.map(s => f"$s%.3f").mkString(",")} " +
        s"attempted=$attempted failed=$failed")
      val body = metrics.map { case (k, (v, u)) => s""""$k": ${metric(v, u)}""" }.mkString(", ")
      s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
    } finally {
      mark("measured")
      spark.stop()
      server.stop()
      mark("stopped")
    }
  }

  // ---- end-to-end ----------------------------------------------------

  private def timed(spark: SparkSession, fetcher: InReachSource.Fetcher,
                    setups: Seq[Double]): Seq[(String, (Double, String))] = {
    val runs = window(o.seconds)(_ => pipelineRun(spark, fetcher))
    println(s"samples workload=${o.workload} n=${runs.size} run_s=${runs.map(s => f"$s%.4f").mkString(",")}")
    Seq(
      "setup_s" -> (Stats.median(setups), "s"),
      "run_s" -> (Stats.median(runs), "s"))
  }

  // ---- per-layer -----------------------------------------------------

  private def traced(spark: SparkSession, plain: InReachSource.Fetcher): Seq[(String, (Double, String))] = {
    val meter = SparkMeter.install(spark)
    CodegenFallbacks.install()
    val sc = spark.sparkContext
    val perRun = mutable.ArrayBuffer.empty[Map[String, Double]]
    val runIds = mutable.ArrayBuffer.empty[Int]
    val untraced = Vector.newBuilder[Double]
    val heap = new HeapPeak
    heap.start()
    // traced and untraced runs alternate, so both see the same warmth
    val fused = window(o.seconds) { i =>
      checked(s"untraced run $i") { val (s, d) = pipelineRun(spark, plain); untraced += s; d }
      System.gc()
      val runId = Trace.nextId()
      runIds += runId
      val group = s"fused-$runId"
      meter.reset()
      meter.drainActions()
      val fallbacks0 = CodegenFallbacks.count.get
      sc.setJobGroup(group, group)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (secs, doc) = pipelineRun(spark, FeedServer.tracedFetcher(server.port, runId))
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      sc.clearJobGroup()
      Trace.add(Span(runId, 0, runId, "run", t0, t1))
      meter.await(sc, group, minActions = 1)
      val gap = SparkMeter.uncovered(w0, w1, meter.snapshotJobSpans())
      val c = meter.reset()
      val qes = meter.drainActions().map(_._2)
      // planning, timed to the nanosecond on a fresh plan of the same
      // run: building the DataFrame chain analyses it eagerly
      val p0 = System.nanoTime()
      val planned = FeatureCollectionSink.toFeatureJson(
        Pipeline.features(spark, config, plain, feeds.now)).queryExecution
      val p1 = System.nanoTime()
      planned.optimizedPlan
      val p2 = System.nanoTime()
      planned.executedPlan
      val p3 = System.nanoTime()
      perRun += Map[String, Long](
        "spark.jobs" -> c.jobs, "spark.stages" -> c.stages, "spark.tasks" -> c.tasks,
        "spark.task_deser_ms" -> c.deserMs, "spark.task_run_ms" -> c.runMs,
        "spark.task_cpu_ms" -> c.cpuNs / 1000000, "spark.gc_ms" -> c.gcMs,
        "spark.shuffle_read_bytes" -> c.shuffleReadBytes,
        "spark.shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spark.spill_bytes" -> c.spillBytes,
        "spark.driver_gap_ms" -> gap,
        "exec.ms" -> ((w1 - w0) - gap),
        "codegen.stages" -> qes.map(q => Plans.codegenStages(q.executedPlan).toLong).sum,
        "codegen.fallbacks" -> (CodegenFallbacks.count.get - fallbacks0)
      ).view.mapValues(_.toDouble).toMap ++ Map(
        "plan.analysis_ms" -> (p1 - p0) / 1e6,
        "plan.optimization_ms" -> (p2 - p1) / 1e6,
        "plan.planning_ms" -> (p3 - p2) / 1e6)
      (secs, doc)
    }
    val heapPeak = heap.stop() / 1048576.0
    val fetches = Trace.all.filter(s => s.name == "fetch" && runIds.contains(s.runId))
    val fetchPerRun = fetches.groupBy(_.runId).values.toVector
    val staged = stagedRun(spark, meter)
    val untracedMs = Stats.median(untraced.result()) * 1000
    val fusedMs = Stats.median(fused) * 1000
    val fetchMs = fetches.map(_.ms)

    writeTrace()
    val layer = perRun.head.keys.toSeq.sorted.map(k => k -> Stats.median(perRun.map(_(k)).toSeq))
    def units(k: String) =
      if (k.endsWith("_ms") || k == "exec.ms") "ms"
      else if (k.endsWith("_bytes")) "B" else "count"
    layer.map { case (k, v) => k -> (v, units(k)) } ++ Seq(
      "fetch.calls" -> (Stats.median(fetchPerRun.map(_.size.toDouble)), "count"),
      "fetch.bytes" -> (Stats.median(fetchPerRun.map(_.map(_.bytes).sum.toDouble)), "B"),
      "fetch.ms" -> (Stats.median(fetchPerRun.map(_.map(_.ms).sum)), "ms"),
      "fetch.p50_ms" -> (Stats.percentile(fetchMs, 50), "ms"),
      "fetch.p99_ms" -> (Stats.percentile(fetchMs, 99), "ms"),
      "exec.rows_out" -> (expected.size.toDouble, "count"),
      "heap_peak_mb" -> (heapPeak, "MB"),
      "fused.run_ms" -> (fusedMs, "ms"),
      "untraced.run_ms" -> (untracedMs, "ms"),
      "trace.overhead_ms" -> (fusedMs - untracedMs, "ms")
    ) ++ staged
  }

  /** The staged decomposition: each layer's public function in turn on
    * the same inputs, materializing between steps, one span per layer
    * under a root span; reports each layer's self time. */
  private def stagedRun(spark: SparkSession, meter: SparkMeter): Seq[(String, (Double, String))] = {
    import spark.implicits._
    val runId = Trace.nextId()
    val sc = spark.sparkContext
    val spans = mutable.LinkedHashMap.empty[String, Double]
    def step[A](name: String)(body: => A): A = {
      val group = s"staged-$runId-$name"
      sc.setJobGroup(group, group)
      try Trace.span(runId, runId, name) { _ =>
        val t0 = System.nanoTime()
        val a = body
        spans(name) = (System.nanoTime() - t0) / 1e6
        a
      } finally {
        sc.clearJobGroup()
        meter.await(sc, group, minActions = 0)
      }
    }
    val t0 = System.nanoTime()
    val work = feeds.shares.map { s =>
      val id = InReachSource.normalizeShareId(s.rawId)
      (id, s.callSign.getOrElse(id), InReachSource.feedUrl(id, feeds.now), s.password)
    }
    val fetcher = FeedServer.fetcher(server.port)
    val bodies = step("fetch")(work.map { case (id, cs, url, pw) => (id, cs, fetcher(url, pw)) })
    var parseFailed = 0
    val rows: Seq[RawPlacemark] = step("parse")(bodies.flatMap { case (id, cs, body) =>
      try KmlParser.parse(body, id, cs) catch { case NonFatal(_) => parseFailed += 1; Nil }
    })
    val raw = step("handoff")(spark.createDataset(rows).localCheckpoint(eager = true))
    val projected = step("project")(FeatureProjection.project(raw).localCheckpoint(eager = true))
    meter.reset()
    val deduped = step("dedup")(Dedup.latestPerKey(projected, Seq("id"),
      col("properties").getField("time")).localCheckpoint(eager = true))
    val dedupShuffle = meter.reset().shuffleWriteBytes
    val json = step("serialize")(FeatureCollectionSink.toFeatureJson(deduped).localCheckpoint(eager = true))
    val postId = s"graftbench-$runId"
    var doc: String = null
    FeatureCollectionDataSource.posts.put(postId, d => doc = d)
    step("commit")(json.write.format("featurecollection").option("postId", postId)
      .mode("overwrite").save())
    FeatureCollectionDataSource.posts.remove(postId)
    val t1 = System.nanoTime()
    Trace.add(Span(runId, 0, runId, "staged", t0, t1))
    checked("staged run")(doc)
    val rowsIn = projected.count().toDouble
    val rowsOut = deduped.count().toDouble
    Seq(raw, projected, deduped, json).foreach(_.unpersist())
    val total = (t1 - t0) / 1e6
    Seq(
      "parse.ms" -> (spans("parse"), "ms"),
      "parse.placemarks" -> (rows.count(_.coordinatesRaw.isDefined).toDouble, "count"),
      "parse.feeds_failed" -> (parseFailed.toDouble, "count"),
      "staged.fetch_ms" -> (spans("fetch"), "ms"),
      "staged.handoff_ms" -> (spans("handoff"), "ms"),
      "project.ms" -> (spans("project"), "ms"),
      "project.rows_out" -> (rowsIn, "count"),
      "dedup.ms" -> (spans("dedup"), "ms"),
      "dedup.rows_in" -> (rowsIn, "count"),
      "dedup.rows_out" -> (rowsOut, "count"),
      "dedup.shuffle_write_bytes" -> (dedupShuffle.toDouble, "B"),
      "sink.serialize_ms" -> (spans("serialize"), "ms"),
      "sink.commit_ms" -> (spans("commit"), "ms"),
      "sink.doc_bytes" -> (if (doc == null) 0.0 else Trace.utf8Length(doc).toDouble, "B"),
      "staged.driver_ms" -> (total - spans.values.sum, "ms"),
      "staged.sum_ms" -> (total, "ms"))
  }

  private def writeTrace(): Unit = {
    val dir = java.nio.file.Paths.get(sys.props.getOrElse("graftbench.traceDir", "."))
    java.nio.file.Files.createDirectories(dir)
    // fetch spans hang under their run's root span
    val all = Trace.all.map(s => if (s.parent == -1) s.copy(parent = s.runId) else s)
    java.nio.file.Files.writeString(dir.resolve(s"${o.workload}-seed${o.seed}.json"), Trace.toJson(all))
  }
}

/** Whole-stage-codegen stages of an executed plan, AQE stages included. */
object Plans extends AdaptiveSparkPlanHelper {
  def codegenStages(plan: SparkPlan): Int =
    collect(plan) { case w: WholeStageCodegenExec => w }.size
}

/** Peak heap in use right after a collection the program's own
  * allocation triggered (explicit GCs between runs do not count), over
  * a window. Falls back to
  * the heap after one explicit GC when no collection ran inside it. */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var from = Long.MaxValue
  @volatile private var until = Long.MaxValue
  private val uptime = ManagementFactory.getRuntimeMXBean

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val gc = info.getGcInfo
      if (info.getGcCause != "System.gc()" && gc.getStartTime >= from && gc.getStartTime <= until) {
        val used = gc.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        peak.accumulateAndGet(used, math.max)
      }
    }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }

  def start(): Unit = {
    beans.foreach(_.addNotificationListener(listener, null, null))
    from = uptime.getUptime
  }

  /** Bytes; waits briefly for notifications of in-window collections. */
  def stop(): Long = {
    until = uptime.getUptime
    Thread.sleep(200)
    beans.foreach(_.removeNotificationListener(listener))
    if (peak.get == 0L) {
      System.gc()
      val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      m.getUsed
    } else peak.get
  }
}

/** Counts whole-stage-codegen fallbacks (a generated class that failed
  * to compile or was too long, so the stage ran interpreted) from
  * Spark's own log lines. */
object CodegenFallbacks {
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.{Level, LogManager}

  val count = new java.util.concurrent.atomic.AtomicLong
  private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val appender = new AbstractAppender("graftbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = {
          val m = e.getMessage.getFormattedMessage
          if (m.contains("Whole-stage codegen disabled") || m.contains("whole-stage codegen was disabled"))
            count.incrementAndGet()
        }
      }
      appender.start()
      val name = classOf[WholeStageCodegenExec].getName
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      ctx.getConfiguration.addLogger(name, lc)
      ctx.updateLoggers()
    }
  }
}

/** The facts that make two results comparable. */
object Host {
  def facts(spark: SparkSession): String = {
    val rt = Runtime.getRuntime
    Seq(
      "nproc" -> rt.availableProcessors().toString,
      "heap_max_mb" -> (rt.maxMemory() / 1048576).toString,
      "jvm" -> s"\"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}\"",
      "spark" -> s"\"${spark.version}\"",
      "master" -> s"\"${spark.sparkContext.master}\"",
      "source" -> s"\"${sys.props.getOrElse("graftbench.source", "unknown")}\""
    ).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
  }
}
