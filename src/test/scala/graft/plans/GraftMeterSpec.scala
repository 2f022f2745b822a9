package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraftMeterSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` under job group `group` on a fresh meter and returns
    * what the meter recorded for that group. */
  private def metered(group: String)(body: => Unit): GraftMeter.Group =
    withMeter { m => m.measure(group)(body); m(group) }

  test("listener captures duration, shuffle count, and codegen spans per action") {
    // one shuffle (groupBy), codegen'd
    val got = metered("groupBy")((1 to 1000).toDF("x").groupBy($"x" % 7).count().collect()).actions
    assert(got.nonEmpty, "no metrics captured")
    val a = got.head
    assert(!a.failed && a.durationNs > 0)
    assert(a.shuffles >= 1, s"groupBy must show its exchange: $a")
    assert(a.codegenSpans >= 1, s"plan left codegen: $a")
  }

  test("a shuffle-free projection reports zero exchanges") {
    val got = metered("projection")((1 to 100).toDF("x").select(($"x" * 2).as("y")).collect()).actions
    assert(got.nonEmpty && got.head.shuffles == 0, s"${got.headOption}")
  }

  // the walk must descend AdaptiveSparkPlanExec.executedPlan and
  // QueryStageExec.plan (both AQE leaves hiding the real subtree),
  // skip ReusedExchange (already counted at its origin), and never
  // count BroadcastExchange as a shuffle
  test("AQE tree walk: broadcast exchanges and reuse are not shuffles") {
    // broadcast join: exactly zero shuffles despite a (Broadcast)
    // Exchange node in the executed plan
    val dim = broadcast((1 to 10).toDF("k"))
    val bj = metered("broadcast")((1 to 1000).toDF("k").join(dim, "k").collect()).actions
    assert(bj.nonEmpty && bj.head.shuffles == 0,
      s"broadcast exchange miscounted as shuffle: ${bj.headOption}")
    // self-union of one aggregate: AQE reuses the exchange — the
    // plan carries ONE real shuffle plus a ReusedExchange pointer,
    // which must not double the count
    val agg = (1 to 1000).toDF("x").groupBy(($"x" % 7).as("g")).count()
    val ru = metered("reuse")(agg.union(agg).collect()).actions
    assert(ru.nonEmpty && ru.head.shuffles == 1,
      s"reused exchange double-counted: ${ru.headOption}")
    assert(ru.head.codegenSpans >= 1, s"AQE plan lost codegen spans: ${ru.head}")
  }

  // Prof's warm pass runs just before the profiled one: none of its
  // jobs, stages or actions may land in the profiled group, however
  // late their events arrive
  test("jobs run in another group are not counted in the group under test") {
    val sc = spark.sparkContext
    withMeter { m =>
      sc.setJobGroup("warm", null)
      try (1 to 1000).toDF("x").groupBy($"x" % 7).count().collect()
      finally sc.clearJobGroup()
      m.measure("profiled")(spark.range(100).selectExpr("sum(id)").count())
      val (warm, prof) = (m("warm"), m("profiled"))
      assert(warm.jobs > 0 && prof.jobs > 0, s"warm ${warm.jobTable}, profiled ${prof.jobTable}")
      assert(prof.jobTable.keySet.min > warm.jobTable.keySet.max,
        s"warm jobs in the profiled group: ${prof.jobTable}")
      assert(prof.jobTable.values.forall(j => j.end >= j.start))
      assert(prof.stageTable.map(_.stageId).intersect(warm.stageTable.map(_.stageId)).isEmpty)
      assert(prof.tasks > 0 && prof.stages > 0)
      assert(prof.actions.map(_.name) == Seq("count"), s"${prof.actions}")
      assert(warm.actions.isEmpty, "actions outside measure belong to no group")
      assert(prof.driverGapMs >= 0 && prof.driverGapMs <= prof.wallMs)
    }
  }

  test("uncovered over overlapping job spans never goes negative") {
    // three overlapping jobs whose walls sum to 180 ms in a 100 ms
    // window: wall minus the sum would read -80, the union leaves 10
    assert(GraftMeter.uncovered(0, 100, Seq((10L, 60L), (20L, 80L), (50L, 120L))) == 10)
    assert(GraftMeter.uncovered(0, 100, Nil) == 100)
    assert(GraftMeter.uncovered(0, 100, Seq((-50L, 200L), (30L, 40L))) == 0)
    // against a millisecond-by-millisecond count on random spans
    val rnd = new scala.util.Random(11)
    (1 to 500).foreach { _ =>
      val spans = Seq.fill(rnd.nextInt(6)) {
        val s = rnd.nextInt(140) - 20L
        (s, s + rnd.nextInt(60))
      }
      val bare = (0L until 100L).count(t => !spans.exists { case (s, e) => s <= t && t < e })
      assert(GraftMeter.uncovered(0, 100, spans) == bare, s"$spans")
    }
  }
}
