package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val edges =
    Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (4L, 1L))

  /** Driver-side replay of the exact quantized iteration, including
    * Spark's HALF_UP rounding at scale 8. */
  private def replay(iters: Int): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val od = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    var r = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to iters) {
      val sums = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e =>
          math.floor(r(e._1) / od(e._1) * 1e9 + 0.5).toLong).sum
      }
      r = nodes.map(n => n -> ((1.0 - 0.85) / nodes.size +
        0.85 * (sums.getOrElse(n, 0L).toDouble / 1e9))).toMap
    }
    r.map { case (k, v) => k -> BigDecimal(v)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble }
  }

  test("pageRank: matches the quantized driver-side replay exactly") {
    val out = Graph.pageRank(edges.toDF("s", "d"), "s", "d", iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out == replay(3))
    // no dangling nodes in this graph -> mass is conserved
    assert(math.abs(out.values.sum - 1.0) < 1e-6)
  }

  test("pageRank: partitioning-independent (integer-sum order freedom)") {
    val base = Graph.pageRank(edges.toDF("s", "d"), "s", "d", iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val (shuffled, offHinted) = withoutBroadcastHints {
      val df = Graph.pageRank(
        edges.toDF("s", "d").repartition(7), "s", "d", iters = 3)
      (df.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap, hinted(df))
    }
    assert(base == shuffled)
    assert(!offHinted)
  }

  test("triangleCounts: known triangles; loops/parallel/reversed edges collapse") {
    // triangles {1,2,3} and {3,4,5}; 5-6 is a dangling edge; 1-1 a
    // self-loop; (2,1) re-states 1-2 reversed
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L), (5L, 6L), (1L, 1L), (2L, 1L)).toDF("s", "d")
    val out = Graph.triangleCounts(e, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
  }

  test("triangleCounts: triangle-free graph is empty; K4 counts 3 per node") {
    assert(Graph.triangleCounts(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d"), "s", "d").isEmpty)
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b))
      .toDF("s", "d")
    val out = Graph.triangleCounts(k4, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == (1L to 4L).map(_ -> 3L).toMap)
  }

  test("pageRank: duplicate edges collapse; iters=0 is uniform") {
    val dup = (edges ++ edges).toDF("s", "d")
    val out = Graph.pageRank(dup, "s", "d", iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out == replay(3))
    val r0 = Graph.pageRank(edges.toDF("s", "d"), "s", "d", iters = 0)
      .collect().map(_.getDouble(1)).toSet
    assert(r0 == Set(0.25))
  }

  test("ancestorClosure: full chains via doubling, depth truncation") {
    // chain 5 -> 4 -> 3 -> 2 -> 1
    val ch = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)).toDF("c", "p")
    val full = Graph.ancestorClosure(ch, "c", "p", maxDepth = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == Set((5L, 4L), (5L, 3L), (5L, 2L), (5L, 1L),
      (4L, 3L), (4L, 2L), (4L, 1L), (3L, 2L), (3L, 1L), (2L, 1L)))
    // maxDepth = 2 keeps only <= 2-hop ancestors
    val trunc = Graph.ancestorClosure(ch, "c", "p", maxDepth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trunc == Set((5L, 4L), (5L, 3L), (4L, 3L), (4L, 2L),
      (3L, 2L), (3L, 1L), (2L, 1L)))
  }

  test("subtreeRollup: per-node descendant sums incl. self; non-node ancestors") {
    //      1
    //     / \
    //    2   3      values: 2->10, 3->20, 4->40, 5->5; node 1 has
    //   / \           no value row (pure rollup node)
    //  4   5
    val ed = Seq((2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L)).toDF("c", "p")
    val vals = Seq((2L, 10L), (3L, 20L), (4L, 40L), (5L, 5L))
      .toDF("n", "v")
    val got = Graph.subtreeRollup(ed, "c", "p", vals, "n", "v", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set((1L, 75L, 4L), (2L, 55L, 3L), (3L, 20L, 1L),
      (4L, 40L, 1L), (5L, 5L, 1L)))
  }

  test("labelPropagation: disjoint cliques converge to their min id") {
    // clique {1,2,3} + clique {10,11,12}, no bridge
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val out = Graph.labelPropagation(e, "a", "b", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("bfsDistances: hop counts on a path + branch; depth truncation; seeds win") {
    //  1 - 2 - 3 - 4 - 5   and 3 - 6;   isolated seed 99
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 6L))
      .toDF("s", "d")
    val seeds = Seq(1L, 99L).toDF("n")
    val full = Graph.bfsDistances(e, "s", "d", seeds, "n", maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> 4L, 6L -> 3L, 99L -> 0L))
    // truncation: maxDepth=2 only reaches hop <= 2
    val trunc = Graph.bfsDistances(e, "s", "d", seeds, "n", maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(trunc == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 99L -> 0L))
    // a seed reachable from another seed keeps dist 0 (min wins)
    val two = Graph.bfsDistances(e, "s", "d", Seq(1L, 3L).toDF("n"),
        "n", maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two(3L) == 0L && two(2L) == 1L && two(5L) == 2L)
  }

  test("bfsDistances: directed respects edge direction; undirected does not") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val fromThree = Graph.bfsDistances(e, "s", "d", Seq(3L).toDF("n"),
        "n", maxDepth = 5, directed = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromThree == Map(3L -> 0L)) // no out-edges from 3
    val und = Graph.bfsDistances(e, "s", "d", Seq(3L).toDF("n"),
        "n", maxDepth = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(und == Map(3L -> 0L, 2L -> 1L, 1L -> 2L))
  }

  test("bfsDistances: partitioning-independent with shuffled non-broadcast frontier") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 6L))
      .toDF("s", "d")
    val base = Graph.bfsDistances(e, "s", "d", Seq(1L).toDF("n"), "n", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (shuf, offHinted) = withoutBroadcastHints {
      val df = Graph.bfsDistances(e.repartition(7), "s", "d",
        Seq(1L).toDF("n"), "n", 4)
      (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, hinted(df))
    }
    assert(base == shuf)
    assert(!offHinted)
  }

  test("weightedDistances: cheap 2-hop beats direct edge once rounds allow it") {
    // 1 -> 3 direct costs 10; 1 -> 2 -> 3 costs 2 + 3 = 5
    val e = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L)).toDF("s", "d", "w")
    val seeds = Seq(1L).toDF("n")
    val r1 = Graph.weightedDistances(e, "s", "d", "w", seeds, "n", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 0L, 2L -> 2L, 3L -> 10L)) // ≤1-edge optimum
    val r2 = Graph.weightedDistances(e, "s", "d", "w", seeds, "n", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 0L, 2L -> 2L, 3L -> 5L))
  }

  test("weightedDistances: parallel edges take the min; directed respects direction") {
    val e = Seq((1L, 2L, 7L), (1L, 2L, 4L), (2L, 1L, 1L)).toDF("s", "d", "w")
    val und = Graph.weightedDistances(e, "s", "d", "w", Seq(1L).toDF("n"),
        "n", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(und == Map(1L -> 0L, 2L -> 1L)) // undirected: reversed edge w=1 wins
    val dir = Graph.weightedDistances(e, "s", "d", "w", Seq(1L).toDF("n"),
        "n", rounds = 3, directed = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dir == Map(1L -> 0L, 2L -> 4L))
    // a shorter path found late still updates an already-reached node
    val chain = Seq((1L, 2L, 100L), (1L, 3L, 1L), (3L, 4L, 1L),
      (4L, 2L, 1L)).toDF("s", "d", "w")
    val out = Graph.weightedDistances(chain, "s", "d", "w",
        Seq(1L).toDF("n"), "n", rounds = 3, directed = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) == 3L)
  }

  test("kCore: 2-core strips pendant chain; K4 survives 3-core intact") {
    // K4 {1,2,3,4} with a pendant chain 4-5-6: 2-core = K4 exactly
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b))
    val e = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("s", "d")
    val core2 = Graph.kCore(e, "s", "d", k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val core3 = Graph.kCore(e, "s", "d", k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=4: K4 degrees are 3 -> everything peels
    assert(Graph.kCore(e, "s", "d", k = 4, rounds = 4).isEmpty)
  }

  test("kCore: cascading peel needs multiple rounds; one round is the documented truncation") {
    // chain 1-2-3-4-5: 2-core is empty but only after cascading peels
    val ch = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val r1 = Graph.kCore(ch, "s", "d", k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(2L -> 1L, 3L -> 2L, 4L -> 1L)) // ends peeled, chain shrank
    assert(Graph.kCore(ch, "s", "d", k = 2, rounds = 3).isEmpty)
    // loops/parallel/reversed edges collapse before peeling
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (1L, 3L))
      .toDF("s", "d")
    val got = Graph.kCore(messy, "s", "d", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("labelPropagation: min-label tiebreak is deterministic on a symmetric star") {
    // center 5 with leaves 1..4: round 1, each leaf sees only {5} → 5;
    // center sees {1,2,3,4} all count 1 → tiebreak min = 1.
    // round 2: leaves see center's 1 → 1; center sees leaves' 5s → 5.
    // round 3 flips again — snapshot semantics, all leaves agree
    val e = (1L to 4L).map(l => (5L, l)).toDF("a", "b")
    val out = Graph.labelPropagation(e, "a", "b", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(5L) == 1L)
    assert((1L to 4L).forall(l => out(l) == 5L))
  }

  // ── hits (round 7) ───────────────────────────────────────────────

  test("hits: hand-traced 2-round exact-int scores, final normalization") {
    import spark.implicits._
    // a->x, b->x, b->y: auth1 = indeg (x:2, y:1); hub1 (a:2, b:3);
    // auth2 (x:5, y:3); hub2 (a:5, b:8); totals ta=8, th=13
    val e = Seq(("a", "x"), ("b", "x"), ("b", "y")).toDF("s", "d")
    val out = Graph.hits(e, "s", "d")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(out("x") == ((0.625, 0.0)), s"x: $out")
    assert(out("y") == ((0.375, 0.0)), s"y: $out")
    assert(out("a") == ((0.0, 0.38461538)), s"a = 5/13: $out")
    assert(out("b") == ((0.0, 0.61538462)), s"b = 8/13: $out")
  }

  test("hits: partitioning-invariant; shuffle-join path agrees with broadcast") {
    import spark.implicits._
    val e = (1L to 60L).map(i => (i % 7, i % 13)).toDF("s", "d")
    val a = Graph.hits(e, "s", "d").collect().map(_.toString).sorted.toSeq
    val (b, offHinted) = withoutBroadcastHints {
      val df = Graph.hits(e.repartition(11), "s", "d")
      (df.collect().map(_.toString).sorted.toSeq, hinted(df))
    }
    assert(a == b && a.nonEmpty)
    assert(!offHinted)
  }

  test("modularity: hand-computed directed weighted partition quality") {
    import spark.implicits._
    // comm0 = {a,b}, comm1 = {c,d}, comm2 = {e} (sink-only)
    val edges = Seq(("a", "b", 2L), ("a", "c", 1L), ("c", "d", 3L),
      ("d", "e", 1L)).toDF("src", "dst", "w")
    val comms = Seq(("a", 0L), ("b", 0L), ("c", 1L), ("d", 1L), ("e", 2L))
      .toDF("node", "community")
    val out = Graph.modularity(edges, "src", "dst", col("w"),
        comms, "node", "community")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
         r.getDouble(5))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w = 7.0
    val q0 = 2.0 / w - 3.0 * 2.0 / w / w
    val q1 = 3.0 / w - 4.0 * 4.0 / w / w
    val q2 = 0.0 / w - 0.0 * 1.0 / w / w
    assert(out(0L) == ((2L, 3L, 2L, r6(q0), r6(q0 + q1 + q2))), s"$out")
    assert(out(1L) == ((3L, 4L, 4L, r6(q1), r6(q0 + q1 + q2))), s"$out")
    // a community with no out-edges still appears (full join), q_term 0
    assert(out(2L) == ((0L, 0L, 1L, 0.0, r6(q0 + q1 + q2))), s"$out")
    // the partition that follows the graph's density beats a random cut
    assert(q0 + q1 + q2 > 0)
  }

  test("localClustering: triangle + pendant; degree-1 nodes dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("s", "d")
    val out = Graph.localClustering(e, "s", "d")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"$out")
    assert(out(1L) == ((3L, 1L, 0.333333)), s"$out")
    assert(out(2L) == ((2L, 1L, 1.0)) && out(3L) == ((2L, 1L, 1.0)), s"$out")
  }

  test("transitivity: triangle + pendant = 3/5") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("s", "d")
    val out = Graph.transitivity(e, "s", "d").head()
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3)) == ((4L, 4L, 5L, 1L)), s"$out")
    assert(out.getDouble(4) == 0.6, s"$out")
    // triangle-free star: transitivity 0
    val star = Graph.transitivity(
      Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d"), "s", "d").head()
    assert(star.getLong(3) == 0L && star.getDouble(4) == 0.0, s"$star")
  }

  test("kTruss: K4 is a 4-truss, tail edges peel; triangle survives k=3") {
    import spark.implicits._
    // K4 on 1..4 plus tail 4-5: tail has support 0, K4 edges 2
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("s", "d")
    val t4 = Graph.kTruss(k4, "s", "d", k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(t4.size == 6 && t4.values.forall(_ == 2L), s"$t4")
    assert(!t4.contains((4L, 5L)))
    // plain triangle + pendant at k=3: triangle kept with support 1
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 9L)).toDF("s", "d")
    val t3 = Graph.kTruss(tri, "s", "d", k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(t3 == Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 3L) -> 1L),
      s"$t3")
  }

  test("linkPrediction: wedge candidates scored, hub cap excludes") {
    import spark.implicits._
    // path 1-2-3 plus 2-4: all wedges route through hub 2 (deg 3);
    // candidates (1,3),(1,4),(3,4): cn=1, ra=1/3, jaccard=1.0
    val e = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("s", "d")
    val out = Graph.linkPrediction(e, "s", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet == Set((1L, 3L), (1L, 4L), (3L, 4L)), s"$out")
    assert(out.values.toSet == Set((1L, 1.0, 0.333333)), s"$out")
    // existing edges never surface; capping out the hub empties it
    assert(!out.contains((1L, 2L)))
    assert(Graph.linkPrediction(e, "s", "d", maxDegree = 2).count() == 0)
    // topK truncates deterministically
    assert(Graph.linkPrediction(e, "s", "d", topK = 2).count() == 2)
  }

  test("degreeAssortativity: star is -1; regular graph undefined") {
    import spark.implicits._
    val star = Graph.degreeAssortativity(
      Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d"), "s", "d").head()
    assert(star.getLong(0) == 3L && star.getDouble(1) == -1.0, s"$star")
    val cycle = Graph.degreeAssortativity(
      Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d"), "s", "d").head()
    assert(cycle.isNullAt(1), s"$cycle")
  }

  test("coreness: K4 plus a tail reaches the exact coreness in 3 rounds") {
    // K4 on {1..4} is the 3-core; 4-5-6 is a pendant path (coreness 1)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val out = Graph.coreness(e.toDF("a", "b"), "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L), s"$out")
    // partitioning independence (order statistics are order-free)
    val (shuf, offHinted) = withoutBroadcastHints {
      val df = Graph.coreness(e.toDF("a", "b").repartition(7), "a", "b",
        rounds = 3)
      (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, hinted(df))
    }
    assert(shuf == out)
    assert(!offHinted)
  }

  test("harmonicCentrality: path graph from two seeds, exact 1/d sums") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val seeds = Seq(1L, 4L).toDF("n")
    val out = Graph.harmonicCentrality(e, "s", "d", seeds, "n", maxDepth = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // node 2: d=1 from seed 1, d=2 from seed 4 -> 1 + 1/2; node 5:
    // only seed 4 reaches within 3 hops; seeds exclude themselves
    assert(out == Map(1L -> ((1L, 0.333333)), 2L -> ((2L, 1.5)),
      3L -> ((2L, 1.5)), 4L -> ((1L, 0.333333)), 5L -> ((1L, 1.0))),
      s"$out")
  }

  test("communityConductance: bridge edge between two triangles") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L),
      (6L, 2L)).toDF("node", "label")
    val out = Graph.communityConductance(e, "a", "b", labels, "node",
        "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // each triangle: vol = 7 (6 internal endpoints + 1 bridge side),
    // cut = 1, 2m = 14 -> 1/min(7,7)
    assert(out == Map(1L -> ((3L, 7L, 1L, 0.142857)),
      2L -> ((3L, 7L, 1L, 0.142857))), s"$out")
  }
  test("betweennessSampled: hand-computed Brandes dependencies on a broker path") {
    // 1-2-3 with 3 branching to 4 and 5; seeds {1, 4}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L)).toDF("s", "d")
    val seeds = Seq(1L, 4L).toDF("n")
    val out = Graph.betweennessSampled(e, "s", "d", seeds, "n", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // seed 1: delta(3) = 2 (paths to 4,5), delta(2) = 1*(1+2) = 3
    // seed 4: delta(2) = 1 (path to 1),    delta(3) = (1+1) + 1 = 3
    assert(out == Map(2L -> ((2L, 4.0)), 3L -> ((2L, 5.0))), s"$out")
  }

  test("seedDistanceProfile: reach and eccentricity per sampled source") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L)).toDF("s", "d")
    val seeds = Seq(1L, 4L).toDF("n")
    val out = Graph.seedDistanceProfile(e, "s", "d", seeds, "n", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == Map(1L -> ((4L, 3L)), 4L -> ((4L, 3L))), s"$out")
  }

  test("personalizedPageRank: teleport mass stays near the seed; off-component is 0") {
    // two components: 1->2->3 and 10->11; seed = {1}
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("s", "d")
    val out = Graph.personalizedPageRank(e, "s", "d",
        Seq(1L).toDF("n"), "n", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the other component never receives mass
    assert(out(10L) == 0.0 && out(11L) == 0.0, s"$out")
    // the seed keeps its teleport floor; downstream nodes get damped mass
    assert(out(1L) == 0.15 && out(2L) > out(3L) && out(2L) > 0.1, s"$out")
  }

  test("hinted operators: hints-off path returns the default rows, with no hint in its plan") {
    val e = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 5L, 1L),
      (3L, 6L, 5L), (6L, 1L, 2L), (2L, 4L, 4L)).toDF("s", "d", "w")
    val seeds = Seq(1L, 4L).toDF("n")
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L))
      .toDF("node", "label")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "personalizedPageRank" -> (() =>
        Graph.personalizedPageRank(e, "s", "d", seeds, "n")),
      "labelPropagation" -> (() => Graph.labelPropagation(e, "s", "d")),
      "communityConductance" -> (() =>
        Graph.communityConductance(e, "s", "d", labels, "node", "label")),
      "weightedDistances" -> (() =>
        Graph.weightedDistances(e, "s", "d", "w", seeds, "n", rounds = 3)),
      "kCore" -> (() => Graph.kCore(e, "s", "d", k = 2, rounds = 2)),
      "harmonicCentrality" -> (() =>
        Graph.harmonicCentrality(e, "s", "d", seeds, "n", maxDepth = 3)),
      "seedDistanceProfile" -> (() =>
        Graph.seedDistanceProfile(e, "s", "d", seeds, "n")),
      "betweennessSampled" -> (() =>
        Graph.betweennessSampled(e, "s", "d", seeds, "n")))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val bad = ops.flatMap { case (name, op) =>
      val on = op()
      val (offRows, offHinted) = withoutBroadcastHints {
        val off = op()
        (rows(off), hinted(off))
      }
      Seq(
        // betweennessSampled checkpoints every level eagerly: its hints
        // live in the checkpoint jobs, never in the returned plan
        (!hinted(on) && name != "betweennessSampled") -> "default plan has no hint",
        offHinted -> "hint survived disableHints",
        (offRows != rows(on) || offRows.isEmpty) -> "rows differ")
        .collect { case (true, why) => s"$name: $why" }
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }
}
