package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists — the rank/propagation
  * complement to [[DedupClusters]]' connected components. Like every
  * iterative operator here the loop builds ONE lazy plan (fixed,
  * small iteration count — a query constant), with no driver-side
  * actions inside the loop.
  *
  * Broadcast hints: the nodes-sized side tables (ranks, labels,
  * frontiers, distances) always join hinted `broadcast`. For graphs
  * past broadcast range, set `spark.sql.optimizer.disableHints=true`
  * and `spark.sql.autoBroadcastJoinThreshold=-1` on the session: the
  * analyzer then drops every hint and those joins shuffle instead.
  * Spark 4.1.2 then logs one expected `WARN HintErrorLogger: Unrecognized
  * hint: broadcast()` per dropped hint, 7 for a 3-iteration [[pageRank]].
  */
object Graph {

  /** Per-node triangle counts on the undirected simple graph induced
    * by the edge list (self-loops dropped, parallel edges collapsed).
    * Returns (node, n_triangles) for every node in ≥ 1 triangle.
    *
    * Degree-ordered orientation (the Ortmann/Brandes formulation
    * every distributed triangle counter uses): each undirected edge
    * points from the lower-(degree, id) endpoint to the higher, so a
    * triangle closes at exactly one wedge and — the scale property —
    * wedge generation is Σ outdeg(x)², bounded by O(m^1.5) REGARDLESS
    * of skew: a billion-follower hub has huge in-degree but tiny
    * out-degree under this orientation, so it never becomes a wedge
    * center. Id-ordered orientation (the naive a<b<c) has no such
    * bound — one hub makes it quadratic.
    *
    * Plan shape: two shuffles to build degrees + oriented edges, one
    * self-join on the wedge apex (co-partitioned: both sides hash on
    * x), one closing equi-join on (y, z), then an output-sized
    * explode/agg. Nothing iterates; nothing touches the driver. */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).as("_a"), col(dstCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
    val und = raw.select(least(col("_a"), col("_b")).as("_u"),
      greatest(col("_a"), col("_b")).as("_v")).distinct()
    val deg = und.select(explode(array(col("_u"), col("_v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("_dg"))
    val dd = und
      .join(deg.select(col("node").as("_u"), col("_dg").as("_du")), Seq("_u"))
      .join(deg.select(col("node").as("_v"), col("_dg").as("_dv")), Seq("_v"))
    val uLower = (col("_du") < col("_dv")) ||
      (col("_du") === col("_dv") && col("_u") < col("_v"))
    val o = dd.select(
      when(uLower, col("_u")).otherwise(col("_v")).as("x"),
      when(uLower, col("_v")).otherwise(col("_u")).as("y"),
      when(uLower, col("_dv")).otherwise(col("_du")).as("_dy"))
    val w = o.select(col("x"), col("y").as("_y1"), col("_dy").as("_d1"))
      .join(o.select(col("x"), col("y").as("_y2"), col("_dy").as("_d2")),
        Seq("x"))
      .filter(col("_d1") < col("_d2") ||
        (col("_d1") === col("_d2") && col("_y1") < col("_y2")))
    val tris = w.join(
      o.select(col("x").as("_y1"), col("y").as("_y2")), Seq("_y1", "_y2"))
    tris.select(explode(array(col("x"), col("_y1"), col("_y2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Fixed-iteration PageRank over a directed edge list.
    *
    * r₀(v) = 1/N; rᵢ₊₁(v) = (1−d)/N + d·Σ_{u→v} rᵢ(u)/outdeg(u).
    * Simplified (non-redistributing) dangling handling: sink nodes
    * keep their base term and leak their mass — the standard
    * fixed-iteration formulation; document or avoid sinks upstream if
    * total-mass conservation matters. Returns (node, rank).
    *
    * Engine-exact by construction: each edge's contribution is
    * quantized to int64 (`floor(r/outdeg·S + ½)`) BEFORE the per-node
    * sum, so the only distributed reduction is integer addition —
    * order-free, bit-identical on any engine or partitioning
    * ([[Similarity.kmeansRefine]]'s trick); every remaining FP step
    * is a fixed scalar expression sequence both engines evaluate
    * identically. At S = 10⁹ the quantization error per edge is
    * ≤ 5·10⁻¹⁰ — far below any ranking use — and a rank sum over
    * ≤ 2⁵³/S ≈ 9M in-edges per node cannot overflow.
    *
    * Scale shape: outdegrees are one map-side-combinable count; each
    * iteration is (rank ⋈ edges on src) + one dst-keyed integer sum.
    * The rank table is nodes-sized and always hinted `broadcast`
    * (ranks are two columns even when edges are billions), so the
    * per-iteration cost collapses to one edge scan + one dst shuffle
    * of (dst, int64) pairs. Past broadcast range, set the two session
    * confs in the object doc; edges are not pre-partitioned. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, damping: Double = 0.85,
               quantScale: Long = 1000000000L): DataFrame = {
    require(iters >= 0 && damping > 0 && damping < 1 && quantScale >= 1)
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .filter(col("_src").isNotNull && col("_dst").isNotNull).distinct()
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst"))).distinct()
    // N via a 1-row broadcast — never a driver-side count
    val n = broadcast(nodes.agg(count(lit(1)).as("_n")))
    val base = (lit(1.0) - lit(damping)) / col("_n")
    val outdeg = e.groupBy(col("_src")).agg(count(lit(1)).as("_outdeg"))
    var ranks = nodes.crossJoin(n)
      .select(col("node"), (lit(1.0) / col("_n")).as("rank"))
    for (_ <- 1 to iters) {
      val sums = e
        .join(broadcast(ranks).select(col("node").as("_src"), col("rank")),
          Seq("_src"))
        .join(broadcast(outdeg), Seq("_src"))
        .select(col("_dst").as("node"),
          floor(col("rank") / col("_outdeg") * lit(quantScale.toDouble) +
            lit(0.5)).as("_qc"))
        .groupBy("node").agg(sum("_qc").as("_s"))
      ranks = nodes.join(sums, Seq("node"), "left").crossJoin(n)
        .select(col("node"),
          (base + lit(damping) *
            (coalesce(col("_s"), lit(0L)).cast("double") /
              lit(quantScale.toDouble))).as("rank"))
    }
    ranks.select(col("node"), round(col("rank"), 8).as("rank"))
  }

  /** Fixed-iteration SYNCHRONOUS label propagation (community
    * detection): every node starts as its own label; each round all
    * nodes simultaneously adopt the most frequent label among their
    * neighbors, ties broken by the SMALLEST label. Synchronous + a
    * deterministic tiebreak makes the whole run engine-exact (the
    * classic async/random-order LPA is irreproducible by design —
    * useless under an oracle), at the usual cost that bipartite-ish
    * regions can oscillate; a fixed iteration count just snapshots
    * round `iters`.
    *
    * Scale shape: per iteration ONE (edge ⋈ label) join on the
    * neighbor endpoint + one (node, label) count with map-side
    * combine + an integer argmax — all label values, no FP anywhere.
    * The label table is nodes-sized (two columns), always hinted
    * `broadcast`; past broadcast range, set the object doc's confs.
    * Like [[pageRank]], the loop builds one lazy plan with zero
    * driver actions. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       iters: Int = 3): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull).distinct()
    val sym = e.union(e.select(col("_b"), col("_a")))
      .select(col("_a").as("u"), col("_b").as("v")).distinct()
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node").cast("long"))
    for (_ <- 1 to iters) {
      labels = sym
        .join(broadcast(labels).select(col("node").as("v"), col("label")),
          Seq("v"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("_c"))
        // integer argmax, min-label tiebreak: max(struct(cnt, −label))
        .groupBy(col("u"))
        .agg(max(struct(col("_c"), (-col("label")).as("_nl"))).as("_m"))
        .select(col("u").as("node"), (-col("_m._nl")).as("label"))
    }
    labels
  }

  /** Ancestor closure of a hierarchy (parent-pointer edge list) by
    * POINTER DOUBLING: all (node, ancestor) pairs within `maxDepth`
    * hops, self excluded — the transitive-closure step under every
    * org-chart / BOM / category-tree rollup (SQL's
    * `WITH RECURSIVE`, which Spark lacks, and which this replaces
    * with a FIXED plan).
    *
    * Each round unions the closure with closure⋈closure, doubling
    * the reachable depth: ⌈log₂ maxDepth⌉ self-joins TOTAL — depth
    * 1000 hierarchies need 10 joins, not 1000 frontier iterations.
    * The loop builds one lazy DAG; `distinct` after each round keeps
    * intermediate size ≤ |closure| (paths in a tree are unique —
    * in a DAG duplicates collapse each round rather than
    * multiplying).
    *
    * Scale shape: closure size is Σ depth(v) ≤ n·maxDepth rows —
    * the output's own size, nothing transient exceeds it; every
    * join is a plain key-equi shuffle on node ids. Nodes deeper
    * than maxDepth simply stop accumulating (documented truncation,
    * matching the bounded-recursion contract). */
  def ancestorClosure(edges: DataFrame, childCol: String,
                      parentCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1)
    var closure = edges
      .select(col(childCol).as("node"), col(parentCol).as("anc"))
    var depth = 1
    while (depth < maxDepth) {
      closure = closure.unionByName(
          closure.join(
            closure.select(col("node").as("anc"), col("anc").as("_a2")),
            Seq("anc"))
            .select(col("node"), col("_a2").as("anc")))
        .distinct()
      depth *= 2
    }
    closure
  }

  /** Multi-source BFS hop distances: for every node reachable within
    * `maxDepth` hops of ANY seed, the minimum hop count (seeds = 0).
    * The `WITH RECURSIVE` walk query, as a fixed frontier-expansion
    * plan — level-synchronous BFS, the textbook distributed form.
    *
    * Exactness: after round i the table holds the true BFS distance
    * for every node within i hops (a node's first appearance is via a
    * shortest path; `min` collapses later, longer rediscoveries), so
    * the frontier filter `dist = i−1` is exactly the classic BFS
    * frontier. Integer hops — no FP anywhere, engine-exact.
    *
    * Scale shape: per round ONE (frontier ⋈ edges) join + one
    * map-side-combinable `min` agg; the frontier is (node)-sized and
    * always hinted `broadcast` (past broadcast range, set the object
    * doc's confs); edges are not pre-partitioned. Rounds =
    * `maxDepth`, a query constant: one lazy plan, zero driver
    * actions, nothing persisted. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String, maxDepth: Int,
                   directed: Boolean = false): DataFrame = {
    require(maxDepth >= 0)
    val e0 = edges.select(col(srcCol).as("_u"), col(dstCol).as("_v"))
      .filter(col("_u").isNotNull && col("_v").isNotNull)
    val sym = (if (directed) e0
               else e0.unionByName(e0.select(col("_v").as("_u"),
                 col("_u").as("_v")))).distinct()
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .filter(col("node").isNotNull)
      .withColumn("dist", lit(0L))
    for (d <- 1 to maxDepth) {
      val frontier = dist.filter(col("dist") === (d - 1).toLong)
        .select(col("node").as("_u"))
      dist = dist.unionByName(
          sym.join(broadcast(frontier), Seq("_u"))
            .select(col("_v").as("node"), lit(d.toLong).as("dist")))
        .groupBy("node").agg(min("dist").as("dist"))
    }
    dist
  }

  /** Weighted shortest distances from a seed set by `rounds`
    * synchronous Bellman-Ford relaxations: after round i, `dist`
    * holds the exact cheapest cost over paths of ≤ i edges —
    * a fixed round count is the documented truncation (the
    * [[bfsDistances]] contract, weight-aware). Weights are cast to
    * LONG: integer edge costs make every path sum and every `min`
    * engine-exact (quantize fractional costs upstream — the
    * [[pageRank]] rule). Negative weights are relaxed correctly per
    * round, but with a negative cycle distances keep falling forever
    * — bounded rounds simply report the ≤-rounds-edges optimum.
    * Parallel edges collapse to their cheapest before iterating.
    *
    * Scale shape: unlike BFS, a node's distance can improve after
    * first discovery, so each round relaxes the FULL dist table:
    * one (dist ⋈ edges) join + one map-side-combinable `min` per
    * round. The dist table is nodes-sized (two columns) and always
    * hinted `broadcast` (past broadcast range, set the object doc's
    * confs); edges are not pre-partitioned. One lazy plan, zero
    * driver actions. */
  def weightedDistances(edges: DataFrame, srcCol: String, dstCol: String,
                        weightCol: String, seeds: DataFrame,
                        seedCol: String, rounds: Int,
                        directed: Boolean = false): DataFrame = {
    require(rounds >= 0)
    val e0 = edges.select(col(srcCol).as("_u"), col(dstCol).as("_v"),
        col(weightCol).cast("long").as("_w"))
      .filter(col("_u").isNotNull && col("_v").isNotNull &&
        col("_w").isNotNull)
    val sym0 = if (directed) e0 else e0.unionByName(
      e0.select(col("_v").as("_u"), col("_u").as("_v"), col("_w")))
    val sym = sym0.groupBy("_u", "_v").agg(min("_w").as("_w"))
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .filter(col("node").isNotNull)
      .withColumn("dist", lit(0L))
    for (_ <- 1 to rounds) {
      dist = dist.unionByName(
          sym.join(broadcast(dist).select(col("node").as("_u"), col("dist")),
              Seq("_u"))
            .select(col("_v").as("node"),
              (col("dist") + col("_w")).as("dist")))
        .groupBy("node").agg(min("dist").as("dist"))
    }
    dist
  }

  /** Fixed-round k-core peeling on the undirected simple graph:
    * each round simultaneously deletes every node of degree < k (and
    * its edges); after `rounds` rounds, returns the survivors with
    * their residual degree. With enough rounds this is the exact
    * k-core; a fixed round count is a documented truncation (like
    * [[ancestorClosure]]'s maxDepth) that keeps the plan a fixed DAG
    * — and is itself the standard bounded-peeling used when core
    * numbers only need bounding.
    *
    * Synchronous deletion + integer degrees ⇒ engine-exact and
    * partitioning-independent. Scale shape: per round one map-side
    * degree count + one semi-join of edges against surviving nodes
    * (node table is 1 column, always hinted `broadcast`; past
    * broadcast range, set the object doc's confs). One lazy plan,
    * zero driver actions. */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val raw = edges.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
    var live = raw.select(least(col("_a"), col("_b")).as("_u"),
      greatest(col("_a"), col("_b")).as("_v")).distinct()
    var deg: DataFrame = null
    for (_ <- 1 to rounds) {
      deg = live.select(explode(array(col("_u"), col("_v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .filter(col("degree") >= k)
      val keep = broadcast(deg.select("node"))
      live = live
        .join(keep.select(col("node").as("_u")), Seq("_u"), "left_semi")
        .join(keep.select(col("node").as("_v")), Seq("_v"), "left_semi")
    }
    // survivors' degree AFTER the last deletion round
    live.select(explode(array(col("_u"), col("_v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
  }

  /** Subtree aggregate over a hierarchy: for every node, the sum of
    * `valueCol` and the member count over its descendants AND itself
    * — the rollup query `WITH RECURSIVE` + join answers in one shot.
    * Values should be integer-quantized for engine-exact totals.
    * One closure build ([[ancestorClosure]]), one join to per-node
    * totals, one map-side-combinable agg. */
  def subtreeRollup(edges: DataFrame, childCol: String,
                    parentCol: String, nodeValues: DataFrame,
                    nodeCol: String, valueCol: String,
                    maxDepth: Int): DataFrame = {
    val withSelf = ancestorClosure(edges, childCol, parentCol, maxDepth)
      .unionByName(nodeValues.select(col(nodeCol).as("node"),
        col(nodeCol).as("anc")))
      .distinct()
    withSelf
      .join(nodeValues.select(col(nodeCol).as("node"),
        col(valueCol).as("_v")), Seq("node"))
      .groupBy(col("anc").as("node"))
      .agg(sum("_v").as("subtree_value"),
        count(lit(1)).as("n_members"))
  }

  /** HITS hubs & authorities (Kleinberg, public): `iters` synchronous
    * rounds of auth(v) = Σ hub(in-nbrs), hub(u) = Σ auth(out-nbrs) —
    * the bipartite-taste ranking PageRank's single score can't
    * express (who POINTS WELL vs who IS POINTED AT). Run in EXACT
    * INT64 arithmetic with hub₀ = 1 and normalization deferred to one
    * final division by the (exact) score totals — every intermediate
    * is an integer, so the result is order-free and engine-exact with
    * NO quantization step at all, unlike [[pageRank]]'s per-iteration
    * µ-quantized renormalize. The trade: unnormalized scores grow
    * like (d_max²)^iters, so the default 2 iterations tolerates max
    * degrees to ~40k; for deeper runs or denser graphs switch to the
    * pageRank posture (per-iteration quantized normalize) — the
    * scaladoc'd scale path, not a silent overflow.
    *
    * Scale shape: per round, one edge→score equi-join (scores always
    * hinted `broadcast`; past broadcast range, the object doc's confs
    * make it a shuffle join on the node key) and one
    * map-side-combinable sum per side. Totals are 1-row broadcasts;
    * nothing driver-side. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .filter(col("_src").isNotNull && col("_dst").isNotNull).distinct()
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst"))).distinct()
    var hub = nodes.select(col("node"), lit(1L).as("hub"))
    var auth = nodes.select(col("node"), lit(0L).as("auth"))
    for (_ <- 1 to iters) {
      auth = nodes.join(
          e.join(broadcast(hub.select(col("node").as("_src"), col("hub"))),
              Seq("_src"))
            .groupBy(col("_dst").as("node")).agg(sum("hub").as("_a")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("_a"), lit(0L)).as("auth"))
      hub = nodes.join(
          e.join(broadcast(auth.select(col("node").as("_dst"), col("auth"))),
              Seq("_dst"))
            .groupBy(col("_src").as("node")).agg(sum("auth").as("_h")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("_h"), lit(0L)).as("hub"))
    }
    val tot = broadcast(auth.agg(sum("auth").as("_ta"))
      .crossJoin(hub.agg(sum("hub").as("_th"))))
    auth.join(hub, Seq("node")).crossJoin(tot)
      .select(col("node"),
        round(when(col("_ta") > 0,
          col("auth").cast("double") / col("_ta")).otherwise(0.0), 8)
          .as("authority"),
        round(when(col("_th") > 0,
          col("hub").cast("double") / col("_th")).otherwise(0.0), 8)
          .as("hub"))
  }

  /** Directed weighted modularity of a GIVEN community assignment:
    * per community c, the contribution
    * `q_term = w_cc/W − (out_c·in_c)/W²` and the global
    * `q_total = Σ q_term` — "did this partition actually cut the
    * graph along its density", the quality read that scores
    * [[labelPropagation]]'s (or any clustering's) output instead of
    * trusting it. Positive q_term: the community holds more of its
    * weight than a degree-preserving random rewire would give it.
    *
    * Exactness: w_cc, out_c, in_c, W are exact int64 sums; each term
    * is a fixed double expression over them (`out::DOUBLE·in/W/W`
    * divides twice rather than squaring W, so int overflow needs
    * W > ~3·10⁹ edge weight — documented bound, not a silent wrap).
    *
    * Scale shape: two key-equi joins tag edge endpoints with their
    * communities (broadcast when the node table is small,
    * co-partitioned otherwise), then one map-side-combinable agg per
    * community and one window over the BOUNDED community relation
    * for the total. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 wCol: Column, comms: DataFrame, nodeCol: String,
                 commCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cs = comms.select(col(nodeCol).as("_sn"), col(commCol).as("_sc"))
    val cd = comms.select(col(nodeCol).as("_dn"), col(commCol).as("_dc"))
    val tagged = edges
      .select(col(srcCol).as("_sn"), col(dstCol).as("_dn"),
        wCol.cast("long").as("_w"))
      .join(broadcast(cs), Seq("_sn")).join(broadcast(cd), Seq("_dn"))
    val tot = broadcast(tagged.agg(sum("_w").as("_tw")))
    val byComm =
      tagged.select(col("_sc").as("community"), col("_dc"), col("_w"))
        .groupBy("community")
        .agg(sum(when(col("_dc") === col("community"), col("_w"))
          .otherwise(0L)).as("w_within"), sum("_w").as("w_out"))
    val inW = tagged.groupBy(col("_dc").as("community"))
      .agg(sum("_w").as("w_in"))
    val term = col("w_within").cast("double") / col("_tw") -
      col("w_out").cast("double") * col("w_in") / col("_tw") / col("_tw")
    val wAll = Window.partitionBy(lit(1))
    byComm.join(inW, Seq("community"), "full")
      .select(col("community"),
        coalesce(col("w_within"), lit(0L)).as("w_within"),
        coalesce(col("w_out"), lit(0L)).as("w_out"),
        coalesce(col("w_in"), lit(0L)).as("w_in"))
      .crossJoin(tot)
      .withColumn("q_term", term)
      // ×10⁹-quantized int64 total (the stationaryDist recipe): both
      // engines add the same integers in any order
      .withColumn("q_total", round(
        sum(floor(col("q_term") * 1e9 + lit(0.5)).cast("long")).over(wAll)
          .cast("double") / 1e9, 6))
      .withColumn("q_term", round(col("q_term"), 6))
      .drop("_tw")
  }

  /** Local clustering coefficient per node: 2·T_v / (d_v(d_v−1))
    * over the deduped undirected graph — how interconnected each
    * node's NEIGHBORHOOD is (the per-node read behind the global
    * transitivity number; hubs with low LCC are brokers, high-LCC
    * nodes sit inside communities). Rides [[triangleCounts]]'
    * skew-proof degree-ordered orientation (a hub is never a wedge
    * apex, so wedge volume stays O(m^1.5)); nodes below degree 2
    * have no defined coefficient and are dropped.
    *
    * Determinism: triangles and degrees are integer counts; the one
    * division per node runs on identical operands. */
  def localClustering(edges: DataFrame, srcCol: String,
                      dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).as("_a"), col(dstCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
    val und = raw.select(least(col("_a"), col("_b")).as("_u"),
      greatest(col("_a"), col("_b")).as("_v")).distinct()
    val deg = und.select(explode(array(col("_u"), col("_v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(triangleCounts(edges, srcCol, dstCol), Seq("node"),
        "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
          (col("degree") * (col("degree") - 1)), 6).as("lcc"))
  }

  /** Global transitivity: 3·triangles / wedges (= Σ C(d,2)) — the
    * one-number "how cliquish is this graph" companion to
    * [[localClustering]]'s per-node read (transitivity weights hubs
    * by their wedge count; the mean LCC weights nodes equally —
    * reading both catches hub/periphery asymmetry). All-integer
    * until the single division.
    *
    * Scale shape: triangle counting's O(m^1.5) pipeline reduced to
    * one row; wedges are a map-side Σ over the degree table. */
  def transitivity(edges: DataFrame, srcCol: String,
                   dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).as("_a"), col(dstCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
    val und = raw.select(least(col("_a"), col("_b")).as("_u"),
      greatest(col("_a"), col("_b")).as("_v")).distinct()
    val deg = und.select(explode(array(col("_u"), col("_v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("_dg"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(_dg) div 2").as("n_edges"),
      sum(expr("(_dg * (_dg - 1)) div 2")).as("n_wedges"))
    // global triangle count: Σ per-node counts / 3 (each triangle
    // credits all three corners)
    val tri = broadcast(triangleCounts(edges, srcCol, dstCol)
      .agg(coalesce(expr("sum(n_triangles) div 3"), lit(0L))
        .as("n_triangles")))
    stats.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(when(col("n_wedges") > 0,
          (col("n_triangles") * 3).cast("double") / col("n_wedges")), 6)
          .as("transitivity"))
  }

  /** Degree assortativity: the Pearson correlation of endpoint
    * degrees across (both orientations of) the undirected edges —
    * positive when hubs link to hubs (social nets), negative when
    * hubs fan out to leaves (infrastructure; most engineered
    * graphs). The one-number wiring-pattern read next to
    * [[modularity]]'s community read.
    *
    * Determinism: degrees are int64 and the Pearson assembles from
    * exact decimal cross-products (q93's form) meeting in one
    * division of identical operands; NULL when either variance
    * vanishes (regular graphs). */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).as("_a"), col(dstCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
    val und = raw.select(least(col("_a"), col("_b")).as("_u"),
      greatest(col("_a"), col("_b")).as("_v")).distinct()
    val deg = und.select(explode(array(col("_u"), col("_v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("_dg"))
    val sym = und.select(col("_u").as("_x"), col("_v").as("_y"))
      .union(und.select(col("_v"), col("_u")))
    val p = sym
      .join(deg.select(col("node").as("_x"), col("_dg").as("_dx")), Seq("_x"))
      .join(deg.select(col("node").as("_y"), col("_dg").as("_dy")), Seq("_y"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val agg = p.agg(count(lit(1)).as("_m"),
      sum("_dx").as("_sx"), sum("_dy").as("_sy"),
      sum(d(col("_dx")) * col("_dy")).as("_sxy"),
      sum(d(col("_dx")) * col("_dx")).as("_sxx"),
      sum(d(col("_dy")) * col("_dy")).as("_syy"))
    val num = (d(col("_m")) * col("_sxy") -
      d(col("_sx")) * col("_sy")).cast("double")
    val vx = (d(col("_m")) * col("_sxx") -
      d(col("_sx")) * col("_sx")).cast("double")
    val vy = (d(col("_m")) * col("_syy") -
      d(col("_sy")) * col("_sy")).cast("double")
    agg.select(expr("_m div 2").as("n_edges"),
      round(when(vx > 0 && vy > 0, num / sqrt(vx * vy)), 6)
        .as("assortativity"))
  }

  /** Per-edge triangle support over a canonical undirected edge set:
    * the [[triangleCounts]] degree-ordered wedge pipeline with each
    * triangle credited to its THREE edges instead of its three
    * nodes. O(m^1.5) bounded under skew (same orientation argument);
    * edges in no triangle get no row. */
  private def edgeSupport(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("_u"), col("_v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("_dg"))
    val dd = und
      .join(deg.select(col("node").as("_u"), col("_dg").as("_du")),
        Seq("_u"))
      .join(deg.select(col("node").as("_v"), col("_dg").as("_dv")),
        Seq("_v"))
    val uLower = (col("_du") < col("_dv")) ||
      (col("_du") === col("_dv") && col("_u") < col("_v"))
    val o = dd.select(
      when(uLower, col("_u")).otherwise(col("_v")).as("x"),
      when(uLower, col("_v")).otherwise(col("_u")).as("y"),
      when(uLower, col("_dv")).otherwise(col("_du")).as("_dy"))
    val w = o.select(col("x"), col("y").as("_y1"), col("_dy").as("_d1"))
      .join(o.select(col("x"), col("y").as("_y2"), col("_dy").as("_d2")),
        Seq("x"))
      .filter(col("_d1") < col("_d2") ||
        (col("_d1") === col("_d2") && col("_y1") < col("_y2")))
    val tris = w.join(
      o.select(col("x").as("_y1"), col("y").as("_y2")), Seq("_y1", "_y2"))
    tris.select(explode(array(
        struct(least(col("x"), col("_y1")).as("u"),
          greatest(col("x"), col("_y1")).as("v")),
        struct(least(col("x"), col("_y2")).as("u"),
          greatest(col("x"), col("_y2")).as("v")),
        struct(least(col("_y1"), col("_y2")).as("u"),
          greatest(col("_y1"), col("_y2")).as("v")))).as("_e"))
      .select(col("_e.u").as("_u"), col("_e.v").as("_v"))
      .groupBy("_u", "_v").agg(count(lit(1)).as("support"))
  }

  /** Fixed-round k-truss peeling: keep only edges participating in
    * ≥ k−2 triangles, recompute, repeat — the EDGE-level cohesion
    * ladder above [[kCore]]'s node degrees (a k-truss is the classic
    * community core: every edge has k−2 common neighbors, so weak
    * bridges fall away even between high-degree nodes). `rounds`
    * synchronous peels, like [[kCore]]: enough rounds reach the
    * fixpoint; the registered query documents its round count.
    * Returns surviving edges with their support in the FINAL graph
    * (an edge that just fell out of all triangles reports 0 — it
    * would leave next round).
    *
    * Integer-only, partitioning-independent. Scale shape: each round
    * is one [[edgeSupport]] pass (degree-ordered wedge join, wedge
    * volume O(m^1.5) under skew) plus one semi-join of the live edge
    * set — no node state, no global structures. The live edge set is
    * eagerly local-checkpointed between rounds (the [[DedupClusters]]
    * iteration posture): without it round r's wedge join re-derives
    * rounds 1..r−1 from the raw scan, turning R rounds into O(R²)
    * recomputed stages — measured 7.5 s → ~3 s at rounds=2 on the
    * bench graph. Checkpoint blocks are reclaimed by the
    * ContextCleaner once the result is consumed (memory-pressure
    * only, never correctness — see [[DedupClusters.release]]). */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
             k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1)
    val raw = edges.select(col(srcCol).as("_a"), col(dstCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
    var live = raw.select(least(col("_a"), col("_b")).as("_u"),
      greatest(col("_a"), col("_b")).as("_v")).distinct()
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = edgeSupport(live).filter(col("support") >= k - 2)
      live = live.join(keep, Seq("_u", "_v"), "left_semi")
        .localCheckpoint(true)
    }
    live.join(edgeSupport(live), Seq("_u", "_v"), "left")
      .select(col("_u").as("u"), col("_v").as("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Link prediction by resource allocation: for every NON-adjacent
    * pair (u,v) sharing at least one neighbor, RA = Σ_{z∈N(u)∩N(v)}
    * 1/deg(z) (Zhou et al. 2009) plus the common-neighbor count and
    * neighborhood Jaccard cn/(deg(u)+deg(v)−cn) — "which edges are
    * most likely missing", the recommendation/graph-completion read
    * [[triangleCounts]]' closed-triangle census doesn't give.
    * Returns the top `topK` pairs.
    *
    * Wedges route only through hubs with deg(z) ≤ `maxDegree` — the
    * skew guard AND a principled score filter in one: a hub's RA
    * contribution is ≤ 1/maxDegree per pair while its wedge fan-out
    * is quadratic, so capping bounds the pair stage at
    * O(Σ_z min(deg,cap)²) without moving any competitive score.
    * Jaccard uses FULL (uncapped) degrees.
    *
    * Determinism: each z's contribution rides as the exact int64
    * `floor(1e12/deg + ½)` (one IEEE division + floor — identical on
    * any engine; no libm log like Adamic–Adar would need), so the RA
    * sum is order-free and the (ra, u, v) ordering of the top-k is
    * total. cn and Jaccard are integer-exact until one division.
    *
    * Returns (u, v, common_neighbors, jaccard, ra_score).
    *
    * Scale shape: the z-keyed self-join is the [[triangleCounts]]
    * cost class with the cap making per-z fan-out constant-bounded;
    * the candidate table reduces on (u,v) map-side; existing edges
    * leave via one left-anti join; the final top-k is a
    * TakeOrderedAndProject, never a global sort materialization. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     maxDegree: Int = 64, topK: Int = 50): DataFrame = {
    require(maxDegree >= 2 && topK >= 1)
    val raw = edges.select(col(srcCol).as("_a"), col(dstCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
    val und = raw.select(least(col("_a"), col("_b")).as("_u"),
      greatest(col("_a"), col("_b")).as("_v")).distinct()
    val adj = und.select(col("_u").as("_z"), col("_v").as("_nb"))
      .union(und.select(col("_v"), col("_u")))
    val deg = adj.groupBy(col("_z")).agg(count(lit(1)).as("_dg"))
    val zn = adj.join(deg.filter(col("_dg") <= maxDegree), Seq("_z"))
      .select(col("_z"), col("_nb"),
        floor(lit(1e12) / col("_dg") + lit(0.5)).cast("long").as("_raq"))
    val cand = zn.select(col("_z"), col("_nb").as("u"), col("_raq"))
      .join(zn.select(col("_z"), col("_nb").as("v")), Seq("_z"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"), sum("_raq").as("_ra"))
      .join(und.select(col("_u").as("u"), col("_v").as("v")),
        Seq("u", "v"), "left_anti")
    cand
      .join(deg.select(col("_z").as("u"), col("_dg").as("_du")), Seq("u"))
      .join(deg.select(col("_z").as("v"), col("_dg").as("_dv")), Seq("v"))
      .orderBy(col("_ra").desc, col("u"), col("v"))
      .limit(topK)
      .select(col("u"), col("v"), col("common_neighbors"),
        round(col("common_neighbors").cast("double") /
          (col("_du") + col("_dv") - col("common_neighbors"))
            .cast("double"), 6).as("jaccard"),
        round(col("_ra").cast("double") / 1e12, 6).as("ra_score"))
  }

  /** Full core DECOMPOSITION — every node's coreness number in one
    * pass, where [[kCore]] answers only membership at a single k.
    * Uses the h-index fixpoint (Lü et al. 2016, Nature Physics 12):
    * start at value(v) = deg(v); each round value(v) ← H-index of
    * its neighbors' values (the largest h with ≥ h neighbors of
    * value ≥ h). Values fall monotonically and the fixpoint IS the
    * coreness; a fixed round count is the documented truncation
    * (the [[kCore]]/[[kTruss]] contract), so the result is a
    * monotone UPPER bound that equals coreness wherever the graph's
    * peeling depth ≤ rounds. Returns (node, coreness).
    *
    * Integer-only, partitioning-independent (the H-index is an
    * order statistic — ties don't matter: min(value, rank) is
    * invariant under permuting equal values). Scale shape: each
    * round is one values ⋈ adjacency join (values is nodes-sized,
    * always hinted `broadcast`; past broadcast range, set the object
    * doc's confs) plus ONE shuffle on node for the
    * rank window; per-node work is its degree, total Σdeg = 2m per
    * round, hub skew bounded by the max-degree partition exactly
    * like any degree histogram. */
  def coreness(edges: DataFrame, aCol: String, bCol: String,
               rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1)
    val raw = edges.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
    val und = raw.select(least(col("_a"), col("_b")).as("_u"),
      greatest(col("_a"), col("_b")).as("_v")).distinct()
    val adj = und.select(col("_u").as("node"), col("_v").as("nb"))
      .union(und.select(col("_v"), col("_u")))
    var vals = adj.groupBy("node").agg(count(lit(1)).as("value"))
    for (_ <- 1 to rounds) {
      val nbv = adj.join(
        broadcast(vals).select(col("node").as("nb"), col("value").as("_nv")), Seq("nb"))
      val w = Window.partitionBy("node")
        .orderBy(col("_nv").desc, col("nb"))
      vals = nbv
        .select(col("node"), col("_nv"),
          row_number().over(w).cast("long").as("_rn"))
        .groupBy("node")
        .agg(max(least(col("_nv"), col("_rn"))).as("value"))
    }
    vals.select(col("node"), col("value").as("coreness"))
  }

  /** Harmonic centrality from a SEED SAMPLE: for every reachable
    * node v, Σ_{s ∈ seeds, s ≠ v, d(s,v) ≤ maxDepth} 1/d(s,v) —
    * the standard scalable estimator (Boldi & Vigna 2014: sampled
    * sources unbiasedly estimate centrality up to the sample rate;
    * exact all-pairs BFS is O(nm) and never runs at scale). Returns
    * (node, n_reached, harmonic) over the sampled sources.
    *
    * The BFS keeps the seed DIMENSION ((seed, node, dist) rows)
    * where [[bfsDistances]] collapses to the min over the whole
    * seed set — per-seed distances are what the 1/d sum needs.
    * Each 1/d contribution rides as the exact int64 floor(10⁶/d)
    * (small-int division — identical on any engine), so the sum is
    * order-free; one rounded division at the end.
    *
    * Scale shape: state is ≤ |seeds|·reached rows — the sample rate
    * is the knob that keeps it linear in nodes; per round one
    * frontier ⋈ edges join (frontier always hinted `broadcast`; past
    * broadcast range, set the object doc's confs) and a
    * map-side-combinable integer min. One lazy plan. */
  def harmonicCentrality(edges: DataFrame, srcCol: String,
                         dstCol: String, seeds: DataFrame,
                         seedCol: String, maxDepth: Int,
                         directed: Boolean = false): DataFrame = {
    require(maxDepth >= 1)
    val e0 = edges.select(col(srcCol).as("_u"), col(dstCol).as("_v"))
      .filter(col("_u").isNotNull && col("_v").isNotNull)
    val sym = (if (directed) e0
               else e0.unionByName(e0.select(col("_v").as("_u"),
                 col("_u").as("_v")))).distinct()
    var dist = seeds.select(col(seedCol).as("seed")).distinct()
      .filter(col("seed").isNotNull)
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
    for (d <- 1 to maxDepth) {
      val frontier = dist.filter(col("dist") === (d - 1).toLong)
        .select(col("seed"), col("node").as("_u"))
      dist = dist.unionByName(
          sym.join(broadcast(frontier), Seq("_u"))
            .select(col("seed"), col("_v").as("node"),
              lit(d.toLong).as("dist")))
        .groupBy("seed", "node").agg(min("dist").as("dist"))
    }
    dist.filter(col("dist") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reached"),
        sum(floor(lit(1000000.0) / col("dist")).cast("long")).as("_h"))
      .select(col("node"), col("n_reached"),
        round(col("_h").cast("double") / 1e6, 6).as("harmonic"))
  }

  /** Sampled-source betweenness centrality (Brandes 1 iteration per
    * seed, the standard estimator — exact all-pairs Brandes is
    * O(nm) and never runs at scale): per seed a BFS computes
    * shortest-path counts σ level by level, then dependencies
    * back-propagate δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w))
    * down the levels; betweenness(v) = Σ_seeds δ_s(v) — WHO BROKERS
    * the graph's shortest paths, the load-bearing-node read that no
    * degree or closeness rank gives. `maxDepth` bounds both passes
    * (the [[bfsDistances]] truncation contract: paths longer than
    * maxDepth don't contribute).
    *
    * Determinism: σ is an exact integer fold; each δ edge
    * contribution rides as floor(σ_v/σ_w · (10⁹ + δq_w) + ½) — one
    * fixed double expression over exact ints, quantized to int64
    * BEFORE the per-node sum, so back-propagation is order-free
    * (the [[pageRank]] quantized-contribution rule, applied to
    * Brandes' dependency accumulation).
    *
    * Returns (node, n_seed_paths, betweenness) over nodes with
    * positive dependency (levels 1..maxDepth−1; seeds excluded per
    * Brandes).
    *
    * Scale shape: forward = maxDepth frontier ⋈ edges joins with an
    * anti-join against the seen set (all keyed (seed, node) — the
    * seed sample rate bounds state exactly as in
    * [[harmonicCentrality]]); backward = maxDepth−1 level ⋈ edges ⋈
    * level joins + integer sums; the level sides are always hinted
    * `broadcast` (past broadcast range, set the object doc's confs).
    * Every level is checkpointed eagerly, so the call itself runs
    * 2·maxDepth − 1 checkpoint jobs and the returned plan reads them. */
  def betweennessSampled(edges: DataFrame, srcCol: String,
                         dstCol: String, seeds: DataFrame,
                         seedCol: String, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 2)
    val e0 = edges.select(col(srcCol).as("_u"), col(dstCol).as("_v"))
      .filter(col("_u").isNotNull && col("_v").isNotNull)
    val sym = e0.unionByName(e0.select(col("_v").as("_u"),
      col("_u").as("_v"))).distinct()
    val l0 = seeds.select(col(seedCol).as("seed")).distinct()
      .filter(col("seed").isNotNull)
      .select(col("seed"), col("seed").as("node"), lit(1L).as("sigma"))
    var levels = Vector(l0)
    var seen = l0.select("seed", "node")
    for (_ <- 1 to maxDepth) {
      val prev = broadcast(levels.last)
      // eager checkpoint per level (the kTruss posture): the backward
      // pass re-reads every level twice; without truncation each read
      // re-derives the whole forward lineage
      val nxt = sym
        .join(prev.select(col("seed"), col("node").as("_u"), col("sigma")),
          Seq("_u"))
        .select(col("seed"), col("_v").as("node"), col("sigma"))
        .join(seen, Seq("seed", "node"), "left_anti")
        .groupBy("seed", "node").agg(sum("sigma").as("sigma"))
        .localCheckpoint(true)
      levels = levels :+ nxt
      seen = seen.unionByName(nxt.select("seed", "node"))
    }
    // backward dependency accumulation, deepest level first
    var delta = levels(maxDepth)
      .select(col("seed"), col("node"), lit(0L).as("_dq"))
    val perLevel = (maxDepth - 1 to 1 by -1).map { l =>
      val wSide = levels(l + 1)
        .join(delta, Seq("seed", "node"), "left")
        .select(col("seed"), col("node").as("_v"),
          col("sigma").as("_sw"), coalesce(col("_dq"), lit(0L)).as("_dw"))
      val dl = levels(l)
        .select(col("seed"), col("node").as("_u"), col("sigma").as("_sv"))
        .join(sym, Seq("_u"))
        .join(broadcast(wSide), Seq("seed", "_v"))
        .select(col("seed"), col("_u").as("node"),
          floor(col("_sv").cast("double") / col("_sw") *
            (lit(1000000000L) + col("_dw")) + lit(0.5))
            .cast("long").as("_c"))
        .groupBy("seed", "node").agg(sum("_c").as("_dq"))
        .localCheckpoint(true)
      delta = dl
      dl
    }
    perLevel.reduce(_.unionByName(_))
      .groupBy("node")
      .agg(countDistinct(col("seed")).as("n_seed_paths"),
        sum("_dq").as("_b"))
      .filter(col("_b") > 0)
      .select(col("node"), col("n_seed_paths"),
        round(col("_b").cast("double") / 1e9, 6).as("betweenness"))
  }

  /** Personalized (topic-sensitive) PageRank: [[pageRank]] with the
    * teleport mass restricted to a SEED set — "importance as seen
    * from these users/pages", the recommendation/trust-propagation
    * read global PageRank can't give (Haveliwala 2002). Same
    * fixed-iteration, quantized-contribution machinery: r₀ = 1/|S|
    * on seeds; rᵢ₊₁(v) = (1−d)·tele(v) + d·Σ_{u→v} rᵢ(u)/outdeg(u)
    * with tele = 1/|S| on seeds, 0 elsewhere. Unreached nodes hold
    * rank exactly 0.
    *
    * Engine-exact for the [[pageRank]] reasons: every distributed
    * sum is over int64-quantized edge contributions.
    *
    * Returns (node, rank) over all nodes.
    *
    * Scale shape: identical to [[pageRank]] — per iteration one
    * (rank ⋈ edges) join + one dst-keyed integer sum, rank table
    * nodes-sized and always hinted `broadcast` (past broadcast range,
    * set the object doc's confs). */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iters: Int = 3,
                           damping: Double = 0.85,
                           quantScale: Long = 1000000000L): DataFrame = {
    require(iters >= 0 && damping > 0 && damping < 1 && quantScale >= 1)
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .filter(col("_src").isNotNull && col("_dst").isNotNull).distinct()
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst"))).distinct()
    val sd = seeds.select(col(seedCol).as("node")).distinct()
      .filter(col("node").isNotNull)
    val ns = broadcast(sd.agg(count(lit(1)).as("_ns")))
    val tele = nodes
      .join(sd.withColumn("_isSeed", lit(1)), Seq("node"), "left")
      .crossJoin(ns)
      .select(col("node"),
        when(col("_isSeed").isNotNull, lit(1.0) / col("_ns"))
          .otherwise(lit(0.0)).as("_tele"))
    val outdeg = e.groupBy(col("_src")).agg(count(lit(1)).as("_outdeg"))
    var ranks = tele.select(col("node"), col("_tele").as("rank"))
    for (_ <- 1 to iters) {
      val sums = e
        .join(broadcast(ranks).select(col("node").as("_src"), col("rank")),
          Seq("_src"))
        .join(broadcast(outdeg), Seq("_src"))
        .select(col("_dst").as("node"),
          floor(col("rank") / col("_outdeg") * lit(quantScale.toDouble) +
            lit(0.5)).as("_qc"))
        .groupBy("node").agg(sum("_qc").as("_s"))
      ranks = tele.join(sums, Seq("node"), "left")
        .select(col("node"),
          ((lit(1.0) - lit(damping)) * col("_tele") + lit(damping) *
            (coalesce(col("_s"), lit(0L)).cast("double") /
              lit(quantScale.toDouble))).as("rank"))
    }
    ranks.select(col("node"), round(col("rank"), 8).as("rank"))
  }

  /** Per-seed BFS distance profile: reach and eccentricity within
    * `maxDepth` hops for each sampled source — max over the seeds is
    * the standard lower-bound diameter estimate, and a seed whose
    * n_reached is far below its peers sits in a fragment
    * ([[harmonicCentrality]]'s BFS, read per SEED instead of per
    * node). Returns (seed, n_reached, eccentricity). Integer-only.
    * The frontier is always hinted `broadcast`; past broadcast range,
    * set the object doc's confs. */
  def seedDistanceProfile(edges: DataFrame, srcCol: String,
                          dstCol: String, seeds: DataFrame,
                          seedCol: String, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1)
    val e0 = edges.select(col(srcCol).as("_u"), col(dstCol).as("_v"))
      .filter(col("_u").isNotNull && col("_v").isNotNull)
    val sym = e0.unionByName(e0.select(col("_v").as("_u"),
      col("_u").as("_v"))).distinct()
    var dist = seeds.select(col(seedCol).as("seed")).distinct()
      .filter(col("seed").isNotNull)
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
    for (d <- 1 to maxDepth) {
      val frontier = dist.filter(col("dist") === (d - 1).toLong)
        .select(col("seed"), col("node").as("_u"))
      dist = dist.unionByName(
          sym.join(broadcast(frontier), Seq("_u"))
            .select(col("seed"), col("_v").as("node"),
              lit(d.toLong).as("dist")))
        .groupBy("seed", "node").agg(min("dist").as("dist"))
    }
    dist.filter(col("dist") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        max("dist").as("eccentricity"))
  }

  /** Per-community conductance — the cut-quality score that grades a
    * partition (e.g. [[labelPropagation]]'s): for community S,
    * φ(S) = cut(S) / min(vol(S), 2m − vol(S)), where cut = edges
    * with exactly one endpoint in S and vol = Σ_{v∈S} deg(v). The
    * standard community-validity read ([[modularity]] scores the
    * whole partition; conductance ranks each community, surfacing
    * the leaky ones). Unlabeled endpoints count toward cut and
    * global volume but form no community. Returns
    * (label, n_nodes, volume, cut_edges, conductance) — integer
    * counts, one rounded division.
    *
    * Scale shape: two joins of the nodes-sized label map onto the
    * edge list, always hinted `broadcast` (past broadcast range, set
    * the object doc's confs), then map-side-combinable integer sums
    * per label; 2m rides as a broadcast 1-row total. No iteration. */
  def communityConductance(edges: DataFrame, aCol: String, bCol: String,
                           labels: DataFrame, nodeCol: String,
                           labelCol: String): DataFrame = {
    val raw = edges.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
    val und = raw.select(least(col("_a"), col("_b")).as("_u"),
      greatest(col("_a"), col("_b")).as("_v")).distinct()
    val lab0 = labels.select(col(nodeCol).as("node"),
      col(labelCol).as("_lab"))
    val lab = broadcast(lab0)
    val e2 = und
      .join(lab.select(col("node").as("_u"), col("_lab").as("_lu")),
        Seq("_u"), "left")
      .join(lab.select(col("node").as("_v"), col("_lab").as("_lv")),
        Seq("_v"), "left")
    val twoM = und.agg((count(lit(1)) * 2).as("_2m"))
    // volume: every edge endpoint credits its community once
    val vol = e2.select(explode(array(col("_lu"), col("_lv"))).as("label"))
      .filter(col("label").isNotNull)
      .groupBy("label").agg(count(lit(1)).as("volume"))
    // cut: an edge whose endpoint labels differ (or one is unlabeled)
    // counts once for EACH labeled side
    val cut = e2.filter(!(col("_lu") <=> col("_lv")))
      .select(explode(array(col("_lu"), col("_lv"))).as("label"))
      .filter(col("label").isNotNull)
      .groupBy("label").agg(count(lit(1)).as("cut_edges"))
    val nNodes = lab0.groupBy(col("_lab").as("label"))
      .agg(count(lit(1)).as("n_nodes"))
    vol
      .join(cut, Seq("label"), "left")
      .join(nNodes, Seq("label"), "left")
      .crossJoin(broadcast(twoM))
      .select(col("label"), col("n_nodes"), col("volume"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
        // a community holding every edge end (min vol term 0) has
        // undefined conductance — NULL, not a division artifact
        when(least(col("volume"), col("_2m") - col("volume")) === 0,
          lit(null).cast("double"))
          .otherwise(round(
            coalesce(col("cut_edges"), lit(0L)).cast("double") /
              least(col("volume"), col("_2m") - col("volume"))
                .cast("double"), 6)).as("conductance"))
  }
}
