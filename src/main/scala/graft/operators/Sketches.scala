package graft.operators

import graft.functions.HashFunctions.md5Long
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Probabilistic sketches composed from relational primitives.
  *
  * [[hllDistinct]] is a HyperLogLog distinct-count estimator built
  * entirely from md5 + integer/bit expressions, so — unlike
  * `approx_count_distinct` (whose HLL++ registers are engine-private)
  * — the *estimate itself* is bit-reproducible by the DuckDB oracle:
  * both engines compute the identical register table and the
  * identical harmonic mean.
  *
  * Scale shape: one shuffle of (bucket → max rho) with map-side
  * partial max — 256 groups regardless of input size; the estimate is
  * a single-row reduction. Exactly the register-merge structure a
  * distributed HLL needs (registers are max-mergeable), expressed
  * declaratively.
  */
object Sketches {

  /** HLL with m = 256 buckets (p = 8) over an expression.
    * Returns one row: (est_distinct, exact_distinct) — the exact
    * count rides along for error inspection; drop it at true scale.
    * alpha_256 = 0.7213/(1 + 1.079/256), truncated to a shared
    * literal so both engines use the same constant. */
  def hllDistinct(rows: DataFrame, valueCol: String): DataFrame = {
    val h = md5Long(col(valueCol))
    // NULL values carry no distinct-count information; unfiltered they
    // would produce a phantom NULL-bucket register and bias zeros/zsum
    val hashed = rows.where(col(valueCol).isNotNull)
      .select(h.as("h"), col(valueCol).as("v"))
    // The hash partitions values across buckets, so the global exact
    // distinct count is the SUM of per-bucket distinct counts — it
    // rides the register aggregation instead of forcing a second scan
    // of the token stream (the round-1 plan read the input twice).
    val regs = hashed
      .select((col("h").bitwiseAND(lit(255L))).as("bucket"), col("v"),
        when(expr("shiftright(h, 8)") > 0,
          lit(53) - length(bin(expr("shiftright(h, 8)")))).otherwise(lit(53)).as("rho"))
      .groupBy("bucket").agg(max("rho").as("mj"), countDistinct(col("v")).as("ed"))
    // coalesce: an empty input has no register rows — zsum degrades to
    // 256 empty registers and the linear-counting branch yields 0, the
    // right answer, instead of a NULL row
    val z = regs.agg(
      (coalesce(sum(pow(lit(2.0), -col("mj"))), lit(0.0)) +
        (lit(256) - count(lit(1)))).as("zsum"),
      (lit(256) - count(lit(1))).as("zeros"),
      coalesce(sum(col("ed")), lit(0L)).as("exact_distinct"))
    val raw = lit(0.718272) * lit(65536.0) / col("zsum")
    // linear-counting small-range correction (standard HLL): below
    // 2.5·m with empty registers, m·ln(m/V) is the better estimator
    val corrected = when(raw <= 640.0 && col("zeros") > 0,
      lit(256.0) * log(lit(256.0) / col("zeros"))).otherwise(raw)
    z.select(
      round(corrected, 4).as("est_distinct"),
      col("exact_distinct"))
  }

  /** Corpus-level distinct-token estimate over a documents table. */
  def hllDistinctTokens(docs: DataFrame, textCol: String = "text"): DataFrame =
    hllDistinct(
      docs.select(explode(tokens(col(textCol))).as("term")), "term")

  /** Set-OVERLAP estimate between two relations' value sets —
    * |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B) (inclusion–exclusion) —
    * the corpus-overlap / audience-intersection diagnostic. The key
    * property doing the work: HLL registers are MAX-mergeable, so
    * est(A ∪ B) comes from `greatest` of the two register tables —
    * no third scan over A∪B, no shuffle beyond each side's own
    * 256-group register aggregation. At 100 TB each corpus publishes
    * its 256-byte register table once; every pairwise overlap after
    * that is a 256-row join.
    *
    * All three estimates use the exact-integer register fold
    * (S = Σ 2^(53−mj), the [[graft.plans.HllAgg]] formulation) — an
    * order-free BIGINT sum, so the estimates and the composed overlap
    * are bit-reproducible by the SQL oracle. Each estimate is rounded
    * to 4 decimals BEFORE the inclusion–exclusion arithmetic so the
    * composite stays on identical operands in every engine. Overlap
    * clamps at 0: with ~2%/√m relative error per estimate the
    * difference can dip negative on disjoint sets. */
  def hllOverlap(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    def regs(df: DataFrame, name: String): DataFrame =
      df.where(col(valueCol).isNotNull)
        .select(md5Long(col(valueCol).cast("string")).as("h"))
        .select(col("h").bitwiseAND(lit(255L)).as("bucket"),
          when(expr("shiftright(h, 8)") > 0,
            lit(53) - length(bin(expr("shiftright(h, 8)")))).otherwise(lit(53))
            .as("rho"))
        .groupBy("bucket").agg(max("rho").as(name))
    // full-outer register merge: a bucket absent on one side is that
    // side's zero register; absent from BOTH sides it is absent here
    // and accounted via (256 - count) below
    val merged = regs(a, "ma").join(regs(b, "mb"), Seq("bucket"), "full_outer")
      .withColumn("mu",
        greatest(coalesce(col("ma"), lit(0L)), coalesce(col("mb"), lit(0L))))
    def sAndZeros(mj: String): Seq[org.apache.spark.sql.Column] = Seq(
      (coalesce(sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(53 - $mj AS INT))")),
        lit(0L)) +
        (lit(256L) - count(col(mj))) * lit(1L << 53)).as(s"_s_$mj"),
      (lit(256L) - count(col(mj))).as(s"_z_$mj"))
    val z = merged.agg(
      (sAndZeros("ma") ++ sAndZeros("mb") ++ sAndZeros("mu")).head,
      (sAndZeros("ma") ++ sAndZeros("mb") ++ sAndZeros("mu")).tail: _*)
    def est(mj: String): org.apache.spark.sql.Column = {
      // literal order mirrors HllAgg.eval and the q46 oracle SQL
      val raw = lit(0.718272) * lit(65536.0) * lit(9007199254740992.0) /
        col(s"_s_$mj").cast("double")
      round(when(raw <= 640.0 && col(s"_z_$mj") > 0,
        lit(256.0) * log(lit(256.0) / col(s"_z_$mj"))).otherwise(raw), 4)
    }
    z.select(est("ma").as("est_a"), est("mb").as("est_b"),
        est("mu").as("est_union"))
      .select(col("est_a"), col("est_b"), col("est_union"),
        round(greatest(col("est_a") + col("est_b") - col("est_union"),
          lit(0.0)), 4).as("est_overlap"))
  }

  /** Sketch-state retention: day-over-day returning-user estimates
    * derived ENTIRELY from per-day HLL register tables — the log is
    * scanned once to build (day, bucket, max-rho) state (at 100 TB
    * this is the daily sketch table a pipeline maintains
    * incrementally: registers are max-mergeable, so today's partial
    * just merges in), and every adjacent-day overlap then costs a
    * register self-join + inclusion–exclusion, with NO rescan. Exact
    * per-pair distinct-intersections (q135) are the audit path; this
    * is the unbounded-scale one (cf. [[hllOverlap]] for one global
    * pair).
    *
    * Returns (day, est_day, est_next, est_union, est_retained) for
    * each day whose successor has data. All estimates use the exact
    * integer register fold (q46 literal order), rounded to 4 BEFORE
    * inclusion–exclusion — oracle-replayable bit-for-bit. */
  def hllRetentionAdjacent(rows: DataFrame, dayCol: String,
                           valueCol: String): DataFrame = {
    val regs = rows
      .where(col(valueCol).isNotNull && col(dayCol).isNotNull)
      .select(col(dayCol).cast("long").as("d"),
        md5Long(col(valueCol).cast("string")).as("h"))
      .select(col("d"), col("h").bitwiseAND(lit(255L)).as("bucket"),
        when(expr("shiftright(h, 8)") > 0,
          lit(53) - length(bin(expr("shiftright(h, 8)")))).otherwise(lit(53))
          .as("rho"))
      .groupBy("d", "bucket").agg(max("rho").as("m"))
    val a = regs.select(col("d"), col("bucket"), col("m").as("ma"))
    val b = regs.select((col("d") - 1).as("d"), col("bucket"),
      col("m").as("mb"))
    val merged = a.join(b, Seq("d", "bucket"), "full_outer")
      .withColumn("mu",
        greatest(coalesce(col("ma"), lit(0L)), coalesce(col("mb"), lit(0L))))
    def sAndZeros(mj: String): Seq[org.apache.spark.sql.Column] = Seq(
      (coalesce(sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(53 - $mj AS INT))")),
        lit(0L)) +
        (lit(256L) - count(col(mj))) * lit(1L << 53)).as(s"_s_$mj"),
      (lit(256L) - count(col(mj))).as(s"_z_$mj"))
    val z = merged.groupBy("d").agg(
      (sAndZeros("ma") ++ sAndZeros("mb") ++ sAndZeros("mu")).head,
      (sAndZeros("ma") ++ sAndZeros("mb") ++ sAndZeros("mu")).tail: _*)
    def est(mj: String): org.apache.spark.sql.Column = {
      val raw = lit(0.718272) * lit(65536.0) * lit(9007199254740992.0) /
        col(s"_s_$mj").cast("double")
      round(when(raw <= 640.0 && col(s"_z_$mj") > 0,
        lit(256.0) * log(lit(256.0) / col(s"_z_$mj"))).otherwise(raw), 4)
    }
    z.filter(col("_z_ma") < 256 && col("_z_mb") < 256)
      .select(col("d").as("day"), est("ma").as("est_day"),
        est("mb").as("est_next"), est("mu").as("est_union"))
      .withColumn("est_retained",
        round(greatest(col("est_day") + col("est_next") - col("est_union"),
          lit(0.0)), 4))
  }

  /** Histogram-sketch quantiles: equi-width bucket counts over
    * [min, max], quantile read off the cumulative distribution with
    * linear interpolation inside the selected bucket.
    *
    * This is the mergeable scale path for percentiles: exact
    * `percentile` (q39) sorts every group's values; this sketch is
    * two scans (global min/max, then counts), state = `bins` longs —
    * mergeable by addition across partitions/batches, so it
    * distributes like HLL registers do. Error is bounded by the
    * bucket width ((max−min)/bins), the classic histogram trade.
    *
    * Every step is plain integer counting + a fixed-order double
    * expression, so unlike t-digest/GK (merge-order-dependent) the
    * result is bit-reproducible by the DuckDB oracle.
    *
    * @return one row per requested quantile: (q, est). */
  def histogramQuantiles(rows: DataFrame, valueCol: String,
                         bins: Int = 64,
                         qs: Seq[Double] = Seq(0.25, 0.5, 0.9, 0.99)): DataFrame = {
    require(bins >= 1 && qs.nonEmpty)
    val v = col(valueCol).cast("double")
    val bounds = broadcast(rows.agg(
      min(v).as("lo"), max(v).as("hi"), count(v).as("n")))
    // degenerate range (all values equal) collapses to bucket 0 — the
    // computed branch would divide by zero width
    val bucket = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor((col("v") - col("lo")) /
        ((col("hi") - col("lo")) / bins)).cast("long"), lit(bins - 1L)))
    // bounds are crossJoined ONCE and ride the bucket aggregation as
    // constant min-aggregates, so the whole operator reads the input
    // exactly twice (bounds agg + bucket counts) regardless of |qs| —
    // the prior per-quantile union re-executed both aggs per branch
    val bucketed = rows.select(v.as("v")).where(v.isNotNull).crossJoin(bounds)
      .select(bucket.as("bucket"), col("lo"), col("hi"), col("n"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"),
        min("lo").as("lo"), min("hi").as("hi"), min("n").as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bucketed
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("before", col("cum") - col("cnt"))
    // every quantile reads the SAME ≤bins-row cumulative table: explode
    // the literal quantile list against it, keep each q's first bucket
    // with cum ≥ q·n (row_number over a ≤bins-row relation — driver-
    // trivial), interpolate by the rank's position within the bucket
    val wq = Window.partitionBy("q").orderBy("bucket")
    cum.select(explode(array(qs.map(lit(_)): _*)).as("q"), col("bucket"),
        col("cnt"), col("before"), col("cum"), col("lo"), col("hi"), col("n"))
      .filter(col("cum") >= col("q") * col("n"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") === 1)
      .select(col("q"),
        round(col("lo") + ((col("hi") - col("lo")) / bins) *
          (col("bucket") + (col("q") * col("n") - col("before")) / col("cnt")), 6)
          .as("est"))
  }

  /** Grouped [[histogramQuantiles]]: per-group equi-width histogram
    * quantiles (the GROUP BY percentile workhorse — per-tenant /
    * per-event-type latency percentiles at corpus scale). Same
    * two-scans-total shape as the global operator; every window is
    * partitioned by the group columns, so nothing ever converges on
    * one partition. Group bounds join back always hinted `broadcast`
    * (bounded by the group-key cardinality — fine to ~10^7 groups at
    * 3 doubles/group); above that, set
    * `spark.sql.optimizer.disableHints=true` and
    * `spark.sql.autoBroadcastJoinThreshold=-1` on the session for a
    * plain shuffled equi-join: identical result, no driver collect,
    * one extra corpus shuffle on the group key. Spark 4.1.2 then logs
    * one expected `WARN HintErrorLogger: Unrecognized hint: broadcast()`
    * per dropped hint. */
  def histogramQuantilesBy(rows: DataFrame, valueCol: String,
                           groupCols: Seq[String], bins: Int = 64,
                           qs: Seq[Double] = Seq(0.25, 0.5, 0.9, 0.99)): DataFrame = {
    require(bins >= 1 && qs.nonEmpty && groupCols.nonEmpty)
    val v = col(valueCol).cast("double")
    val g = groupCols.map(col)
    val bounds = rows.groupBy(g: _*).agg(
      min(v).as("lo"), max(v).as("hi"), count(v).as("n"))
    val bucket = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor((col("v") - col("lo")) /
        ((col("hi") - col("lo")) / bins)).cast("long"), lit(bins - 1L)))
    val bucketed = rows.select((g :+ v.as("v")): _*).where(col("v").isNotNull)
      .join(broadcast(bounds), groupCols)
      .select((g :+ bucket.as("bucket") :+ col("lo") :+ col("hi") :+ col("n")): _*)
      .groupBy((g :+ col("bucket")): _*).agg(count(lit(1)).as("cnt"),
        min("lo").as("lo"), min("hi").as("hi"), min("n").as("n"))
    val w = Window.partitionBy(g: _*)
      .orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bucketed
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("before", col("cum") - col("cnt"))
    val wq = Window.partitionBy((g :+ col("q")): _*).orderBy("bucket")
    cum.select((g :+ explode(array(qs.map(lit(_)): _*)).as("q") :+ col("bucket") :+
        col("cnt") :+ col("before") :+ col("cum") :+ col("lo") :+ col("hi") :+ col("n")): _*)
      .filter(col("cum") >= col("q") * col("n"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") === 1)
      .select((g :+ col("q") :+
        round(col("lo") + ((col("hi") - col("lo")) / bins) *
          (col("bucket") + (col("q") * col("n") - col("before")) / col("cnt")), 6)
          .as("est")): _*)
  }

  /** Count-min sketch: `depth` independent hash rows × `width`
    * buckets of additive counters — frequency estimation in fixed
    * state (the heavy-hitters / token-frequency sketch of a training
    * corpus pipeline). Counters merge by addition across partitions
    * and corpus shards; estimates only ever over-count (collisions),
    * by ≤ εN with ε = e/width at the usual depth=ln(1/δ).
    *
    * Hashing reuses the MinHash 30-bit affine family
    * ([[graft.functions.HashFunctions]]): one md5 per value, depth
    * integer permutations — every bucket index (and therefore the
    * sketch itself) is bit-reproducible by the DuckDB oracle.
    *
    * @return (row, bucket, cnt) counter rows. */
  /** The (row, bucket) coordinate array for one value — the single
    * source of truth for the CM hash layout, shared by sketch build
    * and estimate lookup so the two can never drift. */
  private def cmBuckets(value: org.apache.spark.sql.Column,
                        depth: Int, width: Int): org.apache.spark.sql.Column = {
    require(depth >= 1 && depth <= graft.functions.HashFunctions.MinhashA.size &&
      width >= 1)
    val h = graft.functions.HashFunctions.baseHash30(value)
    array((0 until depth).map { i =>
      struct(lit(i).as("row"),
        (graft.functions.HashFunctions.affine(h, i) % width).as("bucket"))
    }: _*)
  }

  def countMin(rows: DataFrame, valueCol: String,
               depth: Int = 4, width: Int = 1024): DataFrame =
    rows.where(col(valueCol).isNotNull)
      .select(explode(cmBuckets(col(valueCol), depth, width)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point-estimate lookups against a [[countMin]] sketch: for each
    * distinct key, the minimum counter across the depth rows. Keys
    * are re-hashed with the same family; the sketch side is the only
    * big relation and it arrives pre-aggregated (depth × width rows,
    * broadcastable). */
  def cmEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                 depth: Int = 4, width: Int = 1024): DataFrame = {
    val keyBuckets = keys.select(col(keyCol).as("key")).distinct()
      .select(col("key"), explode(cmBuckets(col("key"), depth, width)).as("rb"))
      .select(col("key"), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
    // LEFT join: a coordinate with no counter row means count 0 — an
    // unseen key must estimate 0, not vanish (and a partially-colliding
    // unseen key must not report the min of only its hot buckets)
    keyBuckets.join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy("key").agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  /** Join-size estimation from two [[countMin]] sketches: the
    * count-min inner product — per depth row, Σ_bucket cntA·cntB;
    * the estimate is the MIN across rows (AMS/CM estimator:
    * E[dot] = |A ⋈ B| + collisions, collisions ≥ 0, so min is the
    * tightest). The join-planning primitive: two tables publish
    * depth×width counter rows once, and any pairwise equi-join size
    * is estimated from sketch arithmetic without touching either
    * table — expected overshoot ≈ |A|·|B|/width per row, so width is
    * chosen from the row-count product. Missing (row, bucket) pairs
    * contribute zero on either side, hence the inner join. */
  def cmJoinSize(sketchA: DataFrame, sketchB: DataFrame,
                 depth: Int = 4): DataFrame =
    sketchA.join(
        sketchB.select(col("row"), col("bucket"), col("cnt").as("_cntB")),
        Seq("row", "bucket"))
      .groupBy("row").agg(sum(col("cnt") * col("_cntB")).as("_dot"))
      .agg(min("_dot").as("_m"), count(lit(1)).as("_nrows"))
      // a depth row with NO coinciding buckets has dot 0 — it just
      // produced no row; any such row (or full disjointness) proves
      // the join is empty
      .select(when(col("_nrows") < depth, lit(0L))
        .otherwise(coalesce(col("_m"), lit(0L))).as("est_join_size"))

  /** Bit positions of one value in an m = 63·`words` bloom bit space
    * under `k` md5-affine hash rounds — the single source of truth
    * shared by [[bloomBuild]] and [[bloomProbe]]. 63 (not 64) usable
    * bits per signed-int64 word: bit 63 would need `1 << 63`, which
    * overflows DuckDB's checked signed shift — 63 keeps every mask
    * positive and the layout portable to any engine. */
  private def bloomPositions(value: org.apache.spark.sql.Column,
                             words: Int, k: Int): org.apache.spark.sql.Column = {
    require(k >= 1 && k <= graft.functions.HashFunctions.MinhashA.size &&
      words >= 1)
    val m = words * 63L
    val h = graft.functions.HashFunctions.baseHash30(value)
    array((0 until k).map(i =>
      graft.functions.HashFunctions.affine(h, i) % m): _*)
  }

  /** Bloom filter build: a word-indexed bit table (word, bits) —
    * 63·`words` bits total, `k` set bits per key. The word rows merge
    * by `bit_or` across partitions, corpus shards, and incremental
    * batches (OR is idempotent + commutative), which is exactly the
    * distributed bloom structure: shuffle traffic is ≤ `words` rows of
    * 16 bytes regardless of input size. Like every sketch here the
    * bit layout is md5-affine-derived, so the filter — including its
    * false positives — is bit-reproducible by any SQL engine. */
  def bloomBuild(rows: DataFrame, keyCol: String,
                 words: Int = 256, k: Int = 4): DataFrame =
    rows.where(col(keyCol).isNotNull)
      .select(explode(bloomPositions(col(keyCol), words, k)).as("pos"))
      .select(expr("pos div 63").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").as("mask"))
      .groupBy("word").agg(expr("bit_or(mask)").as("bits"))

  /** Membership probe against a [[bloomBuild]] sketch: for each
    * distinct key, true iff ALL k of its bits are set (the bloom
    * no-false-negative contract; false positives bounded by the usual
    * (1−e^{−kn/m})^k). The sketch is ≤ `words` rows and broadcast; a
    * probe coordinate with no word row means those bits were never
    * set → not a member (hence the left join + coalesce false). */
  def bloomProbe(sketch: DataFrame, keys: DataFrame, keyCol: String,
                 words: Int = 256, k: Int = 4): DataFrame =
    keys.select(col(keyCol).as("key")).distinct()
      .select(col("key"), explode(bloomPositions(col("key"), words, k)).as("pos"))
      .select(col("key"), expr("pos div 63").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").as("mask"))
      .join(broadcast(sketch), Seq("word"), "left")
      .groupBy("key").agg(
        expr("bool_and(coalesce((bits & mask) != 0, false))").as("member"))

  /** The same estimator as a custom Catalyst aggregate
    * ([[graft.plans.HllAgg]]): identical registers, single aggregate
    * expression with map-side partial merge of 256-byte buffers. Use
    * like any aggregate Column: `df.agg(hllAggCol($"v"))`. */
  def hllAggCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.HllAgg(org.apache.spark.sql.GraftColumnBridge.expression(c))
        .toAggregateExpression())

  /** Misra–Gries candidate keys as an aggregate Column
    * ([[graft.plans.MisraGriesAgg]]): `df.agg(misraGriesCol($"v", 256))`
    * → `array<string>` of every value that COULD exceed frequency
    * n/(capacity+1) (superset guarantee, no false negatives). */
  def misraGriesCol(c: org.apache.spark.sql.Column, capacity: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.MisraGriesAgg(
        org.apache.spark.sql.GraftColumnBridge.expression(c), capacity)
        .toAggregateExpression())

  /** EXACT heavy hitters via the sketch-then-recount pattern: all
    * values whose frequency is ≥ total/`thresholdDen`, with exact
    * counts.
    *
    * Pass 1 folds the value stream into ONE Misra–Gries candidate
    * row (map-side partial maps of ≤ `capacity` entries — the value
    * stream itself never shuffles) plus the exact total. Pass 2
    * re-scans, keeps only candidate values via a broadcast join
    * (≤ capacity rows), counts them exactly, and applies the
    * threshold in INTEGER arithmetic (`cnt · den ≥ n` — no float, no
    * ceil ambiguity, oracle-identical).
    *
    * Correctness is deterministic even though the sketch isn't: MG
    * guarantees every value with freq > n/(capacity+1) survives, so
    * requiring `thresholdDen ≤ capacity` makes the candidate set a
    * superset of the answer; the recount then computes the answer
    * exactly. This is the canonical 100 TB shape — the alternative
    * (groupBy value, filter) shuffles every distinct value; this
    * shuffles `capacity`-entry maps and then only the ≤ capacity
    * candidates' rows survive the broadcast semi-join into pass 2's
    * aggregate.
    */
  def heavyHitters(rows: DataFrame, valueCol: String, capacity: Int,
                   thresholdDen: Long): DataFrame = {
    require(thresholdDen <= capacity,
      s"thresholdDen=$thresholdDen must be ≤ capacity=$capacity for the " +
        "no-false-negative guarantee (MG error bound is n/(capacity+1))")
    val vals = rows.select(col(valueCol).as("v")).where(col("v").isNotNull)
    val sketch = vals.agg(
      misraGriesCol(col("v"), capacity).as("cands"),
      count(lit(1)).as("total"))
    val cand = sketch.select(explode(col("cands")).as("v"), col("total"))
    vals.join(broadcast(cand), Seq("v"))
      .groupBy(col("v"), col("total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(thresholdDen) >= col("total"))
      .select(col("v").as(valueCol), col("cnt"), col("total"))
  }

  /** 2^60 as a double — the KMV hash-space size ([[md5Long]] range). */
  private val KmvSpace = (1L << 60).toDouble

  /** KMV (k-minimum-values / bottom-k Theta) distinct sketch per
    * group: the sketch is the k SMALLEST distinct md5 hashes of the
    * value, and the estimator is (k−1) / (h_k / 2^60) — with fewer
    * than k distinct hashes the sketch IS the exact value set. Unlike
    * HLL ([[hllDistinct]]), a KMV sketch supports set ALGEBRA beyond
    * union ([[kmvOverlap]] intersects two sketches), and like
    * everything here it is bit-replayable cross-engine because the
    * "randomness" is md5.
    *
    * Scale shape: two exchanges end-to-end (PlanShapeSpec-pinned).
    * The distinct-collapse of (group, hash) is one map-side-
    * combinable shuffle — corpus-scale data crosses the wire once,
    * already deduped per mapper. The bottom-k cut then runs through
    * the bounded-heap [[graft.plans.TopKPerKey]] custom operator,
    * whose g-shuffle carries only size-k heaps per (mapper, group) —
    * bytes proportional to k·mappers·groups, not to the data. The
    * final per-group agg reuses that partitioning and adds no
    * exchange. Sketch rows out: ≤ k per group. */
  def kmvDistinct(rows: DataFrame, groupCol: String, valueCol: String,
                  k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2 (estimator divides by k-1)")
    val hashed = rows
      .where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), md5Long(col(valueCol).cast("string")).as("h"))
      .distinct()
    val bottomK = graft.operators.TopK.topKPerKey(
      hashed, Seq("g"), Seq(col("h").asc), k)
    bottomK.groupBy("g")
      .agg(count(lit(1)).as("n_min"), max("h").as("kth"))
      .select(col("g").as(groupCol), col("n_min"),
        round(when(col("n_min") < k, col("n_min").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (col("kth").cast("double") / lit(KmvSpace))), 4)
          .as("est_distinct"))
  }

  /** KMV set-overlap estimate between two keyed cohorts: build both
    * bottom-k sketches, take the k smallest of their UNION (the union
    * sketch), and estimate Jaccard as the fraction of union-sketch
    * members present in BOTH sides — the standard Theta-sketch
    * intersection, better-conditioned than HLL inclusion–exclusion
    * ([[hllOverlap]]-style) for small overlaps. Returns one row:
    * union / Jaccard / intersection estimates, all deterministic
    * integer selections + one rounded division each.
    *
    * Scale shape: each side is a [[kmvDistinct]]-shaped bounded
    * pipeline; the merge step touches ≤ 2k rows total. */
  /** KMV set DIFFERENCE estimate |A \ B| — the Theta-sketch a-not-b
    * operation: members of the union sketch present in A's sketch but
    * not B's estimate the difference fraction, scaled by the union
    * estimate. Exact below k (the union sketch IS A∪B). Completes the
    * KMV algebra ([[kmvDistinct]] cardinality, [[kmvOverlap]]
    * intersection, this difference) — the audit primitive for "how
    * much of cohort A is NOT covered by cohort B".
    *
    * Scale shape: identical to [[kmvOverlap]] — two bounded sketch
    * pipelines, a ≤2k-row merge. */
  def kmvDifference(a: DataFrame, b: DataFrame, valueCol: String,
                    k: Int): DataFrame = {
    require(k >= 2)
    def sk(df: DataFrame, side: Int) = {
      val hashed = df.where(col(valueCol).isNotNull)
        .select(md5Long(col(valueCol).cast("string")).as("h")).distinct()
        .withColumn("g", lit(side))
      graft.operators.TopK.topKPerKey(hashed, Seq("g"), Seq(col("h").asc), k)
        .select(col("h"), lit(side).as("side"))
    }
    val both = sk(a, 0).union(sk(b, 1))
    val unionK = graft.operators.TopK.topKPerKey(
      both.select(col("h")).distinct().withColumn("g", lit(0)),
      Seq("g"), Seq(col("h").asc), k)
    val flags = unionK.join(both.groupBy("h")
        .agg(max(when(col("side") === 0, 1).otherwise(0)).as("in_a"),
          max(when(col("side") === 1, 1).otherwise(0)).as("in_b")),
      Seq("h"))
    val estU = when(col("n_u") < k, col("n_u").cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (col("kth").cast("double") / lit(KmvSpace)))
    flags.agg(count(lit(1)).as("n_u"), max("h").as("kth"),
        sum(col("in_a") * (lit(1) - col("in_b"))).as("n_aonly"))
      .select(round(estU, 4).as("est_union"),
        round((col("n_aonly").cast("double") / col("n_u")) * estU, 4)
          .as("est_a_not_b"))
  }

  def kmvOverlap(a: DataFrame, b: DataFrame, valueCol: String,
                 k: Int): DataFrame = {
    require(k >= 2)
    def sketch(df: DataFrame, side: Int) = {
      val hashed = df.where(col(valueCol).isNotNull)
        .select(md5Long(col(valueCol).cast("string")).as("h")).distinct()
        .withColumn("g", lit(side))
      graft.operators.TopK.topKPerKey(hashed, Seq("g"), Seq(col("h").asc), k)
        .select(col("h"), lit(side).as("side"))
    }
    val both = sketch(a, 0).union(sketch(b, 1))
    // union sketch = k smallest distinct hashes across both sketches
    val unionK = graft.operators.TopK.topKPerKey(
      both.select(col("h")).distinct().withColumn("g", lit(0)),
      Seq("g"), Seq(col("h").asc), k)
    val flags = unionK.join(both.groupBy("h")
        .agg(max(when(col("side") === 0, 1).otherwise(0)).as("in_a"),
          max(when(col("side") === 1, 1).otherwise(0)).as("in_b")),
      Seq("h"))
    flags.agg(count(lit(1)).as("n_u"), max("h").as("kth"),
        sum(col("in_a") * col("in_b")).as("n_both"))
      .select(
        round(when(col("n_u") < k, col("n_u").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (col("kth").cast("double") / lit(KmvSpace))), 4)
          .as("est_union"),
        round(col("n_both").cast("double") / col("n_u"), 6).as("est_jaccard"),
        round((col("n_both").cast("double") / col("n_u")) *
          when(col("n_u") < k, col("n_u").cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (col("kth").cast("double") / lit(KmvSpace))), 4)
          .as("est_intersection"))
  }

  /** Sketch bake-off: exact distinct vs the HLL and KMV estimates on
    * the same column, with relative errors — the calibration table
    * that turns "use a sketch" into a sized decision (HLL: fixed 256
    * registers, ~6% rse; KMV: k hashes, exact below k). Per group:
    * (group, exact, hll_est, hll_rel_err, kmv_est, kmv_rel_err).
    * Rel errs compare the ROUNDED estimates (what a consumer reads).
    *
    * Scale shape: the exact side is the only corpus-hard aggregate
    * (countDistinct shuffles the distinct values once); both
    * sketches fold map-side into constant-size state — which is the
    * entire point the audit quantifies. */
  def sketchBakeoff(rows: DataFrame, groupCol: String, valueCol: String,
                    k: Int = 64): DataFrame = {
    val base = rows.filter(col(groupCol).isNotNull &&
      col(valueCol).isNotNull)
    val exactHll = base.groupBy(col(groupCol))
      .agg(countDistinct(col(valueCol)).as("exact"),
        round(hllAggCol(col(valueCol).cast("string")), 4).as("hll_est"))
    val kmv = kmvDistinct(base, groupCol, valueCol, k)
      .select(col(groupCol), col("est_distinct").as("kmv_est"))
    exactHll.join(kmv, Seq(groupCol))
      .select(col(groupCol), col("exact"), col("hll_est"),
        round((col("hll_est") - col("exact")) / col("exact"), 6)
          .as("hll_rel_err"),
        col("kmv_est"),
        round((col("kmv_est") - col("exact")) / col("exact"), 6)
          .as("kmv_rel_err"))
  }

  /** AMS (Alon–Matias–Szegedy) F₂ sketch vs exact: estimates the
    * self-join size Σₓcnt(x)² of a key column from `reps` sign
    * sketches — Zᵣ = Σₓ sᵣ(x)·cnt(x) with sᵣ(x) ∈ {±1}, E[Zᵣ²] = F₂ —
    * the classic streaming/planner primitive for join-output-size
    * estimation (a join's size on key k is the inner product of the
    * two sides' sketches; F₂ is its self-join diagonal). Reports the
    * mean-of-reps estimate next to the EXACT F₂ so the error is
    * measured, not assumed (the q318 recall-audit posture). A key's
    * F₂/n² is also the skew read: the planner's "will this key
    * hot-spot" number.
    *
    * Determinism: signs come from `md5Long(rep, key) % 2` — engine-
    * reproducible; each Zᵣ is an exact int64 sum of ±cnt (|Zᵣ| ≤ n);
    * Zᵣ² and their mean divide exactly representable integers. The
    * DuckDB dual replays the identical sketch, so the oracle verifies
    * the SKETCH VALUES, not just the headline.
    *
    * Returns one row (n_rows, n_keys, exact_f2, est_f2, rel_err).
    *
    * Scale shape: one reduced (key) count shuffle; the ×reps fan-out
    * is a constant-width explode over the REDUCED key relation; both
    * the exact and sketch sides finish in map-side-combinable 1-row
    * aggs. The sketch state is `reps` integers — the point of AMS. */
  def amsF2(df: DataFrame, keyCol: org.apache.spark.sql.Column,
            reps: Int = 8): DataFrame = {
    import graft.functions.HashFunctions.md5Long
    require(reps >= 1)
    val dec = "decimal(38,0)"
    val counts = df.filter(keyCol.isNotNull)
      .groupBy(keyCol.as("_k")).agg(count(lit(1)).as("_c"))
    val exact = counts.agg(sum("_c").as("n_rows"),
      count(lit(1)).as("n_keys"),
      sum((col("_c") * col("_c")).cast(dec)).as("_f2"))
    val z = counts
      .select(col("_k"), col("_c"),
        explode(array((0 until reps).map(lit): _*)).as("_r"))
      .select(col("_r"),
        when(md5Long(concat_ws("_", lit("ams"), col("_r"), col("_k")))
          % 2 === 0, col("_c")).otherwise(-col("_c")).as("_s"))
      .groupBy(col("_r")).agg(sum("_s").as("_z"))
      .agg(sum((col("_z") * col("_z")).cast(dec)).as("_zz"),
        count(lit(1)).as("_nr"))
    val est = col("_zz").cast("double") / col("_nr")
    exact.crossJoin(broadcast(z))
      .select(col("n_rows"), col("n_keys"),
        col("_f2").cast("long").as("exact_f2"),
        round(est, 6).as("est_f2"),
        round(est / when(col("_f2") > 0, col("_f2").cast("double")) - 1,
          6).as("rel_err"))
  }

  /** HDR-histogram quantiles: log₂ buckets with 16 linear
    * sub-buckets — the RELATIVE-error latency sketch (≤ ~3% at any
    * magnitude) that fixed-width histograms can't give (a $10 bin
    * is useless at $3 and wasteful at $100k; HDR's resolution
    * scales with the value). The production percentile-monitor
    * encoding (HdrHistogram / DDSketch class), fully mergeable:
    * bucket counts are additive, so per-partition maps combine and
    * shards/windows merge by vector add.
    *
    * INTEGER-EXACT bucketing — no logs: the magnitude is the binary
    * length (k = len(bin(v)) − 1, exact on any engine, unlike
    * ln(x)/ln(γ) where a 1-ulp libm difference flips boundary
    * buckets), shift = max(k−4, 0), sub-bucket = v >> shift ∈
    * [16, 32) above the linear range. The reported estimate is the
    * bucket's integer midpoint; the true value is within 1/32 of
    * it by construction. Values < 1 count as `underflow` (the zero
    * bucket), reported but un-bucketed.
    *
    * Returns one row per (group, percent): (group, n, underflow,
    * percent, est).
    *
    * Scale shape: one map-side-combinable (group, bucket) count —
    * ≤ 16·64 buckets per group regardless of rows — then a window
    * over the tiny level relation. The [[histQuantiles]] shape with
    * the relative-error contract. */
  def hdrQuantiles(df: DataFrame, groupCol: String, valueCol: Column,
                   percents: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100))
    val base = df.filter(col(groupCol).isNotNull && valueCol.isNotNull)
      .select(col(groupCol).as("_g"), valueCol.cast("long").as("_v"))
    val tot = base.groupBy("_g").agg(count(lit(1)).as("_n"),
      sum(when(col("_v") < 1, 1L).otherwise(0L)).as("underflow"))
    val pos = base.filter(col("_v") >= 1)
      .withColumn("_k", (length(bin(col("_v"))) - 1).cast("long"))
      .withColumn("_sh", greatest(col("_k") - 4, lit(0L)))
      .withColumn("_sub", expr("shiftright(_v, cast(_sh as int))"))
    val buckets = pos.groupBy(col("_g"), col("_sh"), col("_sub"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_lo", expr("shiftleft(_sub, cast(_sh as int))"))
      .withColumn("_rep", col("_lo") +
        expr("IF(_sh > 0, shiftleft(1L, cast(_sh as int) - 1), 0L)"))
    val wc = Window.partitionBy("_g").orderBy("_lo", "_sub")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = buckets.withColumn("_cum", sum("_c").over(wc))
      .join(broadcast(tot), Seq("_g"))
    val pSpine = df.sparkSession.range(1)
      .select(explode(array(percents.map(p => lit(p.toLong)): _*))
        .as("percent"))
    // target rank over the POSITIVE values (underflow sits below all)
    val nPos = col("_n") - col("underflow")
    val target = floor((nPos - 1) * col("percent") / 100.0).cast("long")
    cum.crossJoin(broadcast(pSpine))
      .filter(col("_cum") > target && nPos > 0)
      .groupBy(col("_g").as(groupCol), col("_n").as("n"),
        col("underflow"), col("percent"))
      .agg(min(struct(col("_lo"), col("_sub"), col("_rep"))).as("_m"))
      .select(col(groupCol), col("n"), col("underflow"), col("percent"),
        col("_m._rep").as("est"))
  }
}
