package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage (Fellegi–Sunter): blocked candidate
  * generation + per-field agreement log-weights + threshold. The
  * entity-resolution complement to [[Merge.goldenRecord]] (which
  * assumes links are already known) — extension surface, SURVEY.md
  * §2.11; the reference pipeline links nothing.
  *
  * Model: each field comparison contributes ln(m/u) when it agrees
  * and ln((1−m)/(1−u)) when it disagrees (m = P(agree | match),
  * u = P(agree | non-match)); a pair is a link when the summed weight
  * clears `minScore`. Callers pass the weights as plain doubles so
  * the identical literals appear in the oracle dual — the engine
  * never computes logs at runtime.
  *
  * Scale shape: candidate generation is ONE equi-join shuffle on the
  * blocking key — never a cross join; pairs exist only within blocks.
  * Field comparisons and the weighted sum are codegen'd `Column`
  * expressions evaluated join-side, and the threshold filters before
  * anything else sees the pairs. Skewed blocks are the operator's
  * known hazard at 100 TB — compose with [[SkewJoin.saltedJoin]] or
  * AQE skew handling when a blocking key is hot (documented, not
  * hidden).
  */
object Linkage {

  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}

  /** One field comparison: `agree` is any boolean Column over the
    * joined pair; weights are precomputed ln-ratios. */
  final case class FieldComparison(name: String, agree: Column,
                                   wAgree: Double, wDisagree: Double)

  /** Jaro-Winkler similarity (DuckDB-exact scoring, see
    * [[graft.plans.JaroWinkler.sim]]) as a codegen'd Column — the
    * string comparator to feed [[FieldComparison]]
    * (`jaroWinkler(a, b) >= 0.9`) instead of exact equality. */
  def jaroWinkler(a: Column, b: Column): Column =
    toCol(graft.plans.JaroWinklerSim(toExpr(a), toExpr(b)))

  /** Score all within-block pairs of `a` × `b`; keep those at or
    * above `minScore`. `a` and `b` must share ONLY the `blockKeys`
    * column names (pre-alias everything else, e.g. `a_...`/`b_...`);
    * comparison Columns reference the aliased names. Output: the two
    * id columns, one boolean per comparison, and the rounded score.
    */
  def fellegiSunter(a: DataFrame, b: DataFrame, blockKeys: Seq[String],
                    aKey: String, bKey: String,
                    comparisons: Seq[FieldComparison],
                    minScore: Double): DataFrame = {
    require(comparisons.nonEmpty, "at least one field comparison")
    val shared = a.columns.toSet.intersect(b.columns.toSet) -- blockKeys
    require(shared.isEmpty,
      s"a and b may only share the blocking keys; also shared: $shared")
    val score = comparisons.map { c =>
      when(c.agree, lit(c.wAgree)).otherwise(lit(c.wDisagree))
    }.reduce(_ + _)
    val flags = comparisons.map(c => c.agree.as(s"agree_${c.name}"))
    a.join(b, blockKeys)
      .select(Seq(col(aKey), col(bKey)) ++ flags :+
        round(score, 6).as("score"): _*)
      .filter(col("score") >= minScore)
  }

  /** Sorted-neighborhood candidate pairs — the LINEAR-scaling
    * linkage blocking. Fixed-cardinality blocks ([[fellegiSunter]]/
    * q188's (size, first-char)) have block sizes ∝ corpus and
    * candidate pairs ∝ corpus² — measured slope 2.36 at a 10× corpus
    * (SCALING.md round-8). Sorted-neighborhood instead ranks the
    * corpus by `(sortCol, idCol)` and emits every pair within
    * `window` ranks: candidates = n·window BY CONSTRUCTION, no
    * matter how the key distribution skews, at the price of missing
    * matches that sort far apart (the standard trade — run multiple
    * passes on different sort keys to recover them). Output:
    * (a_id, b_id, a_val, b_val), each pair once (a before b in rank
    * order). `idCol` must be unique: it is the rank tiebreak, and a
    * duplicated (sortCol, idCol) pair would make the rank — and so
    * the candidate set — partitioning-dependent.
    *
    * Scale shape: one global sort (range-partitioned at scale — ride
    * a sort the layout already has, e.g. the Z-order write), then
    * the neighbor join is an EQUI-join of each row's `window`
    * exploded probe ranks against the rank column — no range join,
    * no window function over pairs; the shuffle carries n·window
    * (rank, id, key) rows, never vectors or documents. */
  def sortedNeighborhood(df: DataFrame, sortCol: String, idCol: String,
                         window: Int): DataFrame = {
    require(window >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(sortCol), col(idCol))
    val ranked = df.select(col(idCol), col(sortCol))
      .withColumn("_rn", row_number().over(w).cast("long"))
    val a = ranked.select(col(idCol).as("a_id"), col(sortCol).as("a_val"),
      explode(sequence(col("_rn") + 1, col("_rn") + window)).as("_m"))
    val b = ranked.select(col(idCol).as("b_id"), col(sortCol).as("b_val"),
      col("_rn").as("_m"))
    a.join(b, Seq("_m")).select("a_id", "b_id", "a_val", "b_val")
  }

  /** UNSUPERVISED Fellegi–Sunter weight fitting via EM — where
    * [[fellegiSunter]]'s m/u log-weights actually come from when no
    * labeled links exist: treat each candidate pair's agreement
    * pattern as generated by a two-class mixture (match / non-match),
    * E-step the per-pattern match probability
    * `p = λ·Π m^g(1−m)^{1−g} / (that + (1−λ)·Π u^g(1−u)^{1−g})`,
    * M-step re-estimate λ, m_f, u_f from p-weighted counts. Runs
    * `iters` fixed synchronous iterations from (λ₀, m₀, u₀). Returns
    * one row per field: (field, lambda, m, u, w_agree = ln(m/u),
    * w_disagree = ln((1−m)/(1−u))) — plug the w's straight into
    * [[fellegiSunter]].
    *
    * Exactness: pairs reduce to ≤2^F agreement PATTERNS first (the
    * classic implementation), so every EM pass runs over a bounded
    * relation; each per-pattern p is a fixed double expression.
    * Cross-pattern sums quantize p ALONE (bounded in [0,1], so
    * ×10¹² always fits int64) and multiply by the exact pattern
    * count in decimal(38,0) — no double→long saturation no matter
    * how large a blocked-pair pattern count grows (billions of
    * pairs per pattern are routine at 100 TB), and still engine-
    * and partitioning-identical.
    *
    * Scale shape: ONE map-side-combinable pattern-count agg over the
    * candidate pairs (the only corpus-sized pass — the blocked join
    * the caller already built); the EM loop itself is a fixed lazy
    * plan over ≤2^F rows with 1-row broadcast params. */
  def emWeights(pairs: DataFrame, agreeCols: Seq[String], iters: Int = 2,
                lambda0: Double = 0.1, m0: Double = 0.9,
                u0: Double = 0.1): DataFrame = {
    require(agreeCols.nonEmpty && agreeCols.size <= 10 && iters >= 1)
    val pat = pairs.groupBy(agreeCols.map(col): _*)
      .agg(count(lit(1)).as("_cnt"))
    var params = pat.sparkSession.range(1).select(
      lit(lambda0).as("_lam") +: agreeCols.indices.flatMap(i =>
        Seq(lit(m0).as(s"_m$i"), lit(u0).as(s"_u$i"))): _*)
    // quantize the BOUNDED p (∈[0,1], so p·10¹² ≤ 10¹² fits long),
    // then multiply by the exact count in decimal(38,0) — the old
    // floor(cnt·p·10¹²) form saturated Long.MaxValue once a pattern
    // count passed ~9.2e6
    def q12(c: Column) =
      floor(c * 1e12 + lit(0.5)).cast("long").cast("decimal(38,0)")
    val zero = lit(0).cast("decimal(38,0)")
    for (_ <- 1 to iters) {
      val pm = agreeCols.zipWithIndex.map { case (c, i) =>
        when(col(c), col(s"_m$i")).otherwise(lit(1.0) - col(s"_m$i")) }
        .foldLeft(col("_lam"))(_ * _)
      val pu = agreeCols.zipWithIndex.map { case (c, i) =>
        when(col(c), col(s"_u$i")).otherwise(lit(1.0) - col(s"_u$i")) }
        .foldLeft(lit(1.0) - col("_lam"))(_ * _)
      val wp = pat.crossJoin(broadcast(params)).withColumn("_p", pm / (pm + pu))
      val cp = q12(col("_p")) * col("_cnt")
      val cu = q12(lit(1.0) - col("_p")) * col("_cnt")
      val aggs = Seq(
        sum(cp).as("_sp"),
        sum(cu).as("_su"),
        sum("_cnt").as("_n")) ++
        agreeCols.zipWithIndex.flatMap { case (c, i) => Seq(
          sum(when(col(c), cp).otherwise(zero)).as(s"_sg$i"),
          sum(when(col(c), cu).otherwise(zero)).as(s"_sug$i")) }
      val red = wp.agg(aggs.head, aggs.tail: _*)
      params = red.select(
        ((col("_sp").cast("double") / 1e12) / col("_n")).as("_lam") +:
          agreeCols.indices.flatMap(i => Seq(
            (col(s"_sg$i").cast("double") / col("_sp").cast("double"))
              .as(s"_m$i"),
            (col(s"_sug$i").cast("double") / col("_su").cast("double"))
              .as(s"_u$i"))): _*)
    }
    agreeCols.zipWithIndex.map { case (c, i) =>
      // degenerate fields (a comparison that never/always agrees
      // drives m or u to an exact 0/1) get NULL weights, not ±inf or
      // an ANSI divide-by-zero — the caller should drop the field
      val (m, u) = (col(s"_m$i"), col(s"_u$i"))
      params.select(lit(c).as("field"),
        round(col("_lam"), 6).as("lambda"),
        round(m, 6).as("m"),
        round(u, 6).as("u"),
        round(when(m > 0 && u > 0, log(m / u)), 6).as("w_agree"),
        round(when(m < 1 && u < 1,
          log((lit(1.0) - m) / (lit(1.0) - u))), 6).as("w_disagree"))
    }.reduce(_ unionAll _)
  }
}
