package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-group z-score outlier flagging (SURVEY.md §2.11 extension
  * surface) — the distribution-based anomaly gate of a corpus
  * pipeline: flag documents whose length (tokens, chars, quality
  * score …) sits more than `threshold` standard deviations from
  * their group's mean (group = source domain, language, shard …).
  *
  * Scale shape: one map-side-combinable aggregation to (sum, sum of
  * squares, count) per group — the classic mergeable moment sketch —
  * broadcast back over the corpus as a scan-speed projection. Moments
  * over INTEGER-valued columns are exact in double arithmetic (every
  * partial sum < 2^53), so z-scores are reproducible across engines
  * and partitionings; constant groups (variance 0) flag nothing.
  *
  * Broadcast hints: [[zscore]], [[robustZscore]] and [[winsorize]]
  * always join their groups-sized stats hinted `broadcast`. Past
  * broadcast range, set `spark.sql.optimizer.disableHints=true` and
  * `spark.sql.autoBroadcastJoinThreshold=-1` on the session for a
  * plain shuffled equi-join: same result, no driver collect, at the
  * cost of shuffling the corpus once on the group key. Spark 4.1.2 then
  * logs one expected `WARN HintErrorLogger: Unrecognized hint:
  * broadcast()` per dropped hint.
  */
object Outliers {

  /** The per-group moment table is always hinted `broadcast` back
    * over the corpus — right up to ~10⁷ groups (3 doubles/group ≈ a
    * few hundred MB of driver/executor memory); beyond that, set the
    * object doc's confs.
    *
    * @return the input plus `z` (rounded 6) and `is_outlier`. Rows
    *         whose group key is NULL are dropped (equi-join
    *         semantics) — pre-coalesce the group column to a sentinel
    *         if unknown-group rows should be scored as their own
    *         stratum. */
  def zscore(df: DataFrame, valueCol: String, groupCols: Seq[String],
             threshold: Double = 3.0): DataFrame = {
    require(groupCols.nonEmpty && threshold > 0)
    val v = col(valueCol).cast("double")
    val g = groupCols.map(col)
    val stats = df.groupBy(g: _*).agg(
      sum(v).as("_sv"), sum(v * v).as("_sv2"),
      count(v).cast("double").as("_n"))
    val mean = col("_sv") / col("_n")
    // E[x²] − E[x]² can land an ulp BELOW zero for near-constant
    // groups once sums of squares leave double's exact-integer range
    // (≥ 2^53): sqrt(−ε) = NaN, and abs(NaN) > t is TRUE in Spark —
    // which would flag every row of such a group. Clamp at 0 and
    // route the clamped value into the constant-group branch.
    val variance = greatest(col("_sv2") / col("_n") - mean * mean, lit(0.0))
    val z = (v - mean) / sqrt(variance)
    df.join(broadcast(stats), groupCols)
      .withColumn("z",
        when(col("_n") === 0 || variance === 0.0, lit(0.0))
          .otherwise(round(z, 6)))
      .withColumn("is_outlier",
        when(col("_n") === 0 || variance === 0.0, lit(false))
          .otherwise(abs(z) > threshold))
      .drop("_sv", "_sv2", "_n")
  }

  /** Median/MAD robust z-score (the Iglewicz–Hoaglin modified
    * z-score, 0.6745·(x − median)/MAD): the outlier gate that a
    * single extreme value cannot poison — mean/stddev move with every
    * outlier they are supposed to catch, median/MAD do not. Returns
    * the input plus `robust_z` (rounded 4) and `is_outlier`
    * (|z| > threshold, conventionally 3.5). Constant-majority groups
    * (MAD 0) flag nothing, mirroring [[zscore]]'s variance-0 branch.
    *
    * Scale shape: two grouped EXACT percentiles (each sorts only
    * within its group — the same cost class as q39) with the
    * groups-sized stats always hinted `broadcast` back between and
    * after (past broadcast range, set the object doc's confs); the corpus
    * itself is scanned twice, shuffled at most twice on the group
    * key, and never sorted globally. For corpora where exact
    * per-group sort is too much, swap the percentile for the
    * mergeable histogram sketch ([[Sketches]]) — same shape, bounded
    * state. */
  def robustZscore(df: DataFrame, valueCol: String, groupCols: Seq[String],
                   threshold: Double = 3.5): DataFrame = {
    require(groupCols.nonEmpty && threshold > 0)
    val v = col(valueCol).cast("double")
    def bjoin(d: DataFrame, stats: DataFrame) = d.join(broadcast(stats), groupCols)
    val meds = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("_med"))
    val mads = bjoin(df, meds).groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile(abs($valueCol - _med), 0.5)").as("_mad"))
    val z = lit(0.6745) * (v - col("_med")) / col("_mad")
    bjoin(bjoin(df, meds), mads)
      .withColumn("robust_z",
        when(col("_mad") === 0.0, lit(0.0)).otherwise(round(z, 4)))
      .withColumn("is_outlier",
        when(col("_mad") === 0.0, lit(false)).otherwise(abs(z) > threshold))
      .drop("_med", "_mad")
  }

  /** CUSUM drift detection: per group, the cumulative sum of
    * mean-deviations over event time, reported at its absolute peak —
    * (group, max_cusum rounded 6, at = time of the peak). A sustained
    * level shift makes the CUSUM trend away from zero; the peak
    * magnitude and position locate the drift. BIT-EXACT by
    * construction: values quantize to integers (`floor(v·scale + ½)`)
    * and the running sum uses `v_q·n − S` (both int64), so every
    * prefix sum — and therefore the argmax row — is identical on any
    * engine; the only division happens once, on identical operands.
    * (A double CUSUM would accumulate mean-rounding error across the
    * whole prefix and could flip the argmax near ties.)
    *
    * Scale shape: one moment agg (broadcast back), one per-group
    * ordered window pass — the sessionization shuffle — and a 1-row-
    * per-group argmax. int64 headroom: |v_q·n − S| ≤ 2·max|v|·scale·n
    * per term, n² · max|v| · scale total — fine to ~10⁷ rows/group at
    * scale 100. */
  def cusumDrift(df: DataFrame, groupCol: String, tsCol: String,
                 tiebreak: Column, valueCol: String,
                 scale: Long = 100L): DataFrame = {
    require(scale >= 1)
    val e = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(tsCol).as("_tn"), tiebreak.as("_tb"),
        floor(col(valueCol) * scale + lit(0.5)).cast("long").as("_vq"))
    val st = e.groupBy(col(groupCol))
      .agg(sum("_vq").as("_s"), count(lit(1)).as("_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("_tn"), col("_tb"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(abs(col("_cq")).desc, col("_tn"), col("_tb"))
    e.join(broadcast(st), Seq(groupCol))
      .withColumn("_cq", sum(col("_vq") * col("_n") - col("_s")).over(w))
      .withColumn("_rn", row_number().over(wr))
      .filter(col("_rn") === 1)
      .select(col(groupCol),
        round(col("_cq").cast("double") /
          (lit(scale.toDouble) * col("_n").cast("double")), 6).as("max_cusum"),
        col("_tn").as("at"))
  }

  /** Winsorization: clip `valueCol` into its group's
    * [pLo, pHi] quantile band — the standard tail-taming step before
    * moment-based statistics or model features. Adds
    * `<valueCol>_w` (rounded 6); original column untouched.
    *
    * Scale shape: one grouped exact-percentile agg (groups-sized,
    * always hinted `broadcast` back; past broadcast range, set the
    * object doc's confs), then a scan-speed projection — the corpus
    * is never shuffled while the stats broadcast. */
  def winsorize(df: DataFrame, valueCol: String, groupCols: Seq[String],
                pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(groupCols.nonEmpty && pLo >= 0 && pHi <= 1 && pLo <= pHi)
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile($valueCol, $pLo)").as("_wlo"),
        expr(s"percentile($valueCol, $pHi)").as("_whi"))
    df.join(broadcast(bounds), groupCols).withColumn(s"${valueCol}_w",
        round(least(greatest(col(valueCol).cast("double"), col("_wlo")),
          col("_whi")), 6))
      .drop("_wlo", "_whi")
  }

  /** Grouped median absolute deviation + MAD-rule outlier counts:
    * per group, the EXACT lower median, the exact MAD (the lower
    * median of |x − median|), and how many rows sit more than
    * `k`·MAD from the median — the robust-scale alternative to
    * [[zscore]] (one extreme row inflates a standard deviation and
    * hides ITSELF; it cannot move a median). The static companion to
    * [[TimeSeries]]'s rolling Hampel filter.
    *
    * Exactness: the caller's column quantizes to int64 (`scale`, as
    * everywhere), both medians are the q254 ceil-rank, z = |q − med|
    * is integer, and the outlier test is the integer comparison
    * z > k·MAD — no FP anywhere but the two reported de-scalings.
    *
    * Scale shape: two grouped exact-median window sorts (the
    * q39/q254 cost class, second over the same key partitioning) and
    * a groups-sized broadcast between them; the final count is one
    * map-side-combinable agg. Groups must fit a window partition —
    * swap medians for [[Sketches.histQuantiles]] past that. */
  def groupedMad(df: DataFrame, groupCol: String, valueCol: Column,
                 k: Long = 3L, scale: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1)
    val q = floor(valueCol.cast("double") * scale + lit(0.5)).cast("long")
    val base = df.filter(col(groupCol).isNotNull && valueCol.isNotNull)
      .select(col(groupCol).as("_g"), q.as("_q"))
    def lowerMedian(in: DataFrame, vc: String): DataFrame = in
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_g").orderBy(col(vc))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("_g")))
      .groupBy("_g")
      .agg(max(when(col("_rn") === expr("(_n * 50 + 99) div 100"),
        col(vc))).as("_med"))
    val med = lowerMedian(base, "_q")
    val z = base.join(broadcast(med), Seq("_g"))
      .select(col("_g"), col("_q"), abs(col("_q") - col("_med")).as("_z"),
        col("_med"))
    val mad = lowerMedian(z.select(col("_g"), col("_z").as("_q")), "_q")
      .select(col("_g"), col("_med").as("_mad"))
    z.join(broadcast(mad), Seq("_g"))
      .groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        max(col("_med")).as("_medq"), max(col("_mad")).as("_madq"),
        sum(when(col("_z") > lit(k) * col("_mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col(groupCol), col("n"),
        round(col("_medq").cast("double") / scale, 6).as("median"),
        round(col("_madq").cast("double") / scale, 6).as("mad"),
        col("n_outliers"))
  }
}
