package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** D1 — latest-per-key dedup (argmax), *the* aggregation of the
  * reference (`task.ts:92,151-159`), plus exact whole-row dedup
  * (extension, SURVEY.md §2.11).
  *
  * Scale notes: both forms are single-shuffle on the key.
  * `max_by`-style aggregation gets Spark's partial (map-side)
  * aggregation for free where Spark plans the exchange, so at 100 TB
  * the shuffle carries one row per (partition, key), not one per input
  * row — better than the window-rank formulation when keys repeat a
  * lot. An input already hash-partitioned on the key needs no exchange
  * here, so its rows were shuffled before any partial step: `Pipeline`
  * repartitions its projected rows by `id` first, which fixes the
  * shuffle's width at one partition per slot. It is a sort
  * aggregate, not a hash aggregate (see [[latestPerKey]]). The window variant
  * is kept for callers that need the *whole* surviving row without
  * struct-repacking and for deterministic tiebreaks.
  */
object Dedup {

  /** Latest row per key via argmax aggregation (`max_by`). Null
    * ordering follows the reference's `?? 0` epoch fallback
    * (`task.ts:154`): a null-time row never beats a timed row
    * (declarative semantics; deviation note SURVEY.md §7.4). Ties
    * broken by `tiebreak` ascending-max to keep results deterministic
    * — pass a unique column (e.g. an id) for full determinism.
    *
    * `max_by` (not window-rank) so Spark plans map-side partial
    * aggregation where it plans the exchange: at 100 TB the shuffle
    * carries one row per (map partition, key), not one row per input
    * row. `Pipeline` repartitions by the key before calling this, so
    * there the exchange comes first and carries every row. The plan is a
    * `SortAggregate` with a `Sort` before the partial and before the
    * final aggregate: the struct buffer of `max_by` is not a mutable
    * fixed-width type, so neither hash aggregate applies. The row
    * payload rides in the *value* slot of `max_by`, so non-orderable
    * column types (maps) are fine. */
  def latestPerKey(
      df: DataFrame,
      key: Seq[String],
      time: Column,
      tiebreak: Seq[Column] = Seq.empty): DataFrame = {
    val epoch0 = to_timestamp(lit("1970-01-01 00:00:00"))
    argmaxPerKey(df, key, coalesce(time, epoch0) +: tiebreak)
  }

  /** Generic argmax: the whole row with the greatest `ord` tuple per
    * key. Works for any orderable ordering columns (timestamps, epoch
    * longs, …); the row payload itself need not be orderable. */
  def argmaxPerKey(df: DataFrame, key: Seq[String], ord: Seq[Column]): DataFrame = {
    val ordC =
      if (ord.size == 1) ord.head
      else struct(ord.zipWithIndex.map { case (c, i) => c.as(s"_o$i") }: _*)
    df.groupBy(key.map(col): _*)
      .agg(max_by(struct(df.columns.map(col): _*), ordC).as("_row"))
      .select("_row.*")
  }

  /** Latest row per key via window rank — exact row passthrough,
    * deterministic under ties via `tiebreak` (descending). */
  def latestPerKeyWindow(
      df: DataFrame,
      key: Seq[String],
      time: Column,
      tiebreak: Seq[Column] = Seq.empty): DataFrame = {
    val epoch0 = to_timestamp(lit("1970-01-01 00:00:00"))
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy((coalesce(time, epoch0).desc +: tiebreak.map(_.desc)): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Exact dedup: one row per distinct value of `keys` (arbitrary
    * deterministic survivor via min over the full row struct). For
    * whole-row distinct use `df.distinct()` directly. */
  def exactPerKey(df: DataFrame, keys: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keys.contains)
    if (others.isEmpty) df.distinct()
    else df.groupBy(keys.map(col): _*)
      .agg(min(struct(others.map(col): _*)).as("_min"))
      .select(df.columns.map(c =>
        if (keys.contains(c)) col(c) else col("_min").getField(c).as(c)): _*)
  }
}
