package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Prices the two standing-index LAYOUTS of the IVF-PQ serve in the
  * layout's INTENDED regime — cells ≫ buckets (SCALING.md round 12; a
  * measurement main, never part of the query surface).
  *
  * Round 11 registered the production partitionBy(part)+bucketBy(16,
  * cell) layout (q476) but could only price it at q326's 8-cell
  * parity build, where cells(8) < buckets(16) serializes the bucketed
  * scan onto ≤8 populated buckets — the one regime the layout is NOT
  * for. This main builds ONE index at a corpus-scaled cell count
  * (cells ≫ 16) and writes it in BOTH layouts:
  *
  *   - partitioned: partitionBy(part, c) — a directory per cell, the
  *     q326 layout (dynamic partition pruning skips unprobed cells);
  *   - bucketed: partitionBy(part) + bucketBy(b, c) for EACH bucket
  *     count in the sweep — cells co-located in b fixed buckets, the
  *     q476 layout (the probe join consumes the bucketing; no
  *     Exchange over the assign part).
  *
  * then serves the q326/q476 query shape (20 probes, top-3, nprobe 4,
  * rerank 50) over each, interleaved min-of-N so no arm rides a
  * warmer page cache, and asserts every serve returns IDENTICAL rows
  * (the layouts' interchangeability, checked where no DuckDB oracle
  * reaches). Layout WRITE times are reported too — the metadata cost
  * the 100 TB argument is about (directory count grows with cells in
  * the partitioned layout, is fixed in the bucketed).
  *
  * Usage: `runMain graft.LayoutProfile [corpusDir] [cells] [passes]
  * [buckets]` (defaults /tmp/scale100, 128, 3, 16). `buckets` may be
  * a comma-separated sweep — e.g. `16,64,256` — pricing the OTHER
  * layout constant in one run against one shared build (VERDICT r12
  * item 3: the rule is "cells ≫ buckets", but 16 was a constant
  * chosen at sf0.1 — a 100 TB operator provisions buckets against
  * cluster width). Prints one line per timed arm plus a summary;
  * writes nothing durable (tmp dirs + the temp-warehouse catalog
  * tables are removed in a finally, even when an interchangeability
  * require() throws).
  */
object LayoutProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale100")
    val cells = args.lift(1).map(_.toInt).getOrElse(128)
    val passes = args.lift(2).map(_.toInt).getOrElse(3)
    // distinct: a duplicated sweep entry ("16,16") would rebuild and
    // overwrite the same catalog table and double-time that arm
    val buckets = args.lift(3).getOrElse("16")
      .split(",").map(_.trim.toInt).toSeq.distinct
    buckets.foreach(b => require(b > 0, s"bucket count $b must be > 0"))
    val spark = GraftSession.local()
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warm

    val idxTmp = java.nio.file.Files.createTempDirectory("graft-layout")
    def tblFor(b: Int) = s"graft_layout_bucketed_$b"
    try {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = e.count()
      println(s"[layout] corpus $dir: $n vectors, cells=$cells, " +
        s"buckets sweep ${buckets.mkString(",")}")

      // `clear = true` drops the SQL cache after the timed step so no
      // later arm rides it — but must stay FALSE for the build and
      // the layout writes: clearing there unpersists `built` and
      // every subsequent write silently re-runs the whole IVF-PQ
      // build, inflating each "layout write" time by a full rebuild
      // (review r13 — the first sweep's write column had exactly
      // that defect)
      def timed(label: String, clear: Boolean = true)(f: => Long): Double = {
        val t0 = System.nanoTime()
        val rows = f
        val dt = (System.nanoTime() - t0) / 1e9
        if (clear) spark.catalog.clearCache()
        println(f"[layout] $label: $dt%.2f s ($rows rows)")
        dt
      }

      // ONE build, shared by every layout write: the layouts must
      // hold identical rows for the serve comparison to be pure
      // layout. The build itself is timed once for context (the
      // nightly-rebuild cost, not the serve cost under comparison).
      val idxPath = idxTmp.resolve("idx").toString
      var built: DataFrame = null
      timed(s"index build (cells=$cells), cached", clear = false) {
        built = Similarity.ivfPqIndex(e, numCells = cells).cache()
        built.count()
      }
      val partPath = idxPath + "_part"
      val wPart = timed("layout write: partitionBy(part, c)",
          clear = false) {
        built.write.mode("overwrite").partitionBy("part", "c")
          .parquet(partPath); 0L
      }
      val wBuck = buckets.map { b =>
        b -> timed(s"layout write: partitionBy(part) + bucketBy($b, c)",
            clear = false) {
          built.write.mode("overwrite").partitionBy("part")
            .bucketBy(b, "c").sortBy("c").saveAsTable(tblFor(b)); 0L
        }
      }
      built.unpersist()
      spark.catalog.clearCache()
      val cellDirs = new java.io.File(s"$partPath/part=assign").list()
      println(s"[layout] partitioned layout: ${
        Option(cellDirs).map(_.length).getOrElse(0)} c= dirs under " +
        "part=assign; bucketed: fixed file count per part dir")

      // serve arms: the q326/q476 registered shape at this corpus
      def ixPart: DataFrame = spark.read.parquet(partPath)
        .select(col("part"), col("id"), col("s"),
          col("c").cast("long").as("c"), col("vec"))
      def ixBuck(b: Int): DataFrame = spark.table(tblFor(b))
        .select(col("part"), col("id"), col("s"), col("c"), col("vec"))
      val queries = e.filter(col("vec_id") < 20)
      def servePart(): Long =
        Similarity.ivfPqServe(ixPart, e, queries, 3).count()
      def serveBuck(b: Int): Long =
        Similarity.ivfPqServe(ixBuck(b), e, queries, 3,
          bucketedIndex = true).count()

      // interchangeability: identical rows from every layout (sorted
      // collect — the serve output is 20 queries × top-3, tiny)
      val rp = Similarity.ivfPqServe(ixPart, e, queries, 3)
        .collect().map(_.toString).sorted
      buckets.foreach { b =>
        val rb = Similarity.ivfPqServe(ixBuck(b), e, queries, 3,
            bucketedIndex = true).collect().map(_.toString).sorted
        require(rp.sameElements(rb),
          s"layouts disagree at buckets=$b: ${rp.length} vs ${rb.length} rows")
      }
      println(s"[layout] serve outputs IDENTICAL across all ${
        buckets.size + 1} layouts (${rp.length} rows)")
      spark.catalog.clearCache()

      // interleaved min-of-N: pass i runs partitioned then each
      // bucket count in order, so no arm systematically rides a
      // warmer page cache
      var minPart = Double.MaxValue
      val minBuck = scala.collection.mutable.Map(
        buckets.map(_ -> Double.MaxValue): _*)
      (1 to passes).foreach { i =>
        minPart = math.min(minPart,
          timed(s"serve partitioned p$i")(servePart()))
        buckets.foreach { b =>
          minBuck(b) = math.min(minBuck(b),
            timed(f"serve bucketed($b%3d) p$i")(serveBuck(b)))
        }
      }
      println(f"[layout] MIN serve partitioned: $minPart%.2f s " +
        f"(n=$n, cells=$cells, write ${wPart}%.1f s)")
      buckets.foreach { b =>
        println(f"[layout] MIN serve bucketed($b%3d): ${minBuck(b)}%.2f s; " +
          f"ratio ${minBuck(b) / minPart}%.2f; write ${
            wBuck.toMap.apply(b)}%.1f s; cells/buckets = ${
            cells.toDouble / b}%.1f")
      }
    } finally {
      // cleanup must run even when an interchangeability require()
      // throws (ADVICE r12): the temp tables, both temp dirs, and
      // the session itself
      buckets.foreach { b =>
        try spark.sql(s"DROP TABLE IF EXISTS ${tblFor(b)}")
        catch { case _: Throwable => () }
      }
      try spark.stop() catch { case _: Throwable => () }
      TempDirs.rmTree(idxTmp)
    }
  }
}
