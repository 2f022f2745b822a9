package graft

import org.apache.spark.sql.functions._
import graft.operators.{FuzzyDedup, Layout}

/** Prices APPEND ACCRETION on the bucketed standing BAND index — the
  * text-side twin of [[MaintenanceProfile]] (VERDICT r13 item 3: the
  * vector index's lifecycle is measured end to end; the band index
  * behind q324/q453/q481 deserves the same evidence). Every bucketed
  * `insertInto` append adds ≥1 file per populated (band, bucket) per
  * write task, so file counts grow linearly with ingest waves and the
  * probe's bucketed read degrades (more footers per task; per-file
  * sort no longer spans the bucket). This main measures that decay
  * and its cure:
  *
  *   1. build the standing old-slice band index (doc_id ≡ 0..17 mod
  *      20) as the q481 bucketed catalog table — partitionBy(part) +
  *      bucketBy(16, band, sig), the bucket spec exactly the probe
  *      join's key — and compact the initial parallel write to
  *      the 1-file-per-bucket steady state;
  *   2. split q481's arriving wave (doc_id ≡ 18 mod 20) into N
  *      sequential wavelets, append each through the SAME
  *      [[SparkEntry.appendBandWave]] path the registered queries
  *      use, and at checkpoints record files-per-bucket
  *      ([[Layout.bucketFileManifest]]) + the probe time (min-of-P:
  *      the held-out ≡ 19 mod 20 slice runs
  *      [[FuzzyDedup.incrementalNearDups]] against the table —
  *      q481's exact serve shape);
  *   3. run [[Layout.compactBucketedTable]] (timed), then probe
  *      again: SAME rows as the final wave, only the file count
  *      moved — the before/after pair isolates accretion cost from
  *      the (tiny) index growth.
  *
  * Usage: `runMain graft.BandMaintenanceProfile [corpusDir] [waves]
  * [passes]` (defaults /root/testdata/sf0.1, 20, 2). Writes nothing
  * durable (temp warehouse, dropped table, dirs removed in finally).
  */
object BandMaintenanceProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val waves = args.lift(1).map(_.toInt).getOrElse(20)
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession.local()
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warm

    val tbl = "graft_bmaint_idx"
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val old = docs.filter(col("doc_id") % 20 < 18)
      val pool = docs.filter(col("doc_id") % 20 === 18)  // q481's wave
      val probeDocs = docs.filter(col("doc_id") % 20 === 19) // held out
      println(s"[bmaint] corpus $dir: ${docs.count()} docs, " +
        s"old ${old.count()}, pool ${pool.count()} in $waves waves, " +
        "buckets=16 on (band, sig)")

      val t0 = System.nanoTime()
      FuzzyDedup.bandIndex(old).withColumn("part", lit("bands"))
        .write.mode("overwrite").partitionBy("part")
        .bucketBy(16, "band", "sig").sortBy("band", "sig").saveAsTable(tbl)
      println(f"[bmaint] standing band index built+written: ${
        (System.nanoTime() - t0) / 1e9}%.2f s")

      def bandFiles(): (Int, Int) = {
        val m = Layout.bucketFileManifest(spark, tbl)
        require(m.nonEmpty,
          s"no band files in $tbl's manifest - location moved " +
            "or bucket-file naming drifted")
        (m.map(_._3).sum, m.map(_._3).max)
      }
      // wavesDone = -1 means base (nothing appended). oldDocs is a
      // CONSTANT-DEPTH filter (never a per-wave union chain): text
      // for verification of every doc the index holds at this wave
      def probe(wavesDone: Int): Double = {
        val index = spark.table(tbl)
          .select(col("doc_id"), col("band"), col("sig"))
        val oldDocs =
          if (wavesDone < 0) old
          else docs.filter(col("doc_id") % 20 < 18 ||
            (col("doc_id") % 20 === 18 &&
              expr(s"(doc_id div 20) % $waves <= $wavesDone")))
        (1 to passes).map { _ =>
          val s0 = System.nanoTime()
          FuzzyDedup.incrementalNearDups(index, oldDocs, probeDocs).count()
          (System.nanoTime() - s0) / 1e9
        }.min
      }

      // the INITIAL parallel write is itself accreted (one file per
      // bucket per write task); compact first so the baseline is the
      // 1-file-per-bucket steady state later waves are compared to
      Layout.compactBucketedTable(spark, tbl,
        partCol = "part", bucketCols = Seq("band", "sig"), numBuckets = 16,
        maxFilesPerBucket = 1)
      // one untimed probe warms JIT + page cache for the standing
      // files; without it wave-0 reads high and the trend is warm-up
      probe(-1)
      val checkpoints =
        Set(1, 2, 5, 10, 15, 20, 30, 40, 50, 60, waves).filter(_ <= waves)
      println("| wave | band files (max/bucket) | probe s |")
      println("|---|---|---|")
      val f0 = bandFiles()
      val base = probe(-1)
      println(f"| 0 (base) | ${f0._1} (${f0._2}) | $base%.2f |")
      (0 until waves).foreach { w =>
        val wave = pool.filter(expr(s"(doc_id div 20) % $waves = $w"))
        SparkEntry.appendBandWave(spark, tbl, wave)
        if (checkpoints.contains(w + 1)) {
          val fi = bandFiles()
          val sv = probe(w)
          println(f"| ${w + 1} | ${fi._1} (${fi._2}) | $sv%.2f |")
        }
      }
      val c0 = System.nanoTime()
      val rewritten = Layout.compactBucketedTable(spark, tbl,
        partCol = "part", bucketCols = Seq("band", "sig"), numBuckets = 16,
        maxFilesPerBucket = 1)
      val cdt = (System.nanoTime() - c0) / 1e9
      val fc = bandFiles()
      val sc = probe(waves - 1)
      println(f"| $waves compacted | ${fc._1} (${fc._2}) | $sc%.2f |")
      println(f"[bmaint] compaction rewrote ${rewritten.mkString(",")} " +
        f"in $cdt%.2f s; same rows as wave $waves, only files moved")
    } finally {
      try spark.sql(s"DROP TABLE IF EXISTS $tbl")
      catch { case _: Throwable => () }
      try spark.stop() catch { case _: Throwable => () }
    }
  }
}
