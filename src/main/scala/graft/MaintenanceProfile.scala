package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Layout, Similarity}

/** Prices APPEND ACCRETION on the bucketed standing index — the last
  * unmeasured leg of the 100 TB maintenance story (VERDICT r12). q479
  * proves ONE wave appends cleanly (bucketing survives, plan-pinned);
  * production is thousands of waves, and every bucketed `insertInto`
  * adds ≥1 file per populated bucket per write task, so file counts
  * grow linearly with waves and the sorted-bucket read degrades (more
  * footers per task; per-file sort order no longer spans the bucket).
  * This main measures that decay and its cure:
  *
  *   1. build the standing old-slice index (auto-scaled cells) as a
  *      bucketed catalog table — q479's exact layout;
  *   2. split q479's arriving wave (vec_id ≡ 7 mod 20) into N
  *      sequential wavelets, append each through the SAME
  *      [[SparkEntry.appendEncodedWave]] path the registered queries
  *      use, and at checkpoints record files-per-bucket (from
  *      [[Layout.bucketFileManifest]]) + the serve time (min-of-P,
  *      q479's threshold-probe shape, bucketedIndex = true);
  *   3. run [[Layout.compactBucketedTable]] (timed), then serve
  *      again: SAME rows as the final wave, only the file count
  *      moved — the before/after pair isolates the accretion cost
  *      from the (tiny) corpus growth, and the post-compaction serve
  *      returning to the wave-0 family is the claim.
  *
  * Usage: `runMain graft.MaintenanceProfile [corpusDir] [waves]
  * [passes] [cells]` (defaults /root/testdata/sf0.1, 20, 2,
  * auto = max(8, n/128)). Writes nothing durable (temp warehouse,
  * dropped table, dirs removed in finally).
  */
object MaintenanceProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val waves = args.lift(1).map(_.toInt).getOrElse(20)
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession.local()
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warm

    val tbl = "graft_maint_idx"
    try {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val old = e.filter(col("vec_id") % 10 =!= 7)
      val pool = e.filter(col("vec_id") % 20 === 7)   // q479's wave
      val queries = e.filter(col("vec_id") % 20 === 17) // held out
      val cells = args.lift(3).map(_.toInt)
        .getOrElse(math.max(8L, old.count() / 128L).toInt)
      println(s"[maint] corpus $dir: ${e.count()} vectors, " +
        s"old ${old.count()}, pool ${pool.count()} in $waves waves, " +
        s"cells=$cells, buckets=16")

      val t0 = System.nanoTime()
      Similarity.ivfPqIndex(old, numCells = cells)
        .write.mode("overwrite").partitionBy("part")
        .bucketBy(16, "c").sortBy("c").saveAsTable(tbl)
      println(f"[maint] standing index built+written: ${
        (System.nanoTime() - t0) / 1e9}%.2f s")
      // the fit parts never change across appends; materialize them
      // ONCE via localCheckpoint, which detaches the frame from the
      // table entirely. Two reasons over cache() (review r13 + ADVICE
      // r13): (1) a CACHED plan over the table would be invalidated
      // and re-read by every insertInto's refreshTable — the
      // "materialize once" intent silently defeated per wave; (2) a
      // cached full-table Project could be substituted by the
      // CacheManager into the timed probe, so the serve would read an
      // InMemoryRelation instead of the accreted files the tool
      // exists to price. A checkpointed frame is plan-opaque and
      // table-independent: per-wave encodes never touch the growing
      // table, timed serves always hit the parquet files.
      val standing = spark.table(tbl)
        .filter(col("part").isin("seed", "cent"))
        .localCheckpoint()

      def assignFiles(): (Int, Int) = {
        val m = Layout.bucketFileManifest(spark, tbl)
          .filter(_._1.startsWith("part=assign"))
        require(m.nonEmpty,
          s"no part=assign files in $tbl's manifest - location moved " +
            "or bucket-file naming drifted")
        (m.map(_._3).sum, m.map(_._3).max)
      }
      // wavesDone = -1 means base (nothing appended). corpus2 is a
      // CONSTANT-DEPTH filter, never a per-wave union chain: a chain
      // re-evaluated inside the timed window would grow with the wave
      // count and confound the accretion trend with recompute cost
      def serve(wavesDone: Int): Double = {
        val updated = spark.table(tbl).select(col("part"), col("id"),
          col("s"), col("c"), col("vec"))
        val corpus2 =
          if (wavesDone < 0) old
          else old.unionByName(pool.filter(
            expr(s"(vec_id div 20) % $waves <= $wavesDone")))
        (1 to passes).map { _ =>
          val s0 = System.nanoTime()
          Similarity.streamingVectorProbe(updated, corpus2, queries,
            tau = 0.4, bucketedIndex = true).count()
          (System.nanoTime() - s0) / 1e9
        }.min
      }

      // the INITIAL parallel write is itself accreted (one file per
      // bucket per write task — 32 tasks ⇒ 32 files/bucket at scale);
      // compact first so the baseline is the 1-file-per-bucket steady
      // state every later wave is compared against
      Layout.compactBucketedTable(spark, tbl,
        partCol = "part", bucketCol = "c", numBuckets = 16,
        maxFilesPerBucket = 1)
      // one untimed serve warms JIT + page cache for the standing
      // files; without it the wave-0 number reads 2-3× high and the
      // per-wave trend is warm-up, not accretion (first profile run)
      serve(-1)
      val checkpoints =
        Set(1, 2, 5, 10, 15, 20, 30, 40, 50, 60, waves).filter(_ <= waves)
      println("| wave | assign files (max/bucket) | serve s |")
      println("|---|---|---|")
      val f0 = assignFiles()
      val base = serve(-1)
      println(f"| 0 (base) | ${f0._1} (${f0._2}) | $base%.2f |")
      (0 until waves).foreach { w =>
        val wave = pool.filter(expr(s"(vec_id div 20) % $waves = $w"))
        SparkEntry.appendEncodedWave(spark, tbl, standing, wave)
        if (checkpoints.contains(w + 1)) {
          val fi = assignFiles()
          val sv = serve(w)
          println(f"| ${w + 1} | ${fi._1} (${fi._2}) | $sv%.2f |")
        }
      }
      val c0 = System.nanoTime()
      val rewritten = Layout.compactBucketedTable(spark, tbl,
        partCol = "part", bucketCol = "c", numBuckets = 16,
        maxFilesPerBucket = 1)
      val cdt = (System.nanoTime() - c0) / 1e9
      val fc = assignFiles()
      val sc = serve(waves - 1)
      println(f"| $waves compacted | ${fc._1} (${fc._2}) | $sc%.2f |")
      println(f"[maint] compaction rewrote ${rewritten.mkString(",")} " +
        f"in $cdt%.2f s; same rows as wave $waves, only files moved")
    } finally {
      try spark.sql(s"DROP TABLE IF EXISTS $tbl")
      catch { case _: Throwable => () }
      try spark.stop() catch { case _: Throwable => () }
    }
  }
}
