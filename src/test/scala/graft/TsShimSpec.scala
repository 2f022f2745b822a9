package graft

import org.apache.spark.sql.functions._

/** The harness feed's `ts` column has drifted across driver testdata
  * snapshots: timestamp[ns] (read as BIGINT nanos under
  * `nanosAsLong`) vs timestamp[us] NTZ (read as a real timestamp).
  * SparkEntry.normTs must make registered queries byte-equal across
  * both physical shapes — this pins the shim end-to-end through a
  * registered query rather than unit-testing the private helper. */
class TsShimSpec extends SparkSpec {

  test("registered query results are invariant to the feed's physical ts type") {
    import spark.implicits._
    val base = 1700000000000000000L // 2023-11-14T22:13:20Z in ns
    val rows = (1 to 200).map { i =>
      // whole-microsecond ns values: both shapes carry identical instants
      (i.toLong, base + i.toLong * 60000000000L, (i % 7).toLong,
        Seq("click", "view", "purchase")(i % 3), i * 1.5, "{}")
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // the driver's testdata ships each table as a SINGLE parquet file
    // (q197 symlinks it into its stream source dir) — mirror that
    def writeSingle(d: org.apache.spark.sql.DataFrame, prefix: String) = {
      val dir = TempDirs.create(prefix)
      val tmp = dir.resolve("_w")
      d.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath, dir.resolve("events.parquet"))
      dir
    }
    val longDir = writeSingle(df, "ts-long")
    val ntzDir = writeSingle(df.withColumn("ts",
      expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")), "ts-ntz")

    // q197 exercises the STREAMING sentinel path: the sentinel file's
    // ts must round-trip through the raw feed's physical type (a
    // timestamp→long cast yields epoch seconds and stalls the
    // watermark — the exact bug this dual-shape run pins down)
    for (q <- Seq("q05_latest_per_user", "q09_time_bucket",
        "q197_stream_windowed_topk")) {
      val a = SparkEntry.queries(q)(spark, longDir.toString)
        .collect().map(_.toString).sorted.toSeq
      val b = SparkEntry.queries(q)(spark, ntzDir.toString)
        .collect().map(_.toString).sorted.toSeq
      assert(a.nonEmpty, s"$q returned no rows")
      assert(a == b, s"$q diverges between BIGINT-nanos and timestamp[us] feeds")
    }
  }
}
