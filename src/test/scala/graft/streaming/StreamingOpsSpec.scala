package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ping(device: String, ts: Long, pos: Double)

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("operators run green under the RocksDB state store (production config)") {
    implicit val sqlCtx = spark.sqlContext
    val saved = StreamingOps.rocksDbStateStore.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    StreamingOps.rocksDbStateStore.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // stateful agg (windowed counts) end-to-end on the RocksDB
      // provider — pins that plans are provider-agnostic and the
      // bundled provider actually loads in this Spark build
      val input = MemoryStream[(java.sql.Timestamp, String, Double)]
      val agg = StreamingOps.windowedAgg(
        input.toDS().toDF("ts", "device", "value"), "ts", "device",
        windowLen = "10 minutes", lateness = "0 seconds")
      val q = agg.writeStream.format("memory").queryName("rocks_test")
        .outputMode("complete").start()
      try {
        def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-08-12 05:$m%02d:00")
        input.addData((t(1), "a", 1.0), (t(2), "a", 2.0), (t(11), "b", 5.0))
        q.processAllAvailable()
        val rows = spark.table("rocks_test")
          .select("device", "n", "sum_value").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        assert(rows == Set(("a", 2L, 3.0), ("b", 1L, 5.0)), rows.toString)
        // the provider in force is really RocksDB, not a silent fallback
        assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
          .contains("RocksDBStateStoreProvider"))
      } finally q.stop()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("latestPerKey keeps latest across triggers (cross-run state)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ping]
    val q = StreamingOps.latestPerKey[String, Ping](input.toDS(), _.device, _.ts)
      .writeStream.format("memory").queryName("latest_test")
      .outputMode(StreamingOps.UpdateMode).start()
    try {
      // trigger 1: two devices
      input.addData(Ping("a", 10, 1.0), Ping("a", 20, 2.0), Ping("b", 5, 9.0))
      q.processAllAvailable()
      // trigger 2: older ping for a (ignored), newer for b
      input.addData(Ping("a", 15, 7.0), Ping("b", 30, 11.0))
      q.processAllAvailable()
      val rows = spark.table("latest_test")
        .groupBy("device").agg(max_by(struct($"ts", $"pos"), $"ts").as("last"))
        .select($"device", $"last.ts", $"last.pos")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      // device a: ts=20 survived the stale ts=15 update; b advanced to 30
      assert(rows == Set(("a", 20L, 2.0), ("b", 30L, 11.0)))
    } finally q.stop()
  }

  test("latestPerKeyExpiring: state evicted after TTL, tombstone emitted") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val withWm = input.toDS()
      .toDF("ts", "device", "pos").withWatermark("ts", "0 seconds")
      .as[(java.sql.Timestamp, String, Double)]
    val q = StreamingOps.latestPerKeyExpiring[String, (java.sql.Timestamp, String, Double)](
        withWm, _._2, _._1.getTime, ttlMs = 60000)
      .map { case ((ts, d, p), expired) => (d, ts.getTime, p, expired) }
      .writeStream.format("memory").queryName("ttl_test")
      .outputMode("update").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-08-12 05:$m%02d:00")
      input.addData((t(0), "a", 1.0))
      q.processAllAvailable()
      // b reports 10 minutes later → watermark passes a's ts+60s → a evicted
      input.addData((t(10), "b", 2.0))
      q.processAllAvailable()
      input.addData((t(20), "b", 3.0)) // extra trigger to flush timeouts
      q.processAllAvailable()
      val rows = spark.table("ttl_test")
        .collect().map(r => (r.getString(0), r.getBoolean(3))).toSet
      assert(rows.contains(("a", false)) && rows.contains(("b", false)))
      assert(rows.contains(("a", true)), s"no tombstone for evicted 'a': $rows")
    } finally q.stop()
  }

  test("file-based readStream: windowed agg over a parquet directory source") {
    val dir = graft.TempDirs.create("stream-src")
    val out = graft.TempDirs.create("stream-sink")
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-08-12 05:$m%02d:00")
    Seq((t(0), "click", 1.0), (t(10), "click", 2.0), (t(40), "view", 4.0))
      .toDF("ts", "event_type", "value")
      .write.mode("overwrite").parquet(dir.toString)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("ts timestamp, event_type string, value double")
        .parquet(dir.toString)
      val q = StreamingOps.windowedAgg(stream, "ts", "event_type")
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", out.resolve("_chk").toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
    }
    runOnce()
    // batch 2: a much later event advances the persisted watermark to
    // 06:30, closing (append-emitting) the 05:00 and 05:30 windows
    Seq((t(0).toString.replace("05:00", "07:00"), "view", 8.0))
      .toDF("tss", "event_type", "value")
      .selectExpr("cast(tss as timestamp) ts", "event_type", "value")
      .write.mode("append").parquet(dir.toString)
    runOnce()
    val emitted = spark.read.parquet(out.toString)
      .select(date_format($"window_start", "HH:mm").as("w"), $"event_type", $"n", $"sum_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(emitted.contains(("05:00", "click", 2L, 3.0)), s"got $emitted")
    assert(emitted.contains(("05:30", "view", 1L, 4.0)), s"got $emitted")
  }

  test("stream-stream interval join: in-window same-key pairs only, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-08-12 05:$m%02d:00")
    val buys = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val joined = StreamingOps.intervalJoinStream(
      buys.toDF().toDF("b_ts", "b_user", "buy_id"),
      clicks.toDF().toDF("c_ts", "c_user", "click_id"),
      "b_user", "c_user", "b_ts", "c_ts", window = "10 minutes")
    val q = joined.select("buy_id", "click_id")
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    try {
      buys.addData((t(20), 1L, 100L))
      clicks.addData(
        (t(15), 1L, 200L), // same user, 5 min before → matched
        (t(5), 1L, 201L),  // 15 min before → outside the window
        (t(15), 2L, 202L), // wrong user
        (t(21), 1L, 203L)) // after the purchase
      q.processAllAvailable()
      val pairs = spark.table("ssjoin_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((100L, 200L)), s"got $pairs")
    } finally q.stop()
  }

  test("q80: registered streaming interval join equals its batch band-join dual") {
    // the registered query runs a REAL streaming execution (file
    // source → AvailableNow → memory sink); its rows must equal the
    // batch one-sided band self-join over the same events
    val dir = "/root/testdata/sf0.001"
    val stream = graft.SparkEntry.queries("q80_interval_join_stream")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val e = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("event_id"),
        // raw feed carries timestamp[us]; the dual works in epoch micros
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
    val b = e.select(col("user_id").as("r_user"), col("event_id").as("r_event"),
      col("ts_us").as("r_us"))
    val batch = e.join(b, col("user_id") === col("r_user") &&
        col("r_us") >= col("ts_us") - 300000000L && col("r_us") <= col("ts_us") &&
        col("event_id") =!= col("r_event"))
      .select(col("user_id"), col("event_id"), col("r_event"),
        (col("ts_us") - col("r_us")).as("lag_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stream.nonEmpty, "streaming join emitted no rows")
    assert(stream == batch,
      s"stream-only: ${(stream diff batch).take(3)}; batch-only: ${(batch diff stream).take(3)}")
  }

  test("windowedDistinct: HLL registers merge across triggers; final estimate equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = input.toDF().toDF("ts", "key", "v")
    val q = StreamingOps.windowedDistinct(df, "ts", "key", "v")
      .writeStream.format("memory").queryName("hll_stream_test")
      .outputMode("update").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-08-12 05:$m%02d:00")
      val batch1 = (1 to 800).map(i => (t(1), "k", s"v$i"))
      val batch2 = (400 to 1200).map(i => (t(5), "k", s"v$i")) // overlap: 1200 distinct
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // the update after batch 2 must equal the batch dual over the
      // UNION of both batches — i.e. state carried batch 1's registers
      val batchEst = graft.operators.Sketches.hllDistinct(
          (batch1 ++ batch2).map(_._3).toDF("v"), "v")
        .collect().head.getDouble(0)
      val ests = spark.table("hll_stream_test")
        .select("est_distinct").collect().map(_.getDouble(0)).toSet
      assert(ests.contains(batchEst),
        s"streaming estimates $ests never reached batch dual $batchEst")
      // and the estimate is in a sane band around 1200
      assert(math.abs(batchEst - 1200) / 1200.0 < 0.15, s"est=$batchEst")
    } finally q.stop()
  }

  test("dedupStream: duplicate fingerprints within the watermark horizon dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "fp", "value")
    val q = StreamingOps.dedupStream(df, Seq("fp"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-08-12 05:$m%02d:00")
      input.addData((t(0), "doc-a", 1.0), (t(1), "doc-a", 1.0), (t(2), "doc-b", 2.0))
      q.processAllAvailable()
      input.addData((t(3), "doc-a", 1.0)) // still within horizon → dropped
      q.processAllAvailable()
      val fps = spark.table("dedup_stream_test")
        .select("fp").collect().map(_.getString(0)).sorted
      assert(fps.toSeq == Seq("doc-a", "doc-b"), s"got ${fps.toSeq}")
    } finally q.stop()
  }

  test("windowedTopK: per-window exact top-k emits once on window close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val q = StreamingOps.windowedTopK(df, "ts", "event_type",
        windowLenMs = 600000L, k = 2)
      .writeStream.format("memory").queryName("topk_test")
      .outputMode("append").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-08-12 05:$m%02d:00")
      // window [05:00,05:10): a×2, b×1, c×1 — split across two
      // micro-batches to prove cross-trigger state folding
      input.addData((t(0), "a"), (t(1), "b"))
      q.processAllAvailable()
      input.addData((t(5), "a"), (t(6), "c"))
      q.processAllAvailable()
      assert(spark.table("topk_test").isEmpty) // window still open
      // watermark jumps past 05:10 → window flushes exactly once
      input.addData((t(20), "d"))
      q.processAllAvailable()
      // null-dim watermark carrier: advances the clock through the
      // stateful operator but is never counted (sentinel contract)
      input.addData((t(40), null))
      q.processAllAvailable()
      input.addData((t(59), null)) // extra trigger fires the timeout
      q.processAllAvailable()
      val rows = spark.table("topk_test")
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
      // top-2 of {a:2, b:1, c:1}: a first, then b on the asc
      // tiebreak; d's own [05:20,05:30) window closed at wm 05:40;
      // the null-carrier windows hold empty maps and emit nothing
      assert(rows == Set(("a", 2L, 1L), ("b", 1L, 2L), ("d", 1L, 1L)),
        s"got $rows")
    } finally q.stop()
  }

  test("windowedHistQuantiles: additive bins fold across triggers; exact cut") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Option[Long])]
    val df = input.toDF().toDF("ts", "v")
    // lo=0 hi=100 bins=10 (w=10): values 5,15,15,95 in one window:
    // bins {0:1, 1:2, 9:1}; p50: cum 3*100 >= 50*4 at bin1 -> 20;
    // p90: 90*4=360 > 300 -> bin9 -> 100; p99 -> 100
    val q = StreamingOps.windowedHistQuantiles(df, "ts", "v",
        windowLenMs = 600000L, lo = 0L, hi = 100L, bins = 10)
      .writeStream.format("memory").queryName("whq_test")
      .outputMode("append").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-08-12 05:$m%02d:00")
      input.addData((t(0), Some(5L)), (t(1), Some(15L)))
      q.processAllAvailable()
      input.addData((t(5), Some(15L)), (t(6), Some(95L)))
      q.processAllAvailable()
      assert(spark.table("whq_test").isEmpty) // window still open
      input.addData((t(20), None)) // null value: watermark-only carrier
      q.processAllAvailable()
      input.addData((t(40), None))
      q.processAllAvailable()
      val rows = spark.table("whq_test")
        .collect().map(r => r.getInt(2) -> (r.getLong(1), r.getLong(3)))
        .toMap
      assert(rows == Map(50 -> ((4L, 20L)), 90 -> ((4L, 100L)),
        99 -> ((4L, 100L))), s"got $rows")
    } finally q.stop()
  }

  test("sessionAgg: gap-based session windows close after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "user", "value")
    val q = StreamingOps.sessionAgg(df, "ts", "user", gap = "5 minutes",
        lateness = "0 seconds")
      .writeStream.format("memory").queryName("session_test")
      .outputMode("append").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-08-12 05:$m%02d:00")
      // session 1: events at 05:00, 05:03 (merged: gap < 5m); then silence
      input.addData((t(0), "u1", 1.0), (t(3), "u1", 2.0))
      q.processAllAvailable()
      // an event far past the gap advances the watermark → session 1 emits
      input.addData((t(30), "u1", 5.0))
      q.processAllAvailable()
      input.addData((t(59), "u1", 9.0)) // close session 2 as well
      q.processAllAvailable()
      val rows = spark.table("session_test")
        .select(date_format($"sess_start", "HH:mm").as("s"), $"user", $"n_events", $"sum_value")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains(("05:00", "u1", 2L, 3.0)), s"got $rows")
      assert(rows.contains(("05:30", "u1", 1L, 5.0)), s"got $rows")
    } finally q.stop()
  }

  test("windowedAgg: tumbling event-time windows with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.windowedAgg(df, "ts", "event_type").writeStream
      .format("memory").queryName("window_test")
      .outputMode("update").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-08-12 05:$m%02d:00")
      input.addData((t(0), "click", 1.0), (t(10), "click", 2.0), (t(40), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("window_test")
        .select(date_format($"window_start", "HH:mm").as("w"), $"event_type", $"n", $"sum_value")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains(("05:00", "click", 2L, 3.0)))
      assert(rows.contains(("05:30", "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("scd1Stream: per-batch incremental merge equals one batch merge of the log") {
    implicit val sqlCtx = spark.sqlContext
    val base = Seq((1L, "a", "red"), (2L, "b", "blue"), (3L, "c", "green"))
      .toDF("k", "name", "colr")
    // per-key version-monotone across batches (the contract)
    val batch1 = Seq((1L, 10L, 1L, "upd", Option("gold")),
      (4L, 10L, 2L, "upd", Option("pink")))
    val batch2 = Seq((2L, 20L, 3L, "del", Option.empty[String]),
      (1L, 20L, 4L, "upd", Option("silver")),
      (4L, 20L, 5L, "del", Option.empty[String]))
    val dir = graft.TempDirs.create("scd1-stream").toString
    val input = MemoryStream[(Long, Long, Long, String, Option[String])]
    val changes = input.toDF().toDF("k", "v", "tie", "op", "c")
    val (writer, handle) = StreamingOps.scd1Stream(changes, base, "k",
      Seq("v", "tie"), $"op" === "del", Seq("colr" -> "c"), dir)
    val q = writer.start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      val mid = handle.current().collect()
        .map(r => (r.getLong(0), r.getString(2))).toMap
      assert(mid(1L) == "gold" && mid(4L) == "pink" && mid.size == 4)
      input.addData(batch2: _*); q.processAllAvailable()
      val fin = handle.current().collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
      // one-shot batch merge over the concatenated log must agree
      val want = graft.operators.Merge.scd1(base,
          (batch1 ++ batch2).toDF("k", "v", "tie", "op", "c"),
          "k", Seq("v", "tie"), $"op" === "del", Seq("colr" -> "c"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
      assert(fin == want, s"incremental ${fin} != batch ${want}")
      assert(fin == Set((1L, Some("a"), "silver"), (3L, Some("c"), "green")))
      // a third batch makes gen-0 eligible for GC: only the last two
      // generations may remain on disk
      input.addData((5L, 30L, 6L, "upd", Option("new"))); q.processAllAvailable()
      val gens = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("gen-")).sorted.toSeq
      assert(gens == Seq("gen-2", "gen-3"), s"generation GC left: $gens")
      assert(handle.current().count() == 3)
      q.stop()
      // RESTART: a new scd1Stream over the same stateDir must RESUME
      // from gen-3, not re-seed from base (which would drop every
      // merged batch a checkpointed stream will never re-deliver)
      val input2 = MemoryStream[(Long, Long, Long, String, Option[String])]
      val (w2, h2) = StreamingOps.scd1Stream(
        input2.toDF().toDF("k", "v", "tie", "op", "c"), base, "k",
        Seq("v", "tie"), $"op" === "del", Seq("colr" -> "c"), dir)
      assert(h2.currentPath.endsWith("gen-3"),
        s"restart re-seeded instead of resuming: ${h2.currentPath}")
      val q2 = w2.start()
      try {
        input2.addData((5L, 40L, 7L, "upd", Option("newer"))); q2.processAllAvailable()
        val after = h2.current().collect()
          .map(r => (r.getLong(0), r.getString(2))).toMap
        // pre-restart merges survive; the new change applies on top
        assert(after == Map(1L -> "silver", 3L -> "green", 5L -> "newer"),
          s"restart lost state: $after")
      } finally q2.stop()
    } finally if (!q.isActive) () else q.stop()
  }

  test("scd1Stream: restart skips and deletes a partial (no _SUCCESS) generation") {
    implicit val sqlCtx = spark.sqlContext
    val base = Seq((1L, "a", "red")).toDF("k", "name", "colr")
    val dir = graft.TempDirs.create("scd1-partial").toString
    val input = MemoryStream[(Long, Long, Long, String, Option[String])]
    val (writer, _) = StreamingOps.scd1Stream(
      input.toDF().toDF("k", "v", "tie", "op", "c"), base, "k",
      Seq("v", "tie"), $"op" === "del", Seq("colr" -> "c"), dir)
    val q = writer.start()
    try {
      input.addData((1L, 10L, 1L, "upd", Option("gold"))); q.processAllAvailable()
    } finally q.stop()
    // simulate a crash MID-WRITE of gen-2: rows on disk, but the
    // committer never wrote _SUCCESS — seeding from it would merge
    // the checkpoint-replayed batch onto a partial table
    Seq((1L, "a", "CORRUPT")).toDF("k", "name", "colr")
      .write.parquet(s"$dir/gen-2")
    assert(new java.io.File(s"$dir/gen-2/_SUCCESS").delete())
    val input2 = MemoryStream[(Long, Long, Long, String, Option[String])]
    val (w2, h2) = StreamingOps.scd1Stream(
      input2.toDF().toDF("k", "v", "tie", "op", "c"), base, "k",
      Seq("v", "tie"), $"op" === "del", Seq("colr" -> "c"), dir)
    assert(h2.currentPath.endsWith("gen-1"),
      s"seeded from a partial generation: ${h2.currentPath}")
    assert(!new java.io.File(s"$dir/gen-2").exists(),
      "dangling partial generation must be deleted, not left to collide")
    val q2 = w2.start()
    try {
      input2.addData((2L, 20L, 2L, "upd", Option("blue"))); q2.processAllAvailable()
      val after = h2.current().collect()
        .map(r => (r.getLong(0), r.getString(2))).toMap
      assert(after == Map(1L -> "gold", 2L -> "blue"),
        s"merge after partial-gen recovery diverged: $after")
    } finally q2.stop()
  }
  test("driftAlarmStream: keyed PH fold across triggers equals the batch formula") {
    implicit val sqlCtx = spark.sqlContext
    // key a: mean jumps 10 -> 1000 at t=4 -> PH fires; key b: flat
    val pts = Seq(("a", 1L, 10L), ("a", 2L, 12L), ("a", 3L, 8L),
      ("a", 4L, 1000L), ("a", 5L, 1100L), ("a", 6L, 1050L),
      ("b", 1L, 50L), ("b", 2L, 50L), ("b", 3L, 50L))
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamingOps.driftAlarmStream(
        input.toDF.toDF("g", "t", "x"), "g", "t", "x", lambda = 100.0)
      .writeStream.format("memory").queryName("drift_alarms")
      .outputMode("append").start()
    // split across two triggers: state must carry the running fold
    input.addData(pts.take(4))
    q.processAllAvailable()
    input.addData(pts.drop(4))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("drift_alarms").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // batch replay: running mean, m-fold, ph = m - running min
    def replay(xs: Seq[Long]): Seq[(Int, Double)] = {
      var n = 0L; var s = 0L; var m = 0.0; var minM = 0.0
      xs.zipWithIndex.flatMap { case (x, i) =>
        n += 1; s += x; m += x.toDouble - s.toDouble / n
        if (m < minM) minM = m
        val ph = BigDecimal(m - minM)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (ph > 100.0) Some((i + 1, ph)) else None
      }
    }
    val want = replay(Seq(10L, 12L, 8L, 1000L, 1100L, 1050L))
      .map { case (t, ph) => ("a", t.toLong, ph) }.toSet
    assert(got == want && got.nonEmpty, s"got=$got want=$want")
  }

}
