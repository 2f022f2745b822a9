package graft.sources.v2

import graft.{PipelineFixtures, SparkSpec}
import graft.sources.InReachSource
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class InReachDataSourceSpec extends SparkSpec {

  /** Registers `f` in [[InReachDataSource.fetchers]] for the duration
    * of `body`, which gets the id to pass as the `fetcher` option. */
  def withFetcher[T](f: InReachSource.Fetcher = PipelineFixtures.fetcher)(body: String => T): T = {
    val id = s"spec-${java.util.UUID.randomUUID()}"
    InReachDataSource.fetchers.put(id, f)
    try body(id) finally InReachDataSource.fetchers.remove(id)
  }

  test("spark.read.format(inreach): one partition per share, rows parsed") {
    withFetcher() { id =>
      val df = spark.read.format("inreach")
        .option("shares", "alpha,beta")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
      assert(df.schema.fieldNames.toSeq ==
        Seq("shareId", "callSign", "coordinatesRaw", "whenRaw", "extended"))
      assert(df.count() == 4) // 3 placemarks in alpha + 1 in beta
      assert(df.rdd.getNumPartitions == 2)
      val imeis = df.select(element_at(col("extended"), "IMEI")).collect()
        .map(_.getString(0)).sorted
      assert(imeis.toSeq == Seq("111", "111", "222", "333"))
    }
  }

  /** Feeds by share id: the `i`-th share serves `i + 1` placemarks of
    * its own devices. */
  def numberedFeeds(ids: Seq[String]): Map[String, String] = ids.zipWithIndex.map { case (s, i) =>
    s -> PipelineFixtures.doc((0 to i).map(j =>
      PipelineFixtures.placemark(s"$i-$j", "2026-08-12T05:20:00Z")).mkString)
  }.toMap

  def rowsPerShare(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.groupBy("shareId").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("more shares than slots: one partition per slot, shares dealt round-robin, each read once") {
    val ids = (0 until 10).map(i => s"s$i")
    withFetcher(PipelineFixtures.serving(numberedFeeds(ids))) { id =>
      val df = spark.read.format("inreach")
        .option("shares", ids.mkString(","))
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
      assert(df.rdd.getNumPartitions == 4) // SparkSpec runs local[4]
      assert(rowsPerShare(df) == ids.zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap)
      val imeis = df.select(element_at(col("extended"), "IMEI")).collect().map(_.getString(0))
      assert(imeis.length == 55 && imeis.distinct.length == 55)
    }
    val planned = new InReachScan(ids.map(graft.model.Share(_)), None,
      PipelineFixtures.fetcher, None, false, InReachDataSource.schema)
      .planInputPartitions().map(_.asInstanceOf[InReachPartition].shares.map(_.ShareId))
    assert(planned.toSeq == Seq(Seq("s0", "s4", "s8"), Seq("s1", "s5", "s9"),
      Seq("s2", "s6"), Seq("s3", "s7")))
  }

  test("a failing share drops only its own rows, not its partition-mates'") {
    // ghost (no feed: its fetch throws) sits at index 1, sharing its
    // partition with s4 and s8 on 4 slots
    withFetcher(PipelineFixtures.serving(numberedFeeds((0 until 9).map(i => s"s$i")))) { id =>
      val shares = Seq("s0", "ghost", "s2", "s3", "s4", "s5", "s6", "s7", "s8")
      val df = spark.read.format("inreach")
        .option("shares", shares.mkString(","))
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
      assert(df.rdd.getNumPartitions == 4)
      assert(rowsPerShare(df) ==
        Map("s0" -> 1L, "s2" -> 3L, "s3" -> 4L, "s4" -> 5L, "s5" -> 6L,
          "s6" -> 7L, "s7" -> 8L, "s8" -> 9L))
    }
  }

  test("two password-protected shares in one partition each send their own password") {
    // p1 and p2 are shares 0 and 4 of 5: one partition on 4 slots
    val passwords = Map("p1" -> "pw-one", "p2" -> "pw-two")
    val feeds = numberedFeeds(Seq("p1", "s1", "s2", "s3", "p2"))
    val guarded: InReachSource.Fetcher = (url, pw) => {
      val share = PipelineFixtures.shareIdOf(url)
      if (passwords.get(share).forall(p => pw.contains(p))) feeds(share)
      else throw new RuntimeException("HTTP 401 Unauthorized")
    }
    withFetcher(guarded) { id =>
      val df = spark.read.format("inreach")
        .option("shares", "p1,s1,s2,s3,p2")
        .option("share.p1.password", "pw-one")
        .option("share.p1.callsign", "One")
        .option("share.p2.password", "pw-two")
        .option("share.p2.callsign", "Two")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
      assert(df.rdd.getNumPartitions == 4)
      val callSigns = df.groupBy("shareId", "callSign").count().collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(callSigns == Seq(("p1", "One", 1L), ("p2", "Two", 5L),
        ("s1", "s1", 2L), ("s2", "s2", 3L), ("s3", "s3", 4L)))
    }
  }

  test("an unknown fetcher id fails at load() and names the id") {
    val err = intercept[IllegalArgumentException] {
      spark.read.format("inreach")
        .option("shares", "alpha")
        .option("fetcher", "no-such-fetcher")
        .load()
    }
    assert(err.getMessage.contains("no fetcher registered under 'no-such-fetcher'"),
      err.getMessage)
  }

  test("time filter appears as PushedFilters in the physical plan") {
    withFetcher() { id =>
      val df = spark.read.format("inreach")
        .option("shares", "alpha")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
        .filter(col("whenRaw") >= "2026-08-12T05:06:00Z")
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("pushedTime=Some(2026-08-12T05:06:00Z)"),
        s"no pushdown in plan:\n$physical")
      // Spark re-applies the filter on top: rows at/after 05:06 remain
      val whens = df.select("whenRaw").collect().map(_.getString(0)).sorted
      assert(whens.toSeq == Seq("2026-08-12T05:10:00Z"))
    }
  }

  test("a pushed whenRaw ≥ t filter asks the server for fixes from exactly t") {
    val key = s"d1-${java.util.UUID.randomUUID()}"
    withFetcher(InReachDataSourceSpec.recording(key)) { id =>
      spark.read.format("inreach")
        .option("shares", "alpha")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
        .filter(col("whenRaw") >= "2026-08-12T05:06:30Z")
        .collect()
    }
    // not the next whole minute (05:07:00), which would drop the fixes
    // in [05:06:30, 05:07:00) before Spark's residual filter sees them
    assert(InReachDataSourceSpec.urls(key) ==
      Seq("https://share.garmin.com/Feed/Share/alpha?d1=2026-08-12T05:06:30Z"))
  }

  test("without a now option, every share of one scan asks for the same window") {
    val key = s"clock-${java.util.UUID.randomUUID()}"
    withFetcher(InReachDataSourceSpec.recording(key)) { id =>
      spark.read.format("inreach")
        .option("shares", "alpha,beta,gamma")
        .option("fetcher", id)
        .load()
        .collect()
    }
    val d1s = InReachDataSourceSpec.urls(key).map(_.split("d1=")(1))
    assert(d1s.size == 3 && d1s.distinct.size == 1, s"d1 per share: $d1s")
  }

  test("column pruning reaches the scan: ReadSchema drops unselected fields") {
    withFetcher() { id =>
      val df = spark.read.format("inreach")
        .option("shares", "alpha,beta")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
        .select("whenRaw")
      // the scan's description advertises its pruned read schema
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("readSchema=whenRaw"),
        s"scan not pruned to whenRaw:\n$physical")
      assert(!physical.contains("readSchema=shareId,callSign"),
        s"scan still reads full schema:\n$physical")
      // and the projected rows are correct
      assert(df.collect().map(_.getString(0)).count(_ != null) == 4)
    }
  }

  test("missing fixture file behaves as empty feed, not a failure") {
    // the fixture fetcher has no "ghost" feed: its fetch throws
    withFetcher() { id =>
      val df = spark.read.format("inreach")
        .option("shares", "alpha,ghost")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
      assert(df.filter(col("shareId") === "ghost").count() == 0)
      assert(df.count() == 3) // alpha's 3 placemarks; ghost contributes none
    }
  }

  test("per-share password and callsign plumb through to the partition reader") {
    // plays the server: a wrong or missing credential is a 401
    val guarded: InReachSource.Fetcher = (url, pw) =>
      if (pw.contains("hunter2")) PipelineFixtures.fetcher(url, pw)
      else throw new RuntimeException("HTTP 401 Unauthorized")
    withFetcher(guarded) { id =>
      // correct password + explicit callsign: rows parse with the callsign
      val authed = spark.read.format("inreach")
        .option("shares", "alpha")
        .option("share.alpha.password", "hunter2")
        .option("share.alpha.callsign", "Alpha Team")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
      assert(authed.count() == 3)
      assert(authed.select("callSign").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("Alpha Team"))
      // wrong password: 401 → empty feed (per-share isolation), no failure
      val denied = spark.read.format("inreach")
        .option("shares", "alpha")
        .option("share.alpha.password", "wrong")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
      assert(denied.count() == 0)
    }
    // no callsign option: defaults to the shareId (task.ts:75)
    withFetcher() { id =>
      val defaulted = spark.read.format("inreach")
        .option("shares", "beta")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
      assert(defaulted.select("callSign").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("beta"))
    }
  }

  test("readStream.format(inreach): each microbatch is one fetch round; re-fetch sees feed updates") {
    def runOnce(tag: String, feeds: Map[String, String]): Array[org.apache.spark.sql.Row] =
      withFetcher(PipelineFixtures.serving(feeds)) { id =>
        val q = spark.readStream.format("inreach")
          .option("shares", "alpha,beta")
          .option("now", "2026-08-12T05:30:00Z")
          .option("fetcher", id)
          .load()
          .writeStream.format("memory").queryName(s"inreach_stream_$tag")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        q.stop()
        spark.table(s"inreach_stream_$tag").collect()
      }
    val first = runOnce("a", PipelineFixtures.feeds)
    assert(first.length == 4, s"expected 4 placemarks, got ${first.length}")
    // the feed moves: beta now reports a second placemark — the next
    // round (fresh query = the reference's next scheduled run) sees it
    val extra = PipelineFixtures.feeds("beta").replace("</Folder>",
      PipelineFixtures.placemark("444", "2026-08-12T05:25:00Z") + "</Folder>")
    val second = runOnce("b", PipelineFixtures.feeds.updated("beta", extra))
    assert(second.length == 5, s"re-fetch missed the new placemark: ${second.length}")
  }

  test("microbatch offsets survive a restart: end never regresses below the committed start") {
    // a restarted query hands the checkpoint's committed offset as
    // `start` while the rebuilt stream's counter is back at 0 — the
    // reported end must seed from start, not restart at 1
    def stream() = new InReachMicroBatchStream(new InReachScan(
      Seq(graft.model.Share("alpha")), None, InReachSource.httpFetcher, None, false,
      InReachDataSource.schema))
    val st = stream()
    val end = st.latestOffset(st.deserializeOffset("5"), null)
    assert(end.json.toLong == 6L, s"restarted end = ${end.json}, want committed+1")
    // AvailableNow after restart: the one-shot target must also sit
    // ABOVE the committed offset (prepare runs before start is known)
    val an = stream()
    an.prepareForTriggerAvailableNow()
    val t1 = an.latestOffset(an.deserializeOffset("5"), null)
    assert(t1.json.toLong == 6L, s"AvailableNow target = ${t1.json}, want 6")
    // the target is pinned: repeated polls don't advance it
    val t2 = an.latestOffset(an.deserializeOffset("5"), null)
    assert(t2.json.toLong == 6L)
    // fresh (no-restart) path still advances one round per trigger
    val fresh = stream()
    assert(fresh.latestOffset(fresh.initialOffset(), null).json.toLong == 1L)
    assert(fresh.latestOffset(fresh.deserializeOffset("1"), null).json.toLong == 2L)
  }

  test("the reference pipeline runs as a continuous stream: source → project → latest state") {
    import graft.operators.FeatureProjection
    import graft.streaming.StreamingOps
    import spark.implicits._
    // chk/table shared across runs: the SAME streaming query resumed —
    // latest-per-key state must survive the restart (the reference's
    // cross-run dedup, which its in-memory Map could never do)
    val chk = graft.TempDirs.create("stream-chk").toString
    val latest = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def runOnce(feeds: Map[String, String]): Unit = withFetcher(PipelineFixtures.serving(feeds)) { id =>
      val raw = spark.readStream.format("inreach")
        .option("shares", "alpha,beta")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
      val features = FeatureProjection.project(raw.as[graft.model.RawPlacemark])
        .select(col("id"),
          unix_millis(col("properties").getField("time")).as("t"))
        .as[(String, Long)]
      val q = StreamingOps.latestPerKey[String, (String, Long)](
          features, _._1, _._2)
        .toDF("id", "t")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.collect().foreach(r => latest.put(r.getString(0), r.getLong(1)))
        }
        .option("checkpointLocation", chk)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000); q.stop()
    }
    runOnce(PipelineFixtures.feeds)
    val t0510 = java.time.Instant.parse("2026-08-12T05:10:00Z").toEpochMilli
    // per-run dedup: device 111 reported twice, later timestamp wins
    assert(latest.get("inreach-111") == t0510)
    assert(latest.keySet.asScala ==
      Set("inreach-111", "inreach-222", "inreach-333"))
    // the feed moves BACKWARD for device 111 (a stale re-delivery):
    // cross-run state must keep the newer position from run 1
    val alphaKml = PipelineFixtures.doc(
      PipelineFixtures.placemark("111", "2026-08-12T05:02:00Z", lon = -99.0))
    runOnce(PipelineFixtures.feeds.updated("alpha", alphaKml))
    assert(latest.get("inreach-111") == t0510,
      s"stale re-delivery overwrote newer state: ${latest.get("inreach-111")}")
  }

  test("full pipeline composes over the DSv2 source") {
    import graft.operators.{Dedup, FeatureProjection}
    val raw = withFetcher() { id =>
      spark.read.format("inreach")
        .option("shares", "alpha,beta")
        .option("now", "2026-08-12T05:30:00Z")
        .option("fetcher", id)
        .load()
    }
    // project expects Dataset[RawPlacemark]-shaped columns
    import spark.implicits._
    val features = FeatureProjection.project(raw.as[graft.model.RawPlacemark])
    val deduped = Dedup.latestPerKey(features, Seq("id"),
      col("properties").getField("time"))
    assert(deduped.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("inreach-111", "inreach-222", "inreach-333"))
  }
}

object InReachDataSourceSpec {
  private val recorded =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[String]]()

  /** A fixture fetcher that also records each URL it is asked for
    * under `key`. The record lives here, not in the fetcher, because
    * each partition reads its own deserialized copy of the fetcher. */
  def recording(key: String): InReachSource.Fetcher = {
    recorded.put(key, new java.util.concurrent.ConcurrentLinkedQueue[String]())
    (url, pw) => { recorded.get(key).add(url); PipelineFixtures.fetcher(url, pw) }
  }

  /** The URLs recorded under `key`, in the order they were asked for. */
  def urls(key: String): Seq[String] = recorded.get(key).asScala.toSeq
}
