package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("ivfAssign: each vector lands in multiAssign cells drawn from the seed ids") {
    val assigned = Similarity.ivfAssign(emb, numCells = 8, multiAssign = 2)
    assert(assigned.count() == emb.count() * 2)
    assert(assigned.select("cand_id").distinct().count() == emb.count())
    val cells = assigned.select("cell").distinct().collect().map(_.getLong(0)).toSet
    val seedIds = Similarity.ivfSeeds(emb, 8).select("seed_id").collect()
      .map(_.getLong(0)).toSet
    assert(cells.subsetOf(seedIds))
  }

  test("ivfAssign is deterministic across runs") {
    def run() = Similarity.ivfAssign(emb, numCells = 8)
      .select("cand_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run() == run())
  }

  test("ivfSearch recall@5 >= 0.9 vs brute-force cosineTopK at defaults") {
    val queries = emb.filter($"vec_id" % 25 === 0) // 20 spread-out queries
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.cosineTopK(emb, queries, 5))
    val ivf = pairs(Similarity.ivfSearch(emb, queries, 5))
    val recall = (brute intersect ivf).size.toDouble / brute.size
    info(s"recall@5 = $recall (defaults: 8 cells, nprobe 4, multiAssign 2)")
    assert(recall >= 0.9, s"recall@5 = $recall")
  }

  test("matryoshkaSearch: full-width degenerates to brute force; 32-dim coarse recall measured") {
    val queries = emb.filter($"vec_id" % 25 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.cosineTopK(emb, queries, 5))
    // prefixDim = full dim, shortlist >= corpus: EXACT equality
    val full = Similarity.matryoshkaSearch(emb, queries, k = 5,
      prefixDim = 64, shortlist = emb.count().toInt)
    assert(pairs(full) == brute, "full-width Matryoshka must equal brute")
    // the registered 32-dim / 100-deep config: measure recall@5
    val half = pairs(Similarity.matryoshkaSearch(emb, queries, k = 5,
      prefixDim = 32, shortlist = 100))
    val recall = (brute intersect half).size.toDouble / brute.size
    info(s"matryoshka recall@5 = $recall (prefix 32/64, shortlist 100)")
    assert(recall >= 0.9, s"recall@5 = $recall")
  }

  test("nearDupPairsUnlabeled: precision 1.0, recall >= 0.9 vs exact all-pairs") {
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact truth: all-pairs cosine >= 0.4 (no blocking at all)
    val withOneLabel = emb.withColumn("label", lit(0))
    val truth = pairSet(Similarity.nearDupPairs(withOneLabel, 0.4))
    val blocked = pairSet(Similarity.nearDupPairsUnlabeled(emb, 0.4))
    assert(blocked.subsetOf(truth), "blocked search emitted a false pair")
    val recall = (truth intersect blocked).size.toDouble / truth.size
    info(s"recall = $recall over ${truth.size} true pairs")
    assert(recall >= 0.9, s"recall = $recall")
  }

  test("ivfPqSearch: measured recall@5 >= 0.85 vs brute force; deep rerank recovers IVF recall") {
    val queries = emb.filter($"vec_id" % 25 === 0) // 20 spread-out queries
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.cosineTopK(emb, queries, 5))
    // defaults: 8 cells / nprobe 4 / multiAssign 2 / m=16 subspaces
    // of 4 dims / 32 codes / rerank 50 — measured 0.91 here (ADC
    // quantization loss stacks on IVF cell loss; pure IVF is 0.94)
    val ivfpq = pairs(Similarity.ivfPqSearch(emb, queries, 5))
    val recall = (brute intersect ivfpq).size.toDouble / brute.size
    info(s"ivf-pq recall@5 = $recall (m=16, 32 codes, rerank=50)")
    assert(recall >= 0.85, s"recall@5 = $recall")
    // rerank deep enough to cover every probed candidate -> the PQ
    // approximation cancels (exact re-rank decides) and recall equals
    // pure IVF at the same probe settings: quantization loss is
    // recoverable by rerank depth, cell loss is not
    val ivf = pairs(Similarity.ivfSearch(emb, queries, 5))
    val deep = pairs(Similarity.ivfPqSearch(emb, queries, 5, rerank = 2000))
    assert(deep == ivf, "deep rerank must equal pure IVF at same probes")
  }

  test("ivfPqServe from a MATERIALIZED index equals ivfPqSearch bit-for-bit") {
    val queries = emb.filter($"vec_id" % 25 === 0)
    val dir = graft.TempDirs.create("ivfpq-idx").toString
    // parquet round-trip on purpose: the standing-product read path
    // (array<double> seed vectors, float cast on serve) must land on
    // the fused build+serve's exact output, ranks and cosines included
    Similarity.ivfPqIndex(emb).write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "cos", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    val served = rows(Similarity.ivfPqServe(index, emb, queries, 5))
    val fused = rows(Similarity.ivfPqSearch(emb, queries, 5))
    assert(served == fused)
  }

  test("vectorIngestProbe: equals full search on (old, batch); is_dup rides the exact cosine") {
    val old = emb.filter($"vec_id" % 10 =!= 7)
    val fresh = emb.filter($"vec_id" % 10 === 7)
    val index = Similarity.ivfPqIndex(old)
    val probe = Similarity.vectorIngestProbe(index, old, fresh, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getBoolean(4)))
    assert(probe.nonEmpty)
    // the batch is disjoint from the index: no probe row may surface
    // a batch id as a candidate, and the flag is exactly cos >= tau
    val freshIds = fresh.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(probe.forall { case (_, cand, _, _, _) => !freshIds(cand) })
    assert(probe.forall { case (_, _, cos, _, dup) => dup == (cos >= 0.4) })
    val full = Similarity.ivfPqSearch(old, fresh, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(probe.map(p => (p._1, p._2, p._3, p._4)).toSet == full)
  }

  test("ivfPqEncode on the indexed corpus itself reproduces the index's assign + code parts") {
    val index = Similarity.ivfPqIndex(emb)
    val enc = Similarity.ivfPqEncode(index, emb)
    // cells == the index's multi-assignment, ascending
    val encCells = enc.select("vec_id", "cells").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    val idxCells = index.filter($"part" === "assign")
      .groupBy($"id").agg(sort_array(collect_list($"c")).as("cells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(encCells == idxCells)
    // codes == the index's per-subspace PQ codes, subspace order
    val encCodes = enc.select("vec_id", "codes").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    val idxCodes = index.filter($"part" === "code")
      .groupBy($"id").agg(transform(
        array_sort(collect_list(struct($"s", $"c"))),
        t => t.getField("c")).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(encCodes == idxCodes)
  }

  test("indexHealth: loads vs the cross-cell mean; non-assign parts ignored") {
    // assign: cell 10 holds 3 vectors, cell 20 holds 1 -> mean 2,
    // loads 1.5 / 0.5; the code row must not leak into the counts
    val index = Seq(
      ("assign", 1L, -1L, 10L), ("assign", 2L, -1L, 10L),
      ("assign", 3L, -1L, 10L), ("assign", 4L, -1L, 20L),
      ("code", 1L, 0L, 10L))
      .toDF("part", "id", "s", "c")
      .withColumn("s", when($"s" >= 0, $"s"))
      .withColumn("vec", lit(null).cast("array<double>"))
    val out = Similarity.indexHealth(index).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map(10L -> ((3L, 1.5)), 20L -> ((1L, 0.5))), s"$out")
  }

  test("streamingVectorProbe: a real stream equals the static run; covers serve's dup pairs") {
    import org.apache.spark.sql.streaming.Trigger
    val old = emb.filter($"vec_id" % 10 =!= 7)
    val fresh = emb.filter($"vec_id" % 10 === 7)
    val index = Similarity.ivfPqIndex(old)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "cos").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val srcDir = graft.TempDirs.create("vec-feed")
      .resolve("feed").toString
    fresh.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    spark.catalog.dropTempView("vec_probe_spec")
    Similarity.streamingVectorProbe(index, old, stream, tau = 0.4)
      .writeStream.format("memory").queryName("vec_probe_spec")
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = pairs(spark.table("vec_probe_spec"))
    val static = pairs(
      Similarity.streamingVectorProbe(index, old, fresh, tau = 0.4))
    assert(streamed == static, "stream/static divergence")
    assert(streamed.nonEmpty, "fixture must exercise the probe")
    // the serve path's flagged dups are a SUBSET: its shortlist cut
    // can hide a neighbor, the threshold probe never can
    val served = Similarity
      .vectorIngestProbe(index, old, fresh, tau = 0.4)
      .filter($"is_dup")
      .select("query_id", "cand_id", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(served.toSet.subsetOf(streamed.toSet),
      s"serve flagged a pair the threshold probe missed")
  }

  test("streamingIngestEncode: a real APPEND-mode stream is bit-identical to the batch encoder") {
    import org.apache.spark.sql.streaming.Trigger
    val old = emb.filter($"vec_id" % 10 =!= 7)
    val fresh = emb.filter($"vec_id" % 10 === 7)
    val index = Similarity.ivfPqIndex(old)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getSeq[Long](2).toList)).toSet
    val srcDir = graft.TempDirs.create("enc-feed")
      .resolve("feed").toString
    fresh.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    spark.catalog.dropTempView("enc_spec")
    Similarity.streamingIngestEncode(index, stream)
      .writeStream.format("memory").queryName("enc_spec")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = rows(spark.table("enc_spec"))
    val batch = rows(Similarity.ivfPqEncode(index, fresh))
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("ndcgAtK: hand-computed graded gains, perfect/permuted/whiffed queries") {
    import spark.implicits._
    // q1: prediction inverts the top-2 of (a,g3),(b,g2),(c,g1)
    // q2: perfect order
    // q3: prediction finds nothing from truth
    val truth = Seq(
      (1L, "a", 1L, 3L), (1L, "b", 2L, 2L), (1L, "c", 3L, 1L),
      (2L, "x", 1L, 2L), (2L, "y", 2L, 1L),
      (3L, "m", 1L, 1L))
      .toDF("query_id", "cand_id", "rn", "grade")
    val pred = Seq(
      (1L, "b", 1L), (1L, "a", 2L), (1L, "c", 3L),
      (2L, "x", 1L), (2L, "y", 2L),
      (3L, "zzz", 1L))
      .toDF("query_id", "cand_id", "rn")
    val out = Similarity.ndcgAtK(truth, pred, 3)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    def q12(x: Double) = math.floor(x * 1e12 + 0.5).toLong
    def l2(r: Long) = math.log(r + 1.0) / math.log(2.0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = q12(2.0 / l2(1)) + q12(3.0 / l2(2)) + q12(1.0 / l2(3))
    val i1 = q12(3.0 / l2(1)) + q12(2.0 / l2(2)) + q12(1.0 / l2(3))
    assert(out(1L)._3.contains(r6(d1.toDouble / i1)), s"$out")
    assert(out(1L)._3.get < 1.0, "inverted order must cost gain")
    assert(out(2L)._3.contains(1.0), s"perfect order must score 1: $out")
    assert(out(3L) == ((0.0, 1.0, Some(0.0))), s"whiff must score 0: $out")
  }

  test("nearDupPairsTwoLevel: subset of truth, recall >= 0.9 vs flat assignment") {
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val withOneLabel = emb.withColumn("label", lit(0))
    val truth = pairSet(Similarity.nearDupPairs(withOneLabel, 0.4))
    val flat = pairSet(Similarity.nearDupPairsUnlabeled(emb, 0.4))
    val two = pairSet(Similarity.nearDupPairsTwoLevel(emb, 0.4))
    // correctness: a blocked search can only ever MISS, never invent
    assert(two.subsetOf(truth), "two-level emitted a false pair")
    // the coarse tier costs recall only through cells it fails to
    // probe — measure it against the flat assignment it approximates
    val recall = (flat intersect two).size.toDouble / math.max(1, flat.size)
    info(s"two-level recall vs flat = $recall over ${flat.size} flat pairs")
    assert(recall >= 0.9, s"recall vs flat = $recall")
    // coverage invariant: the two-level assignment must never DROP a
    // vector (a probed supercell could otherwise be empty when
    // rounded-cosine ties steer a coarse seed's top-2 away from
    // itself — the identity membership rows close that hole)
    val assigned = Similarity.ivfAssignTwoLevel(emb, 16)
      .select("cand_id").distinct().count()
    assert(assigned == emb.count(), s"dropped ${emb.count() - assigned} vectors")
  }

  test("ivfSearch with nprobe = numCells equals brute force exactly") {
    val queries = emb.filter($"vec_id" === 42)
    val brute = Similarity.cosineTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = Similarity.ivfSearch(emb, queries, 5, numCells = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(full == brute)
  }

  test("kmeansRefine matches a driver-side reference replay at iters = 2") {
    // the whole contract — hash seeds, rounded argmax with low-id
    // ties, quantized integer means, float32 centroids — replayed in
    // plain Scala on the collected corpus; assignments must be equal
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def md5Long(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      r6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    val k = 8
    var cents: Seq[(Long, Array[Float])] = rows
      .sortBy { case (id, _) => (md5Long(id.toString), id) }.take(k)
      .map { case (id, v) => id -> v }.toSeq
    var asg: Map[Long, Long] = null
    for (_ <- 0 until 2) {
      asg = rows.map { case (id, v) =>
        id -> cents.map { case (cid, cv) => (cos(v, cv), cid) }
          .minBy { case (s, cid) => (-s, cid) }._2
      }.toMap
      cents = asg.groupBy(_._2).toSeq.map { case (cid, members) =>
        val vs = members.keys.toSeq.sorted.map(id => rows.find(_._1 == id).get._2)
        val dim = vs.head.length
        cid -> Array.tabulate(dim) { i =>
          val sq = vs.map(v => math.floor(v(i).toDouble * 1e6 + 0.5).toLong).sum
          (sq.toDouble / (vs.size * 1e6)).toFloat
        }
      }
      // one more argmax against the refined centroids happens next loop
    }
    val wantAsg = rows.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cos(v, cv), cid) }
        .minBy { case (s, cid) => (-s, cid) }._2
    }.toMap
    val got = Similarity.kmeansRefine(emb, k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == rows.length)
    val diff = got.filter { case (id, c) => wantAsg(id) != c }
    assert(diff.isEmpty, s"${diff.size} assignments diverge, e.g. ${diff.take(3)}")
  }

  test("kmeansRefine is invariant to input partitioning and improves cohesion") {
    val base = Similarity.kmeansRefine(emb, k = 8, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val shuffled = Similarity.kmeansRefine(emb.repartition(7), k = 8, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(base.toSeq == shuffled.toSeq,
      "quantized centroid sums must make the result partitioning-independent")
    // Lloyd must not make the mean assigned score worse than iter 0
    val s0 = Similarity.kmeansRefine(emb, k = 8, iters = 0)
      .agg(avg("cos")).collect().head.getDouble(0)
    val s1 = base.map(_._3).sum / base.length
    assert(s1 >= s0 - 1e-9, s"cohesion regressed: $s0 -> $s1")
  }

  test("srpSearch: an identical vector collides in every band and ranks first") {
    val dup = emb.filter($"vec_id" === 7)
      .select(lit(9999L).as("vec_id"), $"embedding", $"label")
    val corpus = emb.unionByName(dup)
    val got = Similarity.srpSearch(corpus, dup, k = 3)
      .orderBy("rn").collect()
    assert(got.nonEmpty, "identical signature must collide")
    assert(got.head.getLong(1) == 7L && got.head.getDouble(2) == 1.0,
      s"the duplicate's source must rank first: ${got.toSeq}")
    // scores agree with the brute-force formula for the same pairs
    val brute = Similarity.cosineTopK(corpus, dup, k = corpus.count().toInt)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    got.foreach(r => assert(brute(r.getLong(1)) == r.getDouble(2)))
  }

  test("srpSearch is invariant to partitioning; md5Long60 matches the Column md5Long") {
    val q = emb.filter($"vec_id" < 3)
    val a = Similarity.srpSearch(emb, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(x => (x._1, x._4))
    val b = Similarity.srpSearch(emb.repartition(5), q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(x => (x._1, x._4))
    assert(a.toSeq == b.toSeq)
    // the plane matrix's driver-side hash = the engine's md5Long
    val probe = Seq("0_0", "3_17", "15_63").toDF("s")
      .select(graft.functions.HashFunctions.md5Long($"s"))
      .collect().map(_.getLong(0))
    val local = Seq("0_0", "3_17", "15_63")
      .map(graft.functions.HashFunctions.md5Long60)
    assert(probe.toSeq == local, s"driver/engine md5 split: $probe vs $local")
  }

  // the scaladoc's scale claims, pinned: building the kmeansRefine
  // plan runs ZERO Spark jobs (no per-iteration driver actions — the
  // whole refinement is one lazy plan), and the executed plan scans
  // the corpus file exactly iters+1 times for assignment plus once
  // for the seed sample
  test("kmeansRefine: lazy construction (no driver actions), iters+2 file scans") {
    // the meter ends a measured block with a marker job and returns only
    // once the bus has delivered the marker's end, so every job started
    // during construction has been seen: zero jobs in the construction's
    // group is exactly "no driver action", immune to listener-bus lag
    withMeter { meter =>
      val iters = 2
      val corpus = emb // reading the parquet schema runs a job of its own
      val df = meter.measure("kmeans-lazy")(
        Similarity.kmeansRefine(corpus, k = 8, iters = iters))
      assert(meter("kmeans-lazy").jobs == 0,
        s"plan construction must be fully lazy; jobs ran: ${meter("kmeans-lazy").jobTable.values}")
      df.collect()
      // count runtime file scans with the same AQE descent the meter's
      // planCounts uses; ReusedExchange = a shared subtree that runs once
      import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      def scans(p: SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: QueryStageExec        => scans(s.plan)
        case _: ReusedExchangeExec    => 0
        case _: FileSourceScanLike    => 1
        case other                    => other.children.map(scans).sum
      }
      val n = scans(df.queryExecution.executedPlan)
      assert(n == iters + 2, s"expected ${iters + 2} corpus scans, plan has $n")
    }
  }

  test("srpSearch: null vectors get null signatures and never surface as candidates") {
    val nullRow = emb.limit(1).select(lit(8888L).as("vec_id"),
      lit(null).cast(emb.schema("embedding").dataType).as("embedding"), $"label")
    val corpus = emb.unionByName(nullRow)
    val q = emb.filter($"vec_id" < 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val got = Similarity.srpSearch(corpus, q, k = 5)
    // without the null-signature guard the null row lands in every
    // all-zero band bucket and can steal top-k slots
    assert(!got.select("cand_id").collect().map(_.getLong(0)).contains(8888L),
      "null vector surfaced as a candidate")
    assert(rows(got) == rows(Similarity.srpSearch(emb, q, k = 5)),
      "a null corpus vector must not perturb results at all")
    // a null QUERY vector yields zero rows, not all-zero-bucket joins
    assert(Similarity.srpSearch(corpus, nullRow, k = 5).count() == 0)
  }

  test("quantizeInt8: codes in range, reconstruction within half a step") {
    import org.apache.spark.sql.functions._
    val q = Similarity.quantizeInt8(emb).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val (lo, hi, scale) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      val codes = r.getSeq[Int](4)
      val xs = r.getSeq[Float](5)
      assert(codes.forall(c => c >= 0 && c <= 255))
      // every element reconstructs within half a quantization step
      xs.zip(codes).foreach { case (x, c) =>
        val xhat = lo + c * scale
        assert(math.abs(x.toDouble - xhat) <= scale / 2 + 1e-9,
          s"x=$x xhat=$xhat scale=$scale")
      }
      assert(hi >= lo && scale >= 0.0)
    }
    // constant vector → scale 0, all-zero codes, exact reconstruction
    val const = Seq((1L, Array.fill(8)(2.5f))).toDF("vec_id", "embedding")
    val cq = Similarity.quantizeInt8(const).collect().head
    assert(cq.getDouble(3) == 0.0 && cq.getSeq[Int](4).forall(_ == 0))
  }

  // ── semDedup / centroidOutliers (round 7) ─────────────────────────

  test("semDedup: transitive near-dups keep exactly one survivor") {
    import spark.implicits._
    val base = Array.tabulate(8)(i => math.sin(i + 1).toFloat)
    def jitter(eps: Float) = base.zipWithIndex.map { case (v, i) =>
      if (i == 0) v + eps else v }
    // 1~2~3 a chain of tiny perturbations (cos ~ 1); 10 orthogonal-ish
    val far = Array.tabulate(8)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq(
      (1L, base, 0), (2L, jitter(1e-4f), 0), (3L, jitter(2e-4f), 0),
      (10L, far, 0), (20L, base, 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedup(df, 0.99)
    val rows = out.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rows.size == 5, "every vector is annotated")
    assert(rows(1L) == ((1L, true)) && rows(2L) == ((1L, false)) &&
      rows(3L) == ((1L, false)), s"chain should collapse to rep 1: $rows")
    assert(rows(10L)._2, "unpaired vector survives")
    assert(rows(20L)._2, "other label never pairs cross-block")
  }

  test("centroidOutliers: the far vector is flagged, counts preserved") {
    import spark.implicits._
    val tight = (1L to 19L).map { i =>
      (i, Array.tabulate(8)(d => (1.0 + 0.001 * i * (d + 1)).toFloat), 0) }
    val far = Seq((99L, Array.tabulate(8)(d =>
      (if (d % 2 == 0) -1.0 else 1.0).toFloat), 0))
    val df = (tight ++ far).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(df, bottomNth = 10)
    assert(out.count() == 20, "one output row per vector")
    val flagged = out.filter(col("outlier")).select("vec_id")
      .as[Long].collect().toSet
    // n=20, bottomNth=10 -> exactly ceil(20/10)=2 flags, 99 among them
    assert(flagged.size == 2 && flagged.contains(99L), s"got $flagged")
  }

  test("centroidOutliers: flags are invariant to partitioning") {
    import spark.implicits._
    val df = (1L to 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * (d + 1)).toFloat), (i % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
    val a = Similarity.centroidOutliers(df).collect()
      .map(_.toString).sorted.toSeq
    val b = Similarity.centroidOutliers(df.repartition(7)).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("rankingMetrics: hand-scored overlap, first-hit rank, total whiff") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L)).toDF("query_id", "cand_id")
    val pred = Seq((1L, 99L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 98L, 1L), (2L, 97L, 2L), (2L, 96L, 3L))
      .toDF("query_id", "cand_id", "rn")
    val out = Similarity.rankingMetrics(truth, pred, 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((2L, 0.666667, 0.5)),
      s"2 of 3 hit, first at rank 2: $out")
    assert(out(2L) == ((0L, 0.0, 0.0)), s"whiffed query scores 0, not NaN: $out")
  }

  test("mmrRerank: diversity beats raw relevance; k=1 is just the best") {
    import spark.implicits._
    // query (1,0); a and b near-copies along the query axis; c a
    // genuinely different direction. Pure top-2 = (a, b); at a
    // diversity-leaning lambda (40%) b's ~1.0 redundancy to a eats
    // its relevance edge and MMR picks c second instead.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),            // query
      (1L, Array(1.0f, 0.01f)),           // a: most relevant
      (2L, Array(0.99f, 0.012f)),         // b: near-copy of a
      (3L, Array(0.8f, 0.6f))             // c: diverse
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(vecs, vecs.filter($"vec_id" === 0),
        nCandidates = 3, k = 2, lambdaPct = 40)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(out(1L) == 1L, s"first pick is the most relevant: $out")
    assert(out(2L) == 3L, s"second pick is the DIVERSE candidate: $out")
    // at a relevance-leaning lambda the near-copy wins instead
    val rel = Similarity.mmrRerank(vecs, vecs.filter($"vec_id" === 0),
        nCandidates = 3, k = 2, lambdaPct = 95)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(rel(2L) == 2L, s"relevance-heavy lambda keeps the copy: $rel")
    val one = Similarity.mmrRerank(vecs, vecs.filter($"vec_id" === 0),
      nCandidates = 3, k = 1).collect()
    assert(one.length == 1 && one.head.getLong(0) == 1L)
  }

  test("pqCodebook: separated subspace clusters code consistently, err small") {
    // place the two hash-smallest ids in DIFFERENT clusters so the
    // seed draw starts one centroid per cluster deterministically
    val ids = (1L to 4L).sortBy(i =>
      (graft.functions.HashFunctions.md5Long60(i.toString), i))
    val (a1, b1, a2, b2) = (ids(0), ids(1), ids(2), ids(3))
    def vec(cluster0: Boolean, jitter: Float) =
      if (cluster0) Seq(0f + jitter, 0f, 10f, 10f + jitter)
      else Seq(5f + jitter, 5f, 0f, 0f + jitter)
    val corpus = Seq((a1, vec(true, 0f)), (a2, vec(true, 0.1f)),
      (b1, vec(false, 0f)), (b2, vec(false, 0.1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.pqCodebook(corpus, m = 2, k = 2, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out.size == 8, s"4 vectors x 2 subspaces: $out")
    (0L to 1L).foreach { s =>
      assert(out((a1, s))._1 == out((a2, s))._1, s"cluster A split in s$s")
      assert(out((b1, s))._1 == out((b2, s))._1, s"cluster B split in s$s")
      assert(out((a1, s))._1 != out((b1, s))._1, s"clusters merged in s$s")
    }
    // refined centroid = cluster mean -> err = (jitter/2)^2 * 2 = 0.005
    assert(out.values.forall(_._2 <= 0.005001), s"$out")
    val re = Similarity.pqCodebook(corpus.repartition(3), m = 2, k = 2,
        dim = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(re == out)
  }

  test("centroidDrift: identical snapshots cos 1 / shift 0; orthogonal shift exact") {
    val a = Seq((1L, Seq(1f, 0f), 0), (2L, Seq(0.5f, 0.5f), 1),
      (3L, Seq(0.7f, 0.3f), 1)).toDF("vec_id", "embedding", "label")
    val same = Similarity.centroidDrift(a, a)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(same(0) == ((1L, 1L, 1.0, 0.0)), s"$same")
    assert(same(1) == ((2L, 2L, 1.0, 0.0)), s"$same")
    // label 0 centroid rotates e1 -> e2: cos 0, l2 = sqrt(2)
    val b = Seq((9L, Seq(0f, 1f), 0)).toDF("vec_id", "embedding", "label")
    val rot = Similarity.centroidDrift(a.filter($"label" === 0), b)
      .collect().head
    assert(rot.getDouble(3) == 0.0 && rot.getDouble(4) == 1.414214, s"$rot")
  }

  test("hardNegatives: same-label excluded, cross-label near-miss ranked first") {
    val e1 = Seq(1f, 0f, 0f, 0f); val e2 = Seq(0f, 1f, 0f, 0f)
    val near = Seq(0.9f, 0.1f, 0f, 0f)
    val corpus = Seq(
      (1L, e1, 0), (2L, e1, 0),   // same-label twin: never a negative
      (3L, near, 1), (4L, e2, 1), (5L, e2, 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(corpus,
        corpus.filter($"vec_id" === 1), k = 2)
      .collect().map(r => r.getLong(3) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // rank 1: the cross-label NEAR-MISS (cos ~0.994), not the twin
    assert(out(1L)._1 == 3L && out(1L)._2 > 0.99, s"$out")
    // rank 2: ties between the two orthogonal e2s break to cand_id 4
    assert(out(2L)._1 == 4L && out(2L)._2 == 0.0, s"$out")
    assert(out.size == 2, s"k not respected: $out")
  }

  test("semanticDecontaminate: best-match argmax, tiebreak, threshold boundary") {
    val e1 = Seq(1f, 0f, 0f, 0f); val e2 = Seq(0f, 1f, 0f, 0f)
    val diag = Seq(1f, 1f, 0f, 0f) // cos ~0.7071 with both benches
    val e3 = Seq(0f, 0f, 1f, 0f)
    val bench = Seq((100L, e1), (200L, e2)).toDF("vec_id", "embedding")
    val corpus = Seq((1L, e1), (2L, diag), (3L, e3))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontaminate(corpus, bench, 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out(1L) == ((100L, 1.0)), s"exact copy: $out")
    // equal cos to both benches -> smallest bench_id wins
    assert(out(2L) == ((100L, 0.707107)), s"tie: $out")
    assert(!out.contains(3L), s"orthogonal vector flagged: $out")
    // boundary is inclusive (>=)
    val b = Similarity.semanticDecontaminate(corpus, bench, 0.707107)
      .collect().map(_.getLong(0)).toSet
    assert(b == Set(1L, 2L), s"boundary: $b")
  }

  test("semanticDecontaminate: cross-table id collisions don't suppress a match") {
    // corpus vec_id 100 collides with bench vec_id 100 AND is a
    // contaminated copy of it — the old `corpus_id =!= _bid` join
    // predicate silently skipped exactly this comparison
    val e1 = Seq(1f, 0f, 0f, 0f); val e3 = Seq(0f, 0f, 1f, 0f)
    val bench = Seq((100L, e1)).toDF("vec_id", "embedding")
    val corpus = Seq((100L, e1), (2L, e3)).toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontaminate(corpus, bench, 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out == Map(100L -> ((100L, 1.0))), s"collision suppressed: $out")
  }

  test("jlProject: hand-folded projection, width, partitioning invariance") {
    val dim = 8
    val v = Array.tabulate(dim)(i => (i + 1).toFloat)
    val df = Seq((1L, v.toSeq), (2L, v.map(-_).toSeq)).toDF("vec_id", "embedding")
    val out = Similarity.jlProject(df, outDim = 4, dim = dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    // regenerate the +/-1 matrix exactly like the operator and fold by hand
    val exp = (0 until 4).map { p =>
      val row = Array.tabulate(dim)(i =>
        if (graft.functions.HashFunctions.md5Long60(s"jl_${p}_${i}") % 2 == 0)
          1.0 else -1.0)
      v.zip(row).foldLeft(0.0)((acc, xy) => acc + xy._1 * xy._2) / 2.0
    }
    assert(out(1L).size == 4)
    assert(out(1L).zip(exp).forall { case (a, b) => math.abs(a - b) < 1e-12 },
      s"${out(1L)} vs $exp")
    // negated vector projects to the negation (linearity)
    assert(out(1L).zip(out(2L)).forall { case (a, b) => a == -b })
    val re = Similarity.jlProject(df.repartition(5), outDim = 4, dim = dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    assert(re == out)
  }

  test("jlDistortion: axis pair preserved exactly, zero-distance pair nulls ratio") {
    val dim = 8
    val e1 = Array.tabulate(dim)(i => if (i == 0) 1f else 0f)
    val df = Seq((1L, e1.toSeq), (2L, e1.map(-_).toSeq), (3L, e1.toSeq))
      .toDF("vec_id", "embedding")
    val out = Similarity.jlDistortion(df, maxId = 10L, outDim = 4, dim = dim)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), if (r.isNullAt(4)) None
         else Some(r.getDouble(4)))).toMap
    // e1 vs -e1: d_orig = 2; projected cols are +/-1/sqrt(4) so
    // d_proj = ||2 * Rcol1 / 2|| = sqrt(4 * 1) = 2 -> ratio exactly 1
    assert(out((1L, 2L)) == ((2.0, 2.0, Some(1.0))), s"$out")
    // identical vectors: zero distance, ratio must be NULL not inf/NaN
    assert(out((1L, 3L)) == ((0.0, 0.0, None)), s"$out")
    // distortion over pseudo-random vectors concentrates near 1
    val rnd = (1L to 20L).map(id => (id, Array.tabulate(dim)(i =>
      ((graft.functions.HashFunctions.md5Long60(s"$id:$i") % 1000) / 500.0 - 1.0)
        .toFloat).toSeq)).toDF("vec_id", "embedding")
    val ratios = Similarity.jlDistortion(rnd, maxId = 21L, outDim = 4,
        dim = dim).collect().map(_.getDouble(4))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.6 && mean < 1.4, s"mean distortion $mean")
  }

  test("clusterSilhouette: hand-computed centroids/a/b; singleton=1; single cluster empty; coincident=0") {
    // A = {(0,0),(0,2)} centroid (0,1); B = {(10,0),(10,2)} centroid
    // (10,1): a² = 1, b² = 101 for every point → s = 1 − 1/√101
    val emb = Seq(
      (1L, Seq(0f, 0f), 0), (2L, Seq(0f, 2f), 0),
      (3L, Seq(10f, 0f), 1), (4L, Seq(10f, 2f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.clusterSilhouette(emb).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(0) == ((2L, 0.900496)) && out(1) == ((2L, 0.900496)), s"$out")
    // singleton cluster: a = 0 (its centroid IS the point) → s = 1
    val emb2 = Seq(
      (1L, Seq(0f, 0f), 0),
      (3L, Seq(10f, 0f), 1), (4L, Seq(10f, 2f), 1))
      .toDF("vec_id", "embedding", "label")
    val out2 = Similarity.clusterSilhouette(emb2).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(out2(0) == 1.0, s"$out2")
    assert(out2(1) == 0.900971, s"$out2") // mean of 0.9 and 1−1/√104
    // single cluster: b undefined → no rows (the classic's contract)
    val one = Seq((1L, Seq(0f, 0f), 0), (2L, Seq(0f, 2f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.clusterSilhouette(one).count() == 0)
    // coincident centroids AND point: max(a,b) = 0 defines s = 0
    val co = Seq((1L, Seq(5f, 5f), 0), (2L, Seq(5f, 5f), 1))
      .toDF("vec_id", "embedding", "label")
    val out3 = Similarity.clusterSilhouette(co).collect()
      .map(_.getDouble(2)).toSeq
    assert(out3 == Seq(0.0, 0.0), s"$out3")
  }

  test("daviesBouldin: hand case S=1 each, M=10 → DB = 0.2; coincident pair excluded") {
    val emb = Seq(
      (1L, Seq(0f, 0f), 0), (2L, Seq(0f, 2f), 0),
      (3L, Seq(10f, 0f), 1), (4L, Seq(10f, 2f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.daviesBouldin(emb).head
    assert(r.getLong(0) == 2L && r.getDouble(1) == 0.2, s"$r")
    // a third label whose centroid coincides with label 0's: the
    // M = 0 pair is excluded, the finite pairs still score
    val emb2 = Seq(
      (1L, Seq(0f, 0f), 0), (2L, Seq(0f, 2f), 0),
      (3L, Seq(10f, 0f), 1), (4L, Seq(10f, 2f), 1),
      (5L, Seq(0f, 0f), 2), (6L, Seq(0f, 2f), 2))
      .toDF("vec_id", "embedding", "label")
    // all surviving pairs still have S_j + S_k = 2, M = 10 → DB = 0.2
    val r2 = Similarity.daviesBouldin(emb2).head
    assert(r2.getLong(0) == 3L && r2.getDouble(1) == 0.2, s"$r2")
  }

  test("hubnessAudit: hand-computed k-occurrences; singleton block; tiebreak") {
    // label 0, k=1: v1→v2 (cos 1), v2→v1 (cos 1), v3 ties v1/v2 at
    // cos 0 → min-id v1 wins. occ: v1=2, v2=1, v3=0 →
    // antihubs 1, max 2, skew m3≈0
    val emb = Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(2f, 0f), 0), (3L, Seq(0f, 1f), 0),
      (9L, Seq(5f, 5f), 7)) // singleton block: no pairs at all
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hubnessAudit(emb, k = 1)
      .collect().map(r => r.getInt(0) -> r).toMap
    val l0 = out(0)
    assert((l0.getLong(1), l0.getLong(2), l0.getLong(3), l0.getLong(4)) ==
      ((3L, 3L, 1L, 2L)), s"$l0")
    assert(l0.getDouble(5) == 0.0, s"$l0")
    // singleton: zero edges, itself an antihub, skew undefined (m2=0)
    val l7 = out(7)
    assert((l7.getLong(1), l7.getLong(2), l7.getLong(3), l7.getLong(4)) ==
      ((1L, 0L, 1L, 0L)), s"$l7")
    assert(l7.isNullAt(5), s"$l7")
  }

  test("codebookDrift: identical snapshots score JS 0; shifted mode scores > 0") {
    val mk = (ids: Seq[Long], v: Seq[Float]) =>
      ids.map(i => (i, v)).toDF("vec_id", "embedding")
    val a = mk(Seq(1L, 3L), Seq(1f, 0f, 0f, 0f))
      .union(mk(Seq(5L, 7L), Seq(0f, 0f, 1f, 0f)))
    val same = Similarity.codebookDrift(a, a, m = 2, k = 2, dim = 4)
      .collect()
    assert(same.length == 2 && same.forall(_.getDouble(3) == 0.0),
      s"${same.toSeq}")
    assert(same.forall(r => r.getLong(1) == 4L && r.getLong(2) == 4L))
    // B collapses onto one of A's modes: the code histogram shifts
    val b = mk(Seq(2L, 4L, 6L, 8L), Seq(1f, 0f, 0f, 0f))
    val drift = Similarity.codebookDrift(a, b, m = 2, k = 2, dim = 4)
      .collect()
    assert(drift.exists(_.getDouble(3) > 0.0), s"${drift.toSeq}")
  }

  test("ivfRecallSweep: recall is monotone in nprobe and 1.0 at full probe") {
    // numCells=2 with multiAssign=2: every vector sits in both cells,
    // so nprobe=2 sees the whole corpus -> recall exactly 1
    val emb = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.8f, 0.2f)),
      (4L, Seq(0f, 1f)), (5L, Seq(0.1f, 0.9f)), (6L, Seq(0.2f, 0.8f)),
      (7L, Seq(0.5f, 0.5f)), (8L, Seq(0.6f, 0.4f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfRecallSweep(emb, emb.filter(col("vec_id") <= 2),
        k = 3, numCells = 2, probes = Seq(1, 2))
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(out(2) == 1.0, s"$out")
    assert(out.getOrElse(1, 0.0) <= out(2), s"$out")
  }

  test("ivfCostSweep: candidate counts monotone in nprobe; full probe = corpus") {
    val emb = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.8f, 0.2f)),
      (4L, Seq(0f, 1f)), (5L, Seq(0.1f, 0.9f)), (6L, Seq(0.2f, 0.8f)),
      (7L, Seq(0.5f, 0.5f)), (8L, Seq(0.6f, 0.4f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfCostSweep(emb, emb.filter(col("vec_id") <= 2),
        numCells = 2, probes = Seq(1, 2), multiAssign = 1)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(3)))).toMap
    // multiAssign=1: probing both cells sees every other vector
    assert(out(2) == ((14L, 0.875)), s"$out")
    assert(out.getOrElse(1, (0L, 0.0))._1 <= 14L, s"$out")
  }

  test("knnLabelNoise: a mislabeled vector's neighborhood flags it; rates pooled") {
    // x-direction {1,2,5}, y-direction {3,4}; v5 carries label 1 but
    // points with label 0's cluster -> both its top-2 disagree ->
    // suspect. One cell = brute kNN, k=2.
    val emb = Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(2f, 0f), 0),
      (3L, Seq(0f, 1f), 1), (4L, Seq(0f, 2f), 1),
      (5L, Seq(3f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelNoise(emb, k = 2, numCells = 1,
        multiAssign = 1)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // l0: v1 top2 = {v2, v5} (cos-1 tie, id order), v2 top2 = {v1, v5}
    // -> 2 mismatches over 4 edges, no majority-disagree vector
    assert(out(0) == ((2L, 2L, 0L, 0.5)), s"$out")
    // l1: v5's top2 = {v1, v2} both l0 -> suspect; v3/v4 each 1 of 2
    assert(out(1) == ((3L, 3L, 1L, 0.666667)), s"$out")
  }
  test("residualQuantize: stage 2 only refines (err2 <= err1); codes in range") {
    val out = Similarity.residualQuantize(emb).collect()
    assert(out.length == emb.count())
    out.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) < 8, s"$r")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 8, s"$r")
      // the implicit zero code guarantees refinement never hurts
      assert(r.getDouble(4) <= r.getDouble(3) + 1e-9, s"$r")
    }
    // a codebook seed vector itself must hit err1 == 0 via its own code
    assert(out.exists(r => r.getDouble(3) == 0.0), s"no exact stage-1 hit")
  }

  test("cross-layout identity IN-REGIME: partitioned and bucketed serves return identical rows at cells=64") {
    // The interchangeability require() of the deleted LayoutProfile
    // main (`git show 99a2547:src/main/scala/graft/LayoutProfile.scala`),
    // kept here in CI at an in-regime cell count (cells=64 ≫ 16
    // buckets, sf0.01 corpus — VERDICT r12 item 6): the registered q476-vs-q326 oracle equality
    // covers only the 8-cell parity build, the layout's degenerate
    // regime. Identical ROWS from both physical layouts is the
    // property the production story swaps layouts on.
    val e01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val idx = Similarity.ivfPqIndex(e01, numCells = 64).cache()
    val tmp = graft.TempDirs.create("xlayout")
    try {
      val partPath = tmp.resolve("part").toString
      idx.write.mode("overwrite").partitionBy("part", "c").parquet(partPath)
      spark.sql("DROP TABLE IF EXISTS xlayout_bucketed")
      idx.write.partitionBy("part").bucketBy(16, "c").sortBy("c")
        .saveAsTable("xlayout_bucketed")
      val ixPart = spark.read.parquet(partPath)
        .select(col("part"), col("id"), col("s"),
          col("c").cast("long").as("c"), col("vec"))
      val ixBuck = spark.table("xlayout_bucketed")
        .select(col("part"), col("id"), col("s"), col("c"), col("vec"))
      val queries = e01.filter($"vec_id" < 20)
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      val rp = rows(Similarity.ivfPqServe(ixPart, e01, queries, 3))
      val rb = rows(Similarity.ivfPqServe(ixBuck, e01, queries, 3,
        bucketedIndex = true))
      assert(rp.nonEmpty && rp == rb,
        s"layouts disagree in-regime: ${rp.length} vs ${rb.length} rows")
    } finally {
      // cleanup even on assert failure: a stranded cache/table/dir
      // pollutes the rest of the shared JVM session (and /tmp across
      // runs — the q249 accretion class)
      idx.unpersist()
      spark.sql("DROP TABLE IF EXISTS xlayout_bucketed")
      graft.TempDirs.rmTree(tmp)
    }
  }

  test("maintenance associativity: N sequential wave appends == one-shot append of the union") {
    // the property the 100 TB standing-index claim rests on (q479's
    // oracle covers ONE wave; production is thousands): ivfPqEncode
    // reads only the standing seed/cent parts — appended assign/code
    // rows never move the fit — so appending waves one at a time must
    // land the table on exactly the rows a single union append (and
    // therefore ANY wave batching) produces. Pinned through the real
    // catalog-table path: 3 sequential appends vs 1 union append.
    val old = emb.filter($"vec_id" % 10 =!= 7)
    val fresh = emb.filter($"vec_id" % 10 === 7)
    val idx = Similarity.ivfPqIndex(old, numCells = 8).cache()
    def mkTbl(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      idx.write.partitionBy("part").bucketBy(16, "c").sortBy("c")
        .saveAsTable(name)
    }
    try {
      mkTbl("assoc_seq"); mkTbl("assoc_one")
      (0 until 3).foreach { w =>
        graft.SparkEntry.appendEncodedWave(spark, "assoc_seq", idx,
          fresh.filter(expr(s"(vec_id div 10) % 3 = $w")))
      }
      graft.SparkEntry.appendEncodedWave(spark, "assoc_one", idx, fresh)
      def rows(t: String): Seq[String] =
        spark.table(t).collect().map(_.toString).sorted.toSeq
      assert(rows("assoc_seq") == rows("assoc_one"),
        "sequential wave appends diverged from the one-shot union append")
    } finally {
      idx.unpersist()
      spark.sql("DROP TABLE IF EXISTS assoc_seq")
      spark.sql("DROP TABLE IF EXISTS assoc_one")
    }
  }

  test("compaction preserves rows AND the one-file-per-bucket steady state (small corpus)") {
    // Layout.compactBucketedTable's two contracts, checked where the
    // registered q480 oracle cannot see: (a) zero row movement, (b)
    // every accreted (partition, bucket) returns to exactly one file
    // — the empirical proof that repartition(n, bucketCol)'s
    // HashPartitioning aligns with Spark's bucket-file assignment.
    val old = emb.filter($"vec_id" % 10 =!= 7)
    val fresh = emb.filter($"vec_id" % 10 === 7)
    val idx = Similarity.ivfPqIndex(old, numCells = 8).cache()
    try {
      spark.sql("DROP TABLE IF EXISTS compact_t")
      idx.write.partitionBy("part").bucketBy(16, "c").sortBy("c")
        .saveAsTable("compact_t")
      (0 until 3).foreach { w =>
        graft.SparkEntry.appendEncodedWave(spark, "compact_t", idx,
          fresh.filter(expr(s"(vec_id div 10) % 3 = $w")))
      }
      val before = spark.table("compact_t").collect().map(_.toString).sorted.toSeq
      val accreted = Layout.bucketFileManifest(spark, "compact_t")
        .filter(_._3 > 1)
      assert(accreted.nonEmpty, "appends produced no accretion to compact")
      // untouched-partition byte-identity (VERDICT r13 item 4): the
      // dynamic-partition-overwrite rewrite must leave partitions it
      // does not select byte-identical — record (name, size, mtime) of
      // every file in the partitions that will NOT be rewritten
      val loc = new java.net.URI(spark.sql("DESCRIBE FORMATTED compact_t")
        .collect().find(r => Option(r.getString(0)).exists(_.trim == "Location"))
        .get.getString(1))
      def partFiles(p: String): Map[String, (Long, Long)] = {
        val d = new java.io.File(new java.io.File(loc), s"part=$p")
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => f.getName -> (f.length(), f.lastModified())).toMap
      }
      val overThreshold =
        accreted.map(_._1.stripPrefix("part=")).distinct.toSet
      val untouched = Seq("seed", "cent").filterNot(overThreshold)
      val filesBefore = untouched.map(p => p -> partFiles(p)).toMap
      val rewritten = Layout.compactBucketedTable(spark, "compact_t",
        partCol = "part", bucketCol = "c", numBuckets = 16,
        maxFilesPerBucket = 1)
      untouched.foreach { p =>
        assert(partFiles(p) == filesBefore(p),
          s"untouched partition part=$p changed across compaction")
      }
      assert(untouched.nonEmpty,
        "fixture degenerated: every partition accreted, byte-identity unasserted")
      // partition-selectivity: exactly the over-threshold partitions
      // are rewritten, nothing else (the appended assign/code
      // partitions always qualify; seed/cent may too if the INITIAL
      // parallel write already left >1 file in some bucket — also
      // legitimate work)
      val over = accreted.map(_._1.stripPrefix("part=")).distinct.sorted
      assert(rewritten == over,
        s"rewrote $rewritten but over-threshold partitions were $over")
      assert(rewritten.contains("assign") && rewritten.contains("code"),
        s"accreted partitions not selected for rewrite: $rewritten")
      val after = spark.table("compact_t").collect().map(_.toString).sorted.toSeq
      assert(after == before, "compaction moved rows")
      val post = Layout.bucketFileManifest(spark, "compact_t").filter(_._3 > 1)
      assert(post.isEmpty, s"buckets still hold multiple files: $post")
      // idempotence: a second pass finds nothing to do
      assert(Layout.compactBucketedTable(spark, "compact_t",
        partCol = "part", bucketCol = "c", numBuckets = 16,
        maxFilesPerBucket = 1).isEmpty)
    } finally {
      idx.unpersist()
      spark.sql("DROP TABLE IF EXISTS compact_t")
    }
  }

}
