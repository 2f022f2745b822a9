package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FuzzyDedupSpec extends SparkSpec {
  import spark.implicits._

  // two near-identical docs (one word changed), one unrelated
  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (3L, "completely different content about spark query engines and shuffles here")
  ).toDF("doc_id", "text")

  test("minhashNearDups finds the planted near-dup pair and only it") {
    val pairs = FuzzyDedup.minhashNearDups(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("exact jaccard of the planted pair is high, cross pair ~0") {
    val out = FuzzyDedup.exactJaccardPairs(docs, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) > 0.5)
    assert(out.getOrElse((1L, 3L), 0.0) < 0.1)
  }

  test("lsh candidates are a superset of verified pairs (no false negatives here)") {
    val sh = FuzzyDedup.shingled(docs, "doc_id", "text", 3)
    val cand = FuzzyDedup.lshCandidates(sh).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.contains((1L, 2L)))
  }

  test("simhash: near-dup docs land within small hamming distance") {
    val h = FuzzyDedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(3L)))
    assert(h(1L) != h(2L)) // one word did change
  }

  test("rolling window fingerprints equal the direct per-window Horner fold (incl. non-BMP)") {
    val texts = Seq(
      "The Quick  brown fox", "ab", "aaaaaaaaaa",
      "héllo wörld ünïcode test", "emoji 😀😀 window test string")
    def ref(t: String, w: Int, keepMod: Int): Seq[Long] = {
      val norm = t.toLowerCase.replaceAll("\\s+", " ").trim
      val cps = norm.codePoints().toArray
      (0 to cps.length - w).map { j =>
        cps.slice(j, j + w).foldLeft(0L)((h, c) => (h * 131 + c) % 1000000007L)
      }.filter(_ % keepMod == 0)
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = FuzzyDedup.windowFingerprints(df, w = 4, keepMod = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = texts.zipWithIndex.flatMap { case (t, i) =>
      ref(t, 4, 2).distinct.map(f => (i.toLong, f))
    }.toSet
    assert(want.nonEmpty && got == want)
  }

  test("fingerprintPairs surfaces the planted near-dup pair") {
    val pairs = FuzzyDedup.fingerprintPairs(docs, minShared = 1, w = 8, keepMod = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("dedup/text operators leave no persisted RDDs behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    FuzzyDedup.minhashNearDups(docs, threshold = 0.5).count()
    FuzzyDedup.exactJaccardPairs(docs, threshold = 0.1).count()
    FuzzyDedup.fingerprintPairs(docs, minShared = 1, keepMod = 4).count()
    FuzzyDedup.simhashPairs(docs, maxHamming = 14).count()
    TextAnalysis.tfIdf(docs).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"operators persisted RDDs: $leaked")
  }

  test("simhashPairs uncapped equals the naive all-pairs <=3-hamming definition") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sk = FuzzyDedup.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (a, sa) <- sk; (b, sb) <- sk if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = FuzzyDedup.simhashPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "exact-sketch grouping must lose no true pair")
    assert(want.exists(_._3 == 0L) && want.exists(_._3 > 0L),
      "corpus must exercise both the exact-dup and the inter-sketch path")
  }

  test("simhashPairs cap: subset of uncapped, hamming-0 complete, bucket reps connected") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val uncapped = FuzzyDedup.simhashPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cap of 2 forces the star fallback on any 3+-sketch chunk bucket
    val capped = FuzzyDedup.simhashPairs(corpus, maxBucket = Some(2)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped.subsetOf(uncapped), "cap must never invent pairs")
    assert(capped.filter(_._3 == 0L) == uncapped.filter(_._3 == 0L),
      "exact-duplicate (hamming-0) pairs bypass blocking and survive any cap")
    assert(capped.nonEmpty)
  }

  test("minhashNearDups maxBucket: cap-free bucket pairs survive, over-cap buckets drop") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val uncapped = FuzzyDedup.minhashNearDups(corpus, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a generous cap changes nothing on the real corpus (largest
    // bucket measured = 4): exact equality, not just subset
    val cap64 = FuzzyDedup.minhashNearDups(corpus, threshold = 0.5, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cap64 == uncapped)
    // cap=1 drops every multi-doc bucket -> no candidates at all
    assert(FuzzyDedup.minhashNearDups(corpus, threshold = 0.5, maxBucket = 1).count() == 0)
    // an intermediate cap can only remove pairs, never invent them
    val cap2 = FuzzyDedup.minhashNearDups(corpus, threshold = 0.5, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cap2.subsetOf(uncapped))
  }

  test("bandBucketCensus: integer invariants and a planted hot band") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = FuzzyDedup.bandBucketCensus(corpus, cap = 2).collect()
    assert(rows.length == 4) // one row per band
    rows.foreach { r =>
      val (nb, nr, mx, p99, share, over) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6))
      assert(nb >= 1 && nr >= nb && mx >= 1 && p99 <= mx)
      assert(share > 0.0 && share <= 1.0)
      assert(math.abs(share - mx.toDouble / nr) < 1e-6)
      assert(over >= 0 && over <= nb)
    }
    // a closed-vocabulary clone corpus puts everything in one bucket
    // per band: the census must flag it (the round-9 hot-band shape)
    val clones = (1L to 40L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val hot = FuzzyDedup.bandBucketCensus(clones, cap = 16).collect()
    assert(hot.forall(r => r.getLong(1) == 1L && r.getLong(3) == 40L &&
      r.getDouble(5) == 1.0 && r.getLong(6) == 1L))
  }

  test("shingling: short docs yield empty set, excluded from pipeline") {
    val tiny = Seq((1L, "two words")).toDF("doc_id", "text")
    assert(FuzzyDedup.shingled(tiny, "doc_id", "text", 3).count() == 0)
    assert(FuzzyDedup.minhashNearDups(tiny).count() == 0)
  }

  test("cosineTopK ranks an identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.001f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.7f, 0.7f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.cosineTopK(vecs, vecs.filter($"vec_id" === 0), 3)
      .orderBy("rn").collect()
    assert(top.head.getLong(1) == 1L)      // near-parallel vector ranks 1st
    assert(top.head.getDouble(2) > 0.999)
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L))
  }

  test("ivfTopK never crosses label cells") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 1), // closest overall but other label
      (2L, Array(0.1f, 0.9f), 0)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 0), 5)
      .collect().map(_.getLong(1))
    assert(top.toSeq == Seq(2L))
  }

  test("prefixJaccardJoin: exact pairs, no false negatives vs brute force") {
    val docs = Seq(
      (1L, "red green blue yellow"),
      (2L, "red green blue purple"),          // J(1,2) = 3/5 = 0.6
      (3L, "red green blue yellow"),          // J(1,3) = 1.0
      (4L, "cat dog fish"),
      (5L, "cat dog fish bird"),              // J(4,5) = 3/4 = 0.75
      (6L, "totally unrelated words here"),
      (7L, "red cat")                         // low J with everything
    ).toDF("doc_id", "text")
    val got = FuzzyDedup.prefixJaccardJoin(docs, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // brute force over the same token sets
    val sets = Map(1L -> Set("red", "green", "blue", "yellow"),
      2L -> Set("red", "green", "blue", "purple"),
      3L -> Set("red", "green", "blue", "yellow"),
      4L -> Set("cat", "dog", "fish"), 5L -> Set("cat", "dog", "fish", "bird"),
      6L -> Set("totally", "unrelated", "words", "here"),
      7L -> Set("red", "cat"))
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble /
        sets(a).union(sets(b)).size
      if j >= 0.6
    } yield (a, b, math.rint(j * 1e6) / 1e6)).toSet
    assert(got == brute && brute.size == 4)
  }

  test("prefixJaccardJoin: boundary threshold ties are kept (>=, not >)") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")) // J = 4/6
      .toDF("doc_id", "text")
    val got = FuzzyDedup.prefixJaccardJoin(docs, threshold = 4.0 / 6)
      .collect()
    assert(got.length == 1)
  }

  test("containmentPairs: full embedding scores 1.0 where Jaccard stays low") {
    // doc 2's shingles are a strict subset of doc 1's (A + boilerplate)
    val small = "alpha beta gamma delta"
    val big = small + " " + (1 to 30).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, big), (2L, small), (3L, "unrelated words only here"))
      .toDF("doc_id", "text")
    val cont = FuzzyDedup.containmentPairs(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont == Map((1L, 2L) -> 1.0))
    // the same pair is INVISIBLE to symmetric Jaccard at any real τ
    val jac = FuzzyDedup.exactJaccardPairs(docs, threshold = 0.5).collect()
    assert(jac.isEmpty)
  }

  test("explainPairs: sorted shingle evidence for a flagged pair") {
    val d = Seq((1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox runs"),
      (3L, "completely unrelated text entirely")).toDF("doc_id", "text")
    val out = FuzzyDedup.explainPairs(d, blockFilter = lit(true)).collect()
    assert(out.length == 1, s"only the near-dup pair: ${out.toSeq}")
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.5, s"2 shared of 4 union: $r")
    assert(r.getLong(3) == 2L &&
      r.getString(4) == "quick brown fox|the quick brown",
      s"sorted evidence: $r")
  }

  test("lshRecallAudit: found is a subset of truth; planted near-dups counted") {
    import org.apache.spark.sql.functions.{col, lit}
    // two obvious near-dup pairs + unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight"),
      (4L, "one two three four five six seven nine"),
      (5L, "completely different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val out = FuzzyDedup.lshRecallAudit(docs, lit(true), threshold = 0.5)
      .collect().head
    assert(out.getLong(0) == 2, s"truth pairs: $out")
    // verified LSH output can never exceed the truth
    assert(out.getLong(1) <= out.getLong(0) &&
      out.getLong(2) == out.getLong(1), s"$out")
    assert(out.getDouble(3) >= 0.0 && out.getDouble(3) <= 1.0, s"$out")
    // an empty block: NULL recall, zero counts, no crash
    val e = FuzzyDedup.lshRecallAudit(docs, col("doc_id") < 0).collect().head
    assert(e.getLong(0) == 0 && e.isNullAt(3), s"$e")
  }

  test("incrementalNearDups: delta-equivalence with the full rebuild on real docs") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = corpus.filter(col("doc_id") % 20 < 18)
    val fresh = corpus.filter(col("doc_id") % 20 >= 18)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getDouble(2))).toMap
    val incr = pairs(FuzzyDedup.incrementalNearDups(
      FuzzyDedup.bandIndex(old), old, fresh))
    // the contract: EXACTLY the full rebuild's pairs that involve a
    // new doc — same keys AND same verified Jaccard values
    val full = pairs(FuzzyDedup.minhashNearDups(corpus))
      .filter { case ((a, b), _) => a % 20 >= 18 || b % 20 >= 18 }
    assert(incr == full, s"incr=${incr.size} full-delta=${full.size}")
    assert(incr.nonEmpty, "fixture must exercise the delta (planted dups)")
    // old-only pairs never leak into the batch result
    assert(incr.keys.forall { case (a, b) => a % 20 >= 18 || b % 20 >= 18 })
  }

  test("band index lifecycle: sequential appends == one-shot, compaction preserves rows + steady state") {
    // the text-side twin of SimilaritySpec's vector-index lifecycle
    // contracts, checked where the registered q481/q482 oracle cannot
    // see: (a) two sequential insertInto half-wave appends land on
    // row-identical band tables to the one-shot union append (banding
    // is stateless per document — the associativity the q482 oracle
    // rides); (b) Layout.compactBucketedTable — the SAME table/column-
    // parameterized pass the vector index runs — moves zero rows and
    // returns every accreted (band, bucket) to exactly one file.
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = corpus.filter(col("doc_id") % 20 < 18)
    val w1 = corpus.filter(col("doc_id") % 40 === 18)
    val w2 = corpus.filter(col("doc_id") % 40 === 38)
    def mkTbl(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      FuzzyDedup.bandIndex(old).withColumn("part", lit("bands"))
        .write.partitionBy("part")
        .bucketBy(16, "band", "sig").sortBy("band", "sig").saveAsTable(name)
    }
    try {
      mkTbl("band_seq"); mkTbl("band_one")
      graft.SparkEntry.appendBandWave(spark, "band_seq", w1)
      graft.SparkEntry.appendBandWave(spark, "band_seq", w2)
      graft.SparkEntry.appendBandWave(spark, "band_one", w1.unionByName(w2))
      def rows(t: String): Seq[String] =
        spark.table(t).collect().map(_.toString).sorted.toSeq
      assert(rows("band_seq") == rows("band_one"),
        "sequential band appends diverged from the one-shot union append")
      val accreted = Layout.bucketFileManifest(spark, "band_seq")
        .filter(_._3 > 1)
      assert(accreted.nonEmpty, "appends produced no accretion to compact")
      val before = rows("band_seq")
      val rewritten = Layout.compactBucketedTable(spark, "band_seq",
        partCol = "part", bucketCols = Seq("band", "sig"), numBuckets = 16,
        maxFilesPerBucket = 1)
      assert(rewritten.nonEmpty, "compaction selected no accreted partition")
      assert(rows("band_seq") == before, "compaction moved rows")
      val post = Layout.bucketFileManifest(spark, "band_seq").filter(_._3 > 1)
      assert(post.isEmpty, s"buckets still hold multiple files: $post")
      // idempotence: a second pass finds nothing to do
      assert(Layout.compactBucketedTable(spark, "band_seq",
        partCol = "part", bucketCols = Seq("band", "sig"), numBuckets = 16,
        maxFilesPerBucket = 1).isEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS band_seq")
      spark.sql("DROP TABLE IF EXISTS band_one")
    }
  }

  test("incrementalNearDups: new-new pairs found without any index hit") {
    // index has nothing similar to the batch; the batch contains its
    // own near-dup pair — must be found by banding the batch itself
    val oldDocs = Seq(
      (100L, "completely different content about spark query engines and shuffles here"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (201L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (202L, "the quick brown fox jumps over the lazy cat near the river bank today"))
      .toDF("doc_id", "text")
    val out = FuzzyDedup.incrementalNearDups(
        FuzzyDedup.bandIndex(oldDocs), oldDocs, fresh, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((201L, 202L)))
  }

  test("incrementalNearDups: degenerate-band cap — generous cap is exact, cap 1 empties") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = corpus.filter(col("doc_id") % 20 < 18)
    val fresh = corpus.filter(col("doc_id") % 20 >= 18)
    val idx = FuzzyDedup.bandIndex(old)
    def pairs(maxBucket: Int) = FuzzyDedup.incrementalNearDups(
        idx, old, fresh, maxBucket = maxBucket)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = pairs(Int.MaxValue)
    // no fixture bucket is anywhere near 10^6 rows: cap is a no-op
    assert(pairs(1000000) == exact && exact.nonEmpty)
    // cap 1: any bucket that could yield a pair holds >= 2 rows
    assert(pairs(1).isEmpty)
  }

  test("thresholdSweep: hand counts, zeros kept, monotone non-increasing") {
    import org.apache.spark.sql.functions.col
    val pairs = Seq((1L, 2L, 0.9), (3L, 4L, 0.5), (5L, 1L, 0.45))
      .toDF("doc_a", "doc_b", "jaccard")
    val out = FuzzyDedup.thresholdSweep(pairs, "jaccard", "doc_a",
        "doc_b", Seq(0.4, 0.5, 0.8, 0.95))
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(0.4) == ((3L, 5L)), s"$out")
    assert(out(0.5) == ((2L, 4L)), s"$out")
    assert(out(0.8) == ((1L, 2L)), s"$out")
    // an empty threshold still reports a row of zeros
    assert(out(0.95) == ((0L, 0L)), s"$out")
    val ts = Seq(0.4, 0.5, 0.8, 0.95).map(out(_)._1)
    assert(ts == ts.sorted.reverse, s"not monotone: $ts")
  }

  test("bandRowsLocal: bit-identical to the batch bandIndex rows on real docs") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "band", "sig").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val local = rows(FuzzyDedup.bandRowsLocal(corpus))
    val batch = rows(FuzzyDedup.bandIndex(corpus))
    assert(local == batch, s"local=${local.size} batch=${batch.size}")
    assert(local.nonEmpty)
  }

  test("streamingIngestProbe: a real STREAM lands on the full rebuild's cross pairs") {
    import org.apache.spark.sql.streaming.Trigger
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = corpus.filter(col("doc_id") % 20 < 18)
    val srcDir = graft.TempDirs.create("probe-feed")
      .resolve("feed").toString
    corpus.filter(col("doc_id") % 20 >= 18).coalesce(1)
      .write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val probed = FuzzyDedup.streamingIngestProbe(stream,
      FuzzyDedup.bandIndex(old), old)
    spark.catalog.dropTempView("probe_spec")
    probed.writeStream.format("memory").queryName("probe_spec")
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getDouble(2))).toMap
    val streamed = pairs(spark.table("probe_spec"))
    // cross (new×old) subset of the full rebuild, keys AND values
    val full = pairs(FuzzyDedup.minhashNearDups(corpus))
      .filter { case ((a, b), _) => (a % 20 >= 18) != (b % 20 >= 18) }
    assert(streamed == full, s"stream=${streamed.size} full-cross=${full.size}")
    assert(streamed.nonEmpty, "fixture must exercise the probe (planted dups)")
  }

  test("clusterDiameterAudit: chained cluster shows its low-min diameter") {
    import spark.implicits._
    // cluster 1 = {1, 2, 3}: (1,2) share 2 of 4 shingles -> 0.5,
    // doc 3 is unrelated (chained in) -> min 0; cluster 5 = identical
    // pair -> min 1; singleton 4 excluded
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d x"), (3L, "z y w v u"),
      (4L, "solo doc here"), (5L, "p q r s"), (6L, "p q r s"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 5L), (6L, 5L)).toDF("doc_id", "cluster_rep")
    val out = FuzzyDedup.clusterDiameterAudit(docs, clusters)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out.keySet == Set(1L, 5L), s"$out")
    assert(out(1L) == ((3L, 3L, 0.0, 0.166667)), s"$out")
    assert(out(5L) == ((2L, 1L, 1.0, 1.0)), s"$out")
    // cap: the 3-cluster exceeds maxClusterSize = 2 and is skipped
    val capped = FuzzyDedup.clusterDiameterAudit(docs, clusters,
      maxClusterSize = 2).collect().map(_.getLong(0)).toSet
    assert(capped == Set(5L), s"$capped")
  }
}
