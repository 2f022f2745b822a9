package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("hllDistinct estimate lands within ~10% of exact on 2000 distinct values") {
    val rows = (1 to 6000).map(i => s"value-${i % 2000}").toDF("v")
    val r = Sketches.hllDistinct(rows, "v").collect().head
    val est = r.getDouble(0)
    val exact = r.getLong(1)
    assert(exact == 2000L)
    assert(math.abs(est - exact) / exact < 0.10, s"est=$est exact=$exact")
  }

  test("hllDistinct is duplicate-insensitive") {
    val once = Sketches.hllDistinct((1 to 500).map(i => s"x$i").toDF("v"), "v")
      .collect().head.getDouble(0)
    val dup = Sketches.hllDistinct(
      ((1 to 500) ++ (1 to 500)).map(i => s"x$i").toDF("v"), "v")
      .collect().head.getDouble(0)
    assert(once == dup)
  }

  test("HllAgg (TypedImperativeAggregate) matches the declarative HLL") {
    val rows = (1 to 6000).map(i => s"value-${i % 2000}").toDF("v")
    val declarative = Sketches.hllDistinct(rows, "v").collect().head.getDouble(0)
    // repartition forces real partial-buffer merges across 8 tasks
    val viaAgg = rows.repartition(8).agg(Sketches.hllAggCol($"v")).collect().head.getDouble(0)
    assert(math.abs(viaAgg - declarative) / declarative < 1e-6,
      s"agg=$viaAgg declarative=$declarative")
  }

  test("HllAgg registers are identical to the declarative HLL's (exact integer fold)") {
    val rows = (1 to 6000).map(i => s"value-${i % 2000}").toDF("v")
    val viaAgg = rows.repartition(8).agg(Sketches.hllAggCol($"v")).collect().head.getDouble(0)
    // declarative register table, same md5→60-bit derivation
    val mj = rows
      .select(graft.functions.HashFunctions.md5Long(col("v")).as("h"))
      .select(col("h").bitwiseAND(lit(255L)).as("bucket"),
        when(expr("shiftright(h, 8)") > 0,
          lit(53) - length(bin(expr("shiftright(h, 8)")))).otherwise(lit(53)).as("rho"))
      .groupBy("bucket").agg(max("rho").as("mj"))
      .collect().map(r => r.getLong(0).toInt -> r.getInt(1)).toMap
    // HllAgg.eval's exact fold replayed literally: equality is only
    // possible if every one of the 256 registers matches
    var s = 0L; var zeros = 0
    (0 until 256).foreach { b =>
      val m = mj.getOrElse(b, 0)
      s += 1L << (53 - m)
      if (m == 0) zeros += 1
    }
    val raw = 0.718272 * 65536.0 * 9007199254740992.0 / s.toDouble
    val want = if (raw <= 640.0 && zeros > 0) 256.0 * math.log(256.0 / zeros) else raw
    assert(viaAgg == want, s"agg=$viaAgg fold-of-declarative-registers=$want")
  }

  test("graft functions usable from SQL via GraftExtensions registration") {
    import org.apache.spark.sql.SparkSession
    // extensions bind at session build time: build a sibling session
    // over the same SparkContext with the extensions installed
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions())
        .getOrCreate()
      import s2.implicits._
      // ≥ ~2.5·m values: the raw HLL estimator has no linear-counting
      // small-range correction (deliberate — see Sketches scaladoc)
      (1 to 5000).map(i => s"k$i").toDF("v").createOrReplaceTempView("hll_in")
      val est = s2.sql("SELECT graft_hll_distinct(v) AS e FROM hll_in")
        .collect().head.getDouble(0)
      assert(math.abs(est - 5000) / 5000.0 < 0.15, s"est=$est")
      val d = s2.sql(
        "SELECT graft_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d")
        .collect().head.getDouble(0)
      assert(d == 11.0)
      // rolling fingerprints from SQL: 'aaaa' w=2 → 3 identical window
      // hashes (97*131+97 = 12804), keepMod=2 keeps the even hash
      val fps = s2.sql("SELECT graft_rolling_fps('aaaa', 2, 2) AS f")
        .collect().head.getSeq[Long](0)
      assert(fps.toSeq == Seq(12804L, 12804L, 12804L))
      // AccelerateDotProduct: the HOF spec-form plan is rewritten to
      // the codegen'd expression by the injected optimizer rule
      // (parquet-backed input so constant folding can't pre-evaluate)
      val e = s2.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val q = e.select(col("vec_id"),
        graft.operators.Similarity.dotHof(col("embedding"), col("embedding")).as("d"))
      assert(q.queryExecution.optimizedPlan.toString.contains("graft_dot"),
        s"rule did not fire:\n${q.queryExecution.optimizedPlan}")
      // values identical to the native expression
      val viaRule = q.orderBy("vec_id").limit(5).collect().map(_.getDouble(1)).toSeq
      val native = e.select(col("vec_id"),
          graft.operators.Similarity.dot(col("embedding"), col("embedding")).as("d"))
        .orderBy("vec_id").limit(5).collect().map(_.getDouble(1)).toSeq
      assert(viaRule == native)
      // the rule also fires on the RAW-SQL-authored HOF pattern over a
      // parquet-read view — the parser builds different lambda exprIds
      // than the Column API, and parquet element nullability must not
      // block the match (the containsNull gotcha)
      e.createOrReplaceTempView("emb_sql")
      val sq = s2.sql(
        """SELECT vec_id, aggregate(
          |  zip_with(embedding, embedding, (x, y) -> double(x) * double(y)),
          |  cast(0.0 as double), (acc, v) -> acc + v) AS d
          |FROM emb_sql""".stripMargin)
      assert(sq.queryExecution.optimizedPlan.toString.contains("graft_dot"),
        s"rule did not fire on SQL-authored HOF:\n${sq.queryExecution.optimizedPlan}")
      val viaSql = sq.orderBy("vec_id").limit(5).collect().map(_.getDouble(1)).toSeq
      assert(viaSql == native)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("histogramQuantilesBy: per-group estimates within one bucket width") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 6000).map { i =>
      val g = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"
      val v = g match {
        case "a" => rnd.nextDouble() * 100
        case "b" => 500 + rnd.nextDouble() * 10
        case _   => rnd.nextGaussian() * 50
      }
      (g, v)
    }
    val got = Sketches.histogramQuantilesBy(rows.toDF("g", "v"), "v", Seq("g"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val width = (sorted.last - sorted.head) / 64
      Seq(0.25, 0.5, 0.9, 0.99).foreach { q =>
        val exact = sorted((q * (sorted.size - 1)).toInt)
        val est = got((g, q))
        assert(math.abs(est - exact) <= width + 1e-6,
          s"group $g q$q: est $est vs exact $exact (width $width)")
      }
    }
  }

  test("histogramQuantilesBy shuffled-bounds mode equals broadcast mode") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 3000).map(i => (s"g${i % 5}", rnd.nextDouble() * (i % 7 + 1) * 40))
    val df = rows.toDF("g", "v")
    val bc = Sketches.histogramQuantilesBy(df, "v", Seq("g"))
    val (sh, shRows) = withoutBroadcastHints {
      val sh = Sketches.histogramQuantilesBy(df, "v", Seq("g"))
      (sh, sh.orderBy("g", "q").collect().map(_.toSeq).toSeq)
    }
    assert(bc.orderBy("g", "q").collect().map(_.toSeq).toSeq == shRows)
    assert(bc.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(!sh.queryExecution.analyzed.toString.contains("ResolvedHint"))
  }

  test("bloom filter: no false negatives, bounded false positives, OR-mergeable") {
    val members = (1 to 200).map(i => s"key$i").toDF("k")
    val sketch = Sketches.bloomBuild(members, "k", words = 64, k = 4)
    // bloom contract: every inserted key probes true
    val probed = Sketches.bloomProbe(sketch, members, "k", words = 64, k = 4)
    assert(probed.count() == 200 && probed.collect().forall(_.getBoolean(1)))
    // m=4032 bits, n=200, k=4 → fpr ≈ 0.1%; deterministic, generous cap
    val fps = Sketches.bloomProbe(sketch,
        (1 to 1000).map(i => s"other$i").toDF("k"), "k", words = 64, k = 4)
      .filter(col("member")).count()
    assert(fps < 30, s"false positives: $fps")
    // shard mergeability: bit_or of per-shard sketches == whole-corpus sketch
    val merged = Sketches.bloomBuild((1 to 100).map(i => s"key$i").toDF("k"), "k", 64, 4)
      .union(Sketches.bloomBuild((101 to 200).map(i => s"key$i").toDF("k"), "k", 64, 4))
      .groupBy("word").agg(expr("bit_or(bits)").as("bits"))
    assert(merged.orderBy("word").collect().toSeq ==
      sketch.orderBy("word").collect().toSeq)
  }

  test("hllOverlap: inclusion-exclusion lands near truth; identical sets merge exactly") {
    val a = (1 to 500).map(i => s"u$i").toDF("v")
    val b = (251 to 750).map(i => s"u$i").toDF("v") // 250 shared
    val r = Sketches.hllOverlap(a, b, "v").collect().head
    val (ea, eu, ov) = (r.getDouble(0), r.getDouble(2), r.getDouble(3))
    assert(math.abs(ea - 500) / 500.0 < 0.15, s"est_a $ea")
    assert(math.abs(eu - 750) / 750.0 < 0.15, s"est_union $eu")
    // inclusion-exclusion compounds three estimators' error — generous
    assert(math.abs(ov - 250) < 0.3 * 750, s"est_overlap $ov")
    // disjoint sets: overlap clamps at >= 0 and stays small
    val d = Sketches.hllOverlap((1 to 300).map(i => s"x$i").toDF("v"),
      (1 to 300).map(i => s"y$i").toDF("v"), "v").collect().head
    assert(d.getDouble(3) >= 0.0 && d.getDouble(3) < 0.3 * 300, s"disjoint $d")
    // identical sides: max-merged union registers ARE the side's
    // registers, so est_union == est_a EXACTLY (not approximately)
    val idn = Sketches.hllOverlap(a, a, "v").collect().head
    assert(idn.getDouble(2) == idn.getDouble(0), s"identical-merge drift: $idn")
  }

  // shard-merge LAW at the probe surface (the build-level equality
  // above checks one split; this pins the user-visible contract):
  // OR-union only ever SETS bits, so a key that probes true against
  // any shard must probe true against the union — monotone
  // membership, no false negatives introduced by merging
  test("bloomProbe membership is monotone under sketch union") {
    val a = (1 to 100).map(i => s"key$i").toDF("k")
    val b = (101 to 200).map(i => s"key$i").toDF("k")
    val sa = Sketches.bloomBuild(a, "k", words = 64, k = 4)
    val merged = sa.union(Sketches.bloomBuild(b, "k", words = 64, k = 4))
      .groupBy("word").agg(expr("bit_or(bits)").as("bits"))
    // probe members of both shards plus 100 absent keys, so the
    // subset check also ranges over false-positive candidates
    val probes = (1 to 300).map(i => s"key$i").toDF("k")
    def members(s: org.apache.spark.sql.DataFrame): Set[String] =
      Sketches.bloomProbe(s, probes, "k", words = 64, k = 4)
        .filter(col("member")).select("key")
        .collect().map(_.getString(0)).toSet
    val mA = members(sa)
    val mM = members(merged)
    assert(mA.subsetOf(mM), s"union dropped members: ${(mA -- mM).take(5)}")
    assert((1 to 100).map(i => s"key$i").toSet.subsetOf(mA))
    assert((1 to 200).map(i => s"key$i").toSet.subsetOf(mM))
  }

  test("count-min estimate for an unseen key is 0 (or collision-bounded), never absent") {
    val rows = Seq.fill(100)("present").toDF("term")
    val sketch = Sketches.countMin(rows, "term", depth = 4, width = 256)
    val est = Sketches.cmEstimate(sketch,
        Seq("present", "never-ingested").toDF("term"), "term", depth = 4, width = 256)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("present") == 100L)
    assert(est.contains("never-ingested"), "unseen key vanished from the estimate")
    assert(est("never-ingested") == 0L) // its buckets are empty at width 256
  }

  // the MG theory bound that makes heavyHitters EXACT: every value
  // with true freq > n/(capacity+1) must survive the sketch — across
  // real partial-aggregation merges (repartition(8) forces them)
  test("MisraGriesAgg candidates are a superset of items above n/(cap+1)") {
    val rng = new scala.util.Random(42)
    // zipfish mix: few hot keys + long tail
    val data = (1 to 20000).map { _ =>
      val r = rng.nextInt(100)
      if (r < 30) s"hot-${rng.nextInt(3)}"
      else if (r < 55) s"warm-${rng.nextInt(12)}"
      else s"tail-${rng.nextInt(5000)}"
    }
    val df = data.toDF("v").repartition(8)
    val cap = 64
    val cands = df.agg(Sketches.misraGriesCol($"v", cap).as("c"))
      .collect().head.getSeq[String](0).toSet
    val n = data.size
    val mustSurvive = data.groupBy(identity).view.mapValues(_.size)
      .filter(_._2 > n / (cap + 1)).keySet
    assert(mustSurvive.nonEmpty, "test data produced no heavy items")
    assert(mustSurvive.subsetOf(cands),
      s"MG dropped guaranteed items: ${(mustSurvive -- cands).take(5)}")
    assert(cands.size <= cap, s"sketch exceeded capacity: ${cands.size}")
  }

  test("heavyHitters is exact and partitioning-invariant") {
    val rng = new scala.util.Random(7)
    val data = (1 to 15000).map { _ =>
      val r = rng.nextInt(100)
      if (r < 40) s"hh-${rng.nextInt(5)}" else s"t-${rng.nextInt(3000)}"
    }
    val df = data.toDF("v")
    val expected = data.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 100 >= data.size }.toMap
    def run(d: org.apache.spark.sql.DataFrame): Map[String, Long] =
      Sketches.heavyHitters(d, "v", capacity = 128, thresholdDen = 100)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run(df)
    assert(got == expected, s"got=$got expected=$expected")
    assert(run(df.repartition(11)) == expected, "partitioning changed the answer")
  }

  test("heavyHitters rejects a threshold looser than the sketch's guarantee") {
    val df = Seq("a", "b").toDF("v")
    intercept[IllegalArgumentException] {
      Sketches.heavyHitters(df, "v", capacity = 50, thresholdDen = 100)
    }
  }

  test("heavyHitters on an all-distinct stream returns empty, not noise") {
    // worst case for MG (every arrival is a miss): candidates are
    // arbitrary survivors, but the exact recount must kill them all
    val df = (1 to 5000).map(i => s"unique-$i").toDF("v").repartition(6)
    assert(Sketches.heavyHitters(df, "v", capacity = 128, thresholdDen = 100)
      .count() == 0)
  }

  test("hllRetentionAdjacent recovers a planted 50% overlap within HLL error") {
    // day 0: users 1..200; day 1: users 101..300 → true retained 100
    val rows = ((1 to 200).map(u => (0L, u.toLong)) ++
      (101 to 300).map(u => (1L, u.toLong))).toDF("day", "user_id")
    val r = Sketches.hllRetentionAdjacent(rows, "day", "user_id")
      .collect()
    assert(r.length == 1 && r.head.getLong(0) == 0L)
    val (estA, estB, retained) =
      (r.head.getDouble(1), r.head.getDouble(2), r.head.getDouble(4))
    assert(math.abs(estA - 200) / 200.0 < 0.15, s"est_day=$estA")
    assert(math.abs(estB - 200) / 200.0 < 0.15, s"est_next=$estB")
    // inclusion–exclusion compounds three estimates' error — wide band
    assert(retained > 40 && retained < 180, s"est_retained=$retained")
  }

  test("hllDistinct ignores NULL values — no phantom register") {
    val allNull = Seq[Option[String]](None, None).toDF("v")
    val r = Sketches.hllDistinct(allNull, "v").collect().head
    assert(r.getDouble(0) == 0.0 && r.getLong(1) == 0L)
    val mixed = (Seq[Option[String]](None) ++ (1 to 500).map(i => Some(s"x$i"))).toDF("v")
    val withNull = Sketches.hllDistinct(mixed, "v").collect().head
    val without = Sketches.hllDistinct(
      (1 to 500).map(i => s"x$i").toDF("v"), "v").collect().head
    assert(withNull.getDouble(0) == without.getDouble(0))
  }

  test("count-min estimates never under-count, over-count bounded") {
    val rows = ((1 to 400).map(i => s"tok${i % 40}") ++ Seq.fill(100)("hot"))
      .toDF("term")
    val sketch = Sketches.countMin(rows, "term", depth = 4, width = 256)
    val keys = rows.select("term").distinct()
    val est = Sketches.cmEstimate(sketch, keys, "term", depth = 4, width = 256)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = 500.0
    exact.foreach { case (t, c) =>
      assert(est(t) >= c, s"under-count for $t: est=${est(t)} exact=$c")
      assert(est(t) - c <= n * 8 / 256, s"over-count too large for $t")
    }
  }

  test("histogramQuantiles track exact percentiles within a bucket width") {
    val rows = (1 to 10000).map(_.toDouble).toDF("v")
    val est = Sketches.histogramQuantiles(rows, "v", bins = 100,
        qs = Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val width = (10000.0 - 1.0) / 100
    Seq(0.25 -> 2500.0, 0.5 -> 5000.0, 0.9 -> 9000.0).foreach { case (q, exact) =>
      assert(math.abs(est(q) - exact) <= width, s"q=$q est=${est(q)} exact=$exact")
    }
  }

  test("histogramQuantiles: constant column collapses to that value") {
    val rows = Seq.fill(50)(7.5).toDF("v")
    val est = Sketches.histogramQuantiles(rows, "v", bins = 16, qs = Seq(0.5))
      .collect().head.getDouble(1)
    assert(est == 7.5)
  }

  test("saltedJoin resolves same-named keys on both sides") {
    val left = Seq((1L, "a"), (2L, "c")).toDF("k", "lv")
    val right = Seq((1L, "X"), (2L, "Y")).toDF("k", "rv")
    val out = SkewJoin.saltedJoin(left, right, "k", "k", col("lv"), 4)
    assert(out.count() == 2)
  }

  test("saltedJoin result equals plain join result") {
    val left = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("k", "lv")
    val right = Seq((1L, "X"), (2L, "Y")).toDF("rk", "rv")
    val salted = SkewJoin.saltedJoin(left, right, "k", "rk", col("lv"), 4)
      .select("k", "lv", "rv").orderBy("k", "lv")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val plain = left.join(right, col("k") === col("rk"))
      .select("k", "lv", "rv").orderBy("k", "lv")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(salted.toSeq == plain.toSeq && plain.nonEmpty)
  }

  test("cmJoinSize: never underestimates; exact when collision-free") {
    import spark.implicits._
    // A: key a ×3, b ×2; B: a ×4, c ×5 -> true join size 12
    val a = Seq("a", "a", "a", "b", "b").toDF("k")
    val b = Seq("a", "a", "a", "a", "c", "c", "c", "c", "c").toDF("k")
    val est = Sketches.cmJoinSize(
        Sketches.countMin(a, "k", depth = 4, width = 4096),
        Sketches.countMin(b, "k", depth = 4, width = 4096))
      .collect().head.getLong(0)
    // 3 keys in 4096 buckets: collision-free with overwhelming odds
    // in at least one depth row -> min equals the exact inner product
    assert(est == 12L)
    // disjoint key sets estimate 0 (inner join of sketches is empty)
    val z = Sketches.cmJoinSize(
      Sketches.countMin(Seq("x").toDF("k"), "k"),
      Sketches.countMin(Seq("y").toDF("k"), "k"))
    assert(z.collect().head.getLong(0) == 0L)
  }

  // ── KMV bottom-k sketches (round-6 ops; VERDICT r6 item 1) ────────

  test("kmvDistinct: exact below k — the sketch IS the value set") {
    import spark.implicits._
    // group a: 5 distinct values (< k=16) with duplicates; group b: 1
    val rows = (Seq.fill(3)("v1") ++ Seq("v2", "v3", "v4", "v5"))
      .map(("a", _)) ++ Seq(("b", "only"))
    val out = Sketches.kmvDistinct(rows.toDF("g", "v"), "g", "v", k = 16)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out("a") == ((5L, 5.0)), "below k the estimate must be exact")
    assert(out("b") == ((1L, 1.0)))
  }

  test("kmvDistinct: estimate within 3/sqrt(k) at n >> k; nulls ignored") {
    import spark.implicits._
    val n = 5000
    val rows = (1 to n).map(i => ("g", s"val$i")).toDF("g", "v")
      .union(Seq(("g", null: String)).toDF("g", "v"))
    val k = 256
    val est = Sketches.kmvDistinct(rows, "g", "v", k)
      .collect().head.getDouble(2)
    val rel = math.abs(est - n) / n.toDouble
    assert(rel < 3.0 / math.sqrt(k), s"KMV rel err $rel out of bound")
  }

  test("kmvDistinct merge law: union sketch = bottom-k of sketch union") {
    import spark.implicits._
    import graft.functions.HashFunctions.md5Long60
    // two halves of one keyspace, sketched separately with the SAME k:
    // merging the two sketches (bottom-k of their union) must equal
    // the sketch of the unioned data — the property that makes KMV
    // partition-distributable (mirrors the HLL mergeability pin)
    val k = 32
    val a = (1 to 300).map(i => ("g", s"x$i")).toDF("g", "v")
    val b = (200 to 500).map(i => ("g", s"x$i")).toDF("g", "v")
    def sketchHashes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("v").distinct().as[String].collect()
        .map(v => md5Long60(v)).sorted.take(k).toSeq
    val merged = (sketchHashes(a) ++ sketchHashes(b)).distinct.sorted.take(k)
    val direct = sketchHashes(a.union(b))
    assert(merged == direct, "bottom-k union must equal union's bottom-k")
    // and the operator's estimator over the union data agrees with a
    // driver-side replay of the same formula on the merged sketch
    val est = Sketches.kmvDistinct(a.union(b), "g", "v", k)
      .collect().head.getDouble(2)
    val replay = BigDecimal((k - 1).toDouble /
        (merged.last.toDouble / (1L << 60).toDouble))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(est == replay)
  }

  test("kmvOverlap: exact union/jaccard below k; sane on planted overlap") {
    import spark.implicits._
    // |A|=6, |B|=6, |A∩B|=3, |A∪B|=9 < k=16 -> all exact
    val a = Seq("a", "b", "c", "x", "y", "z").toDF("v")
    val b = Seq("a", "b", "c", "p", "q", "r").toDF("v")
    val r = Sketches.kmvOverlap(a, b, "v", k = 16).collect().head
    assert(r.getDouble(0) == 9.0, s"union: $r")
    assert(math.abs(r.getDouble(1) - 3.0 / 9.0) < 1e-6, s"jaccard: $r")
    assert(r.getDouble(2) == 3.0, s"intersection: $r")
  }

  test("kmvDifference: exact below k on disjoint, subset, and overlap") {
    import spark.implicits._
    val a = Seq("a1", "a2", "a3", "a4").toDF("v")
    val b = Seq("b1", "b2").toDF("v")
    val dis = Sketches.kmvDifference(a, b, "v", k = 16).collect().head
    assert(dis.getDouble(0) == 6.0 && dis.getDouble(1) == 4.0, s"$dis")
    val sub = Sketches.kmvDifference(b, a.union(b), "v", k = 16)
      .collect().head
    assert(sub.getDouble(1) == 0.0, s"subset difference must be 0: $sub")
    val ovl = Sketches.kmvDifference(a, Seq("a1", "x").toDF("v"), "v", 16)
      .collect().head
    assert(ovl.getDouble(1) == 3.0, s"a-not-b of overlap: $ovl")
  }

  test("sketchBakeoff: KMV exact below k, HLL within its rse envelope") {
    val rows = ((1 to 40).map(i => ("small", i.toLong)) ++
      (1 to 500).flatMap(i => Seq(("big", i.toLong), ("big", i.toLong))))
      .toDF("g", "v")
    val out = Sketches.sketchBakeoff(rows, "g", "v", k = 64)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // 40 < k: the KMV sketch IS the distinct set
    assert(out("small")._1 == 40L && out("small")._4 == 40.0 &&
      out("small")._5 == 0.0, s"$out")
    assert(out("big")._1 == 500L, s"$out")
    // HLL with 256 registers: ~6.5% rse; allow 4 sigma
    assert(math.abs(out("big")._3) < 0.26, s"hll err: $out")
    assert(math.abs(out("small")._3) < 0.26, s"hll err: $out")
    // duplicates must not inflate either estimate ('big' was doubled)
    assert(math.abs(out("big")._5) < 0.5, s"kmv err: $out")
  }

  test("amsF2: single key is sign-invariant (exact); counts book exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // one key, count 7: every Z_r = ±7 -> est = 49 = F2, rel_err 0
    val one = Seq.fill(7)("k").toDF("k")
    val r1 = Sketches.amsF2(one, col("k")).head()
    assert(r1.getLong(0) == 7L && r1.getLong(1) == 1L, s"$r1")
    assert(r1.getLong(2) == 49L && r1.getDouble(3) == 49.0 &&
      r1.getDouble(4) == 0.0, s"$r1")
    // counts (3, 2, 1): exact F2 = 14; estimate deterministic >= 0
    val multi = (Seq.fill(3)("a") ++ Seq.fill(2)("b") ++ Seq("c"))
      .toDF("k")
    val r2 = Sketches.amsF2(multi, col("k")).head()
    assert(r2.getLong(0) == 6L && r2.getLong(1) == 3L &&
      r2.getLong(2) == 14L, s"$r2")
    assert(r2.getDouble(3) >= 0.0 &&
      r2.getDouble(4) == BigDecimal(r2.getDouble(3) / 14.0 - 1)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"$r2")
  }
  test("hdrQuantiles: integer bucket reps at the rank cuts; underflow counted") {
    val rows = (1L to 100L).map(v => ("g", v)) ++ Seq(("g", 0L), ("g", -5L))
    val out = Sketches.hdrQuantiles(rows.toDF("k", "v"), "k", col("v"))
      .collect().map(r => r.getLong(3) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    // v=50 -> bucket [48,51] rep 50|? hand replay: sh=1, sub=25 -> rep 51
    assert(out(50L) == ((102L, 2L, 51L)), s"$out")
    assert(out(90L) == ((102L, 2L, 90L)), s"$out")
    assert(out(99L) == ((102L, 2L, 98L)), s"$out")
    // relative-error contract: est within 1/16 of the true value
    assert(math.abs(out(50L)._3 - 50.0) / 50.0 < 1.0 / 16)
    assert(math.abs(out(99L)._3 - 99.0) / 99.0 < 1.0 / 16)
  }

}
