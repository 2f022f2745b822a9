package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

class OutliersSpec extends SparkSpec {
  import spark.implicits._

  test("zscore: planted extreme flagged, normals not, constants never") {
    val rows = (1 to 99).map(i => (i.toLong, "a", 100L + (i % 5))) ++
      Seq((100L, "a", 5000L)) ++ // the planted outlier
      (101 to 110).map(i => (i.toLong, "b", 42L)) // constant group
    val out = Outliers.zscore(rows.toDF("id", "grp", "v"), "v", Seq("grp"),
        threshold = 3.0)
      .select("id", "z", "is_outlier") // using-join reorders: grp first
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out(100L)._2, s"planted outlier not flagged: z=${out(100L)._1}")
    (1L to 99L).foreach(i => assert(!out(i)._2, s"false flag on $i: ${out(i)}"))
    // constant group: variance 0 → z = 0, nothing flagged
    (101L to 110L).foreach(i => assert(out(i) == ((0.0, false))))
    // z-scores of one group sum to ~0 (standardization sanity)
    val sumZ = (1L to 100L).map(out(_)._1).sum
    assert(math.abs(sumZ) < 1e-3, s"z sum $sumZ")
  }

  test("zscore is partitioning-invariant") {
    val rows = (1 to 500).map(i => (i.toLong, s"g${i % 3}", (i * 37 % 211).toLong))
    val df = rows.toDF("id", "grp", "v")
    val a = Outliers.zscore(df, "v", Seq("grp")).orderBy("id")
      .collect().map(_.toSeq).toSeq
    val b = Outliers.zscore(df.repartition(17), "v", Seq("grp")).orderBy("id")
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("zscore shuffled-join mode equals broadcast mode, and the plans differ") {
    val rows = (1 to 400).map(i => (i.toLong, s"g${i % 4}", (i * 53 % 307).toLong))
    val df = rows.toDF("id", "grp", "v")
    val bc = Outliers.zscore(df, "v", Seq("grp"))
    val (sh, shRows) = withoutBroadcastHints {
      val sh = Outliers.zscore(df, "v", Seq("grp"))
      (sh, sh.orderBy("id").collect().map(_.toSeq).toSeq)
    }
    assert(bc.orderBy("id").collect().map(_.toSeq).toSeq == shRows)
    // hints off really drops the broadcast hint (analyzed plan)
    assert(bc.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(!sh.queryExecution.analyzed.toString.contains("ResolvedHint"))
  }

  test("zscore near-constant group beyond 2^53: clamped variance, no NaN mass-flagging") {
    // values ~1e9 with ±1 jitter: sum of squares ~4e20 ≫ 2^53, so
    // E[x²]−E[x]² computed in doubles can dip an ulp below zero —
    // unclamped, sqrt(−ε)=NaN and abs(NaN)>t is TRUE, flagging ALL rows
    val base = 1000000000L
    val rows = (1 to 400).map(i => (i.toLong, "g", base + (i % 2))) // ±1 jitter
    val out = Outliers.zscore(rows.toDF("id", "grp", "v"), "v", Seq("grp"))
      .select("id", "z", "is_outlier")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(out.length == 400)
    out.foreach { case (id, z, flagged) =>
      assert(!z.isNaN, s"row $id: z is NaN")
      assert(!flagged, s"row $id: ±1 jitter at 1e9 mass-flagged (z=$z)")
    }
  }

  test("robustZscore: immune to the outlier it flags; MAD-0 group silent") {
    // group a: median 10, MAD 1 -> planted 100 has z = 0.6745*90 ≈ 61;
    // a moment z-score over the same group would be dragged to ~3.1
    val rows = Seq.tabulate(9)(i => ((i + 1).toLong, "a", 9.0 + (i % 3))) ++
      Seq((10L, "a", 100.0)) ++
      (11 to 20).map(i => (i.toLong, "b", 7.0)) // constant group
    val out = Outliers.robustZscore(rows.toDF("id", "grp", "v"), "v",
        Seq("grp"), threshold = 3.5)
      .select("id", "robust_z", "is_outlier")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2)))
      .toMap
    assert(out(10L)._2 && out(10L)._1 > 50)
    (1L to 9L).foreach(i => assert(!out(i)._2, s"false flag on $i"))
    (11L to 20L).foreach(i => assert(out(i) == ((0.0, false))))
  }

  test("cusumDrift: level shift peaks at the change point, bit-exact") {
    // values 0,0,10,10: quantized terms (vq·n − S) = ±2000, prefix
    // sums −2000,−4000,−2000,0 → peak |−4000| at ts 2;
    // cusum = −4000/(100·4) = −10
    val df = Seq((1L, "g", 0.0), (2L, "g", 0.0), (3L, "g", 10.0),
      (4L, "g", 10.0)).toDF("ts", "grp", "v")
    val out = Outliers.cusumDrift(df, "grp", "ts", col("ts"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(out.toSeq == Seq(("g", -10.0, 2L)))
  }

  test("cusumDrift: a constant series peaks at zero") {
    val df = Seq((1L, "g", 5.0), (2L, "g", 5.0), (3L, "g", 5.0))
      .toDF("ts", "grp", "v")
    val out = Outliers.cusumDrift(df, "grp", "ts", col("ts"), "v")
      .collect().head
    assert(out.getDouble(1) == 0.0 && out.getLong(2) == 1L)
  }

  test("winsorize: interior untouched, tails clipped to the quantile band") {
    val rows = (1 to 100).map(i => (i.toLong, "g", i.toDouble))
    val out = Outliers.winsorize(rows.toDF("id", "grp", "v"), "v",
        Seq("grp"), pLo = 0.05, pHi = 0.95)
      .select("id", "v_w").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // percentile(0.05) over 1..100 = 1 + 0.05*99 = 5.95; p95 = 95.05
    assert(out(1L) == 5.95 && out(3L) == 5.95)
    assert(out(100L) == 95.05 && out(97L) == 95.05)
    assert(out(50L) == 50.0 && out(6L) == 6.0 && out(95L) == 95.0)
  }

  test("groupedMad: exact median/MAD; extreme row flags itself; MAD=0 degenerate") {
    import org.apache.spark.sql.functions.col
    // g1 {1,2,3,4,100}: med 3, z {2,1,0,1,97}, MAD 1, one z > 3
    // g2 {5,5,5,7}: med 5, MAD 0 -> ANY deviation flags (standard
    // MAD-rule degeneracy on >50%-constant groups)
    val df = Seq(("g1", 1L), ("g1", 2L), ("g1", 3L), ("g1", 4L),
      ("g1", 100L), ("g2", 5L), ("g2", 5L), ("g2", 5L), ("g2", 7L))
      .toDF("g", "v")
    val out = Outliers.groupedMad(df, "g", col("v"), k = 3L, scale = 1L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(out("g1") == ((5L, 3.0, 1.0, 1L)), s"$out")
    assert(out("g2") == ((4L, 5.0, 0.0, 1L)), s"$out")
  }

  test("robustZscore and winsorize: hints-off path returns the default rows, with no hint in its plan") {
    val df = (1 to 300).map(i => (i.toLong, s"g${i % 3}", (i * 41 % 97).toLong))
      .toDF("id", "grp", "v")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "robustZscore" -> (() => Outliers.robustZscore(df, "v", Seq("grp"))),
      "winsorize" -> (() => Outliers.winsorize(df, "v", Seq("grp"))))
    def rows(d: DataFrame) = d.orderBy("id").collect().map(_.toSeq).toSeq
    val bad = ops.flatMap { case (name, op) =>
      val on = op()
      val (offRows, offHinted) = withoutBroadcastHints {
        val off = op()
        (rows(off), hinted(off))
      }
      Seq(!hinted(on) -> "default plan has no hint",
        offHinted -> "hint survived disableHints",
        (offRows != rows(on)) -> "rows differ")
        .collect { case (true, why) => s"$name: $why" }
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }
}
