package graft

import org.apache.spark.sql.functions._

/** Prices the md5 determinism tax (SCALING.md round 11, a
  * measurement main — never part of the query surface).
  *
  * Every sketch in the engine routes through md5 so the DuckDB oracle
  * — or any other engine in a multi-engine lakehouse — reproduces it
  * bit-for-bit (graft.functions.HashFunctions scaladoc). That buys
  * cross-engine replayability at a known-nonzero CPU cost vs an
  * engine-private hash. This main measures exactly that delta on the
  * two hash-heaviest registered shapes, same corpus, same JVM,
  * min-of-2 passes each, interleaved md5/xx so neither arm
  * systematically rides a warmer cache:
  *
  *  - q24 shape: [[graft.operators.FuzzyDedup.minhashNearDups]] with
  *    the md5 base hash vs xxhash64
  *    ([[graft.functions.HashFunctions.xxBase30]]). The xx arm's
  *    candidate set may differ within normal LSH tolerance (different
  *    hash ⇒ different minima) — cost, not output, is the measured
  *    quantity; the verify stage prices identically because its input
  *    volume is candidate-bounded either way.
  *  - q67 shape: the 13-gram decontamination probe with grams kept as
  *    RAW STRINGS (the registered, oracle-exact form — Sampling
  *    .ngramDecontaminate) vs grams folded to xxhash64 int64s on both
  *    sides before the semi join (what the ngramIndex scaladoc says a
  *    100 TB deployment would do: 8-byte join keys instead of
  *    ~13-token strings, at a measurable-not-zero collision
  *    over-drop).
  *  - q319 (IVF-PQ) share: the vector family's ONLY runtime md5 is
  *    the seed-sampling rank (`ivfSeeds` orders the corpus by
  *    md5(id)) — the projection planes use md5 at PLAN time (folded
  *    to literals) and the serve path uses none. The arm times the
  *    full TakeOrdered seed pass with md5 vs xxhash64 rank, and the
  *    full index build for denominator context: the md5 share of the
  *    build is the measured quantity (expected ≈ 0 — one hash of a
  *    short id per row vs n·cells·dim distance flops).
  *
  * Usage: `runMain graft.HashProfile [corpusDir]` (default
  * /tmp/scale10 — the k=10 ScaleGen snapshot the round-11 table
  * uses). Prints one line per arm plus a summary ratio; writes
  * nothing.
  */
object HashProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale10")
    val spark = GraftSession.local()
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warm
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the q67 registration's eval slice (decontamSurvivors "ngram")
    val bench = docs.filter(col("doc_id") % 20 === 10)

    def onePass(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (dt, n)
    }
    def timed(label: String, f: () => Long): Double = {
      val (d1, n1) = onePass(f())
      println(f"[hashprofile] $label: $d1%.1f s ($n1 rows)")
      d1
    }
    import graft.functions.HashFunctions.xxBase30
    import graft.operators.FuzzyDedup
    import graft.operators.Sampling

    def q24md5() = FuzzyDedup.minhashNearDups(docs).count()
    def q24xx() = FuzzyDedup.minhashNearDups(docs, base = xxBase30).count()
    def q67str() = Sampling.ngramDecontaminate(docs, bench).count()
    def q67hash(): Long = {
      import graft.functions.HashFunctions.shingles
      val bfp = broadcast(bench
        .select(explode(shingles(col("text"), 13)).as("_bs"))
        .select(xxhash64(col("_bs")).as("_bh")).distinct())
      val contaminated = docs
        .select(col("doc_id"), explode(shingles(col("text"), 13)).as("_s"))
        .select(col("doc_id"), xxhash64(col("_s")).as("_h"))
        .join(bfp, col("_h") === col("_bh"), "left_semi")
        .select("doc_id").distinct()
      docs.join(contaminated, Seq("doc_id"), "left_anti").count()
    }

    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // the seed pass exactly as ivfSeeds plans it (TakeOrdered over
    // the full corpus), md5 vs engine-private xxhash64 rank; the
    // build arm is the denominator (cells=64 — the scale10 posture)
    def seedMd5(): Long = emb.orderBy(
      graft.functions.HashFunctions.md5Long(col("vec_id").cast("string")),
      col("vec_id")).limit(256).count()
    def seedXx(): Long = emb.orderBy(
      xxhash64(col("vec_id").cast("string")),
      col("vec_id")).limit(256).count()
    def q319build(): Long = Similarity.ivfPqIndex(emb, numCells = 64).count()

    val arms: Seq[(String, () => Long)] = Seq(
      "q24_md5" -> (() => q24md5()),
      "q24_xx" -> (() => q24xx()),
      "q67_string_grams" -> (() => q67str()),
      "q67_xx_grams" -> (() => q67hash()),
      "q319_seed_md5" -> (() => seedMd5()),
      "q319_seed_xx" -> (() => seedXx()),
      "q319_build" -> (() => q319build()))
    // interleaved min-of-2: round 1 over all arms, then round 2 —
    // neither arm systematically rides a warmer page cache
    val t1 = arms.map { case (l, f) => l -> timed(s"$l p1", f) }
    val t2 = arms.map { case (l, f) => l -> timed(s"$l p2", f) }
    val best = t1.zip(t2).map { case ((l, a), (_, b)) => l -> math.min(a, b) }
    best.foreach { case (l, d) => println(f"[hashprofile] MIN $l: $d%.2f s") }
    val m = best.toMap
    println(f"[hashprofile] md5 tax q24: ${m("q24_md5") / m("q24_xx")}%.2f x; " +
      f"string-gram tax q67: ${m("q67_string_grams") / m("q67_xx_grams")}%.2f x " +
      s"(dir=$dir)")
    println(f"[hashprofile] q319 md5 share: seed md5 ${m("q319_seed_md5")}%.2f s" +
      f" vs xx ${m("q319_seed_xx")}%.2f s; delta ${
        m("q319_seed_md5") - m("q319_seed_xx")}%.3f s = ${
        100 * (m("q319_seed_md5") - m("q319_seed_xx")) / m("q319_build")}%.2f%%" +
      f" of the ${m("q319_build")}%.1f s build (serve path uses no md5)")
    spark.stop()
  }
}
