package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column `array<float>` (SURVEY.md §2.11).
  *
  * Shapes:
  *  - [[cosineTopK]] — brute-force: broadcast the (small) query set
  *    against the corpus, one scan, per-query top-k via window rank.
  *    O(queries · corpus · dim) — the correct baseline, and the right
  *    plan whenever queries are few (the corpus side never shuffles;
  *    ranking shuffles only (query, candidate) pairs).
  *  - [[ivfTopK]] — IVF-style: restrict search to the query's own
  *    partition (here the `label` column stands in for a centroid
  *    assignment). At 100 TB: corpus bucketed/partitioned by
  *    partition key ⇒ per-query work divides by the number of
  *    partitions, at a recall cost on boundary vectors.
  *
  * Dot products use the `zip_with`/`aggregate` higher-order functions
  * — codegen-friendly, no UDF, and a left-to-right fold that the
  * DuckDB oracle reproduces exactly.
  */
object Similarity {

  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}

  /** Left-to-right double-precision dot product via higher-order
    * functions — the declarative baseline (interpreted per element;
    * kept as the reference implementation and parity check). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Dot product over `array<float>`: native codegen'd expression
    * ([[graft.plans.DotProductF]]), bit-identical to [[dotHof]] (same
    * left-to-right double fold) but a tight primitive loop inside
    * whole-stage codegen instead of per-element interpretation. */
  def dot(a: Column, b: Column): Column =
    toCol(graft.plans.DotProductF(toExpr(a), toExpr(b)))

  /** L2 norm over `array<float>` (single-pass native expression). */
  def norm(a: Column): Column = toCol(graft.plans.L2NormF(toExpr(a)))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Matryoshka / progressive-dimension search: score the WHOLE
    * corpus on only the first `prefixDim` dimensions (half the flops
    * and half the bytes touched per candidate), keep a `shortlist`-
    * deep coarse top list per query, then re-rank just the shortlist
    * with the exact full-dimension cosine — the truncated-embedding
    * serving pattern (Kusupati et al. 2022: nested representations
    * keep most of the signal in the leading dims). Where IVF prunes
    * CANDIDATES, this prunes DIMENSIONS — the two compose, and at
    * 100 TB the prefix scan is the difference between reading 256
    * and 64 bytes per vector.
    *
    * Determinism: both stages use the established rounded-cosine +
    * id-tiebreak ordering ([[cosineTopK]]'s contract), so coarse
    * shortlist membership and the final ranking are engine-exact;
    * recall vs the full brute force is MEASURED in the spec, not
    * assumed (q318's posture). Prefix norms guard zero vectors with
    * a NULL divisor. Shortlist depth note: MRL-TRAINED embeddings
    * concentrate energy in the leading dims and serve well at
    * shortlist ≈ 4k; the harness's isotropic synthetic vectors
    * spread signal evenly, so the registered config runs a deeper
    * 100-row shortlist (measured recall@5 0.94 there vs 0.59 at 20
    * — the measurement IS the point).
    *
    * Returns (query_id, cand_id, cos, rn) — `cos` the exact
    * full-dimension score.
    *
    * Scale shape: queries broadcast; the corpus is scanned ONCE for
    * the coarse stage (never shuffles); the re-rank touches
    * |queries|·shortlist rows. Same plan family as [[cosineTopK]]
    * with the full-width dot demoted to the shortlist. */
  def matryoshkaSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                       prefixDim: Int, shortlist: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && shortlist >= k && prefixDim >= 1)
    def pre(c: Column) = slice(c, 1, prefixDim)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), norm(col(vecCol)).as("qn"),
      norm(pre(col(vecCol))).as("qpn")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"), norm(pre(col(vecCol))).as("cpn"))
    val coarse = q.join(c, col("query_id") =!= col("cand_id"))
      .withColumn("_pcos", round(dot(pre(col("qv")), pre(col("cv"))) /
        when(col("qpn") * col("cpn") > 0, col("qpn") * col("cpn")), 6))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("_pcos").desc, col("cand_id"))
    val short = coarse.withColumn("_crn", row_number().over(wc))
      .filter(col("_crn") <= shortlist)
    val wf = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id"))
    short
      .withColumn("cos", round(dot(col("qv"), col("cv")) /
        when(col("qn") * col("cn") > 0, col("qn") * col("cn")), 6))
      .withColumn("rn", row_number().over(wf).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rn"))
  }

  /** Brute-force cosine top-k: for every query vector, the k nearest
    * corpus vectors (self excluded). Deterministic ordering: rounded
    * score desc, then candidate id. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn")))
    // widen: the queries×corpus dot products are CPU-dense and pipeline
    // onto the corpus scan — a one-row-group corpus would run them on a
    // single core (Fanout scaladoc; identity at production parallelism)
    val c = Fanout.widen(corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn")), col("cand_id"))
    val scored = q.join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id", "cos", "rn")
  }

  /** Deterministic IVF seed centroids: the `numCells` corpus vectors
    * ranked first by md5 of their id — a uniform, order-independent
    * sample (the corpus's insertion order may be cluster-correlated;
    * the hash order never is). Using corpus vectors THEMSELVES rather
    * than Lloyd-iterated means keeps every downstream score an exact
    * replayable expression — the oracle rebuilds the identical index,
    * which an FP-order-sensitive k-means average would break. */
  def ivfSeeds(corpus: DataFrame, numCells: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus
      .orderBy(graft.functions.HashFunctions.md5Long(col(idCol).cast("string")),
        col(idCol))
      .limit(numCells)
      .select(col(idCol).as("seed_id"), col(vecCol).as("sv"),
        norm(col(vecCol)).as("sn"))

  /** IVF cell assignment: each corpus vector is indexed into the
    * cells of its `multiAssign` nearest (max-cosine) seeds, ties to
    * the lowest seed id. Multiple assignment is the standard IVF
    * recall lever: a vector near a cell boundary is findable from
    * both sides, at the cost of `multiAssign`× index size (measured
    * here: recall@5 0.66 → 0.95 at multiAssign = 2). Scores are
    * rounded to 6 decimals BEFORE the argmax so the assignment is
    * bit-stable across engines (a last-ulp fold difference can never
    * flip a cell; rounded ties resolve by seed id identically
    * everywhere).
    *
    * Scale shape: seeds broadcast (the cross join is a nested-loop
    * over the broadcast side — corpus rows never move); per vector,
    * the numCells scored (score, seed) pairs — 16 bytes each, the
    * vector payload once — reduce through a partial-aggregable
    * collect + in-array top-`multiAssign` selection. One corpus-sized
    * shuffle, no window over the big side. At 100 TB the result is
    * the table to bucket/write by `cell`. */
  def ivfAssign(corpus: DataFrame, numCells: Int, multiAssign: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val seeds = broadcast(ivfSeeds(corpus, numCells, idCol, vecCol))
    // NOT widened (r14 A/B): at the default numCells=8 the per-row
    // work is ~8 dots — the widen exchange + 32-task fixed cost lost
    // to the single-task pipeline on every ivfSearch consumer (q48
    // 0.51 → 0.69 s); the heavy per-row passes are pqFit's, which IS
    // widened (gated on fit size)
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    c.crossJoin(seeds)
      .withColumn("cs", round(dot(col("cv"), col("sv")) / (col("cn") * col("sn")), 6))
      .groupBy("cand_id")
      .agg(
        // descending (score, -seed) = best first, ties to lowest seed
        slice(reverse(sort_array(collect_list(
          struct(col("cs"), (-col("seed_id")).as("ns"))))), 1, multiAssign).as("best"),
        // cv/cn are constant within the group — ride along, no re-join
        first(col("cv")).as("cv"), first(col("cn")).as("cn"))
      .select(col("cand_id"),
        explode(transform(col("best"), b => -b.getField("ns"))).as("cell"),
        col("cv"), col("cn"))
  }

  /** IVF top-k search: probe the `nprobe` nearest cells per query,
    * brute-force only inside them. Self-matches excluded, scoring and
    * ordering identical to [[cosineTopK]] — so recall@k against the
    * brute-force baseline measures exactly the cells the probe
    * missed. (SimilaritySpec pins recall@5 ≥ 0.9 at the defaults.)
    *
    * Scale shape: query probes are (queries × nprobe) rows —
    * broadcast; the corpus moves once through [[ivfAssign]]'s
    * aggregation and is then joined cell-to-cell, touching only
    * ~(multiAssign · nprobe / numCells) of it per query. */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                numCells: Int = 8, nprobe: Int = 4, multiAssign: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCells, s"nprobe=$nprobe out of [1, $numCells]")
    val seeds = broadcast(ivfSeeds(corpus, numCells, idCol, vecCol))
    val assigned = ivfAssign(corpus, numCells, multiAssign, idCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cs").desc, col("seed_id"))
    val probes = broadcast(q.crossJoin(seeds)
      .withColumn("cs", round(dot(col("qv"), col("sv")) / (col("qn") * col("sn")), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("seed_id").as("cell")))
    val scored = probes.join(assigned,
        probes("cell") === assigned("cell") && col("query_id") =!= col("cand_id"))
      .withColumn("cos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      // multi-assignment can surface the same candidate via two probed
      // cells — dedup the scored pair before ranking
      .select(col("query_id"), col("cand_id"), col("cos")).distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id", "cos", "rn")
  }

  /** Lloyd (k-means) refinement over the IVF seeds: assign every
    * vector to its max-cosine centroid, recompute each centroid as
    * the mean of its members, repeat `iters` times, and return the
    * final assignment. This is the index-build step a production IVF
    * goes through between "seeds are corpus samples" ([[ivfSeeds]])
    * and "cells are balanced Voronoi regions" — tighter cells mean
    * fewer probes for the same recall.
    *
    * Engine-portable averaging: a naive `avg` over doubles is
    * FP-order-sensitive (partial sums arrive in shuffle order), which
    * is exactly why [[ivfSeeds]] avoided Lloyd means. Here each
    * component is quantized to an integer grid (`floor(x·S + ½)`,
    * S = `quantScale`) BEFORE summing — integer addition is exact and
    * order-free, so the refined centroid `Σq / (n·S)` is bit-identical
    * on every engine and every partitioning, and the float32 centroid
    * cast is IEEE-deterministic. Quantization error ≤ ½/S per
    * component (immaterial next to float32 inputs at S = 10⁶);
    * int64 headroom allows ~10¹² members per cluster.
    *
    * Scale shape per iteration: centroids broadcast (k rows);
    * assignment is the [[ivfAssign]] partial-aggregable argmax (a
    * `max(struct)`, no window); the update is a (cluster, dim) SUM —
    * map-side combinable, shuffling ≤ k·dim rows per task, NOT the
    * corpus. Empty clusters drop out (standard Lloyd). The corpus is
    * scanned once per iteration — at 100 TB pick iters small (1–3)
    * or persist the projected (id, vec) relation upstream. */
  def kmeansRefine(corpus: DataFrame, k: Int, iters: Int = 1,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   quantScale: Long = 1000000L): DataFrame = {
    require(k >= 1 && iters >= 0 && quantScale >= 1)
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("vn"))
    def assign(cents: DataFrame): DataFrame =
      c.crossJoin(broadcast(cents))
        .withColumn("cs", round(dot(col("v"), col("cv")) / (col("vn") * col("cn")), 6))
        // argmax as a partial-aggregable max(struct): highest score,
        // ties to the LOWEST cluster id (negated id sorts reversed)
        .groupBy("vec_id")
        .agg(max(struct(col("cs"), (-col("cluster")).as("nc"))).as("best"),
          first(col("v")).as("v"), first(col("vn")).as("vn"))
        .select(col("vec_id"), col("v"), col("vn"),
          (-col("best.nc")).as("cluster"), col("best.cs").as("cos"))
    var centroids = ivfSeeds(corpus, k, idCol, vecCol)
      .select(col("seed_id").as("cluster"), col("sv").as("cv"), col("sn").as("cn"))
    var assigned = assign(centroids)
    for (_ <- 1 to iters) {
      val sums = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .withColumn("q",
          floor(col("x").cast("double") * lit(quantScale.toDouble) + lit(0.5)))
        .groupBy("cluster", "pos")
        .agg(sum("q").as("sq"), count(lit(1)).as("cnt"))
      val newCents = sums
        .groupBy("cluster")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("sq"), col("cnt")))),
          s => (s.getField("sq").cast("double") /
            (s.getField("cnt") * lit(quantScale.toDouble))).cast("float")).as("cv"))
        .withColumn("cn", norm(col("cv")))
      assigned = assign(newCents)
    }
    assigned.select("vec_id", "cluster", "cos")
  }

  /** Sign-random-projection (hyperplane) LSH search — the cosine-LSH
    * alternative to [[ivfSearch]]: each vector gets a `planes`-bit
    * signature (bit p = sign of ⟨v, h_p⟩ against hyperplane h_p), the
    * signature is cut into `planes/bandBits` bands, and only vectors
    * sharing at least one (band, bits) bucket with a query are scored.
    * Collision probability per plane is 1 − θ/π, so near-parallel
    * vectors collide in some band with high probability while random
    * pairs are filtered — no centroid build step at all (the trade vs
    * IVF: SRP needs no training pass, IVF probes fewer candidates).
    *
    * Determinism: hyperplanes are ±1 Rademacher vectors derived from
    * md5 of "(plane)_(dim)" — data-independent plan-time literals the
    * SQL oracle regenerates exactly ([[graft.functions.HashFunctions
    * .md5Long60]]); the sign fold is the same left-to-right double
    * fold as every dot product here, so a signature bit can never
    * disagree across engines or partitionings.
    *
    * Scale shape: signatures are pure projections (corpus scanned
    * once, no shuffle); the bucket join shuffles (band, bits, id)
    * rows — bands × corpus ints, not vectors; candidate ids dedup and
    * only then fetch their vectors (one keyed join) for scoring, so
    * vector payloads move once per CANDIDATE, not once per band
    * collision. Queries broadcast end-to-end. */
  def srpSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                planes: Int = 16, bandBits: Int = 4, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(planes >= 1 && planes <= 62 && bandBits >= 1 &&
      planes % bandBits == 0, "planes must fit a long and band evenly")
    val mat: Seq[Array[Float]] = (0 until planes).map { p =>
      Array.tabulate(dim)(i =>
        if (graft.functions.HashFunctions.md5Long60(s"${p}_${i}") % 2 == 0) 1f else -1f)
    }
    // native codegen'd dot against the literal plane (same
    // left-to-right fold as dotHof — measured 1.0 s -> ~0.1 s for 16
    // planes × 2000 vectors when the fold compiles instead of
    // interpreting per element). A vector whose width != `dim` makes
    // the dot NULL — fail LOUDLY: signature 0 for every such row
    // would silently collide the whole corpus into one bucket,
    // degrading LSH to all-pairs with correct-looking results. NULL
    // vectors get a NULL signature (null band bits never equi-join,
    // so they produce no candidates) — the outer when() is required:
    // without it a NULL dot would fall through `when(dp >= 0, ...)`
    // into `.otherwise(0L)` and null rows would flood the all-zero
    // band buckets as phantom candidates.
    def sig(v: Column): Column =
      when(v.isNull, lit(null).cast("long")).otherwise(
        (0 until planes).map { p =>
          val dp = dot(v, typedLit(mat(p)))
          when(dp.isNull,
            raise_error(lit(s"srpSearch: vector width != dim=$dim (or null " +
              "element); pass the corpus's real dimension")))
            .otherwise(when(dp >= 0, lit(1L << p)).otherwise(0L))
        }.reduce(_ + _))
    val nBands = planes / bandBits
    val mask = (1L << bandBits) - 1
    def bands(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), sig(col(vecCol)).as("_sig"))
        .select(col(id), explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("_sig"), b * bandBits).bitwiseAND(lit(mask)).as("bits"))): _*)).as("bb"))
        .select(col(id), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val cands = bands(corpus, "cand_id")
      .join(broadcast(bands(queries, "query_id")), Seq("band", "bits"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), norm(col(vecCol)).as("qn")))
    val scored = cands.join(c, "cand_id").join(q, "query_id")
      .withColumn("cos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id", "cos", "rn")
  }

  /** Partition-pruned top-k: search only the query's own `partCol`
    * cell, for corpora that arrive pre-partitioned (a tenant key, a
    * shard label). For unlabeled embeddings use [[ivfSearch]], which
    * builds its own cells. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              partCol: String = "label"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(partCol).as("qp"), norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      col(partCol).as("cp"), norm(col(vecCol)).as("cn"))
    val scored = q.join(c, col("qp") === col("cp") && col("query_id") =!= col("cand_id"))
      .withColumn("cos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id", "cos", "rn")
  }

  /** Embedding near-duplicate pairs for an UNLABELED corpus: block on
    * [[ivfAssign]] cells instead of a pre-existing partition column.
    * Multi-assignment makes boundary pairs discoverable from either
    * side's cell; a true near-dup pair (cosine ≥ threshold ≈ 1) is
    * near-certainly co-assigned, since both vectors score every seed
    * almost identically. Same scale shape as [[nearDupPairs]]: one
    * assignment pass, then per-cell joins — never corpus × corpus.
    *
    * Cell count scales WITH the corpus: by default (`numCells <= 0`)
    * it is derived as max(8, ⌈n / targetCellSize⌉) from one up-front
    * `count()` of the corpus (a single scan, analogous to AQE's
    * statistics pass — NOT a per-iteration driver action). The pair
    * stage costs O((n·multiAssign/numCells)²) per cell — i.e.
    * O((n/numCells)²·multiAssign²) — so any FIXED cell count is
    * quadratic in corpus size; deriving numCells ∝ n keeps per-cell
    * work bounded by targetCellSize²·multiAssign² and total work
    * linear in n at constant cell occupancy. (SimilaritySpec pins
    * recall ≥ 0.9 vs exact all-pairs at the defaults.) */
  def nearDupPairsUnlabeled(corpus: DataFrame, threshold: Double,
                            numCells: Int = 0, multiAssign: Int = 3,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            targetCellSize: Int = 128): DataFrame = {
    val cells =
      if (numCells > 0) numCells
      else autoCells(corpus, targetCellSize)
    pairsFromAssigned(ivfAssign(corpus, cells, multiAssign, idCol, vecCol),
      threshold)
  }

  private def autoCells(corpus: DataFrame, targetCellSize: Int): Int =
    math.min(Int.MaxValue.toLong, // 10^12-row corpora overflow Int
      math.max(8L, (corpus.count() + targetCellSize - 1) / targetCellSize))
      .toInt

  /** Within-cell near-dup pair join shared by the flat and two-level
    * cell assignments: same-cell pairs, rounded cosine ≥ threshold,
    * multi-assignment duplicates dropped. */
  private def pairsFromAssigned(assigned: DataFrame,
                                threshold: Double): DataFrame = {
    val a = assigned.select(col("cand_id").as("vec_a"), col("cv").as("va"),
      col("cell"), col("cn").as("na"))
    val b = assigned.select(col("cand_id").as("vec_b"), col("cv").as("vb"),
      col("cell"), col("cn").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      // a pair co-assigned in two cells appears twice — dedup
      .select(col("vec_a"), col("vec_b"), col("cos")).distinct()
  }

  /** Two-level (coarse-quantizer) IVF assignment — the past-10⁶-
    * vector path the flat-assignment cap note names (SCALING.md
    * round-8): flat [[ivfAssign]] scores corpus × cells seed dots,
    * which at auto-scaled cell counts (cells ∝ n) makes assignment
    * itself quadratic. Here each vector first picks its
    * `coarseProbe` nearest of √cells SUPERCELLS (the coarse seeds
    * are the md5-rank PREFIX of the fine seeds — nested, no second
    * sampling pass), then scores only the fine seeds grouped under
    * those supercells — O(n·√cells) dots total. Fine seeds
    * multi-assign to their 2 nearest supercells so cells on a
    * supercell boundary stay findable from both sides, and every
    * coarse seed is additionally a member of its OWN supercell, so
    * no supercell is ever empty and the probe join covers every
    * corpus vector — the same coverage guarantee as [[ivfAssign]]
    * (spec-pinned). Same output contract as [[ivfAssign]]:
    * (cand_id, cell, cv, cn).
    *
    * Scale shape: both seed relations broadcast; every per-vector
    * reduction is the partial-aggregable collect + in-array top-k
    * of [[ivfAssign]] (no windows over the corpus); the fine-seed
    * scoring join is broadcast-side, so the corpus still crosses
    * the wire exactly once, in the final (cand, cell) shuffle. */
  def ivfAssignTwoLevel(corpus: DataFrame, numCells: Int,
                        multiAssign: Int = 2, coarseProbe: Int = 2,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(numCells >= 1 && multiAssign >= 1 && coarseProbe >= 1)
    val nCoarse = math.max(1, math.sqrt(numCells.toDouble).toInt)
    val fine = ivfSeeds(corpus, numCells, idCol, vecCol)
    val co = ivfSeeds(corpus, nCoarse, idCol, vecCol)
      .select(col("seed_id").as("co_id"), col("sv").as("cov"),
        col("sn").as("con"))
    // fine seed → its 2 nearest supercells (bounded: cells × √cells),
    // UNIONED with the identity rows (each coarse seed is a member of
    // its own supercell): cosine ties at rounded 1.0 can otherwise
    // steer a coarse seed's top-2 AWAY from itself, leaving its
    // supercell empty — and a vector probing only empty supercells
    // would silently drop out of the assignment, a coverage guarantee
    // flat ivfAssign always gives (spec-pinned below)
    val f2cPairs = fine.crossJoin(broadcast(co))
      .withColumn("fs",
        round(dot(col("sv"), col("cov")) / (col("sn") * col("con")), 6))
      .groupBy("seed_id")
      .agg(slice(reverse(sort_array(collect_list(
          struct(col("fs"), (-col("co_id")).as("nc"))))), 1, 2).as("best"))
      .select(col("seed_id"),
        explode(transform(col("best"), b => -b.getField("nc"))).as("co_id"))
      .unionAll(co.select(col("co_id").as("seed_id"), col("co_id")))
      .distinct()
    val f2c = broadcast(f2cPairs.join(fine, Seq("seed_id"))
      .select(col("seed_id"), col("co_id"), col("sv"), col("sn")))
    // corpus → coarseProbe supercells (n·√cells dots)
    val vc = corpus
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
      .crossJoin(broadcast(co))
      .withColumn("cs",
        round(dot(col("cv"), col("cov")) / (col("cn") * col("con")), 6))
      .groupBy("cand_id")
      .agg(slice(reverse(sort_array(collect_list(
          struct(col("cs"), (-col("co_id")).as("nc"))))), 1, coarseProbe)
          .as("best"),
        first(col("cv")).as("cv"), first(col("cn")).as("cn"))
      .select(col("cand_id"),
        explode(transform(col("best"), b => -b.getField("nc"))).as("co_id"),
        col("cv"), col("cn"))
    // score only the fine seeds under the probed supercells; a seed
    // reachable via two supercells is deduped by the (cand, seed)
    // reduce before the final top-multiAssign pick
    vc.join(f2c, Seq("co_id"))
      .withColumn("cs",
        round(dot(col("cv"), col("sv")) / (col("cn") * col("sn")), 6))
      .groupBy("cand_id", "seed_id")
      .agg(max(col("cs")).as("cs"),
        first(col("cv")).as("cv"), first(col("cn")).as("cn"))
      .groupBy("cand_id")
      .agg(slice(reverse(sort_array(collect_list(
          struct(col("cs"), (-col("seed_id")).as("ns"))))), 1, multiAssign)
          .as("best"),
        first(col("cv")).as("cv"), first(col("cn")).as("cn"))
      .select(col("cand_id"),
        explode(transform(col("best"), b => -b.getField("ns"))).as("cell"),
        col("cv"), col("cn"))
  }

  /** [[nearDupPairsUnlabeled]] over the [[ivfAssignTwoLevel]]
    * assignment — same pair contract, O(n·√cells) assignment cost:
    * the variant to reach for once auto-scaled cell counts make the
    * flat seed scoring the bottleneck (~10⁶ vectors at the
    * defaults). Recall vs the flat assignment is spec-measured. */
  def nearDupPairsTwoLevel(corpus: DataFrame, threshold: Double,
                           numCells: Int = 0, multiAssign: Int = 3,
                           coarseProbe: Int = 2,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           targetCellSize: Int = 128): DataFrame = {
    val cells =
      if (numCells > 0) numCells
      else autoCells(corpus, targetCellSize)
    pairsFromAssigned(
      ivfAssignTwoLevel(corpus, cells, multiAssign, coarseProbe,
        idCol, vecCol),
      threshold)
  }

  /** Embedding near-duplicate pairs within partition blocks:
    * same-`partCol` pairs with cosine ≥ threshold. The blocked
    * (IVF-ish) analog of exact all-pairs near-dup — at scale the
    * join shuffles each block once instead of crossing the corpus. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   partCol: String = "label"): DataFrame = {
    // norms precomputed once per vector, not once per pair: at n²/p
    // pairs that's the difference between 1 and ~2n/p folds per row
    val a = corpus.select(col(idCol).as("vec_a"), col(vecCol).as("va"),
      col(partCol).as("pa"), norm(col(vecCol)).as("na"))
    val b = corpus.select(col(idCol).as("vec_b"), col(vecCol).as("vb"),
      col(partCol).as("pb"), norm(col(vecCol)).as("nb"))
    a.join(b, col("pa") === col("pb") && col("vec_a") < col("vec_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** IVF recall-vs-nprobe sweep: measured recall@k of [[ivfSearch]]
    * against exact brute-force ground truth at each candidate probe
    * count — the accuracy/cost curve an index operator reads before
    * setting nprobe (the q318 "recall is measured, not assumed"
    * posture, applied to the vector index). ONE assignment and ONE
    * scoring join serve every probe level: candidates carry the MIN
    * probe rank that surfaces them, and each level filters
    * minpr ≤ np before ranking.
    *
    * Determinism: the whole ladder (md5 seeds, rounded cosines, id
    * tiebreaks) is the established replayable IVF contract, so the
    * measured recall itself is oracle-checkable.
    *
    * Scale shape: ground truth is queries × corpus — the sweep is an
    * AUDIT run on a bounded query sample (like q318's audit block),
    * not a serving path; the IVF side scores only probed cells, with
    * a ≤|probes|-way fan-out of the already-reduced candidate
    * relation. */
  def ivfRecallSweep(corpus: DataFrame, queries: DataFrame, k: Int,
                     numCells: Int, probes: Seq[Int],
                     multiAssign: Int = 2,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(probes.nonEmpty && probes.forall(p => p >= 1 && p <= numCells))
    val seeds = broadcast(ivfSeeds(corpus, numCells, idCol, vecCol))
    val assigned = ivfAssign(corpus, numCells, multiAssign, idCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cs").desc, col("seed_id"))
    val probeT = broadcast(q.crossJoin(seeds)
      .withColumn("cs",
        round(dot(col("qv"), col("sv")) / (col("qn") * col("sn")), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= probes.max)
      .select(col("query_id"), col("qv"), col("qn"),
        col("seed_id").as("cell"), col("pr")))
    val cand = probeT.join(assigned,
        probeT("cell") === assigned("cell") &&
          col("query_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .groupBy(col("query_id"), col("cand_id"), col("cos"))
      .agg(min("pr").as("_minpr"))
    val wk = Window.partitionBy("np", "query_id")
      .orderBy(col("cos").desc, col("cand_id"))
    val found = cand
      .select(col("query_id"), col("cand_id"), col("cos"), col("_minpr"),
        explode(lit(probes.toArray)).as("np"))
      .filter(col("_minpr") <= col("np"))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("np"), col("query_id"), col("cand_id"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val wt = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id"))
    val truth = q.crossJoin(c)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("rn", row_number().over(wt))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"))
    val nTruth = broadcast(truth.agg(count(lit(1)).as("n_truth")))
    found.join(truth, Seq("query_id", "cand_id"), "left_semi")
      .groupBy("np").agg(count(lit(1)).as("n_matched"))
      .crossJoin(nTruth)
      .select(col("np").as("nprobe"), col("n_truth"), col("n_matched"),
        round(col("n_matched").cast("double") / col("n_truth"), 6)
          .as("recall"))
  }

  /** IVF cost-vs-nprobe sweep — the COST half of the accuracy curve
    * [[ivfRecallSweep]] measures: per probe level, how many
    * candidates each query actually scans (total, mean per query,
    * and the fraction of the corpus touched). Reading both sweeps
    * together is how an operator picks nprobe: recall buys
    * candidates; this says at what price. Shares the recall sweep's
    * one-assignment/min-probe-rank machinery.
    *
    * Determinism: candidate counts are int64 over the
    * md5-deterministic assignment; the two ratios divide identical
    * operands.
    *
    * Scale shape: identical to [[ivfRecallSweep]] minus the brute
    * truth — one assignment, one probe join, a ≤|probes|-way fan-out
    * of the reduced candidate relation, labels-…-sized output. */
  def ivfCostSweep(corpus: DataFrame, queries: DataFrame,
                   numCells: Int, probes: Seq[Int],
                   multiAssign: Int = 2,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(probes.nonEmpty && probes.forall(p => p >= 1 && p <= numCells))
    val seeds = broadcast(ivfSeeds(corpus, numCells, idCol, vecCol))
    val assigned = ivfAssign(corpus, numCells, multiAssign, idCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val nQ = broadcast(q.agg(count(lit(1)).as("_nq")))
    val nC = broadcast(corpus.agg(count(lit(1)).as("_nc")))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cs").desc, col("seed_id"))
    // the probe relation is queries × nprobe rows — broadcast it so
    // the assigned corpus never re-shuffles for the candidate join
    val probeT = broadcast(q.crossJoin(seeds)
      .withColumn("cs",
        round(dot(col("qv"), col("sv")) / (col("qn") * col("sn")), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= probes.max)
      .select(col("query_id"), col("seed_id").as("cell"), col("pr")))
    val cand = probeT.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(min("pr").as("_minpr"))
    cand.select(col("query_id"), col("_minpr"),
        explode(lit(probes.toArray)).as("nprobe"))
      .filter(col("_minpr") <= col("nprobe"))
      .groupBy("nprobe")
      .agg(count(lit(1)).as("n_candidates"))
      .crossJoin(nQ).crossJoin(nC)
      .select(col("nprobe"), col("n_candidates"),
        round(col("n_candidates").cast("double") / col("_nq"), 6)
          .as("mean_per_query"),
        round(col("n_candidates").cast("double") /
          (col("_nq") * col("_nc")), 6).as("scan_fraction"))
  }

  /** kNN label-noise audit: for each vector, the fraction of its k
    * nearest neighbors (IVF-cell candidates, CROSS-label — unlike
    * the within-label [[hubnessAudit]] this must see other labels)
    * that carry a DIFFERENT label; vectors where the majority of
    * neighbors disagree are flagged suspect — the standard
    * neighborhood-consistency screen for mislabeled training rows
    * (confident-learning-lite). Per label: vector count, scored
    * count (≥1 candidate neighbor), suspect count, and the pooled
    * mismatch rate.
    *
    * Determinism: candidates are the md5-deterministic IVF cells
    * ([[ivfAssign]]) — the oracle replays the assignment; neighbor
    * lists rank the rounded cosine with an id tiebreak; mismatch and
    * suspect tests are integer counts (suspect = mism·2 > scored, a
    * cross-multiplication, no FP threshold).
    *
    * Scale shape: [[nearDupPairsUnlabeled]]'s cell-bounded candidate
    * join (corpus never leaves its cells; cells ∝ n keeps per-cell
    * work flat); one window over cell-local candidate sets; label
    * lookups ride the (id, label) projection of the corpus —
    * everything downstream is labels-sized. */
  def knnLabelNoise(corpus: DataFrame, k: Int, numCells: Int = 0,
                    multiAssign: Int = 3,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    partCol: String = "label",
                    targetCellSize: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1)
    val cells =
      if (numCells > 0) numCells else autoCells(corpus, targetCellSize)
    val assigned = ivfAssign(corpus, cells, multiAssign, idCol, vecCol)
    val a = assigned.select(col("cand_id").as("_qa"), col("cv").as("_va"),
      col("cell"), col("cn").as("_na"))
    val b = assigned.select(col("cand_id").as("_qb"), col("cv").as("_vb"),
      col("cell"), col("cn").as("_nb"))
    val knn = a.join(b, Seq("cell"))
      .filter(col("_qa") =!= col("_qb"))
      .withColumn("_cos",
        round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .select(col("_qa"), col("_qb"), col("_cos")).distinct()
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_qa").orderBy(col("_cos").desc, col("_qb"))))
      .filter(col("_rn") <= k)
    val lab = corpus.select(col(idCol).as("_id"), col(partCol).as("_lb"))
    val perVec = knn
      .join(lab.select(col("_id").as("_qa"), col("_lb").as("_la")), Seq("_qa"))
      .join(lab.select(col("_id").as("_qb"), col("_lb").as("_lnb")), Seq("_qb"))
      .groupBy(col("_qa"), col("_la"))
      .agg(count(lit(1)).as("_nn"),
        sum(when(col("_lnb") =!= col("_la"), 1L).otherwise(0L)).as("_mm"))
    lab.join(perVec, col("_id") === col("_qa"), "left_outer")
      .groupBy(col("_lb").as(partCol))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("_nn").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("_mm") * 2 > col("_nn"), 1L).otherwise(0L))
          .as("n_suspects"),
        sum(coalesce(col("_mm"), lit(0L))).as("_tm"),
        sum(coalesce(col("_nn"), lit(0L))).as("_tn"))
      .select(col(partCol), col("n_vecs"), col("n_scored"),
        col("n_suspects"),
        round(when(col("_tn") > 0,
          col("_tm").cast("double") / col("_tn")), 6).as("mismatch_rate"))
  }

  /** Hubness audit over the within-block kNN graph: in high
    * dimensions a few vectors become "hubs" (appearing in MANY
    * top-k lists) while "antihubs" appear in none — a known failure
    * signature of an embedding space (hubness correlates with
    * degraded retrieval; the skew is the diagnostic). Per block:
    * vector count, kNN edge count, antihub count (k-occurrence 0),
    * max k-occurrence, and the k-occurrence skewness g₁ = m₃/m₂^1.5.
    *
    * Determinism: neighbor lists rank the ROUNDED cosine with an id
    * tiebreak (the established top-k contract), so the kNN graph is
    * engine-exact; occurrence counts are int64 and the moment sums
    * (Σo, Σo², Σo³) aggregate exactly, meeting in a double assembly
    * on identical operands — m₂^1.5 is computed as m₂·√m₂ (sqrt is
    * IEEE-exact; libm `pow` is not cross-engine). Skewness is NULL
    * for degenerate (constant-occurrence) blocks.
    *
    * Scale shape: the pair stage is [[nearDupPairs]]'s block-bounded
    * join (corpus never crosses blocks; swap in IVF cells at
    * unlabeled scale); ranking is one window per block-local
    * candidate set; everything downstream is label-sized. */
  def hubnessAudit(corpus: DataFrame, k: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   partCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1)
    val a = corpus.select(col(idCol).as("_qa"), col(vecCol).as("_va"),
      col(partCol).as("_pa"), norm(col(vecCol)).as("_na"))
    val b = corpus.select(col(idCol).as("_qb"), col(vecCol).as("_vb"),
      col(partCol).as("_pb"), norm(col(vecCol)).as("_nb"))
    val knn = a.join(b, col("_pa") === col("_pb") && col("_qa") =!= col("_qb"))
      .withColumn("_cos",
        round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_qa").orderBy(col("_cos").desc, col("_qb"))))
      .filter(col("_rn") <= k)
    val indeg = knn.groupBy(col("_qb")).agg(count(lit(1)).as("_oc"))
    val occ = corpus.select(col(partCol).as("_l"), col(idCol).as("_id"))
      .join(indeg, col("_id") === col("_qb"), "left_outer")
      .select(col("_l"), coalesce(col("_oc"), lit(0L)).as("_o"))
    val st = occ.groupBy(col("_l").as(partCol))
      .agg(count(lit(1)).as("n_vecs"), sum("_o").as("n_edges"),
        sum(when(col("_o") === 0, 1L).otherwise(0L)).as("n_antihubs"),
        max("_o").as("max_occ"),
        sum(col("_o") * col("_o")).as("_s2"),
        sum(col("_o") * col("_o") * col("_o")).as("_s3"))
    val nD = col("n_vecs").cast("double")
    val mu = col("n_edges").cast("double") / nD
    val m2 = col("_s2").cast("double") / nD - mu * mu
    val m3 = col("_s3").cast("double") / nD -
      lit(3.0) * mu * (col("_s2").cast("double") / nD) +
      lit(2.0) * mu * mu * mu
    st.select(col(partCol), col("n_vecs"), col("n_edges"),
      col("n_antihubs"), col("max_occ"),
      round(when(m2 > 0, m3 / (m2 * sqrt(m2))), 6).as("occ_skewness"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., public):
    * embedding near-dup pairs within partition blocks resolve to
    * connected components, and each cluster keeps exactly one
    * survivor (its min-id representative). The output is the full
    * corpus annotated (vec_id, cluster_rep, keep) — downstream
    * training reads `keep`, audits read the cluster assignment.
    *
    * Scale shape: the pair stage is [[nearDupPairs]] (block-bounded
    * cosine join, corpus never crosses blocks); clustering is
    * pointer-doubling CC — O(log diameter) bounded joins over the
    * PAIR set, which near-dup sparsity keeps ≪ corpus. At unlabeled
    * scale swap the pair stage for [[nearDupPairsUnlabeled]] (IVF
    * cells) at the same downstream shape. */
  def semDedup(corpus: DataFrame, threshold: Double,
               idCol: String = "vec_id", vecCol: String = "embedding",
               partCol: String = "label"): DataFrame = {
    val pairs = nearDupPairs(corpus, threshold, idCol, vecCol, partCol)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    graft.operators.DedupClusters.resolve(
        corpus.select(col(idCol)), pairs, idCol)
      .select(col(idCol), col("cluster_rep"),
        (col(idCol) === col("cluster_rep")).as("keep"))
  }

  /** Embedding-centroid outlier flags: cosine of every vector to its
    * partition's mean vector, bottom `frac` per partition flagged —
    * the embedding-space quality screen (mislabeled / off-domain
    * vectors sit far from their cluster centroid). The flag is
    * RANK-based (row_number ≤ ⌈n/bottomNth⌉ on the rounded score
    * with id tiebreak, threshold by INTEGER division — `ceil(n·0.1)`
    * would diverge cross-engine on FP representation of 0.1), never
    * a float-threshold compare, so the cut is engine-exact.
    *
    * Determinism: centroid components are means of ×10⁶-quantized
    * int64 sums — order-free and exact — so the centroid, the
    * cosines, and the flags replay bit-identically cross-engine.
    *
    * Scale shape: the component aggregation explodes d values per
    * vector but map-side-combines to labels×d rows; centroids
    * broadcast back; the flag adds one label-partitioned window. */
  def centroidOutliers(corpus: DataFrame, bottomNth: Int = 10,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       partCol: String = "label"): DataFrame = {
    require(bottomNth >= 1)
    val cent = centroidTable(corpus, partCol, vecCol)
    val dotc = aggregate(
      zip_with(col(vecCol), col("_cent"), (a, b) => a.cast("double") * b),
      lit(0.0), (acc, x) => acc + x)
    val cnorm = sqrt(aggregate(col("_cent"), lit(0.0), (acc, x) => acc + x * x))
    val scored = corpus
      .join(broadcast(cent), col(partCol) === col("_cl"))
      .withColumn("cos", round(dotc / (norm(col(vecCol)) * cnorm), 6))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(partCol).orderBy(col("cos"), col(idCol))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(partCol)
    scored
      .withColumn("_rnk", row_number().over(wr))
      .withColumn("_np", count(lit(1)).over(wn))
      .select(col(idCol), col(partCol), col("cos"),
        (col("_rnk") <=
          floor((col("_np") + lit(bottomNth - 1)) / lit(bottomNth))
            .cast("long"))
          .as("outlier"))
  }

  /** Per-vector min/max scalar quantization to 8-bit codes — the 4×
    * memory/IO reduction step before ANN indexing or shipping
    * embeddings to a retrieval tier. code_i = ⌊(x_i − lo)/scale + ½⌋
    * with scale = (hi − lo)/255, codes in 0..255 (store as
    * tinyint−128 at write time; kept int here). Constant vectors
    * (scale = 0) quantize to all-zero codes. `floor(z + 0.5)` rather
    * than `round()`: identical halfway behavior on every engine, so
    * codes — and anything derived from them — are oracle-reproducible.
    * Pure projection: scan-speed, no shuffle.
    *
    * @return (id, lo, hi, scale, codes) — lo/hi/scale are the
    *         per-vector dequantization params (x̂_i = lo + code_i·scale). */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame = {
    val lo = array_min(col(embCol)).cast("double")
    val hi = array_max(col(embCol)).cast("double")
    df.select(col(idCol), col(embCol).as("_emb"), lo.as("lo"), hi.as("hi"),
        ((hi - lo) / 255.0).as("scale"))
      .select(col(idCol), col("lo"), col("hi"), col("scale"),
        when(col("scale") === 0.0,
          transform(col("_emb"), _ => lit(0)))
          .otherwise(transform(col("_emb"), x =>
            floor((x.cast("double") - col("lo")) / col("scale") + lit(0.5))
              .cast("int")))
          .as("codes"),
        col("_emb").as(embCol))
  }

  /** Dequantized reconstruction x̂ of a [[quantizeInt8]] row. */
  def dequantize(codes: Column, lo: Column, scale: Column): Column =
    transform(codes, c => lo + c * scale)

  /** Ranking-quality metrics of an approximate retriever against an
    * exact one: per query, the overlap with the exact top-k
    * (recall@k) and the reciprocal rank of the FIRST predicted
    * result that is truly relevant (MRR's per-query term; 0 when the
    * prediction whiffs entirely) — the numbers that justify an ANN
    * index's recall/cost trade IN-ENGINE, on the production corpus,
    * instead of trusting an offline benchmark. Queries present in
    * `truth` but absent from `predicted` score 0, not NaN.
    *
    * Exactness: hits are integer counts; recall = hits/k and
    * rr = 1/rank are single divisions of small exact integers.
    *
    * Scale shape: one co-partitioned (query, cand) equi-join between
    * two already-k-bounded rankings, one query-key agg — both sides
    * are outputs of top-k operators, so this is k·|queries| rows in,
    * |queries| rows out. */
  def rankingMetrics(truth: DataFrame, predicted: DataFrame, k: Int,
                     queryCol: String = "query_id",
                     candCol: String = "cand_id",
                     rankCol: String = "rn"): DataFrame = {
    require(k >= 1)
    val tr = truth.select(col(queryCol).as("_q"), col(candCol).as("_c"))
    val pr = predicted.select(col(queryCol).as("_q"), col(candCol).as("_c"),
      col(rankCol).as("_r"))
    val hits = pr.join(tr, Seq("_q", "_c"))
      .groupBy("_q")
      .agg(count(lit(1)).as("n_hits"), min("_r").as("_first"))
    tr.select("_q").distinct()
      .join(hits, Seq("_q"), "left")
      .select(col("_q").as(queryCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6)
          .as("recall_at_k"),
        round(coalesce(lit(1.0) / col("_first"), lit(0.0)), 6).as("rr"))
  }

  /** NDCG@k — the GRADED companion of [[rankingMetrics]]' binary
    * recall/MRR: per query, DCG = Σ grade/log₂(rank+1) over the
    * predicted ranking's true hits, normalized by the ideal DCG of
    * the truth's own grades (ties to the lowest cand id). The metric
    * that distinguishes "found the right documents" from "found them
    * in the right ORDER" — what a reranker is actually paid for.
    * Queries whose predictions whiff score 0; a query with no
    * positive ideal gain reports NULL ndcg (0/0 is not a score).
    *
    * Exactness: each g/log₂(r+1) term is ×10¹²-quantized to int64
    * BEFORE summing (log ulps and float add-order can never move a
    * rounded result), ranks are integer, and the final ndcg is one
    * double division of two exact integers.
    *
    * Scale shape: both inputs are k-bounded rankings, so this is
    * two k·|queries| aggregations and one query-key join. */
  def ndcgAtK(truth: DataFrame, predicted: DataFrame, k: Int,
              queryCol: String = "query_id", candCol: String = "cand_id",
              rankCol: String = "rn",
              gradeCol: String = "grade"): DataFrame = {
    require(k >= 1)
    import org.apache.spark.sql.expressions.Window
    def q12(c: Column) = floor(c * 1e12 + lit(0.5)).cast("long")
    val tr = truth.select(col(queryCol).as("_q"), col(candCol).as("_c"),
      col(gradeCol).cast("double").as("_g"))
    val pr = predicted.select(col(queryCol).as("_q"), col(candCol).as("_c"),
      col(rankCol).as("_r")).filter(col("_r") <= k)
    val dcg = pr.join(tr, Seq("_q", "_c"))
      .groupBy("_q")
      .agg(sum(q12(col("_g") / log2(col("_r") + 1))).as("_d"))
    val wI = Window.partitionBy("_q").orderBy(col("_g").desc, col("_c"))
    val idcg = tr.withColumn("_ir", row_number().over(wI))
      .filter(col("_ir") <= k)
      .groupBy("_q")
      .agg(sum(q12(col("_g") / log2(col("_ir") + 1))).as("_i"))
    idcg.join(dcg, Seq("_q"), "left")
      .select(col("_q").as(queryCol),
        round(coalesce(col("_d"), lit(0L)).cast("double") / 1e12, 6)
          .as("dcg"),
        round(col("_i").cast("double") / 1e12, 6).as("idcg"),
        round(when(col("_i") > 0,
          coalesce(col("_d"), lit(0L)).cast("double") /
            col("_i").cast("double")), 6).as("ndcg"))
  }

  /** MMR (maximal marginal relevance) diverse re-ranking: from the
    * query's top-`nCandidates` cosine matches, greedily pick `k`
    * results maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-picked — the RAG retrieval step that stops a result
    * list from being k near-copies of the same passage. λ is passed
    * as an integer PERCENT so both engines weigh with the exact same
    * doubles (Scala's `1 − 0.7` and SQL's `1 - 0.7` are different
    * bit patterns; `30 / 100.0` is not). Ties break on candidate id.
    * Returns (vec_id, pick, rel) in pick order.
    *
    * Scale shape: the corpus is touched ONLY by the initial top-k
    * scan (queries broadcast, corpus never shuffles — [[cosineTopK]]);
    * the pairwise-similarity table rides the nCandidates-bounded
    * relation, and the greedy selection itself runs driver-side on
    * the COLLECTED ≤ n + n² bounded rows — the same documented
    * bounded-post-pass posture as PCA's driver Jacobi
    * ([[Decomposition]]): a lazy-plan greedy loop would rescan the
    * corpus per pick (measured 8 s vs 1.3 s at sf0.1), and 30 rows
    * on the driver is an index lookup, not a distribution problem.
    * Requires an integral id column. */
  def mmrRerank(corpus: DataFrame, query: DataFrame, nCandidates: Int = 30,
                k: Int = 5, lambdaPct: Int = 70,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && nCandidates >= k &&
      lambdaPct >= 0 && lambdaPct <= 100)
    val cand = cosineTopK(corpus, query, nCandidates, idCol, vecCol)
      .select(col("cand_id").cast("long").as("cand_id"),
        col("cos").as("rel"))
      .join(corpus.select(col(idCol).cast("long").as("cand_id"),
        col(vecCol).as("cv")), Seq("cand_id"))
    val pairs = cand.select(col("cand_id").as("_a"), col("cv").as("_av"))
      .join(cand.select(col("cand_id").as("_b"), col("cv").as("_bv")),
        col("_a") =!= col("_b"))
      .select(col("_a"), col("_b"),
        round(cosine(col("_av"), col("_bv")), 6).as("sim"))
    // bounded post-pass: ≤ nCandidates + nCandidates² rows collected
    val rel = cand.select("cand_id", "rel").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sim = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val first = rel.toSeq.minBy { case (id, r) => (-r, id) }
    val picks = collection.mutable.ArrayBuffer(first)
    while (picks.size < math.min(k, rel.size)) {
      val chosen = picks.map(_._1).toSet
      // identical arithmetic to the SQL dual: ints promote to double
      val next = rel.toSeq.filterNot(c => chosen(c._1)).minBy {
        case (id, r) =>
          val ms = picks.map(p => sim((id, p._1))).max
          (-((lambdaPct * r - (100 - lambdaPct) * ms) / 100.0), id)
      }
      picks += next
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    picks.zipWithIndex
      .map { case ((id, r), i) => (id, (i + 1).toLong, r) }.toSeq
      .toDF("vec_id", "pick", "rel")
  }

  /** Johnson–Lindenstrauss random projection: embed `dim`-wide
    * vectors into `outDim` dimensions with the ±1 (Achlioptas /
    * database-friendly) projection `y_p = dot(v, R_p) / √outDim`,
    * where row `R_p` regenerates from md5 parity exactly like
    * [[srpSearch]]'s hyperplanes (seed tag keeps the two matrices
    * independent). JL is the cheap front half of every
    * distance-based pipeline at 100 TB: a 64→16 projection cuts the
    * bytes every downstream pairwise stage shuffles by 4× while
    * ~preserving L2 distances — and unlike PCA it needs NO fit pass.
    *
    * Scale shape: the matrix is a plan-time literal (broadcast with
    * the closure, zero jobs); projection is `outDim` codegen'd dots
    * fused into the scan — no shuffle, no state. */
  def jlProject(df: DataFrame, outDim: Int, dim: Int = 64,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(outDim >= 1 && outDim <= dim)
    val mat: Seq[Array[Float]] = (0 until outDim).map { p =>
      Array.tabulate(dim)(i =>
        if (graft.functions.HashFunctions.md5Long60(s"jl_${p}_${i}") % 2 == 0)
          1f else -1f)
    }
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    df.select(col(idCol), col(vecCol),
      array((0 until outDim).map(p =>
        dot(col(vecCol), typedLit(mat(p))) * lit(inv)): _*).as("proj"))
  }

  /** Product-quantization codebook (PQ, the IVF-PQ second stage):
    * split each vector into `m` subvectors, k-means each subspace
    * independently (hash-chosen seeds, one refine pass — the
    * [[ivfSeeds]]/[[kmeansRefine]] recipe), and code every vector as
    * its nearest refined centroid per subspace. Returns one row per
    * (vector, subspace): (id, subspace, code, err = L2² to the
    * assigned centroid) — m·log₂(k) bits replace dim·32, and the
    * err column is the measured reconstruction loss that says
    * whether (m, k) is enough BEFORE the index is built (the same
    * audit posture as [[jlDistortion]]).
    *
    * Exactness: distances are per-coordinate (x−μ)² terms
    * ×10¹²-quantized into int64 sums (order-free), argmin is a
    * struct-min with code-id ties, refined centroids are ×10⁶
    * quantized means — every step engine- and partitioning-exact.
    *
    * Scale shape: seeds and both centroid generations broadcast
    * (m·k·dim/m rows); the corpus flows twice through scan-side
    * joins + map-side-combinable aggs and never shuffles its
    * vectors — only (id, subspace, centroid) distance partials.
    * A centroid that captures no points in the assign pass simply
    * drops out of the refined codebook (documented; k-means++ or
    * re-seeding handles it upstream at real scale). */
  def pqCodebook(corpus: DataFrame, m: Int = 4, k: Int = 4, dim: Int = 64,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val (codes, _) = pqFit(corpus, m, k, dim, idCol, vecCol)
    codes.select(col("_id").as(idCol), col("_s").as("subspace"),
      col("_c").as("code"),
      round(col("_qd").cast("double") / 1e12, 6).as("err"))
  }

  /** The PQ index-build core shared by [[pqCodebook]] (audit surface)
    * and [[ivfPqSearch]] (the composed search, which needs the fitted
    * centroids for ADC scoring, not just the codes). Returns
    * (codes = (_id, _s, _c, _qd), centroids = (_s, _c, _mv) —
    * m·k·(dim/m) rows, unhinted: a join that reads them broadcasts
    * them itself, since a hint on a frame a union also reads does
    * nothing there but log a `HintErrorLogger` warning). */
  /** Quantized L2² between two equal-width double arrays: the SAME
    * ×10¹²-int64 per-coordinate terms the coordinate-exploded
    * formulation summed through a groupBy, folded left-to-right by a
    * codegen'd `aggregate` instead — integer addition is order-free,
    * so the value is bit-identical while the n·dim·k intermediate
    * relation (and its shuffle) disappears entirely. */
  /** ×10¹²-quantized squared distance — served by the codegen
    * [[graft.plans.QDist12F]] kernel (r14: the interpreted
    * aggregate∘zip_with fold was the top CPU of every PQ query; the
    * kernel is bit-identical per its exactness contract, pinned by
    * SimilaritySpec's qdist12 equivalence test). */
  private[operators] def qdist12(a: Column, b: Column): Column =
    toCol(graft.plans.QDist12F(toExpr(a), toExpr(b)))

  /** The HOF reference formulation of [[qdist12]] (spec-only). */
  private[operators] def qdist12Hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      floor((x - y) * (x - y) * 1e12 + lit(0.5)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  private[operators] def pqFit(corpus: DataFrame, m: Int, k: Int, dim: Int,
                               idCol: String,
                               vecCol: String): (DataFrame, DataFrame) = {
    require(m >= 1 && k >= 1 && dim % m == 0)
    import graft.functions.HashFunctions.md5Long
    import org.apache.spark.sql.expressions.Window
    val sub = dim / m
    // (vector, subspace) SUBVECTOR rows — n·m rows carrying small
    // arrays; distances fold per row (see qdist12), so no
    // per-coordinate explosion ever reaches an exchange. The corpus is
    // widened first for LARGE fits only (m·k ≥ 256, i.e. ≥256 fold
    // terms per corpus row): the two assign passes of the m=16/k=32
    // production fit were the top cost of every big PQ query (1.7 s
    // single-task each at sf0.1), while for the m=4/k=4 monitoring
    // fits the widen exchange + per-task fixed cost LOST to the
    // single-task pipeline (r14 A/B: q295/q376 +0.2–0.3 s).
    val src0 = corpus.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    val subvecs = (if (m * k >= 256) Fanout.widen(src0, col("_id")) else src0)
      .select(col("_id"), explode(array((0 until m).map(s =>
        struct(lit(s.toLong).as("s"),
          slice(col("_v"), s * sub + 1, sub).as("sv"))): _*)).as("e"))
      .select(col("_id"), col("e.s").as("_s"),
        transform(col("e.sv"), x => x.cast("double")).as("_sv"))
    val seedIds = corpus
      .orderBy(md5Long(col(idCol).cast("string")), col(idCol)).limit(k)
      .select(col(idCol).as("_sid"))
      .withColumn("_c", row_number().over(
        Window.orderBy(md5Long(col("_sid").cast("string")), col("_sid")))
        .cast("long") - 1)
    val seedComps = subvecs
      .join(seedIds, col("_id") === col("_sid"))
      .select(col("_s"), col("_c"), col("_sv").as("_mv"))
    def assign(comps: DataFrame) = subvecs
      .join(broadcast(comps), Seq("_s"))
      .select(col("_id"), col("_s"), col("_c"),
        qdist12(col("_sv"), col("_mv")).as("_qd"))
      .groupBy("_id", "_s")
      .agg(min(struct(col("_qd"), col("_c"))).as("_m"))
      .select(col("_id"), col("_s"), col("_m._c").as("_c"),
        col("_m._qd").as("_qd"))
    val a0 = assign(seedComps)
    // refined centroid means re-expand to coordinates ONCE, over the
    // bounded (subspace, code, i) key space, then regroup to arrays
    val refined = subvecs
      .join(a0.select("_id", "_s", "_c"), Seq("_id", "_s"))
      .select(col("_s"), col("_c"), posexplode(col("_sv")).as(Seq("_i", "_x")))
      .groupBy("_s", "_c", "_i")
      .agg(sum(floor(col("_x") * 1000000 + lit(0.5)).cast("long")).as("_sx"),
        count(lit(1)).as("_n"))
      .groupBy("_s", "_c")
      .agg(transform(
        array_sort(collect_list(struct(col("_i"), col("_sx"), col("_n")))),
        t => t.getField("_sx").cast("double") / t.getField("_n")
          / 1000000.0).as("_mv"))
    (assign(refined), refined)
  }

  /** Embedding-distribution drift via PQ-code histograms: fit the
    * codebook on snapshot A ([[pqFit]]), encode BOTH snapshots with
    * A's centroids, and report the Jensen–Shannon divergence between
    * the per-subspace code distributions — the embedding-space drift
    * monitor whose state is m·k integers, not vectors (the
    * [[centroidDrift]] read catches mean shifts; code histograms
    * catch SHAPE changes a mean can hide, e.g. a mode collapsing).
    * Codes are discrete, so the drift read needs no binning choices.
    *
    * Determinism: the whole encode ladder is [[pqCodebook]]'s
    * replayable recipe (md5 seeds, ×10¹²-int distances, code-id
    * ties); histogram counts are int64; the ≤k-term JS sums follow
    * [[Profiling.jsDivergence]]'s round-6 posture.
    *
    * Scale shape: the fit touches A twice (pqFit's own shape); B is
    * encoded in one scan-side broadcast join + map-side argmin;
    * everything downstream is (m·k)-sized. At 100 TB the code
    * histograms are the natural per-partition monitoring artifact —
    * additive, mergeable, bytes-sized. */
  def codebookDrift(snapA: DataFrame, snapB: DataFrame, m: Int = 4,
                    k: Int = 4, dim: Int = 64,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val (codesA, cents) = pqFit(snapA, m, k, dim, idCol, vecCol)
    val sub = dim / m
    val subB = snapB.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .select(col("_id"), explode(array((0 until m).map(s =>
        struct(lit(s.toLong).as("s"),
          slice(col("_v"), s * sub + 1, sub).as("sv"))): _*)).as("e"))
      .select(col("_id"), col("e.s").as("_s"),
        transform(col("e.sv"), x => x.cast("double")).as("_sv"))
    val codesB = subB.join(broadcast(cents), Seq("_s"))
      .select(col("_id"), col("_s"), col("_c"),
        qdist12(col("_sv"), col("_mv")).as("_qd"))
      .groupBy("_id", "_s")
      .agg(min(struct(col("_qd"), col("_c"))).as("_m"))
      .select(col("_s"), col("_m").getField("_c").as("_c"))
    val ha = codesA.select(col("_s"), col("_c"))
      .groupBy("_s", "_c").agg(count(lit(1)).as("_ca"))
    val hb = codesB.groupBy("_s", "_c").agg(count(lit(1)).as("_cb"))
    val joined = ha.join(hb, Seq("_s", "_c"), "full_outer")
      .select(col("_s"), col("_c"), coalesce(col("_ca"), lit(0L)).as("na"),
        coalesce(col("_cb"), lit(0L)).as("nb"))
    val tot = joined.groupBy("_s").agg(sum("na").as("_ta"),
      sum("nb").as("_tb"))
    joined.join(broadcast(tot), Seq("_s"))
      .withColumn("_p", col("na").cast("double") / col("_ta"))
      .withColumn("_q", col("nb").cast("double") / col("_tb"))
      .withColumn("_mm", (col("_p") + col("_q")) / 2)
      .withColumn("_term",
        when(col("_p") > 0, col("_p") * log(col("_p") / col("_mm")) / 2)
          .otherwise(lit(0.0)) +
        when(col("_q") > 0, col("_q") * log(col("_q") / col("_mm")) / 2)
          .otherwise(lit(0.0)))
      .groupBy(col("_s").as("subspace"))
      .agg(sum("na").as("n_a"), sum("nb").as("n_b"),
        round(sum("_term"), 6).as("js"))
  }

  /** Composed IVF-PQ ADC search — the single operator a 100 TB
    * vector store actually runs, assembled from [[ivfSearch]]'s
    * cell-probe and [[pqCodebook]]'s quantizer: (1) probe the
    * `nprobe` max-cosine cells per query; (2) score every candidate
    * in the probed cells by ASYMMETRIC DISTANCE COMPUTATION — the
    * query's exact subvectors against each candidate's PQ codes via
    * a per-query (subspace, code) → L2² lookup table, so candidate
    * VECTORS are never touched; (3) exact-cosine re-rank of the
    * `rerank`-deep ADC shortlist. Output contract identical to
    * [[cosineTopK]]/[[ivfSearch]] (query_id, cand_id, cos, rn), so
    * recall@k against the brute-force baseline measures the
    * cells-missed + quantization loss end to end. Measured at the
    * defaults on the sf0.01 embeddings: recall@5 = 0.91 vs brute
    * force (pure IVF at the same probes: 0.94 — the gap is ADC
    * loss, recoverable by `rerank` depth; with rerank covering all
    * probed candidates the output EQUALS [[ivfSearch]]'s, spec-
    * pinned). The (m, codes) grid is a real lever: m=4/16 codes
    * scores 0.52, m=16/32 scores 0.91 — pick by the corpus's
    * intrinsic dimensionality, not habit.
    *
    * Exactness: probes and re-rank use the 6-rounded cosine; the ADC
    * table entries are ×10¹²-quantized int64 per-subspace sums and a
    * candidate's ADC score is an exact integer sum of m of them —
    * every rank boundary engine- and partitioning-stable (ties to
    * the lowest cand_id at both the shortlist and final cut).
    *
    * Scale shape — why this is THE big-corpus layout: the full
    * index is (cell, id, m codes) ints bucket-written by cell; the
    * fitted centroids (m·k·dim/m floats) and per-query ADC tables
    * (queries·m·k int64s) broadcast; scoring joins move only
    * (query_id, cand_id, code) ints, never vectors; and the only
    * full-vector reads after the build are `rerank` rows per query,
    * fetched by a broadcast semi-join against the corpus — no
    * corpus shuffle anywhere in the serve path. */
  def ivfPqSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                  numCells: Int = 8, nprobe: Int = 4, multiAssign: Int = 2,
                  m: Int = 16, codes: Int = 32, dim: Int = 64,
                  rerank: Int = 50,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCells && rerank >= k)
    ivfPqServe(ivfPqIndex(corpus, numCells, multiAssign, m, codes, dim,
      idCol, vecCol), corpus, queries, k, nprobe, m, dim, rerank,
      idCol = idCol, vecCol = vecCol)
  }

  /** Unit-normalization shared by the PQ fit and the serve-side ADC
    * tables: PQ is fit on UNIT vectors because the served metric is
    * cosine, and on unit vectors ADC's L2² = 2 − 2·cos is monotone
    * with it — PQ on raw vectors would rank by magnitude and gut
    * recall (measured: 0.08 raw vs 0.91 normalized at defaults). */
  private def unitVecs(df: DataFrame, idCol: String,
                       vecCol: String, wide: Boolean = false): DataFrame = {
    val base = df.select(col(idCol), col(vecCol))
    // wide = true for corpus/batch-sized inputs: the per-row norm +
    // normalize transform is interpreted (HOF) and would otherwise
    // pipeline onto a narrow scan (Fanout scaladoc); query-sized
    // inputs keep false — an exchange would cost more than it spreads
    val src = if (wide) Fanout.widen(base, col(idCol)) else base
    src.withColumn("_nn", norm(col(vecCol)))
      .select(col(idCol),
        transform(col(vecCol), x => x.cast("double") / col("_nn"))
          .as(vecCol))
  }

  /** The IVF-PQ index as ONE materializable table — the standing
    * product a vector store writes once and serves many times (the
    * vector-side sibling of FuzzyDedup.bandIndex). Four part-tagged
    * row groups share a (part, id, s, c, vec) schema:
    *
    *   - `seed`   (id, vec):      the numCells IVF seed vectors
    *   - `assign` (id, c=cell):   corpus→cell multi-assignment
    *   - `code`   (id, s, c):     per-(vector, subspace) PQ codes
    *   - `cent`   (s, c, vec):    fitted PQ centroid subvectors
    *
    * Seed vectors are stored as array<double>; float→double is exact,
    * so a serve-side cast back to float reproduces the build-side
    * cosines bit-for-bit (spec-pinned: serve == ivfPqSearch exactly).
    *
    * Scale shape: `assign` and `code` are the only corpus-sized parts
    * (ints, no vectors — the 25× compression is the point of PQ);
    * at 100 TB they bucket-write by cell and id respectively, while
    * `seed` + `cent` (numCells + m·codes rows) broadcast at serve
    * time. Rebuild cadence is governed by [[centroidDrift]]. */
  def ivfPqIndex(corpus: DataFrame, numCells: Int = 8, multiAssign: Int = 2,
                 m: Int = 16, codes: Int = 32, dim: Int = 64,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nullVec = lit(null).cast("array<double>")
    val nullL = lit(null).cast("long")
    val seeds = ivfSeeds(corpus, numCells, idCol, vecCol)
      .select(lit("seed").as("part"), col("seed_id").as("id"),
        nullL.as("s"), nullL.as("c"), col("sv").cast("array<double>").as("vec"))
    val assigned = ivfAssign(corpus, numCells, multiAssign, idCol, vecCol)
      .select(lit("assign").as("part"), col("cand_id").as("id"),
        nullL.as("s"), col("cell").cast("long").as("c"), nullVec.as("vec"))
    val (pqCodes, cents) =
      pqFit(unitVecs(corpus, idCol, vecCol, wide = true), m, codes, dim,
        idCol, vecCol)
    val codeRows = pqCodes.select(lit("code").as("part"), col("_id").as("id"),
      col("_s").as("s"), col("_c").as("c"), nullVec.as("vec"))
    val centRows = cents.select(lit("cent").as("part"), nullL.as("id"),
      col("_s").as("s"), col("_c").as("c"), col("_mv").as("vec"))
    seeds.unionByName(assigned).unionByName(codeRows).unionByName(centRows)
  }

  /** Serve path of the composed IVF-PQ search, reading a STANDING
    * [[ivfPqIndex]] instead of rebuilding it: probe → ADC shortlist →
    * exact re-rank, with `corpus` touched only to fetch the
    * rerank-deep shortlist vectors (broadcast semi-join — the corpus
    * never shuffles and is never re-fit). `m`/`dim` must match the
    * index build. Output contract and every rank boundary are
    * IDENTICAL to [[ivfPqSearch]] at the same parameters (the
    * delta-equivalence is the oracle). */
  def ivfPqServe(index: DataFrame, corpus: DataFrame, queries: DataFrame,
                 k: Int, nprobe: Int = 4, m: Int = 16, dim: Int = 64,
                 rerank: Int = 50, batchScale: Boolean = false,
                 bucketedIndex: Boolean = false,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1 && rerank >= k)
    import org.apache.spark.sql.expressions.Window
    // The default (batchScale = false) serves a SMALL query set and
    // force-broadcasts every query-derived relation (probes, ADC
    // tables, shortlist). With a batch-sized query set — the ingest
    // probe, where the batch can be millions of rows — those
    // relations are queries×m×codes and would blow the broadcast
    // limit; batchScale = true drops the hints so they shuffle-join
    // on query_id (AQE still broadcasts them when genuinely small).
    // Results are identical either way — only the exchange strategy
    // moves (measured at 10×: the forced broadcast was the q327
    // scale cliff).
    def bc(df: DataFrame): DataFrame = if (batchScale) df else broadcast(df)
    val seeds = broadcast(index.filter(col("part") === "seed")
      .select(col("id").as("seed_id"),
        col("vec").cast("array<float>").as("sv"))
      .withColumn("sn", norm(col("sv"))))
    val assigned = index.filter(col("part") === "assign")
      .select(col("id").as("cand_id"), col("c").as("cell"))
    val pqCodes = index.filter(col("part") === "code")
      .select(col("id").as("_id"), col("s").as("_s"), col("c").as("_c"))
    val cents = broadcast(index.filter(col("part") === "cent")
      .select(col("s").as("_s"), col("c").as("_c"), col("vec").as("_mv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cs").desc, col("seed_id"))
    // bucketedIndex = true is the PRODUCTION standing-index layout
    // (partitionBy(part) + bucketBy(cell)): at 100 TB the assign part
    // is corpus-sized and a directory-per-cell layout outgrows the
    // filesystem's directory metadata, so the cell co-location moves
    // from partitions into buckets. The probe join is merge-hinted so
    // the bucketed scan's HashPartitioning(cell, N) is CONSUMED:
    // only the (tiny) probe side shuffles — to the bucket count — and
    // the corpus-sized assign part joins with NO Exchange above its
    // scan (plan-pinned in PlanShapeSpec). Results are identical to
    // the partitioned layout — only the exchange strategy moves.
    val probesRaw = q.crossJoin(seeds)
      .withColumn("cs",
        round(dot(col("qv"), col("sv")) / (col("qn") * col("sn")), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("seed_id").as("cell"))
    val probes = if (bucketedIndex) probesRaw.hint("merge") else bc(probesRaw)
    // per-query ADC lookup table: exact query subvector vs every
    // fitted centroid — same ×10¹² integer sums as the fit, folded
    // per (query, subspace, code) row by the codegen'd qdist12
    val sub = dim / m
    val qsubvecs = unitVecs(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("_v"))
      .select(col("query_id"), explode(array((0 until m).map(s =>
        struct(lit(s.toLong).as("s"),
          slice(col("_v"), s * sub + 1, sub).as("sv"))): _*)).as("e"))
      .select(col("query_id"), col("e.s").as("_s"),
        transform(col("e.sv"), x => x.cast("double")).as("_sv"))
    val dtab = bc(qsubvecs.join(cents, Seq("_s"))
      .select(col("query_id"), col("_s"), col("_c"),
        qdist12(col("_sv"), col("_mv")).as("_qd")))
    // dedup pairs BEFORE the code join: multi-assignment can surface
    // a pair via two probed cells and would double its ADC sum
    val cands = probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val adc = cands
      .join(pqCodes.select(col("_id").as("cand_id"), col("_s"), col("_c")),
        Seq("cand_id"))
      .join(dtab, Seq("query_id", "_s", "_c"))
      .groupBy("query_id", "cand_id")
      .agg(sum("_qd").as("_adc"))
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("_adc"), col("cand_id"))
    val short = adc.withColumn("_sr", row_number().over(wShort))
      .filter(col("_sr") <= rerank)
      .select("query_id", "cand_id")
    // exact re-rank: only rerank×queries vectors leave the corpus,
    // via a broadcast join — the corpus itself never shuffles
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = cv.join(bc(short), Seq("cand_id"))
      .join(bc(q), Seq("query_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id", "cos", "rn")
  }

  /** Vector-ingest near-dup probe — the embedding-side sibling of
    * FuzzyDedup.incrementalNearDups: an arriving batch is served as
    * queries against the STANDING index built on the already-ingested
    * corpus, and each (new, indexed) neighbor at exact cosine ≥ `tau`
    * is flagged `is_dup` — per-batch semantic dedup without re-fitting
    * seeds, codes, or assignments. Because [[ivfPqServe]] at the same
    * parameters equals [[ivfPqSearch]] on (old corpus, batch) exactly,
    * the full-rebuild replay IS the oracle (the q324 posture).
    *
    * Scale shape: per batch this reads the index's int parts + fetches
    * rerank·batch exact vectors; the indexed corpus is never re-coded
    * and never shuffles. The `is_dup` flag rides the exact re-ranked
    * cosine, not the ADC estimate — quantization loss can hide a
    * neighbor from the shortlist (recall is the measured, audited
    * quantity) but never produces a false positive. */
  def vectorIngestProbe(index: DataFrame, corpus: DataFrame,
                        batch: DataFrame, tau: Double, k: Int = 3,
                        nprobe: Int = 4, m: Int = 16, dim: Int = 64,
                        rerank: Int = 50,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqServe(index, corpus, batch, k, nprobe, m, dim, rerank,
      batchScale = true, idCol = idCol, vecCol = vecCol)
      .withColumn("is_dup", col("cos") >= tau)

  /** Index-delta encoder — the write half of per-batch vector ingest:
    * each arriving vector gets its `multiAssign` standing IVF cells
    * (rounded-cosine argmax vs the STANDING seeds, ties to the lowest
    * seed id — [[ivfAssign]]'s exact contract) and its m PQ codes vs
    * the STANDING fitted centroids (the same ×10¹²-quantized int64
    * argmin as the fit's assign pass). Appending these rows as
    * `assign`/`code` parts IS the index update; nothing standing is
    * touched. Returns one row per vector: (id, cells ASC, codes by
    * subspace) — list-shaped so the grain stays per-vector.
    *
    * Scale shape: seeds + centroids broadcast (numCells + m·codes
    * rows); the batch never shuffles its vectors — the per-key window
    * and the two folds group on the batch's own id. */
  def ivfPqEncode(index: DataFrame, batch: DataFrame, multiAssign: Int = 2,
                  m: Int = 16, dim: Int = 64,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seeds = broadcast(index.filter(col("part") === "seed")
      .select(col("id").as("seed_id"),
        col("vec").cast("array<float>").as("sv"))
      .withColumn("sn", norm(col("sv"))))
    val cents = broadcast(index.filter(col("part") === "cent")
      .select(col("s").as("_s"), col("c").as("_c"), col("vec").as("_mv")))
    val wA = Window.partitionBy("_bid").orderBy(col("cs").desc, col("seed_id"))
    val cells = batch.select(col(idCol).as("_bid"), col(vecCol).as("_bv"))
      .withColumn("_bn", norm(col("_bv")))
      .crossJoin(seeds)
      .withColumn("cs",
        round(dot(col("_bv"), col("sv")) / (col("_bn") * col("sn")), 6))
      .withColumn("_arn", row_number().over(wA))
      .filter(col("_arn") <= multiAssign)
      .groupBy("_bid")
      .agg(array_sort(collect_list(col("seed_id"))).as("cells"))
    val sub = dim / m
    val bsub = unitVecs(batch, idCol, vecCol, wide = true)
      .select(col(idCol).as("_bid"), col(vecCol).as("_v"))
      .select(col("_bid"), explode(array((0 until m).map(s =>
        struct(lit(s.toLong).as("s"),
          slice(col("_v"), s * sub + 1, sub).as("sv"))): _*)).as("e"))
      .select(col("_bid"), col("e.s").as("_s"),
        transform(col("e.sv"), x => x.cast("double")).as("_sv"))
    val codes = bsub.join(cents, Seq("_s"))
      .select(col("_bid"), col("_s"), col("_c"),
        qdist12(col("_sv"), col("_mv")).as("_qd"))
      .groupBy("_bid", "_s")
      .agg(min(struct(col("_qd"), col("_c"))).as("_m"))
      .groupBy("_bid")
      .agg(transform(
        array_sort(collect_list(struct(col("_s"), col("_m._c").as("_c")))),
        t => t.getField("_c")).as("codes"))
    cells.join(codes, Seq("_bid")).select(col("_bid").as(idCol),
      col("cells"), col("codes"))
  }

  /** STREAMING vector-ingest probe — [[vectorIngestProbe]]'s
    * threshold semantics as a continuous flow, the embedding twin of
    * FuzzyDedup.streamingIngestProbe. Structured Streaming permits
    * ONE aggregation per query, so the cell probe cannot be a
    * per-query top-k agg; instead the (small) seed part collapses to
    * a ONE-ROW broadcast array and each arriving vector ranks it
    * IN-ROW — sort by (−cos, seed_id) over the array, slice nprobe —
    * making everything up to the final pair-dedup stateless. Probed
    * cells stream-static join the index's assign part, candidates
    * fetch their exact vector by id, and pairs at exact cosine ≥
    * `tau` surface per micro-batch (no ADC tier here: threshold
    * probes want no shortlist cut, and the exact pass is one
    * candidate-sized join either way).
    *
    * Exactness: the same rounded-cosine/seed-id order as
    * [[ivfPqServe]]'s probe ranking, so the probed cells are
    * bit-identical to the batch path's.
    *
    * Scale shape: seeds are numCells rows (broadcast as one array);
    * the assign part is (cell)-bucket-readable; per-batch state is
    * bounded by the verified-pair count.
    *
    * `bucketedIndex = true` is the PRODUCTION standing-layout serve
    * ([[ivfPqServe]]'s q476 posture, live): the index is a
    * partitionBy(part) + bucketBy(cell) catalog table and the probe →
    * assign stream-static join is merge-hinted so each micro-batch
    * CONSUMES the bucketed scan's HashPartitioning — the corpus-sized
    * assign part joins with NO Exchange above its scan, and only the
    * (micro-batch-sized) probe side shuffles, to the bucket count.
    * Identical rows either way; only the exchange strategy moves
    * (q477 hash-matches q333 — oracle-enforced). */
  def streamingVectorProbe(index: DataFrame, corpus: DataFrame,
                           stream: DataFrame, tau: Double, nprobe: Int = 4,
                           bucketedIndex: Boolean = false,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val seedArr = broadcast(index.filter(col("part") === "seed")
      .select(col("id").as("seed_id"),
        col("vec").cast("array<float>").as("sv"))
      .withColumn("sn", norm(col("sv")))
      .agg(collect_list(struct(col("seed_id"), col("sv"), col("sn")))
        .as("_seeds")))
    val assigned = index.filter(col("part") === "assign")
      .select(col("id").as("cand_id"), col("c").as("cell"))
    val probed = stream
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .crossJoin(seedArr)
      .withColumn("_pc", slice(array_sort(transform(col("_seeds"), s =>
        struct((lit(0.0) - round(dot(col("qv"), s.getField("sv")) /
          (col("qn") * s.getField("sn")), 6)).as("negcos"),
          s.getField("seed_id").as("cell")))), 1, nprobe))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("_pc")).as("_p"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("_p.cell").as("cell"))
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    (if (bucketedIndex) probed.hint("merge") else probed)
      .join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(cv, Seq("cand_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .filter(col("cos") >= tau)
      .groupBy("query_id", "cand_id")
      .agg(max(col("cos")).as("cos"))
  }

  /** STREAMING index-delta encoder — [[ivfPqEncode]] with ZERO
    * aggregations, legal in APPEND mode with no state at all: the
    * seed part AND the centroid part each collapse to a one-row
    * broadcast array, and every arriving vector computes its
    * `multiAssign` cells and its m PQ codes entirely IN-ROW —
    * cells by sorting the seed array by (−cos, seed_id), codes by a
    * per-subspace struct-min over the centroid array (the same
    * ×10¹²-quantized int64 distances as the fit, so the argmin ties
    * EXACTLY as the batch encoder's groupBy min). Output rows are
    * bit-identical to [[ivfPqEncode]]'s (spec-pinned through a real
    * stream), which makes q328's replay the oracle verbatim.
    *
    * Scale shape: the broadcast payload is numCells + m·codes rows
    * in two single-row arrays; per-vector work is O(cells + m·codes)
    * dot/fold arithmetic with nothing crossing micro-batches —
    * the ideal streaming operator shape (no watermark, no state
    * store, no shuffle). */
  def streamingIngestEncode(index: DataFrame, stream: DataFrame,
                            multiAssign: Int = 2, m: Int = 16,
                            dim: Int = 64, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val sub = dim / m
    val seedArr = broadcast(index.filter(col("part") === "seed")
      .select(col("id").as("seed_id"),
        col("vec").cast("array<float>").as("sv"))
      .withColumn("sn", norm(col("sv")))
      .agg(collect_list(struct(col("seed_id"), col("sv"), col("sn")))
        .as("_seeds")))
    val centArr = broadcast(index.filter(col("part") === "cent")
      .select(col("s").as("cs"), col("c").as("cc"), col("vec").as("mv"))
      .agg(collect_list(struct(col("cs"), col("cc"), col("mv")))
        .as("_cents")))
    stream
      .select(col(idCol), col(vecCol).as("_v"))
      .withColumn("_qn", norm(col("_v")))
      // unit-normalized double coords, as pqFit sees them
      .withColumn("_nv",
        transform(col("_v"), x => x.cast("double") / col("_qn")))
      .crossJoin(seedArr).crossJoin(centArr)
      .withColumn("cells", array_sort(transform(
        slice(array_sort(transform(col("_seeds"), s =>
          struct((lit(0.0) - round(dot(col("_v"), s.getField("sv")) /
            (col("_qn") * s.getField("sn")), 6)).as("negcos"),
            s.getField("seed_id").as("cell")))), 1, multiAssign),
        p => p.getField("cell"))))
      .withColumn("codes", transform(sequence(lit(0L), lit(m - 1L)), sIdx =>
        array_min(transform(
          filter(col("_cents"), e => e.getField("cs") === sIdx),
          e => struct(
            qdist12(slice(col("_nv"),
              (sIdx * sub + 1).cast("int"), lit(sub)), e.getField("mv")).as("qd"),
            e.getField("cc").as("cc")))).getField("cc")))
      .select(col(idCol), col("cells"), col("codes"))
  }

  /** Standing-index health audit — the cheap scan that says when the
    * IVF layout has degraded: per cell, its vector count and its LOAD
    * (count / mean count across cells; 1.0 = perfectly balanced). A
    * cell whose load grows ≫ 1 under ingest ([[ivfPqEncode]] appends
    * skew where the data drifts) is the re-train signal — the
    * partition-level companion of [[centroidDrift]]'s geometric one.
    *
    * Exactness: n·k is an exact integer product; one double division
    * + round(6) lands identically in any engine.
    *
    * Scale shape: one map-side-combinable count over the index's
    * `assign` part (ints only — vectors are never read) and a
    * broadcast 1-row total; cost is index-scan, not corpus-scan. */
  def indexHealth(index: DataFrame): DataFrame = {
    val cells = index.filter(col("part") === "assign")
      .groupBy(col("c").as("cell"))
      .agg(count(lit(1)).as("n_vectors"))
    val tot = cells.agg(sum("n_vectors").as("_t"), count(lit(1)).as("_k"))
    cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        round(col("n_vectors") * col("_k") / col("_t"), 6).as("load"))
  }

  /** Embedding-space drift monitor: per label, how far the class
    * centroid moved between two snapshots (cosine + L2 shift of the
    * mean vector) — the cheap canary that says "re-index the ANN /
    * re-fit the quantizer" before recall silently decays. Returns
    * (label, n_a, n_b, centroid_cos, l2_shift).
    *
    * Exactness: per-dimension means are ratios of ×10⁶-quantized
    * int64 sums (the centroidOutliers recipe); the cross-dimension
    * reductions (dot, norms, Δ²) are ×10¹²-quantized int64 sums, so
    * both engines add the same integers in any order — no
    * float-summation-order drift even though the 64 per-dim terms
    * are genuine doubles.
    *
    * Scale shape: each snapshot reduces map-side to labels×dim rows;
    * the dimension join and the final per-label fold never touch the
    * corpus again. */
  def centroidDrift(snapA: DataFrame, snapB: DataFrame,
                    labelCol: String = "label",
                    vecCol: String = "embedding"): DataFrame = {
    def comp(df: DataFrame) = centroidComponents(
      df.filter(col(labelCol).isNotNull && col(vecCol).isNotNull),
      labelCol, vecCol)
    val a = comp(snapA).select(col("_l"), col("_i"), col("_m").as("_ma"),
      col("_n").as("_na"))
    val b = comp(snapB).select(col("_l"), col("_i"), col("_m").as("_mb"),
      col("_n").as("_nb"))
    def q12(c: Column) = floor(c * 1e12 + lit(0.5)).cast("long")
    a.join(b, Seq("_l", "_i"))
      .groupBy(col("_l").as(labelCol))
      .agg(max("_na").as("n_a"), max("_nb").as("n_b"),
        sum(q12(col("_ma") * col("_mb"))).as("_dot"),
        sum(q12(col("_ma") * col("_ma"))).as("_qa"),
        sum(q12(col("_mb") * col("_mb"))).as("_qb"),
        sum(q12((col("_ma") - col("_mb")) * (col("_ma") - col("_mb"))))
          .as("_d2"))
      .select(col(labelCol), col("n_a"), col("n_b"),
        round(when(col("_qa") > 0 && col("_qb") > 0,
          (col("_dot").cast("double") / 1e12) /
            (sqrt(col("_qa").cast("double") / 1e12) *
             sqrt(col("_qb").cast("double") / 1e12))), 6).as("centroid_cos"),
        round(sqrt(greatest(col("_d2"), lit(0L)).cast("double") / 1e12), 6)
          .as("l2_shift"))
  }

  /** Hard-negative mining: for each query vector, the k most cosine-
    * similar corpus vectors with a DIFFERENT label — the contrastive-
    * training counterpart of [[Sampling]]'s random negative sampling
    * (q162): random negatives are trivially separable; the negatives
    * that actually move an encoder are the near-misses this surfaces.
    * Deterministic ordering: rounded cos DESC, cand_id.
    *
    * Scale shape: q28's brute-force contract — queries broadcast
    * (query batches are bounded), the corpus never shuffles, the
    * label-mismatch predicate rides the broadcast join, and per-query
    * top-k ships bounded heaps. An unlabeled corpus composes the
    * same mining from [[ivfSearch]] cells (mine within neighboring
    * cells, exclude the query's own near-dup cluster). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv"), norm(col(vecCol)).as("_qn"),
      col(labelCol).as("_ql")))
    val scored = corpus
      .select(col(idCol).as("cand_id"), col(vecCol).as("_cv"),
        norm(col(vecCol)).as("_cn"), col(labelCol).as("_cl"))
      .join(q, col("_cl") =!= col("_ql") && col("cand_id") =!= col("query_id"))
      .withColumn("cos",
        round(dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id", "cos", "rn")
  }

  /** Semantic decontamination — the EMBEDDING tier of the benchmark
    * hygiene ladder ([[Sampling.decontaminate]] exact →
    * [[Sampling.ngramDecontaminate]] n-gram →
    * [[Sampling.nearDupDecontaminate]] MinHash → this): flag corpus
    * vectors whose best cosine against ANY benchmark vector reaches
    * `threshold` — a paraphrased eval item shares no 13-gram and no
    * shingle set, but its embedding still sits next to the original.
    * Returns (corpus_id, bench_id of the best match, cos) for
    * flagged rows; anti-join the ids to clean.
    *
    * Scale shape: the benchmark broadcasts (eval sets are small) and
    * the corpus NEVER shuffles its vectors — the best-match argmax
    * is a map-side-combinable struct-max (max cos, ties to the
    * smallest bench_id), so only (corpus_id, best) pairs reach the
    * exchange. A benchmark too large to broadcast moves to the
    * [[ivfSearch]] cell-blocked shape — documented path, same
    * output contract.
    *
    * Every corpus vector is compared against EVERY benchmark vector:
    * corpus and benchmark are separate tables by contract, so an id
    * collision across them is meaningless and must not suppress a
    * comparison (a plain cross against the broadcast side — no join
    * predicate — also keeps NULL-id corpus rows in play). */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val b = broadcast(benchmark.select(col(idCol).as("_bid"),
      col(vecCol).as("_bv"), norm(col(vecCol)).as("_bn")))
    corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("_cv"),
        norm(col(vecCol)).as("_cn"))
      .crossJoin(b)
      .select(col("corpus_id"), col("_bid"),
        round(dot(col("_cv"), col("_bv")) / (col("_cn") * col("_bn")), 6)
          .as("_cos"))
      .groupBy("corpus_id")
      .agg(max(struct(col("_cos"), (-col("_bid")).as("_nb"))).as("_m"))
      .select(col("corpus_id"), (-col("_m._nb")).as("bench_id"),
        col("_m._cos").as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** JL distortion audit over the all-pairs of a BOUNDED id sample:
    * original vs projected L2 distance and their ratio — the
    * measured ε that tells you whether `outDim` is enough before you
    * commit the whole corpus to the projected representation. The
    * sample relation is tiny (ids below `maxId`), so the pair join
    * is a broadcast cross of bounded size; the corpus itself is
    * untouched. */
  def jlDistortion(df: DataFrame, maxId: Long, outDim: Int,
                   dim: Int = 64, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val proj = jlProject(df.filter(col(idCol) < maxId), outDim, dim,
      idCol, vecCol)
    def dist(a: Column, b: Column): Column =
      sqrt(aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v))
    val l = proj.select(col(idCol).as("a"), col(vecCol).as("_av"),
      col("proj").as("_ap"))
    val r = proj.select(col(idCol).as("b"), col(vecCol).as("_bv"),
      col("proj").as("_bp"))
    l.join(r, col("a") < col("b"))
      .select(col("a"), col("b"),
        round(dist(col("_av"), col("_bv")), 6).as("d_orig"),
        round(dist(col("_ap"), col("_bp")), 6).as("d_proj"),
        round(when(dist(col("_av"), col("_bv")) =!= 0,
          dist(col("_ap"), col("_bp")) / dist(col("_av"), col("_bv"))), 6)
          .as("ratio"))
  }

  /** THE per-label quantized-centroid component recipe — the single
    * source of truth shared by [[centroidTable]], [[centroidDrift]]
    * and [[centroidOutliers]] (previously three hand-rolled copies
    * whose FP division orders could drift apart). Per (label, dim):
    * the ×10⁶-quantized int64 coordinate sum `_s`, the count `_n`,
    * and the mean `_m` = `_s / _n / 10⁶` — exact integer aggregation
    * makes every component BIT-deterministic under any partitioning/
    * engine, and the division order is part of the cross-engine
    * contract (duals use `s::DOUBLE / n / 1e6`, never `s/(n·1e6)` —
    * last-ulp-different on the same sums). Map-side-combining
    * aggregate; the corpus is read once. */
  private[operators] def centroidComponents(df: DataFrame, labelCol: String,
                                            vecCol: String): DataFrame =
    df.select(col(labelCol).as("_l"), posexplode(col(vecCol)).as(Seq("_i", "_v")))
      .groupBy("_l", "_i")
      .agg(sum(floor(col("_v").cast("double") * 1000000 + lit(0.5))
        .cast("long")).as("_s"), count(lit(1)).as("_n"))
      .withColumn("_m", col("_s").cast("double") / col("_n") / 1000000.0)

  /** Per-label centroids as ordered double arrays, assembled from
    * [[centroidComponents]]. The (labels × dim) relation is tiny, so
    * it broadcasts. */
  private def centroidTable(emb: DataFrame, labelCol: String,
                            vecCol: String): DataFrame =
    centroidComponents(emb, labelCol, vecCol)
      .groupBy(col("_l").as("_cl"))
      .agg(transform(
        array_sort(collect_list(struct(col("_i"), col("_m")))),
        e => e.getField("_m")).as("_cent"))

  /** Simplified (centroid-based) silhouette per cluster: a(i)/b(i)
    * are Euclidean distances to the own/nearest-other CENTROID, which
    * turns the classic O(n²) pairwise silhouette into two linear
    * passes — the only formulation that scales to a 100 TB corpus,
    * and the standard large-scale variant. The a/b comparison happens
    * on the exact ×10¹²-int64 squared distances (sqrt is monotone, so
    * argmin over ints IS argmin over distances); s(i) itself uses
    * identical double operands in any engine, and the per-cluster
    * mean folds ×10¹²-quantized s values as exact integers.
    * s(i) = 0 when the point coincides with both centroids
    * (max(a,b) = 0); single-cluster input yields no rows (b(i) is
    * undefined — the classic's contract). NULL label/vector rows are
    * excluded. Returns (label, n_vectors, mean_silhouette).
    *
    * Cost is O(n · k · dim) with k = label count — b(i) is an exact
    * min over ALL other centroids, so a workload whose cluster count
    * grows with the corpus pays n·k quadratically (measured:
    * SCALING.md round-8). With bounded k (domain labels, the usual
    * curation case) it is one linear scan. For corpus-scale k, prune
    * candidates with [[ivfSearch]]'s cell structure first.
    *
    * Cluster-quality gate for curation: a low-silhouette domain label
    * means the mixture weights ride a mushy clustering. */
  def clusterSilhouette(emb: DataFrame, labelCol: String = "label",
                        vecCol: String = "embedding"): DataFrame = {
    val e = emb.filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).as("_l"), col(vecCol).as("_v"))
    // the centroid table collapses to a ONE-ROW broadcast array, so
    // a(i)/b(i) are in-row HOF folds — the corpus never shuffles, and
    // the only exchange left is the k-row label aggregate
    val centArr = broadcast(centroidTable(e, "_l", "_v")
      .agg(collect_list(struct(col("_cl"), col("_cent"))).as("_ca")))
    val sqrtA = sqrt(col("_aq").cast("double"))
    val sqrtB = sqrt(col("_bq").cast("double"))
    e.crossJoin(centArr)
      .select(col("_l"),
        element_at(transform(
            filter(col("_ca"), c => c.getField("_cl") === col("_l")),
            c => qdist12(col("_v"), c.getField("_cent"))), 1).as("_aq"),
        array_min(transform(
            filter(col("_ca"), c => c.getField("_cl") =!= col("_l")),
            c => qdist12(col("_v"), c.getField("_cent")))).as("_bq"))
      .filter(col("_bq").isNotNull)
      .select(col("_l"),
        floor((when(greatest(col("_aq"), col("_bq")) === 0L, lit(0.0))
            .otherwise((sqrtB - sqrtA) / greatest(sqrtA, sqrtB))) * 1e12 +
          lit(0.5)).cast("long").as("_sq12"))
      .groupBy(col("_l"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("_sq12").cast("decimal(38,0)")).as("_ss"))
      .select(col("_l").as("label"), col("n_vectors"),
        round(col("_ss").cast("double") / col("n_vectors") / 1e12, 6)
          .as("mean_silhouette"))
  }

  /** Davies–Bouldin index: DB = mean over clusters k of
    * max_{j≠k} (S_j + S_k) / M_jk, with S = mean distance to own
    * centroid and M = centroid separation. Lower is better; the
    * companion single-number to [[clusterSilhouette]]'s per-cluster
    * view. S folds ×10¹²-quantized distances as exact decimal(38,0)
    * sums (a plain int64 sum would saturate near 10⁶ rows × large
    * distances); the cluster-level algebra runs on a k-row relation
    * (k = #labels), so every join here is broadcast-sized. Pairs with
    * coincident centroids (M = 0, ratio → ∞) are excluded rather
    * than poisoning the quantized mean — a merged-label pathology the
    * caller should catch via [[clusterSilhouette]] anyway. Returns
    * 1 row (n_clusters, db_index); empty input yields n_clusters = 0
    * with NULL index. */
  def daviesBouldin(emb: DataFrame, labelCol: String = "label",
                    vecCol: String = "embedding"): DataFrame = {
    val e = emb.filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).as("_l"), col(vecCol).as("_v"))
    val cents = broadcast(centroidTable(e, "_l", "_v"))
    val sk = e.join(cents, col("_l") === col("_cl"))
      .select(col("_l"),
        floor(sqrt(qdist12(col("_v"), col("_cent")).cast("double") / 1e12) *
          1e12 + lit(0.5)).cast("long").as("_dq"))
      .groupBy(col("_l"))
      .agg(sum(col("_dq").cast("decimal(38,0)")).as("_sd"),
        count(lit(1)).as("_n"))
      .select(col("_l"),
        (col("_sd").cast("double") / col("_n") / 1e12).as("_S"))
    val j = sk.select(col("_l").as("_j"), col("_S").as("_Sj"))
      .join(cents.select(col("_cl").as("_j2"), col("_cent").as("_cj")),
        col("_j") === col("_j2"))
    val k = sk.select(col("_l").as("_k"), col("_S").as("_Sk"))
      .join(cents.select(col("_cl").as("_k2"), col("_cent").as("_ck")),
        col("_k") === col("_k2"))
    // fold the 64-element centroid distance ONCE per pair — filter
    // and ratio both read the materialized _qm column (two inline
    // copies of the HOF would double the per-pair work and could
    // drift apart under future edits)
    j.join(k, col("_j") =!= col("_k"))
      .withColumn("_qm", qdist12(col("_cj"), col("_ck")))
      .filter(col("_qm") > 0L)
      .select(col("_k"), ((col("_Sj") + col("_Sk")) /
        sqrt(col("_qm").cast("double") / 1e12)).as("_r"))
      .groupBy(col("_k")).agg(max(col("_r")).as("_R"))
      .select(floor(col("_R") * 1e12 + lit(0.5)).cast("long").as("_rq"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("_rq").cast("decimal(38,0)")).as("_sr"))
      .select(col("n_clusters"),
        round(col("_sr").cast("double") / col("n_clusters") / 1e12, 6)
          .as("db_index"))
  }

  /** Two-stage residual quantizer (RQ): stage 1 snaps each unit
    * vector to its nearest of k1 coarse codes; stage 2 quantizes
    * the RESIDUAL against a k2-entry codebook (+ the implicit zero
    * code) — the additive-codebook alternative to [[pqCodebook]]'s
    * subspace split (PQ divides dimensions, RQ divides MAGNITUDE;
    * RQ is what modern vector stores layer as "coarse + refine").
    * Codebooks are md5-chosen corpus vectors (the [[pqFit]] seed
    * rule; stage 2 draws by a salted key so the two books are
    * independent), residuals of the stage-2 seeds forming the
    * stage-2 codes. The zero code guarantees err2 ≤ err1 per vector
    * (spec-pinned) — stage 2 can only refine.
    *
    * Distances fold as exact ×10¹² int64 per-coordinate squares
    * (the [[qdist12]] contract): assignment, tie-breaks, and both
    * reported errors are engine- and partitioning-exact.
    *
    * Returns (id, c1, c2, err1, err2) — err = quantized squared L2
    * before/after the stage-2 subtraction.
    *
    * Scale shape: both codebooks broadcast (k1 + k2 + 1 rows);
    * corpus × codebook scoring is two embarrassingly-parallel map
    * stages + two argmin reductions keyed by id — no shuffle
    * carries a vector except the id-keyed residual join. Codebook
    * sizes are the [[nearDupPairsUnlabeled]] auto-scale candidates
    * at production corpus sizes. */
  def residualQuantize(corpus: DataFrame, k1: Int = 8, k2: Int = 8,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    import graft.functions.HashFunctions.md5Long
    import org.apache.spark.sql.expressions.Window
    require(k1 >= 1 && k2 >= 1)
    val unit = unitVecs(corpus, idCol, vecCol)
      .select(col(idCol).as("_id"), col(vecCol).as("_v"))
    val w1 = Window.orderBy(md5Long(col("_id").cast("string")), col("_id"))
    val cb1 = broadcast(unit
      .orderBy(md5Long(col("_id").cast("string")), col("_id")).limit(k1)
      .withColumn("_c1", (row_number().over(w1) - 1).cast("long"))
      .select(col("_c1"), col("_v").as("_m1")))
    val a1 = unit.crossJoin(cb1)
      .select(col("_id"), col("_c1"),
        qdist12(col("_v"), col("_m1")).as("_qd"))
      .groupBy("_id").agg(min(struct(col("_qd"), col("_c1"))).as("_m"))
      .select(col("_id"), col("_m._c1").as("_c1"), col("_m._qd").as("_e1"))
    val res = unit.join(a1, Seq("_id")).join(cb1, Seq("_c1"))
      .select(col("_id"), col("_c1"), col("_e1"),
        zip_with(col("_v"), col("_m1"), (x, y) => x - y).as("_r"))
    val salt2 = md5Long(concat(col("_id").cast("string"), lit("#rq2")))
    val w2 = Window.orderBy(salt2, col("_id"))
    val cb2 = broadcast(res
      .orderBy(salt2, col("_id")).limit(k2)
      .withColumn("_c2", row_number().over(w2).cast("long"))
      .select(col("_c2"), col("_r").as("_m2"))
      .unionByName(res.orderBy(salt2, col("_id")).limit(1)
        .select(lit(0L).as("_c2"),
          transform(col("_r"), _ => lit(0.0)).as("_m2"))))
    res.crossJoin(cb2)
      .select(col("_id"), col("_c1"), col("_e1"), col("_c2"),
        qdist12(col("_r"), col("_m2")).as("_e2"))
      .groupBy("_id", "_c1", "_e1")
      .agg(min(struct(col("_e2"), col("_c2"))).as("_m"))
      .select(col("_id").as(idCol), col("_c1").as("c1"),
        col("_m._c2").as("c2"),
        round(col("_e1").cast("double") / 1e12, 6).as("err1"),
        round(col("_m._e2").cast("double") / 1e12, 6).as("err2"))
  }
}
