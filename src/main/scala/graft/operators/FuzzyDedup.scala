package graft.operators

import graft.functions.HashFunctions._
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Near-duplicate detection for document corpora (SURVEY.md §2.11;
  * BASELINE.json north-star). Three families:
  *
  *  1. MinHash + LSH banding — the 100 TB path. Cost is
  *     O(rows · shingles) for signatures plus one shuffle on
  *     (band, signature); candidate verification touches only
  *     colliding pairs. No O(n²) stage anywhere.
  *  2. Exact n-gram Jaccard — ground truth, computed by exploded
  *     shingle equi-join (linear in shared-shingle pairs, never a
  *     nested-loop over the corpus).
  *  3. SimHash — a 64-bit per-doc sketch; near-dups differ in few
  *     bits, found by chunk-blocked Hamming grouping.
  *
  * All hashing is md5- or Rabin-Karp-derived
  * ([[graft.functions.HashFunctions]], [[graft.plans.RollingFingerprints]])
  * so every stage is bit-reproducible by the DuckDB oracle: the LSH
  * candidate set itself is deterministic, not just the verified
  * output.
  *
  * Caching contract: NO operator here persists anything. Candidate
  * pairs are generated in-row from grouped buckets (sorted
  * `collect_set` + in-array pair expansion) rather than by
  * self-joining a cached intermediate, so each input is scanned once
  * per consuming aggregation and nothing is left pinned in executor
  * memory after the action completes — at 100 TB the natural
  * materialization boundary is an explicit table write by the caller,
  * not a hidden `persist`.
  *
  * Skew note (scale): a degenerate band signature shared by a huge
  * cluster makes pair expansion quadratic in that bucket. Callers
  * deduplicating adversarial corpora should cap bucket size
  * (`maxBucket`); capped buckets degrade to star pairs against the
  * bucket's minimum id (LSH bands, simhash chunks — membership means
  * "duplicate by signature", so connectivity to the representative is
  * what matters) or are dropped whole (winnowing fingerprints — an
  * over-shared key is boilerplate with no signal). [[simhashPairs]]
  * additionally collapses exact-duplicate sketches BEFORE any
  * pairwise stage, so the quadratic term is in distinct sketches per
  * bucket, not docs.
  */
object FuzzyDedup {

  /** (doc_id, sh) with empty-shingle docs removed. The raw (id, text)
    * rows are [[Fanout.widen]]ed BEFORE the shingle projection so the
    * tokenize+n-gram+distinct work — and the per-shingle md5 minhash
    * every consumer stacks on top — spreads across the session's
    * cores even when the corpus scan yields fewer partitions (r14
    * measurement: the single-task shingle+minhash stage was the top
    * cost of every LSH query at 1.3–1.7 s). Text is shuffled pre-
    * shingle (1× bytes, not the ~3× of the gram arrays); at
    * production scan parallelism widen is the identity. */
  def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Fanout.widen(docs.select(col(idCol).as("doc_id"), col(textCol).as("_t")),
        col("doc_id"))
      // spark_partition_id() is a PUSHDOWN BARRIER, then dropped: a
      // project containing a non-deterministic expression blocks
      // predicate pushdown, so the size(sh)>0 filter below evaluates
      // the PROJECTED sh attribute post-exchange instead of being
      // pushed to the scan side, where it would re-derive the whole
      // tokenize+n-gram chain TWICE per row on the narrow pre-widen
      // partitions (measured r14: 520 ms single-task map stages, the
      // filter recompute was the entire cost)
      .select(col("doc_id"), shingles(col("_t"), n).as("sh"),
        spark_partition_id().as("_pushdown_barrier"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))

  /** Exact Jaccard over distinct shingle sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b)))
  }

  /** All unordered id pairs (a < b) within each bucket, emitted
    * in-row: groupBy(keys) → sorted distinct ids → in-array pair
    * expansion. One scan + one shuffle — replaces the classic cached
    * self-join on the bucket key, which scans the (expensive-to-
    * compute) bucket table twice or forces a persist. Returns a
    * single struct column `p` with fields (a, b), a < b by the sort.
    *
    * Buckets above `maxBucket` skip quadratic expansion; two
    * policies govern what happens to them:
    *  - `starOnOverflow = true`: emit star pairs (min-id, other) —
    *    O(bucket) rows keeping every member connected to the bucket's
    *    representative. Right when bucket membership itself signals
    *    "duplicate by signature" (LSH band buckets, simhash chunk
    *    buckets): cluster connectivity survives the cap while pair
    *    expansion stays linear in the bucket.
    *  - `starOnOverflow = false`: drop the bucket whole — the
    *    winnowing/MOSS boilerplate rule, where a key shared by a huge
    *    fraction of the corpus carries no near-dup signal at all. */
  private[operators] def bucketPairs(rows: DataFrame, keys: Seq[String], id: Column,
                                     maxBucket: Option[Int],
                                     starOnOverflow: Boolean = false): DataFrame = {
    val grouped = rows.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_set(id)).as("ids"))
      .filter(size(col("ids")) > 1)
    def allPairs(g: DataFrame): DataFrame =
      g.select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
    maxBucket match {
      case None => allPairs(grouped)
      case Some(cap) =>
        val small = allPairs(grouped.filter(size(col("ids")) <= cap))
        if (!starOnOverflow) small
        else small.unionByName(
          grouped.filter(size(col("ids")) > cap)
            .select(explode(transform(
              slice(col("ids"), lit(2), size(col("ids"))),
              y => struct(element_at(col("ids"), 1).as("a"), y.as("b")))).as("p")))
    }
  }

  /** MinHash signatures by explode + groupBy-min rather than the
    * per-row higher-order `transform`/`array_min` chain: HOFs are
    * interpreted per element, while the exploded projection (one md5
    * + k affine permutations) and the min-aggregate are whole-stage-
    * codegen'd with map-side partial aggregation — same values, an
    * order of magnitude faster, one shuffle keyed on doc_id. */
  def minhashSignatures(sh: DataFrame, k: Int): DataFrame =
    sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("h", baseHash30(col("s")))
      .select(col("doc_id") +: (0 until k).map(i => affine(col("h"), i).as(s"mh$i")): _*)
      .groupBy("doc_id")
      .agg(min(col("mh0")).as("mh0"),
        (1 until k).map(i => min(col(s"mh$i")).as(s"mh$i")): _*)

  /** MinHash-LSH candidate pairs: docs sharing at least one of
    * `bands` band signatures (r = k/bands minhashes concatenated).
    * Deterministic: same (k, bands, data) ⇒ same candidates.
    * Buckets over `maxBucket` emit star candidates to the bucket's
    * min doc — a band-signature match is already a near-certain
    * duplicate, so the representative edges keep the cluster
    * connected through downstream Jaccard verification without the
    * quadratic expansion. */
  def lshCandidates(sh: DataFrame, k: Int = 12, bands: Int = 4,
                    maxBucket: Option[Int] = None): DataFrame =
    bucketPairs(bandRowsOf(minhashSignatures(sh, k), k, bands),
        Seq("band", "sig"), col("doc_id"), maxBucket,
        starOnOverflow = true)
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()

  private def bandRowsOf(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    require(bands * r == k, s"bands=$bands must divide k=$k")
    sig.select(col("doc_id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("|", (0 until r).map(i => col(s"mh${b * r + i}").cast("string")): _*).as("sig"))
      }: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Banded-signature INDEX of a corpus — the durable product of an
    * incremental near-dup ingest pipeline: one (doc_id, band, sig)
    * row per band, bucket-written by (band, sig) at scale so an
    * arriving batch's probe is a co-located equi-join. Exactly the
    * band rows [[lshCandidates]] buckets internally, exposed as a
    * table. */
  def bandIndex(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", n: Int = 3, k: Int = 12,
                bands: Int = 4): DataFrame =
    bandRowsOf(minhashSignatures(shingled(docs, idCol, textCol, n), k),
      k, bands)

  /** [[bandIndex]]'s EXACT rows computed per ROW — the k minhashes
    * fold over the shingle array with HOFs (HashFunctions
    * .minhashSignature) instead of explode+groupBy, so the
    * computation is STATELESS and legal inside a streaming
    * micro-batch (no aggregation before the stream-static probe).
    * Bit-identical to the batch formulation: same base hash, same
    * affine permutations, min over the same distinct shingle set
    * (spec-pinned). Keeps the shingle set alongside for in-row
    * Jaccard verification downstream. */
  def bandRowsLocal(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", n: Int = 3, k: Int = 12,
                    bands: Int = 4): DataFrame = {
    val r = k / bands
    require(bands * r == k, s"bands=$bands must divide k=$k")
    import graft.functions.HashFunctions.minhashSignature
    docs.select(col(idCol).as("doc_id"),
        graft.functions.HashFunctions.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id") +: col("sh") +: minhashSignature(col("sh"), k): _*)
      .select(col("doc_id"), col("sh"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            concat_ws("|", (0 until r).map(i =>
              col(s"mh${b * r + i}").cast("string")): _*).as("sig"))
        }: _*)).as("bs"))
      .select(col("doc_id"), col("sh"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** STREAMING ingest probe — the per-micro-batch half of
    * [[incrementalNearDups]], stateless until the final pair dedup:
    * each arriving doc bands itself in-row ([[bandRowsLocal]]), the
    * band rows stream-static join the STANDING [[bandIndex]], and
    * candidates verify by exact in-row Jaccard against the old side's
    * shingle set — new×old pairs at ≥ `threshold`, continuously.
    * (New×new pairs within/across micro-batches are the batch path's
    * job — a stream-stream self-join would hold the whole corpus in
    * state; the production split is "probe streams, index rebuilds
    * batch-wise", and the oracle holds this operator to exactly the
    * cross-pair subset of the full rebuild.)
    *
    * The one aggregation (a pair surfacing via two bands must emit
    * once) groups on the pair key — with AvailableNow + complete
    * mode its state is bounded by the verified-pair count.
    *
    * Scale shape: the index side is (band, sig) bucket-readable; the
    * old shingle fetch joins only candidate-involved ids. The stream
    * side carries its own shingles — no state, no watermark. */
  def streamingIngestProbe(stream: DataFrame, index: DataFrame,
                           oldDocs: DataFrame, threshold: Double = 0.8,
                           idCol: String = "doc_id",
                           textCol: String = "text", n: Int = 3,
                           k: Int = 12, bands: Int = 4): DataFrame = {
    val banded = bandRowsLocal(stream, idCol, textCol, n, k, bands)
      .select(col("doc_id").as("_nb"), col("sh").as("_nsh"),
        col("band"), col("sig"))
    val oldSh = shingled(oldDocs, idCol, textCol, n)
      .select(col("doc_id").as("_ob"), col("sh").as("_osh"))
    banded
      .join(index.select(col("doc_id").as("_ob"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("_nb") =!= col("_ob"))
      .join(oldSh, Seq("_ob"))
      .withColumn("jac", jaccard(col("_nsh"), col("_osh")))
      .filter(col("jac") >= threshold)
      .groupBy(least(col("_nb"), col("_ob")).as("doc_a"),
        greatest(col("_nb"), col("_ob")).as("doc_b"))
      .agg(round(max(col("jac")), 6).as("jaccard"))
  }

  /** MinHash-LSH near-dup pairs, verified by exact Jaccard ≥
    * `threshold` on the candidate set. The standard
    * shingle→minhash→band→bucket→verify pipeline.
    *
    * The corpus is shingled exactly TWICE — once for signatures, once
    * for verification (candidate pairs are melted to (pair, doc_id)
    * rows so both sides resolve through ONE join against the shingle
    * table, not one join per side) — a deliberate recompute-over-
    * cache choice: shingling is scan-speed, while materializing the
    * exploded shingle table at 100 TB would dwarf the input.
    *
    * `maxBucket` (default off = the exact-equality contract): a band
    * bucket holding more than `maxBucket` docs is DROPPED from
    * candidate generation — the [[incrementalNearDups]] degenerate-
    * band cap, same drop policy, same SQL-replayable determinism.
    * CLOSED-VOCABULARY CAVEAT (measured, SCALING.md round 9): on a
    * corpus whose shingle vocabulary is small relative to its size, a
    * band whose minimal shingles are COMMON shingles puts a large
    * corpus fraction in one bucket (1,446 docs shared one signature
    * on a 30-word-vocabulary synthetic at k=30; the largest
    * real-corpus bucket was 4), and the verify stage goes quadratic
    * in that bucket. Production LSH systems cap or re-hash such
    * buckets; pass `maxBucket = 64` (the [[bandBucketCensus]]-
    * justified default) when the corpus may be closed-vocabulary. */
  def minhashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", n: Int = 3, k: Int = 12,
                      bands: Int = 4, threshold: Double = 0.8,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)
    val cand =
      if (maxBucket == Int.MaxValue) lshCandidates(sh, k, bands, None)
      else bucketPairs(bandRowsOf(minhashSignatures(sh, k), k, bands),
          Seq("band", "sig"), col("doc_id"), Some(maxBucket),
          starOnOverflow = false)
        .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .distinct()
    verifyJaccard(cand, sh, threshold)
  }

  /** Exact-Jaccard verification of a candidate pair set against a
    * shingle table — the shared tail of the batch and incremental
    * LSH pipelines. Candidates are melted to (pair, doc_id) rows so
    * both sides resolve through ONE join against the shingle table,
    * not one join per side. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame = {
    val melted = cand.select(struct(col("doc_a"), col("doc_b")).as("pair"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    // exactly one of the two conditional arrays is non-null per row;
    // max ignores nulls, so each group reassembles (sh_a, sh_b)
    val pairs = melted.join(sh, "doc_id")
      .groupBy("pair")
      .agg(
        max(when(col("doc_id") === col("pair").getField("doc_a"), col("sh"))).as("sh_a"),
        max(when(col("doc_id") === col("pair").getField("doc_b"), col("sh"))).as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    pairs
      .withColumn("_inter", inter)
      .withColumn("jaccard",
        col("_inter") / (size(col("sh_a")) + size(col("sh_b")) - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("pair").getField("doc_a").as("doc_a"),
        col("pair").getField("doc_b").as("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Cluster-diameter audit over a materialized near-dup cluster
    * table: connected components CHAIN pairwise matches (a~b, b~c ⇒
    * one cluster even when jaccard(a, c) is low), so every dedup
    * pipeline should measure how loose its clusters actually got
    * before keeping one survivor per cluster. Per multi-member
    * cluster (capped at `maxClusterSize` members — beyond the cap a
    * cluster is an exact-dup family by construction and its diameter
    * read adds nothing for quadratic cost): member count, pair
    * count, the MINIMUM pairwise exact jaccard (the diameter — a low
    * min on a kept cluster means the survivor is standing in for a
    * document it doesn't resemble), and the quantized mean.
    *
    * Determinism: jaccard rounds to 6 on identical integer set
    * sizes; the min is over rounded values; the mean sums
    * ×10¹²-quantized terms in decimal(38,0) with the divisions in a
    * fixed order.
    *
    * Scale shape: the pair stage is bounded by cap²/2 per cluster
    * over CLUSTERS (near-dup sparse, ≪ corpus); shingles resolve
    * through the [[minhashNearDups]] melt (one join, member docs
    * only — the corpus-sized table is semi-join-pruned before the
    * shingle explode). */
  def clusterDiameterAudit(docs: DataFrame, clusters: DataFrame,
                           idCol: String = "doc_id",
                           textCol: String = "text", n: Int = 3,
                           maxClusterSize: Int = 64): DataFrame = {
    require(maxClusterSize >= 2)
    val sizes = clusters.groupBy("cluster_rep")
      .agg(count(lit(1)).as("csize"))
      .filter(col("csize") > 1 && col("csize") <= maxClusterSize)
    val mem = clusters.join(sizes, "cluster_rep")
      .select(col("cluster_rep"), col("csize"), col(idCol))
    val pr = mem.select(col("cluster_rep"), col("csize"),
        col(idCol).as("doc_a"))
      .join(mem.select(col("cluster_rep"), col(idCol).as("doc_b")),
        Seq("cluster_rep"))
      .filter(col("doc_a") < col("doc_b"))
    val sh = shingled(
      Fanout.widenUnchecked(
        docs.join(mem.select(col(idCol)).distinct(), Seq(idCol), "left_semi"),
        col(idCol)),
      idCol, textCol, n)
    val melted = pr.select(col("cluster_rep"), col("csize"),
      struct(col("doc_a"), col("doc_b")).as("pair"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    val j = melted.join(sh, "doc_id")
      .groupBy(col("cluster_rep"), col("csize"), col("pair"))
      .agg(
        max(when(col("doc_id") === col("pair").getField("doc_a"),
          col("sh"))).as("sh_a"),
        max(when(col("doc_id") === col("pair").getField("doc_b"),
          col("sh"))).as("sh_b"))
      .select(col("cluster_rep"), col("csize"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("_j"))
    j.groupBy(col("cluster_rep"))
      .agg(max("csize").as("csize"), count(lit(1)).as("n_pairs"),
        min("_j").as("min_jaccard"),
        sum(floor(col("_j") * 1e12 + lit(0.5)).cast("long")
          .cast("decimal(38,0)")).as("_qs"))
      .select(col("cluster_rep"), col("csize"), col("n_pairs"),
        col("min_jaccard"),
        round(col("_qs").cast("double") / col("n_pairs") / 1e12, 6)
          .as("avg_jaccard"))
  }

  /** Incremental near-dup ingest: score an ARRIVING batch against a
    * standing [[bandIndex]] plus itself, without re-running LSH over
    * the indexed corpus — the operator a continuously-ingesting
    * 100 TB pipeline actually runs per batch (the full [[
    * minhashNearDups]] rebuild is the per-snapshot job, this is the
    * per-batch one). Returns exactly the pairs of the full rebuild
    * over old ∪ new that INVOLVE a new document (delta-equivalence,
    * spec-pinned): new×indexed candidates come from the (band, sig)
    * equi-probe of the index, new×new candidates from banding the
    * batch itself; both verify with exact Jaccard.
    *
    * Contract: ids are globally unique across index ∪ batch (an id
    * present in both is the same re-ingested document; its self-pair
    * is skipped, not scored). `oldDocs` supplies text ONLY for
    * verification — it is touched by one candidate-bounded semi-join
    * plus the shingle resolve, never re-banded.
    *
    * Scale shape: the probe is a co-located equi-join when the index
    * is bucket-written by (band, sig); batch band rows are
    * batch-sized; verification shingles only the candidate-involved
    * docs (semi-join pushdown before the explode). */
  def incrementalNearDups(index: DataFrame, oldDocs: DataFrame,
                          newDocs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", n: Int = 3,
                          k: Int = 12, bands: Int = 4,
                          threshold: Double = 0.8,
                          maxBucket: Int = Int.MaxValue,
                          checkpointCandidates: Boolean = true): DataFrame = {
    val newBand0 = bandIndex(newDocs, idCol, textCol, n, k, bands)
    // DEGENERATE-BAND CAP (off by default — the uncapped path is the
    // exact-equality contract): buckets holding more than `maxBucket`
    // corpus rows are dropped from candidate generation entirely.
    // A band whose minimal shingles are COMMON shingles puts a large
    // corpus fraction in ONE bucket (measured: a 30-word-vocabulary
    // corpus put 1446 docs in one bucket at k=30 — SCALING.md round
    // 9); such a bucket's pairs are almost never ≥0.8 true near-dups
    // (they share 3 minhashes, i.e. 3 lucky shingles), but their
    // verify volume is quadratic in the bucket. Every production LSH
    // system caps or re-hashes such buckets; the cap counts the FULL
    // bucket (standing index + arrivals), so it is deterministic and
    // exactly SQL-replayable.
    val (idx, newBand) =
      if (maxBucket == Int.MaxValue) (index, newBand0)
      else {
        val ok = index.select("band", "sig")
          .unionAll(newBand0.select("band", "sig"))
          .groupBy("band", "sig").agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") <= maxBucket).select("band", "sig")
        (index.join(ok, Seq("band", "sig"), "left_semi"),
          newBand0.join(ok, Seq("band", "sig"), "left_semi"))
      }
    val crossCand = newBand
      .select(col("doc_id").as("_nb"), col("band"), col("sig"))
      .join(idx.select(col("doc_id").as("_ob"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("_nb") =!= col("_ob"))
      .select(least(col("_nb"), col("_ob")).as("doc_a"),
        greatest(col("_nb"), col("_ob")).as("doc_b"))
    val newCand = bucketPairs(newBand, Seq("band", "sig"), col("doc_id"),
        None)
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    // eager checkpoint of the candidate set (the connectedComponents
    // precedent, and the ONE deliberate exception to this file's
    // no-persist contract): `cand` is referenced four times below
    // (melted ×1, involved ×2, verify tail), so the lazy plan carried
    // four copies of the whole band-probe pipeline — Catalyst planned
    // them all and every task closure shipped them (r14: the plan-
    // duplication half of q453's cost; runtime exchange reuse hid the
    // execution but not planning/serialization). The checkpointed
    // relation is near-dup-candidate-sized at any corpus scale —
    // exactly the bounded materialization boundary the file's
    // scaladoc assigns to callers, taken here because the operator
    // itself is the caller of its verify tail.
    // checkpointCandidates = false exists for the plan specs only:
    // the checkpoint executes the probe join eagerly, so a walker of
    // the FINAL plan sees ExistingRDD where the probe used to be —
    // the specs pin the identical probe construction pre-checkpoint.
    val cand0 = crossCand.unionAll(newCand).distinct()
    val cand =
      if (checkpointCandidates) cand0.localCheckpoint(true) else cand0
    val all = oldDocs.select(col(idCol), col(textCol))
      .unionAll(newDocs.select(col(idCol), col(textCol)))
    val involved = cand.select(col("doc_a").as(idCol))
      .unionAll(cand.select(col("doc_b").as(idCol))).distinct()
    // widenUnchecked: the semi-join preserves the scans' 1–2
    // partitions, so the verify shingle otherwise runs single-task;
    // the involved set is candidates-sized, so the exchange is small
    // at any corpus scale (Fanout scaladoc)
    val sh = shingled(
      Fanout.widenUnchecked(all.join(involved, Seq(idCol), "left_semi"),
        col(idCol)),
      idCol, textCol, n)
    verifyJaccard(cand, sh, threshold)
  }

  /** LSH band-bucket health census — the pre-flight audit a
    * production LSH deployment runs before trusting a corpus to the
    * banded pipeline (and the analysis that diagnosed the round-9
    * hot-band quadratic: one band signature shared by 1,446 docs on a
    * closed-vocabulary synthetic made candidate verification O(n²) in
    * the bucket). Per band of the [[bandIndex]]: bucket count, total
    * rows, MAX bucket size, the exact p99 bucket size (ceil-rank
    * order statistic — deterministic, no interpolation), the corpus
    * fraction held by the largest bucket, and how many buckets exceed
    * `cap`. Read: `n_over_cap > 0` or `top_share` far above 1/n_rows
    * means the corpus needs [[minhashNearDups]]/[[incrementalNearDups]]
    * run with `maxBucket = cap` — the census JUSTIFIES the cap
    * threshold rather than assuming it.
    *
    * Determinism: every output but top_share is an exact integer;
    * top_share is one double division rounded to 6. The p99 rank
    * picks a bucket-size VALUE (ties in size collapse), so the
    * row_number tiebreak on sig never reaches the output.
    *
    * Scale shape: one (band, sig) reduced shuffle with map-side
    * combine builds the bucket-size relation; the window and final
    * agg run per band over BUCKET-cardinality rows (distinct
    * signatures, not docs) — corpus size never appears after the
    * first reduction. */
  def bandBucketCensus(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 3, k: Int = 12,
                       bands: Int = 4, cap: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = bandIndex(docs, idCol, textCol, n, k, bands)
      .groupBy("band", "sig").agg(count(lit(1)).as("_bn"))
    val ranked = sizes
      .withColumn("_rn", row_number().over(
        Window.partitionBy("band").orderBy(col("_bn"), col("sig"))))
      .withColumn("_nb", count(lit(1)).over(Window.partitionBy("band")))
    ranked.groupBy(col("band"))
      .agg(max("_nb").as("n_buckets"), sum("_bn").as("n_rows"),
        max("_bn").as("max_bucket"),
        max(when(col("_rn") === expr("(_nb * 99 + 99) div 100"),
          col("_bn"))).as("p99_bucket"),
        sum(when(col("_bn") > cap, 1L).otherwise(0L)).as("n_over_cap"))
      .select(col("band"), col("n_buckets"), col("n_rows"),
        col("max_bucket"), col("p99_bucket"),
        round(col("max_bucket").cast("double") / col("n_rows"), 6)
          .as("top_share"),
        col("n_over_cap"))
  }

  /** Exact n-gram Jaccard ≥ threshold within an optional blocking
    * predicate — ground truth for [[minhashNearDups]], computed at
    * linear shuffle cost: explode distinct shingles, group docs per
    * shingle, expand co-occurrence pairs in-row, count shared
    * shingles per pair (= |A∩B|), join sizes back for the union term.
    * Only pairs sharing ≥1 shingle are ever materialized — a
    * zero-overlap pair (jaccard exactly 0) is never emitted, even at
    * threshold 0; for every positive threshold the result is
    * identical to the all-pairs definition, without the former
    * nested-loop join carrying full shingle arrays. */
  def exactJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", n: Int = 3,
                        threshold: Double = 0.3,
                        blockFilter: Column = lit(true)): DataFrame = {
    val sh = shingled(docs.filter(blockFilter), idCol, textCol, n)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val inter = bucketPairs(exploded, Seq("s"), col("doc_id"), None)
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).cast("double").as("_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("_sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("_sz_b")), "doc_b")
      .withColumn("jaccard",
        col("_inter") / (col("_sz_a") + col("_sz_b") - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Near-duplicate EXPLANATION: for every flagged pair in a bounded
    * block, the Jaccard score plus the first `topM` shared shingles
    * as a sorted evidence string — the human-reviewable "WHY was this
    * pair flagged" that a bare (a, b, score) row can't answer, and
    * the audit artifact a dedup appeal process needs. Evidence order
    * is the sorted shingle order, so the string is deterministic.
    *
    * Scale shape: same fixed-block contract as [[exactJaccardPairs]]
    * (the explain pass runs on PAIRS ALREADY FLAGGED, a bounded
    * relation by construction); within the block, one shingle
    * array self-join with the intersect computed array-side. */
  def explainPairs(docs: DataFrame, blockFilter: Column,
                   threshold: Double = 0.3, topM: Int = 3,
                   idCol: String = "doc_id",
                   textCol: String = "text", n: Int = 3): DataFrame = {
    require(topM >= 1)
    val sh = shingled(docs.filter(blockFilter), idCol, textCol, n)
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("_sa"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("_sb"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("_shared", array_sort(array_intersect(col("_sa"), col("_sb"))))
      .withColumn("_inter", size(col("_shared")).cast("double"))
      .withColumn("jaccard",
        col("_inter") / (size(col("_sa")) + size(col("_sb")) - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"),
        size(col("_shared")).cast("long").as("n_shared"),
        concat_ws("|", slice(col("_shared"), 1, topM)).as("evidence"))
  }

  /** SCALABLE edit-distance near-dup: verified `levenshtein ≤ maxDist`
    * pairs with candidates from shared content-defined window
    * fingerprints — the scale upgrade of the q45 fixed-block
    * formulation (whose all-pairs join is the documented non-scale
    * path). Three prunes before any O(len²) verify:
    * (1) candidate pairs exist only for docs sharing ≥ `minShared`
    * selected fingerprints (winnowing buckets — no corpus pairwise
    * stage, boilerplate fingerprints capped by `maxDocsPerFp`);
    * (2) the length-difference bound |len(a)−len(b)| ≤ maxDist (a
    * true lower bound on edit distance) drops candidates at
    * integer-compare cost; (3) only survivors pay the codegen'd
    * `levenshtein`. At 100 TB the verify set is near-dup-sized, not
    * corpus²-sized; every stage is an equi-join or filter. */
  def editDistancePairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", maxDist: Int = 80,
                        minShared: Int = 3,
                        maxDocsPerFp: Int = 64): DataFrame = {
    val texts = docs.select(col(idCol).as("doc_id"), col(textCol).as("_txt"),
      length(col(textCol)).as("_len"))
    fingerprintPairs(docs, minShared = minShared,
        maxDocsPerFp = Some(maxDocsPerFp))
      .select(col("doc_a"), col("doc_b"))
      .join(texts.select(col("doc_id").as("doc_a"), col("_txt").as("_ta"),
        col("_len").as("_la")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("_txt").as("_tb"),
        col("_len").as("_lb")), "doc_b")
      .filter(abs(col("_la") - col("_lb")) <= maxDist)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("_ta"), col("_tb")).cast("long").as("lev"))
      .filter(col("lev") <= maxDist)
  }

  /** CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) ≥ threshold —
    * the asymmetric cousin of [[exactJaccardPairs]] that catches
    * "document B = document A + boilerplate": a small doc fully
    * embedded in a big one scores ~1.0 here while its symmetric
    * Jaccard (|A∩B|/|A∪B|) can be arbitrarily small, so union-based
    * dedup never sees it. Standard curation signal for wrapper/
    * template pages.
    *
    * Same fixed-block exact shape as q25 (ground truth / small-slice
    * audit); the corpus-scale path is the LSH candidate pipeline with
    * this verify formula swapped in — candidate generation is
    * identical, only the accept test differs. */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 3,
                       threshold: Double = 0.9,
                       blockFilter: Column = lit(true)): DataFrame = {
    val sh = shingled(docs.filter(blockFilter), idCol, textCol, n)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val inter = bucketPairs(exploded, Seq("s"), col("doc_id"), None)
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).cast("double").as("_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("_sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("_sz_b")), "doc_b")
      .withColumn("containment", col("_inter") / least(col("_sz_a"), col("_sz_b")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Content-defined window fingerprints (winnowing-style, the
    * rolling-hash fingerprint family): Rabin-Karp hash of every
    * `w`-code-point window of the normalized text, keeping the
    * windows whose hash ≡ 0 (mod `keepMod`) — a content-defined
    * ~1/keepMod sample that is position-shift-invariant, so shared
    * runs of text yield shared fingerprints regardless of where they
    * sit in the document.
    *
    * The whole per-document pipeline — normalize, roll, select,
    * dedup — happens inside one codegen'd projection
    * ([[graft.plans.RollingFingerprints]] + `array_distinct`): O(len)
    * integer ops per document, and only the ~1/keepMod selected
    * hashes are ever exploded or shuffled. (The round-1 formulation
    * exploded every window and paid a full md5 per window — one
    * crypto digest per character of corpus; 33% of the bench.)
    *
    * Returns distinct (doc_id, fp) rows — the exploded shape feeds
    * the same grouped candidate generation as LSH banding. */
  def windowFingerprints(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", w: Int = 8,
                         keepMod: Int = 64): DataFrame = {
    val norm = graft.functions.TextFunctions.normalized(col(textCol))
    val fps = GraftColumnBridge.column(graft.plans.RollingFingerprints(
      GraftColumnBridge.expression(norm), w, keepMod))
    docs.select(col(idCol).as("doc_id"), explode(array_distinct(fps)).as("fp"))
  }

  /** Near-dup candidates by shared window fingerprints: pairs of docs
    * sharing ≥ `minShared` selected fingerprints. Same grouped-bucket
    * shape as LSH banding — no pairwise stage over the corpus, only
    * over docs sharing a fingerprint.
    *
    * `maxDocsPerFp` drops fingerprints shared by more than that many
    * documents — the standard winnowing/MOSS treatment of boilerplate:
    * an n-gram present in a large fraction of the corpus (a header, a
    * license line) carries no near-dup signal but contributes
    * O(docs²) candidate pairs. At 100 TB this cap is what keeps the
    * pair stage linear; measured on the synthetic corpus it cuts
    * expanded pairs 200× while leaving true near-dup pairs intact. */
  def fingerprintPairs(docs: DataFrame, minShared: Int = 10,
                       idCol: String = "doc_id", textCol: String = "text",
                       w: Int = 8, keepMod: Int = 64,
                       maxDocsPerFp: Option[Int] = None): DataFrame = {
    val fps = windowFingerprints(docs, idCol, textCol, w, keepMod)
    bucketPairs(fps, Seq("fp"), col("doc_id"), maxDocsPerFp)
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** 60-bit SimHash per document over distinct tokens: bit j is set
    * iff more token-hashes have bit j set than clear. One token-level
    * shuffle carrying 60 conditional-sum aggregate columns — the bit
    * votes are aggregate COLUMNS, not exploded bit-ROWS (the round-1
    * (token × 60) explode amplified the shuffle 60×), and partial
    * aggregation reduces them map-side to one row per (task, doc). */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(graft.functions.TextFunctions.tokens(col(textCol)))).as("t"))
      .withColumn("hv", md5Long(col("t")))
    val votes = (0 until 60).map(j =>
      sum(when(expr(s"shiftright(hv, $j) & 1") === 1, 1).otherwise(-1)).as(s"s$j"))
    tok.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: exact-key grouping on the full sketch,
    * then chunk blocking over DISTINCT sketches only.
    *
    *  1. Docs collapse to distinct-sketch groups (sorted member ids,
    *     rep = min id). Exact duplicates (hamming 0) are emitted by
    *     in-row pair expansion per group — output-sized, no blocking
    *     needed.
    *  2. Distinct sketches are blocked on their 4 × 15-bit chunks
    *     (pigeonhole: any pair within Hamming distance 3 shares ≥1
    *     chunk). Pair expansion is quadratic in DISTINCT SKETCHES per
    *     bucket, not docs — a near-identical cluster of N copies costs
    *     1 sketch here, not N (measured at sf0.1: the hottest bucket
    *     collapses 1582 docs → 573 sketches, 7.6× fewer candidates).
    *  3. Sketch pairs are hamming-filtered BEFORE member expansion,
    *     so only true ≤ maxHamming pairs fan back out to doc pairs.
    *     The fan-out is the true answer's own size — irreducible.
    *
    * `maxBucket` caps step 2's per-bucket sketch count: oversized
    * buckets (a degenerate chunk value) emit star pairs to the
    * bucket's min-rep sketch in O(bucket) instead of expanding
    * quadratically. Under the cap, every member sketch stays
    * connected to the bucket representative (subject to the hamming
    * verify), and hamming-0 pairs are always complete via step 1;
    * pairs of non-representative sketches sharing ONLY a capped
    * bucket are traded away — the standard skew governor for
    * adversarial corpora. Uncapped, the result is exactly the
    * all-pairs ≤ maxHamming definition (spec-pinned). */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", maxHamming: Int = 3,
                   maxBucket: Option[Int] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 15,
      "pigeonhole blocking over 4 chunks covers hamming <= 3; " +
        "values above 3 may miss pairs, above 14 lose the guarantee entirely")
    val shh = simhash(docs, idCol, textCol)
    // exact-key groups: (sketch, sorted member ids); rep = min member.
    // Struct order (rep, simhash, ids) makes bucket sort + star
    // fallback mirror the oracle's `a.rep < b.rep` (reps are unique —
    // sketch groups partition the doc ids)
    val grp = shh.groupBy("simhash")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
    val chunked = grp.select(
      struct(element_at(col("ids"), 1).as("rep"), col("simhash"), col("ids")).as("g"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          expr(s"shiftright(simhash, ${c * 15}) & 32767").as("ck"))): _*)).as("cc"))
      .select(col("g"), col("cc.chunk").as("chunk"), col("cc.ck").as("ck"))
    val grouped = chunked.groupBy("chunk", "ck")
      .agg(sort_array(collect_list(col("g"))).as("gs"))
    // ALL candidate generation happens in-row from here — the sketch
    // pipeline has exactly ONE consumer chain, so it executes once
    // (forked DataFrames would re-run the whole upstream per branch)
    // candidate pairs as INDEX pairs first (int-only arrays), hamming-
    // verified by indexed sketch lookup, and only the few survivors
    // materialized as struct pairs — expanding struct pairs directly
    // would copy both member structs (ids arrays included) per
    // candidate, the dominant cost of the quadratic stage
    val gs = col("gs")
    val n = size(gs)
    val emptyIdx = array().cast("array<struct<i:int,j:int>>")
    val interIdx = flatten(transform(sequence(lit(1), n), i =>
      when(i < n, transform(sequence(i + 1, n), j => struct(i.as("i"), j.as("j"))))
        .otherwise(emptyIdx)))
    val starIdx = transform(sequence(lit(2), n), j => struct(lit(1).as("i"), j.as("j")))
    val cappedIdx = maxBucket
      .map(cap => when(n <= cap, interIdx).otherwise(starIdx))
      .getOrElse(interIdx)
    // exact-duplicate groups emit a SELF pair (i, i) from their
    // chunk-0 bucket (each sketch sits in exactly one) — hamming 0,
    // immune to the cap, expanded to member pairs below
    val selfIdx = transform(
      filter(sequence(lit(1), n),
        i => size(element_at(gs, i).getField("ids")) > 1 && col("chunk") === 0),
      i => struct(i.as("i"), i.as("j")))
    def sk(i: Column): Column = element_at(gs, i).getField("simhash")
    // hamming-verify BEFORE materializing: only true pairs become rows
    val keptIdx = filter(concat(cappedIdx, selfIdx), p =>
      bit_count(sk(p.getField("i")).bitwiseXOR(sk(p.getField("j")))) <= maxHamming)
    val kept = transform(keptIdx, p =>
      struct(element_at(gs, p.getField("i")).as("a"),
        element_at(gs, p.getField("j")).as("b")))
    def ham(p: Column): Column = bit_count(p.getField("a").getField("simhash")
      .bitwiseXOR(p.getField("b").getField("simhash")))
    val sp = grouped.select(explode(kept).as("p"))
      .select(col("p.a.simhash").as("sa"), col("p.b.simhash").as("sb"),
        ham(col("p")).cast("long").as("hamming"),
        col("p.a.ids").as("ids_a"), col("p.b.ids").as("ids_b"))
      // a sketch pair can collide in up to 4 chunks; ids are a pure
      // function of the sketch, so distinct dedups at pair level
      .distinct()
    // fan out to member doc pairs in-row: self pairs expand i<j within
    // the group, cross pairs expand the member cross-product (the true
    // answer's own size — irreducible)
    val docPairs = when(col("sa") === col("sb"),
      flatten(transform(col("ids_a"), (x, i) =>
        transform(slice(col("ids_a"), i + lit(2), size(col("ids_a"))),
          y => struct(x.as("da"), y.as("db"))))))
      .otherwise(flatten(transform(col("ids_a"), x =>
        transform(col("ids_b"), y =>
          struct(least(x, y).as("da"), greatest(x, y).as("db"))))))
    sp.select(col("hamming"), explode(docPairs).as("dp"))
      .select(col("dp.da").as("doc_a"), col("dp.db").as("doc_b"), col("hamming"))
  }

  /** EXACT set-similarity join with prefix filtering (the PPJoin
    * family): all unordered doc pairs whose word-token-set Jaccard
    * ≥ `threshold` — no false negatives, unlike the MinHash/SimHash
    * sketch paths ([[lshCandidates]], [[simhashPairs]]) this
    * complements.
    *
    * Prefix-filter lemma: order every token by one GLOBAL total order
    * (rare-first: ascending document frequency, token text as
    * tiebreak). If J(a,b) ≥ τ then |a∩b| ≥ ⌈τ·max(|a|,|b|)⌉, so two
    * qualifying sets MUST share a token among each one's first
    * |s| − ⌈τ|s|⌉ + 1 rarest tokens. Candidates therefore come from
    * an equi-join on PREFIX tokens only — the frequent tokens that
    * make the naive shared-token self-join quadratic never generate
    * candidates. One extra prefix slot (+2 not +1) absorbs any FP
    * ceil() overshoot of the exact ⌈τ|s|⌉ — a longer prefix only ever
    * ADDS candidates, so pruning stays lossless.
    *
    * Scale shape: token df is one map-side-combinable agg; the
    * per-doc rare-first rank is a doc-partitioned window (docs'
    * token lists are row-bounded); candidates come from
    * [[bucketPairs]] in-row expansion on prefix tokens; verification
    * joins only CANDIDATE pairs back to full token sets (two
    * key-equi joins, work ∝ candidates·set size, not docs²). */
  def prefixJaccardJoin(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(expr(
          s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")).as("tk"))
      .distinct()
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val dfreq = tok.groupBy("tk").agg(count(lit(1)).as("_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("_df").asc, col("tk").asc)
    val prefix = tok.join(dfreq, "tk")
      .withColumn("_pos", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("_pos") <=
        col("sz") - ceil(lit(threshold) * col("sz")) + 2)
    val cand = bucketPairs(prefix.select(col("tk"), col("doc_id")),
        Seq("tk"), col("doc_id"), None)
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b")).distinct()
    val inter = cand
      .join(tok.select(col("doc_id").as("doc_a"), col("tk")), "doc_a")
      .join(tok.select(col("doc_id").as("doc_b"), col("tk")),
        Seq("doc_b", "tk"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).cast("double").as("_i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("_sa")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("_sb")),
        "doc_b")
      .withColumn("jaccard", col("_i") / (col("_sa") + col("_sb") - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** LSH recall audit: on a bounded block, compare
    * [[minhashNearDups]]' verified output against
    * [[exactJaccardPairs]]' ground truth at the same threshold —
    * the measured answer to "how many true near-dup pairs do the
    * bands miss". Verification makes the LSH output a SUBSET of
    * truth, so precision is 1 by construction and RECALL is the
    * number that prices the (k, bands) choice; pair it with the
    * sweep ([[thresholdSweep]]) when tuning. One verdict row:
    * (n_truth, n_found, n_matched, recall — NULL when the block has
    * no true pairs).
    *
    * Scale shape: the exact side is O(block²) — which is WHY it
    * runs on a fixed-size audit block (the q25 contract), never the
    * corpus; the LSH side is the production pipeline on the same
    * block. Run per release to catch silent recall regressions when
    * shingle/hash parameters change. */
  def lshRecallAudit(docs: DataFrame, blockFilter: Column,
                     threshold: Double = 0.8): DataFrame = {
    val truth = exactJaccardPairs(docs, threshold = threshold,
      blockFilter = blockFilter)
    val found = minhashNearDups(docs.filter(blockFilter),
      threshold = threshold)
    val matched = truth.select("doc_a", "doc_b")
      .join(found.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"),
        "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .crossJoin(matched.agg(count(lit(1)).as("n_matched")))
      .select(col("n_truth"), col("n_found"), col("n_matched"),
        round(when(col("n_truth") > 0,
          col("n_matched").cast("double") / col("n_truth")), 6)
          .as("recall"))
  }

  /** Dedup threshold sweep: given a scored pair table (from
    * [[minhashNearDups]] run at a LOW threshold), how many pairs and
    * how many distinct documents each candidate threshold would
    * touch — the sensitivity curve that turns "we dedup at 0.8"
    * from folklore into a picked point (a cliff between 0.6 and 0.7
    * means the corpus has a template family right there). One row
    * per threshold: (threshold, n_pairs, n_docs_affected); empty
    * thresholds report zeros, not missing rows.
    *
    * Scale shape: `pairs` is usually a LAZY plan over the expensive
    * LSH build, so the sweep evaluates it exactly TWICE — once for
    * the pair-level conditional counts (all thresholds in one
    * map-side agg) and once reduced to per-doc max similarity
    * (n_docs_affected at t ≡ docs whose best pair reaches t). The
    * per-threshold-filter formulation re-executed the pair build
    * 2·|thresholds| times — measured 149 s → 11 s at a 10× corpus
    * for the τ=0.3 build (round-8 SCALING.md). */
  def thresholdSweep(pairs: DataFrame, simCol: String, aCol: String,
                     bCol: String, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty)
    val pcols = thresholds.zipWithIndex.map { case (t, i) =>
      sum(when(col(simCol) >= t, 1L).otherwise(0L)).as(s"_p$i") }
    val pa = pairs.agg(pcols.head, pcols.tail: _*)
    val perDoc = pairs.select(col(aCol).as("_d"), col(simCol).as("_s"))
      .unionAll(pairs.select(col(bCol).as("_d"), col(simCol).as("_s")))
      .groupBy("_d").agg(max("_s").as("_ms"))
    val dcols = thresholds.zipWithIndex.map { case (t, i) =>
      sum(when(col("_ms") >= t, 1L).otherwise(0L)).as(s"_d$i") }
    val onerow = pa.crossJoin(perDoc.agg(dcols.head, dcols.tail: _*))
    // ONE row exploded to |thresholds| rows, NOT a unionAll of
    // |thresholds| copies of `onerow`: each unionAll branch carried
    // the FULL lazy pair-build subtree, so Catalyst optimized the LSH
    // pipeline 2·|thresholds| times per pass — runtime shuffle reuse
    // hid the execution cost but not the 1–2 s of planning (the q314
    // driver gap, r14 measurement; optimization guide §3.3 "very wide
    // unions produce enormous plans"). Same rows in the same order.
    onerow.select(explode(array(thresholds.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"),
          coalesce(col(s"_p$i"), lit(0L)).as("n_pairs"),
          coalesce(col(s"_d$i"), lit(0L)).as("n_docs_affected"))
      }: _*)).as("_r"))
      .select(col("_r.threshold").as("threshold"),
        col("_r.n_pairs").as("n_pairs"),
        col("_r.n_docs_affected").as("n_docs_affected"))
  }
}
