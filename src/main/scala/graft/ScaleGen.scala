package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic corpus scaler: writes a `k`×-row snapshot
  * of the testdata tables whose per-replica STRUCTURE matches the
  * source exactly, so measured runtimes at k ∈ {1, 3, 10} yield
  * honest cost slopes for the scale-sensitive operator families
  * (LSH+CC dedup, decontamination tiers, linkage, ANN).
  *
  * The scaling transforms are chosen so each replica reproduces the
  * source workload without creating cross-replica artifacts:
  *  - documents: replica r suffixes every token with `_r` — replica
  *    r of docs (a, b) has EXACTLY the Jaccard/13-gram relations of
  *    (a, b), while cross-replica token sets are disjoint (no fake
  *    mega-clusters). doc_id strides by a multiple of 10 so the
  *    `doc_id % 10` benchmark-slice contract scales with the corpus.
  *  - embeddings: replica r applies an ORTHOGONAL transform (rotate
  *    dims by r, md5-chosen ±1 signs) — within-replica cosines are
  *    preserved exactly; cross-replica pairs decorrelate. Labels
  *    stride by 1000: cluster count scales, cluster sizes don't.
  *  - part: replicas prefix a PER-ROW md5-chosen letter onto p_name
  *    — mirroring TPC-H's own scaling, where names draw from a FIXED
  *    color vocabulary at every SF, so (size, first-char) linkage
  *    blocks grow in SIZE with the corpus. Fixed-cardinality
  *    blocking is inherently quadratic in corpus size; the measured
  *    q188 slope states that honestly (SCALING.md round-8).
  *  - events: ids/users stride; times, types, values unchanged.
  * Everything is md5/arithmetic-deterministic — same output on any
  * engine, partitioning, or rerun (no rand()).
  *
  * Usage: `runMain graft.ScaleGen <srcDir> <outDir> <k>` */
object ScaleGen {

  /** Replica spine 0..k-1 as a `rep` column. */
  private def reps(spark: SparkSession, k: Int): DataFrame =
    spark.range(k).select(col("id").as("rep"))

  /** Replica r suffixes every non-empty token with `_r` (replica 0
    * passes through): within-replica token/Jaccard/13-gram relations
    * equal the source exactly, cross-replica token sets are disjoint
    * (ScaleGenSpec pins both). */
  def scaleDocuments(docs: DataFrame, k: Int, stride: Long): DataFrame =
    docs.crossJoin(reps(docs.sparkSession, k)).select(
      (col("doc_id") + col("rep") * stride).as("doc_id"),
      // empty tokens (consecutive/leading/trailing spaces) pass
      // through unsuffixed: suffixing them would INVENT "_r" tokens
      // the source doc doesn't have and skew the very token/13-gram
      // relations the generator exists to preserve
      when(col("rep") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "), t =>
          when(length(t) === 0, t)
            .otherwise(concat(t, lit("_"), col("rep")))), " ")).as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))

  /** Replica r applies the orthogonal transform (rotate dims by r,
    * md5-chosen ±1 signs): within-replica pairwise cosines and norms
    * are preserved bit-for-bit (ScaleGenSpec pins both). */
  def scaleEmbeddings(emb: DataFrame, k: Int, stride: Long,
                      dim: Int = 64): DataFrame = {
    import graft.functions.HashFunctions.md5Long
    def sign(d: Column): Column =
      when(col("rep") === 0, 1.0).otherwise(
        when(md5Long(concat_ws("_", lit("sg"), col("rep"), d)) % 2 === 0,
          1.0).otherwise(-1.0))
    emb.crossJoin(reps(emb.sparkSession, k)).select(
      (col("vec_id") + col("rep") * stride).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        (element_at(col("embedding"),
          (((d + col("rep")) % dim) + 1).cast("int")) * sign(d))
          .cast("float")).as("embedding"),
      (col("label") + (col("rep") * 1000).cast("int")).as("label"))
  }

  /** Replicas prefix a per-row md5 letter onto p_name (TPC-H's own
    * fixed-vocabulary name scaling); size/brand/type pass through. */
  def scalePart(part: DataFrame, k: Int, stride: Long): DataFrame = {
    import graft.functions.HashFunctions.md5Long
    part.crossJoin(reps(part.sparkSession, k)).select(
      (col("p_partkey") + col("rep") * stride).as("p_partkey"),
      when(col("rep") === 0, col("p_name")).otherwise(
        concat(char(lit(97) + pmod(
          md5Long(concat_ws("_", lit("pn"), col("p_partkey"), col("rep"))),
          lit(26))), col("p_name"))).as("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
  }

  /** TPC-H star replication with CONSISTENT key strides: every join
    * edge (orders→customer, lineitem→{orders, part, supplier}) stays
    * inside its replica, so per-replica join/group structure equals
    * the source exactly while join fan-in, group counts and top-k
    * candidate pools scale with k. Names suffix `_r` for rep > 0 the
    * way TPC-H's own SF scaling grows the name space (group-by-name
    * cardinality must scale with the corpus, not saturate at the
    * source's 100 suppliers); measures (dates, quantities, prices,
    * balances, flags) pass through, so predicate selectivities and
    * per-replica aggregates are bit-identical to the source.
    * nation/region stay fixed — 25/5 at every SF in TPC-H proper. */
  def scaleOrders(o: DataFrame, k: Int, oStride: Long,
                  cStride: Long): DataFrame =
    o.crossJoin(reps(o.sparkSession, k)).select(
      (col("o_orderkey") + col("rep") * oStride).as("o_orderkey"),
      (col("o_custkey") + col("rep") * cStride).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))

  def scaleLineitem(li: DataFrame, k: Int, oStride: Long, pStride: Long,
                    sStride: Long): DataFrame =
    li.crossJoin(reps(li.sparkSession, k)).select(
      (col("l_orderkey") + col("rep") * oStride).as("l_orderkey"),
      (col("l_partkey") + col("rep") * pStride).as("l_partkey"),
      (col("l_suppkey") + col("rep") * sStride).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate"))

  private def repName(c: Column): Column =
    when(col("rep") === 0, c).otherwise(concat(c, lit("_"), col("rep")))

  def scaleCustomer(c: DataFrame, k: Int, cStride: Long): DataFrame =
    c.crossJoin(reps(c.sparkSession, k)).select(
      (col("c_custkey") + col("rep") * cStride).as("c_custkey"),
      repName(col("c_name")).as("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"))

  def scaleSupplier(s: DataFrame, k: Int, sStride: Long): DataFrame =
    s.crossJoin(reps(s.sparkSession, k)).select(
      (col("s_suppkey") + col("rep") * sStride).as("s_suppkey"),
      repName(col("s_name")).as("s_name"), col("s_nationkey"),
      col("s_acctbal"))

  /** Ids/users stride; times, types, values, props pass through. */
  def scaleEvents(ev: DataFrame, k: Int, eStride: Long,
                  uStride: Long): DataFrame =
    ev.crossJoin(reps(ev.sparkSession, k)).select(
      (col("event_id") + col("rep") * eStride).as("event_id"),
      col("ts"),
      (col("user_id") + col("rep") * uStride).as("user_id"),
      col("event_type"), col("value"), col("props"))

  /** Smallest multiple of `mod` above the id column's max, so
    * `id % mod` slice contracts survive the replica remap. */
  def stride(df: DataFrame, idCol: String, mod: Long): Long = {
    val row = df.agg(max(col(idCol))).head // 1-value collect
    require(!row.isNullAt(0),
      s"cannot stride on '$idCol': no non-null values in the source")
    ((row.getLong(0) / mod) + 1) * mod
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println("usage: graft.ScaleGen <srcDir> <outDir> <k>")
      sys.exit(2)
    }
    val Array(srcDir, outDir, kStr) = args
    val k = kStr.toInt
    // 300 is sandbox-disk-bounded, not structural: every stride is
    // computed from the source's own max id (multiples of the slice
    // moduli), the embedding rotation is orthogonal per replica at any
    // k, and label/doc strides never collide. k=300 exists for the
    // q326 serve extrapolation point (SCALING.md round 11).
    require(k >= 1 && k <= 300, s"k=$k out of [1, 300]")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    // single-FILE layout, exactly like the driver testdata: the
    // streaming queries symlink `<table>.parquet` as a file into
    // their source dirs — a directory there makes the file-stream
    // source list nothing and silently stream an EMPTY feed (the
    // round-8 streaming-slope measurement caught this the hard way)
    def write(df: DataFrame, t: String): Unit = {
      import java.nio.file.{Files, Path, Paths, StandardCopyOption}
      import scala.util.Using
      val tmp = s"$outDir/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Using.resource(Files.list(Paths.get(tmp))) { s =>
        s.toArray.map(_.asInstanceOf[Path])
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written for $t"))
      }
      Files.move(part, Paths.get(s"$outDir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      TempDirs.rmTree(Paths.get(tmp))
    }
    val docs = read("documents")
    write(scaleDocuments(docs, k, stride(docs, "doc_id", 10)), "documents")
    val emb = read("embeddings")
    write(scaleEmbeddings(emb, k, stride(emb, "vec_id", 100)), "embeddings")
    val part = read("part")
    // computed BEFORE the scaled part is written: lineitem below must
    // stride l_partkey with the exact value scalePart used
    val pStride = stride(part, "p_partkey", 10)
    write(scalePart(part, k, pStride), "part")
    val ev = read("events")
    write(scaleEvents(ev, k, stride(ev, "event_id", 10),
      stride(ev.filter(col("user_id").isNotNull), "user_id", 100)), "events")

    // TPC-H star: facts and keyed dims replicate with consistent
    // strides (every join edge stays inside its replica); nation and
    // region stay fixed, as in TPC-H proper
    val orders = read("orders"); val customer = read("customer")
    val supplier = read("supplier")
    val oStride = stride(orders, "o_orderkey", 10)
    val cStride = stride(customer, "c_custkey", 10)
    val sStride = stride(supplier, "s_suppkey", 10)
    write(scaleOrders(orders, k, oStride, cStride), "orders")
    write(scaleLineitem(read("lineitem"), k, oStride, pStride, sStride),
      "lineitem")
    write(scaleCustomer(customer, k, cStride), "customer")
    write(scaleSupplier(supplier, k, sStride), "supplier")
    Seq("region", "nation").foreach(t => write(read(t), t))
    spark.stop()
  }
}
