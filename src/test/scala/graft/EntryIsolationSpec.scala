package graft

/** Bench isolation law: with EXACTLY the inter-query cleanup Bench
  * runs (catalog.clearCache + unpersist of raw persisted RDDs), no
  * query's leftovers survive into the next timed window — a cached
  * plan or checkpoint block riding across queries would quietly
  * corrupt per-query attribution (the round-3 q52 "regression" was
  * q47's checkpoint blocks squeezing everything benched after it).
  * Running the full registry here also smoke-tests that every query
  * executes end-to-end at sf0.001 under the spec session (the sf0.01
  * driver gate checks values; this checks the execution path cheaply
  * on every build). */
class EntryIsolationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every registered query runs; Bench's cleanup leaves no cache residue") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n >= 0, s"$name failed to execute")
      // exactly Bench.scala's inter-query cleanup
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left SQL-cached plans that clearCache could not fully drop")
      assert(sc.getPersistentRDDs.isEmpty,
        s"$name left persisted RDDs that survived an unpersist sweep")
    }
  }

  // Verify ships oracleSql's keys to the DuckDB compare, which loops
  // over duals only: a query without one would never be compared.
  test("every registered query has exactly one DuckDB dual") {
    val queries = SparkEntry.queries.keySet
    val duals = SparkEntry.oracleSql.keySet
    assert((queries -- duals).isEmpty, "queries without a dual")
    assert((duals -- queries).isEmpty, "duals without a query")
    assert(queries.size == 481)
  }

  // Bench, Verify (SPARK_GRAFT_ONLY) and Prof (its query argument)
  // all pick queries with SparkEntry.selects; a one-query run must
  // actually be one query
  test("a qNN id selects exactly that query, never q470-q479; a full name selects itself") {
    val names = SparkEntry.queries.keys.toSeq
    def chosen(picks: String*) = names.filter(SparkEntry.selects(picks.mkString(","), _)).sorted
    assert(names.count(_.startsWith("q47")) > 1)
    assert(chosen("q47") == Seq("q47_dedup_clusters"))
    assert(chosen("q470_tpch_q2") == Seq("q470_tpch_q2"))
    assert(chosen("q47", "q476") == Seq("q476_ivfpq_serve_bucketed", "q47_dedup_clusters"))
    assert(chosen("q47_dedup") == Nil, "a name prefix is neither an id nor a name")
    assert(names.forall(n => chosen(n) == Seq(n)))
  }
}
