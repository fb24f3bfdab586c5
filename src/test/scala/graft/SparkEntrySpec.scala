package graft

/** Driver-contract smoke: entry() returns rows; every query key has an
  * implementation; every oracle key points at a real query. */
class SparkEntrySpec extends SparkSpec {

  test("entry (flagship filtered ANN) returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql and queries carry EXACTLY the same keys") {
    // Not just oracles ⊆ queries: a query key without an oracle would
    // silently degrade to the driver's weaker rows-only check, breaking
    // the SURVEY §2 claim that every inventory row is oracle-gated.
    val noQuery = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noQuery.isEmpty, s"oracles without queries: $noQuery")
    assert(noOracle.isEmpty, s"queries without oracles: $noOracle")
  }

  test("the catalog defines each query once, and SparkEntry keeps every definition") {
    val names = catalog.Catalog.all.map(_.name)
    assert(names.distinct.size === names.size,
      s"defined more than once: ${names.diff(names.distinct).distinct.sorted}")
    assert(SparkEntry.queries.size === catalog.Catalog.all.size)
    assert(SparkEntry.oracleSql.size === catalog.Catalog.all.size)
  }

  test("a name defined twice fails the catalog's construction") {
    val a = catalog.Catalog.all.head
    val b = catalog.Catalog.all(1)
    assert(catalog.Catalog.requireDistinct(Seq(a, b)) === Seq(a, b))
    val e = intercept[IllegalArgumentException](
      catalog.Catalog.requireDistinct(Seq(a, b, a.copy(oracleSql = "SELECT 1"))))
    assert(e.getMessage.contains(a.name))
  }

  test("an unknown query name fails the catalog runner and both mains, listing it") {
    val visited = scala.collection.mutable.Buffer.empty[String]
    val e = intercept[IllegalArgumentException](
      catalog.Catalog.run(spark, Set("knn_euclidean", "knn_euclidaen", "no_such_query"))(
        q => visited += q.name))
    assert(e.getMessage.contains("knn_euclidaen, no_such_query"), e.getMessage)
    assert(!e.getMessage.contains("knn_euclidean,"), e.getMessage)
    assert(visited.isEmpty, "the runner ran a query before refusing the names")
    // both mains refuse before they start a session, so the exception ends
    // the JVM with a non-zero status
    val out = java.nio.file.Files.createTempDirectory("verify_unknown").toString
    assert(intercept[IllegalArgumentException](
      Verify.main(Array(sf0001, out, "knn_euclidaen"))).getMessage.contains("knn_euclidaen"))
    assert(intercept[IllegalArgumentException](
      Bench.main(Array("knn_euclidaen"))).getMessage.contains("knn_euclidaen"))
    assert(!spark.sparkContext.isStopped)
  }

  test("every oracle translate() case fold is the canonical alphabet pair") {
    // The ASCII fold appears verbatim in dozens of oracle strings (plain
    // string literals can't interpolate a shared constant); a one-letter
    // typo in any copy would silently skew that oracle's tokenization.
    // This pins every occurrence to the exact canonical spelling.
    val canonical =
      "translate\\((?:trim\\()?[A-Za-z_.]*text\\)?, " +
        "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'\\)"
    val loose = "translate\\([^)]*\\)?, '[A-Z]+', '[a-z]+'\\)".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      loose.findAllIn(sql).foreach { occ =>
        assert(occ.matches(canonical),
          s"$name: non-canonical case fold: $occ")
      }
    }
  }

  test("declared SURVEY §2.3 inventory is fully implemented") {
    val declared = Set(
      "knn_euclidean", "knn_cosine", "knn_radius", "filter_and", "filter_or",
      "filter_contains", "knn_filtered", "get_by_id", "insert_batch",
      "delete_batch", "update_metadata", "count_records", "ivf_assignments",
      "ivf_probe_query")
    val missing = declared -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"unimplemented declared queries: $missing")
  }
}
