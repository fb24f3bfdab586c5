package graft

import java.nio.file.{Files, Path, Paths}

import graft.catalog.{Catalog, Fixture}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The catalog's declared session fixtures and its one runner: fixture names
  * are their own namespace, every fixture builds, no fixture build clears the
  * session cache, and [[Catalog.run]] alone decides cache lifetime (a clear
  * before each family's first query, in name order). */
class CatalogSpec extends SparkSpec {

  /** A copy of sf0.001 under a fresh temp dir: a memo key no other spec uses,
    * so the fixtures below really build instead of returning a memo hit. */
  private def freshCopy(): String = {
    val dir = Files.createTempDirectory("catalog_fixtures")
    val src = Paths.get(sf0001)
    val walk = Files.list(src)
    try walk.forEach((p: Path) => Files.copy(p, dir.resolve(p.getFileName)))
    finally walk.close()
    dir.toString
  }

  private def fixture(name: String): Fixture =
    Catalog.fixtures.find(_.name == name).getOrElse(fail(s"no fixture $name"))

  private val groupMaps = Seq("cappedGroups", "multiGroups", "semanticGroups", "mediaPhashGroups")

  /** A frame cached with [[Caching.ensureCached]] and materialized. */
  private def cachedProbe(tag: Int): DataFrame = {
    val df = Caching.ensureCached(spark.range(0, 64).selectExpr(s"id * $tag AS probe_$tag"))
    df.count()
    assert(df.storageLevel != StorageLevel.NONE)
    df
  }

  test("fixture names are distinct and none is a query name") {
    val names = Catalog.fixtures.map(_.name)
    assert(names.distinct === names)
    assert(names.toSet.intersect(SparkEntry.queries.keySet).isEmpty)
    assert(groupMaps.forall(names.contains))
    val f = Catalog.fixtures.head
    val dup = intercept[IllegalArgumentException](Catalog.requireFixtures(Seq(f, f)))
    assert(dup.getMessage.contains(f.name))
    val clash = intercept[IllegalArgumentException](
      Catalog.requireFixtures(Seq(f.copy(name = "knn_euclidean"))))
    assert(clash.getMessage.contains("knn_euclidean"))
  }

  test("every declared fixture builds on sf0.001") {
    Catalog.fixtures.foreach { f =>
      val df = f.build(spark, sf0001)
      assert(df.columns.nonEmpty, f.name)
      df.write.format("noop").mode("overwrite").save()
    }
  }

  test("a cached frame stays cached while the group-map fixtures build, one after another") {
    val dir = freshCopy()
    val probe = cachedProbe(3)
    groupMaps.foreach(n => fixture(n).build(spark, dir).count())
    assert(probe.storageLevel != StorageLevel.NONE, "a fixture build cleared the session cache")
  }

  test("a cached frame stays cached while the group-map fixtures build on concurrent threads") {
    val dir = freshCopy()
    val probe = cachedProbe(5)
    val error = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = groupMaps.map { n =>
      val t = new Thread(() =>
        try { fixture(n).build(spark, dir).count(); () }
        catch { case e: Throwable => error.compareAndSet(null, e); () })
      t.start(); t
    }
    threads.foreach(_.join())
    if (error.get() != null) throw error.get()
    assert(probe.storageLevel != StorageLevel.NONE, "a fixture build cleared the session cache")
  }

  test("the runner visits queries in name order") {
    assert(Catalog.run(spark, Set.empty)(_.name) === SparkEntry.queries.keySet.toSeq.sorted)
    val some = Set("knn_radius", "corpus_clean", "knn_cosine")
    assert(Catalog.run(spark, some)(_.name) === some.toSeq.sorted)
  }

  test("a frame cached in one family is gone at the next family's first query, " +
    "and still cached at its own family's second query") {
    var probe: DataFrame = null
    val seen = Catalog.run(spark, Set("knn_cosine", "knn_euclidean", "snapshot_roundtrip")) { q =>
      q.name match {
        case "knn_cosine" => probe = cachedProbe(7); "cached"
        case _ => if (probe.storageLevel != StorageLevel.NONE) "cached" else "cleared"
      }
    }
    assert(seen === Seq("cached", "cached", "cleared"))
  }
}
