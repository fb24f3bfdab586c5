package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What a session fixture does when its blocks are lost mid-session: a
  * checkpoint fixture ([[Caching.truncate]]) fails its consumer loudly,
  * never with wrong rows; a cached fixture ([[Caching.ensureCached]])
  * recomputes from its lineage. Fresh frames and memos, so the result
  * does not depend on which suites ran before in the same JVM. */
class FixtureLossSpec extends SparkSpec {

  private def source(tag: Long): DataFrame =
    spark.range(0, 200, 1, 4).select(col("id"), (col("id") * 3 + lit(tag)).as("v"))

  private def expected(tag: Long): Seq[(Long, Long)] =
    (0L until 200L).map(i => (i, i * 3 + tag))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** Unpersist every RDD that `build` newly registered as persistent — the
    * fixture's blocks — and return how many there were. */
  private def dropNewBlocks[A](build: => A): (A, Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val value = build
    val added = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    added.values.foreach(_.unpersist(blocking = true))
    (value, added.size)
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("a lost checkpoint fixture fails its consumer with the missing block") {
    val memo = new SessionMemo[String, DataFrame]
    var builds = 0
    def fixture() = memo(spark, "ckpt") {
      builds += 1
      Caching.truncate(source(11L), eager = true)
    }
    val (_, dropped) = dropNewBlocks(fixture())
    assert(dropped > 0)
    val e = intercept[SparkException](fixture().collect())
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("Checkpoint block")),
      e.getMessage)
    assert(builds == 1) // nothing rebuilt it
  }

  test("a lost cached fixture is rebuilt transparently from its lineage") {
    val memo = new SessionMemo[String, DataFrame]
    var builds = 0
    def fixture() = Caching.ensureCached(memo(spark, "cached") {
      builds += 1
      source(13L)
    })
    val (_, dropped) = dropNewBlocks(fixture().count())
    assert(dropped > 0)
    try {
      assert(rows(fixture()) == expected(13L))
      assert(builds == 1)
    } finally fixture().unpersist()
  }
}
