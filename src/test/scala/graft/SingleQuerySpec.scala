package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.functions.FilterDsl
import graft.operators.{IvfIndex, Knn, VectorOps}
import graft.types.Metric
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The single-vector query paths resolve the query row and the probe list
  * on the driver: a warm query plans as one scan job, a zero-row query
  * frame answers empty, a multi-row one fails, a computed query frame
  * answers like a local one, and a warm IVF query compiles no code. */
class SingleQuerySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16

  private lazy val records = {
    val rnd = new scala.util.Random(7)
    (0 until 600).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat), Map("label" -> (i % 3).toString))
    }.toDF("id", "embedding", "metadata").cache()
  }

  private lazy val centroids = records.where(col("id") < 12)
    .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))

  private lazy val model = {
    val assigned = Caching.ensureCached(IvfIndex.assign(records, centroids, Metric.Euclidean))
    assigned.count()
    IvfIndex.Model(centroids, assigned)
  }

  /** The norm-augmented MIPS index over the same records. */
  private lazy val mips = {
    val m = ProbeReference.mipsIndex(records, nCentroids = 12)
    val assigned = Caching.ensureCached(m.assigned)
    assigned.count()
    IvfIndex.Model(m.centroids, assigned)
  }

  /** The `qvec0` shape of the catalog: the query vector read from the store. */
  private def computedQuery(id: Long): DataFrame =
    records.where(col("id") === id).select(col("embedding").as("qvec"))

  private def localQuery(id: Long): DataFrame =
    Seq(Tuple1(records.where(col("id") === id).select("embedding").as[Seq[Float]].head()))
      .toDF("qvec")

  /** Jobs started while building `df` and collecting it. */
  private def jobsToRun(df: => DataFrame): (Int, DataFrame) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val built = df
      built.collect()
      ListenerDrain(spark.sparkContext)
      (jobs.get(), built)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def assertNoBroadcast(df: DataFrame): Unit = {
    val ops = ProbeReference.operatorNames(df)
    assert(!ops.exists(o => o.contains("BroadcastExchange") || o.contains("BroadcastNestedLoopJoin")),
      df.queryExecution.executedPlan.toString)
  }

  test("a warm IVF query and an exact search each run exactly one job, with no broadcast") {
    val q = localQuery(5)
    IvfIndex.query(model, localQuery(3), 10, probes = 4).collect() // warms the centroid memo
    val (ivfJobs, ivf) = jobsToRun(IvfIndex.query(model, q, 10, probes = 4))
    assert(ivfJobs === 1)
    assertNoBroadcast(ivf)
    val (filteredJobs, filtered) = jobsToRun(IvfIndex.query(model, q, 10,
      probes = 4, filter = col("metadata")("label") === "1"))
    assert(filteredJobs === 1)
    assertNoBroadcast(filtered)
    val (exactJobs, exact) = jobsToRun(Knn.search(model.assigned, q, 10))
    assert(exactJobs === 1)
    assertNoBroadcast(exact)
    // the MIPS twin of the IVF query, over the augmented index
    IvfIndex.queryMips(mips, localQuery(3), 10, probes = 4).collect()
    val (mipsJobs, mipsQuery) = jobsToRun(IvfIndex.queryMips(mips, q, 10, probes = 4))
    assert(mipsJobs === 1)
    assertNoBroadcast(mipsQuery)
  }

  private val paths: Seq[(String, DataFrame => DataFrame)] = Seq(
    "IvfIndex.query" -> (q => IvfIndex.query(model, q, 10, probes = 4)),
    "Knn.search" -> (q => Knn.search(records, q, 10)),
    "IvfIndex.queryPrefixRerank" -> (q => IvfIndex.queryPrefixRerank(model, q, 10,
      probes = 4, prefixDim = 8, shortlist = 40)),
    "Knn.searchPrefixRerank" -> (q => Knn.searchPrefixRerank(records, q, 10,
      prefixDim = 8, shortlist = 40)),
    "IvfIndex.queryHammingRerank" -> (q => IvfIndex.queryHammingRerank(model, q, 10,
      probes = 4, shortlist = 40)))

  test("a zero-row query frame answers empty with the unchanged schema") {
    paths.foreach { case (name, run) =>
      val one = run(localQuery(5))
      val none = run(localQuery(5).limit(0))
      assert(none.collect().isEmpty, name)
      assert(none.schema === one.schema, name)
      val noneComputed = run(computedQuery(-1L))
      assert(noneComputed.collect().isEmpty, name)
      assert(noneComputed.schema === one.schema, name)
    }
  }

  test("a two-row query frame fails with a clear message") {
    val two = records.where(col("id") < 2).select(col("embedding").as("qvec"))
    paths.foreach { case (name, run) =>
      val e = intercept[IllegalArgumentException](run(two).collect())
      assert(e.getMessage.contains("one-row query frame, got 2 rows"), s"$name: ${e.getMessage}")
    }
  }

  test("a computed query frame answers exactly like a local one") {
    Seq(0L, 5L, 17L).foreach { id =>
      paths.foreach { case (name, run) =>
        def answer(q: DataFrame) =
          run(q).select("id", "distance").as[(Long, Double)].collect().toSeq
        val local = answer(localQuery(id))
        assert(local.nonEmpty, name)
        assert(answer(computedQuery(id)) === local, s"$name, query $id")
      }
    }
  }

  /** Code classes compiled so far in this JVM (cache misses of Spark's
    * codegen cache). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm single-vector IVF query compiles no code, whatever clusters it probes") {
    val probes = 3
    // local query frames whose probe lists are pairwise distinct
    val queries = records.where(col("id") >= 100).orderBy("id")
      .select("embedding").as[Seq[Float]].collect().iterator
      .map { v =>
        val q = Seq(Tuple1(v)).toDF("qvec")
        (q, ProbeReference.probedIds(centroids, q, probes, Metric.Euclidean))
      }
      .distinctBy(_._2.toSet).take(8).toSeq
    assert(queries.size === 8)
    val books = VectorOps.pqPack(VectorOps.pqTrain(records, m = 4, dsub = 4, k = 8))
    val codes = Caching.ensureCached(model.assigned.crossJoin(broadcast(books))
      .select(col("id"), col("cluster_id"),
        VectorOps.pqCodes(col("embedding"), col("books")).as("codes")))
    val residualCodes = Caching.ensureCached(
      IvfIndex.encodeResidual(model.assigned, centroids, books))
    val label = FilterDsl.predicate(col("metadata"), "label = 1")
    // each path over an index whose store (records or codes) is `assigned`;
    // MIPS reports its dot score as the distance column
    type Path = (IvfIndex.Model, Int, DataFrame) => DataFrame
    val paths: Seq[(String, IvfIndex.Model, Path)] = Seq(
      ("query", model, (m, p, q) => IvfIndex.query(m, q, 10, p)),
      ("queryMips", mips,
        (m, p, q) => IvfIndex.queryMips(m, q, 10, p).withColumnRenamed("score", "distance")),
      ("query with a FilterDsl filter", model,
        (m, p, q) => IvfIndex.query(m, q, 10, p, filter = label)),
      ("queryPrefixRerank", model,
        (m, p, q) => IvfIndex.queryPrefixRerank(m, q, 10, p, prefixDim = 8, shortlist = 40)),
      ("queryHammingRerank", model,
        (m, p, q) => IvfIndex.queryHammingRerank(m, q, 10, p, shortlist = 40)),
      ("queryAdc", IvfIndex.Model(centroids, codes),
        (m, p, q) => IvfIndex.queryAdc(m.centroids, m.assigned, books, q, 10, p)),
      ("queryAdcResidual", IvfIndex.Model(centroids, residualCodes),
        (m, p, q) => IvfIndex.queryAdcResidual(m.centroids, m.assigned, books, q, 10, p)))
    def answer(df: DataFrame): Seq[(Long, Double)] =
      df.select("id", "distance").as[(Long, Double)].collect().toSeq
    paths.foreach { case (name, index, run) =>
      val (compiled, answers) = queries.map { case (q, _) =>
        val before = compiles
        val got = answer(run(index, probes, q))
        (compiles - before, got)
      }.unzip
      assert(compiled.tail.forall(_ == 0), s"$name: classes compiled per query $compiled")
      queries.zip(answers).foreach { case ((q, l2Probed), got) =>
        assert(got.nonEmpty, name)
        // MIPS probes the augmented centroids with the zero-padded query
        val probed = if (index eq mips)
          ProbeReference.probedIds(mips.centroids, ProbeReference.padded(q), probes, Metric.Euclidean)
        else l2Probed
        // the same search over the store filtered with an IN-list
        val pruned = IvfIndex.Model(index.centroids,
          index.assigned.where(col("cluster_id").isin(probed: _*)))
        assert(got === answer(run(pruned, Int.MaxValue, q)), s"$name, probes $probed")
      }
      val q = queries.head._1
      val none = run(index, 0, q)
      assert(none.collect().isEmpty, name)
      assert(none.schema === run(index, probes, q).schema, name)
    }
  }
}
