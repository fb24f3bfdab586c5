package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.functions.FilterDsl
import graft.operators.{IvfIndex, Knn, VectorOps}
import graft.types.Metric
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
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

  private def assertNoBroadcast(plan: SparkPlan): Unit = {
    val ops = ProbeReference.operatorNames(plan)
    assert(!ops.exists(o => o.contains("BroadcastExchange") || o.contains("BroadcastNestedLoopJoin")),
      plan.toString)
  }

  /** The prepared plan the last call on `store` ran. */
  private def lastPrepared(store: DataFrame): SparkPlan = {
    val plans = Knn.Prepared.plans(store)
    assert(plans.nonEmpty, "the call was not served from a prepared plan")
    plans.last
  }

  /** A prepared serving plan: one scan of the cached store and a
    * bounded top-k heap, in one stage. */
  private def assertServingShape(plan: SparkPlan, k: Int): Unit = {
    val ops = ProbeReference.operatorNames(plan)
    assert(ops.count(_ == "InMemoryTableScan") === 1, plan.toString)
    val heaps = ProbeReference.collectPlan(plan) { case t: TakeOrderedAndProjectExec => t.limit }
    assert(heaps.nonEmpty && heaps.forall(_ <= k), plan.toString)
    assert(!ops.exists(_.contains("Exchange")), plan.toString)
  }

  test("a warm IVF query and an exact search each run exactly one job, with no broadcast") {
    val q = localQuery(5)
    IvfIndex.query(model, localQuery(3), 10, probes = 4).collect() // warms the centroid memo
    // served from prepared plans: the job runs inside the call, and the
    // returned local frame runs none
    val (ivfJobs, ivf) = jobsToRun(IvfIndex.query(model, q, 10, probes = 4))
    assert(ivfJobs === 1)
    assert(ProbeReference.operatorNames(ivf.queryExecution.executedPlan) === Seq("LocalTableScan"))
    assertNoBroadcast(lastPrepared(model.assigned))
    assertServingShape(lastPrepared(model.assigned), 10)
    val (filteredJobs, _) = jobsToRun(IvfIndex.query(model, q, 10,
      probes = 4, filter = col("metadata")("label") === "1"))
    assert(filteredJobs === 1)
    assertNoBroadcast(lastPrepared(model.assigned))
    assertServingShape(lastPrepared(model.assigned), 10)
    val (exactJobs, _) = jobsToRun(Knn.search(model.assigned, q, 10))
    assert(exactJobs === 1)
    assertNoBroadcast(lastPrepared(model.assigned))
    assertServingShape(lastPrepared(model.assigned), 10)
    // the MIPS twin of the IVF query, over the augmented index, keeps
    // its per-query plan
    IvfIndex.queryMips(mips, localQuery(3), 10, probes = 4).collect()
    val (mipsJobs, mipsQuery) = jobsToRun(IvfIndex.queryMips(mips, q, 10, probes = 4))
    assert(mipsJobs === 1)
    assertNoBroadcast(mipsQuery.queryExecution.executedPlan)
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

  /** A cached index over `records` of its own, so a test can drop and
    * re-register its cache without touching the suite's model. */
  private def ownModel(): IvfIndex.Model = {
    val assigned = IvfIndex.assign(records, centroids, Metric.Euclidean)
      .withColumn("__own", lit(System.nanoTime()))
    Caching.ensureCached(assigned).count()
    IvfIndex.Model(centroids, assigned)
  }

  /** The same store, planned per query: under a filter that keeps every
    * row it is not itself a cached plan (it still reads the cached
    * columns). */
  private def perQuery(m: IvfIndex.Model): IvfIndex.Model =
    IvfIndex.Model(m.centroids, m.assigned.where(col("id") =!= lit(-1L)))

  private def answer(df: DataFrame): Seq[(Long, Double)] =
    df.select("id", "distance").as[(Long, Double)].collect().toSeq

  /** Local query frames over the store's vectors whose IVF probe lists
    * are pairwise distinct. */
  private def distinctProbeQueries(n: Int, probes: Int): Seq[DataFrame] =
    records.where(col("id") >= 200).orderBy("id")
      .select("embedding").as[Seq[Float]].collect().iterator
      .map { v =>
        val q = Seq(Tuple1(v)).toDF("qvec")
        (q, ProbeReference.probedIds(centroids, q, probes, Metric.Euclidean))
      }
      .distinctBy(_._2.toSet).take(n).map(_._1).toSeq

  test("warm queries on a cached store reuse one prepared plan per shape, compile " +
    "nothing after each shape's first call, and answer like the per-query plan") {
    val m = ownModel()
    val reference = perQuery(m)
    val queries = distinctProbeQueries(20, probes = 3)
    assert(queries.size === 20)
    val labels = Seq("label = 1", "label = 2").map(FilterDsl.predicate(col("metadata"), _))
    // four shapes: plain IVF, IVF under each of two filter values, exact
    val shapes: Seq[(String, IvfIndex.Model => DataFrame => DataFrame)] = Seq(
      "ivf" -> (ix => q => IvfIndex.query(ix, q, 10, probes = 3)),
      "ivf label = 1" -> (ix => q => IvfIndex.query(ix, q, 10, probes = 3, filter = labels(0))),
      "exact" -> (ix => q => Knn.search(ix.assigned, q, 7)),
      "ivf label = 2" -> (ix => q => IvfIndex.query(ix, q, 10, probes = 3, filter = labels(1))))
    val firstPlans = scala.collection.mutable.Map.empty[String, SparkPlan]
    val compiled = queries.zipWithIndex.map { case (q, i) =>
      val (name, run) = shapes(i % shapes.size)
      val before = compiles
      val got = answer(run(m)(q))
      val classes = compiles - before
      val plan = lastPrepared(m.assigned)
      assert(firstPlans.getOrElseUpdate(name, plan) eq plan, s"$name re-prepared at query $i")
      assert(got === answer(run(reference)(q)), s"$name, query $i")
      assert(got.nonEmpty, s"$name, query $i")
      (name, classes)
    }
    assert(Knn.Prepared.plans(m.assigned).size === shapes.size)
    assert(Knn.Prepared.plans(reference.assigned).isEmpty)
    compiled.groupBy(_._1).foreach { case (name, perCall) =>
      assert(perCall.tail.forall(_._2 == 0), s"$name: classes compiled per call ${perCall.map(_._2)}")
    }
    m.assigned.unpersist(blocking = true)
  }

  test("concurrent callers of one prepared plan get the sequential answers") {
    val queries = distinctProbeQueries(25, probes = 3)
    def run(q: DataFrame): Seq[(Long, Double)] = answer(IvfIndex.query(model, q, 10, probes = 3))
    val sequential = queries.map(run)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[Seq[(Long, Double)]]] {
          def call(): Seq[Seq[(Long, Double)]] = queries.map(run)
        })
      }
      futures.foreach(f => assert(f.get() === sequential))
    } finally pool.shutdown()
  }

  /** Ids of the RDDs holding cached blocks now. */
  private def storedRdds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0).map(_.id).toSet

  test("a prepared plan follows its cache entry: after unpersist, and after " +
    "clearCache() and caching again, answers stay right and no unregistered cache appears") {
    val m = ownModel()
    val qs = distinctProbeQueries(3, probes = 3)
    def ivf(q: DataFrame) = answer(IvfIndex.query(m, q, 10, probes = 3))
    def exact(q: DataFrame) = answer(Knn.search(m.assigned, q, 10))
    val want = qs.map(q => (answer(IvfIndex.query(perQuery(m), q, 10, probes = 3)),
      answer(Knn.search(perQuery(m).assigned, q, 10))))
    assert(qs.map(q => (ivf(q), exact(q))) === want)
    assert(Knn.Prepared.plans(m.assigned).size === 2)

    m.assigned.unpersist(blocking = true)
    val afterUnpersist = storedRdds
    assert(qs.map(q => (ivf(q), exact(q))) === want)
    assert(storedRdds === afterUnpersist, "a query rebuilt a cache after unpersist")

    Caching.ensureCached(m.assigned).count()
    val recached = storedRdds
    assert(qs.map(q => (ivf(q), exact(q))) === want)
    assert(storedRdds === recached, "a query rebuilt the cache it was planned against")
    spark.catalog.clearCache()
    val cleared = storedRdds
    assert(qs.map(q => (ivf(q), exact(q))) === want)
    assert(storedRdds === cleared, "a query rebuilt a cache after clearCache()")
    Caching.ensureCached(m.assigned).count()
    val again = storedRdds
    val plansBefore = Knn.Prepared.plans(m.assigned)
    assert(qs.map(q => (ivf(q), exact(q))) === want)
    assert(storedRdds === again, "a query cached something the session did not register")
    // re-prepared against the new registration
    assert(Knn.Prepared.plans(m.assigned).forall(p => !plansBefore.exists(_ eq p)))
    m.assigned.unpersist(blocking = true)
    // the suite's own fixtures, dropped by clearCache(), cached again
    records.cache().count()
    Caching.ensureCached(model.assigned).count()
    Caching.ensureCached(mips.assigned).count()
  }

  test("a filter on the current time is planned for each call, and a conf change re-prepares") {
    val m = ownModel()
    val q = localQuery(5)
    val all = answer(IvfIndex.query(perQuery(m), q, 10, probes = 3))
    assert(all.nonEmpty)
    // true until `until`, false after it
    val until = new java.sql.Timestamp(System.currentTimeMillis() + 3000)
    val beforeUntil = current_timestamp() < lit(until)
    assert(answer(IvfIndex.query(m, q, 10, probes = 3, filter = beforeUntil)) === all)
    Thread.sleep(math.max(0L, until.getTime - System.currentTimeMillis()) + 50)
    assert(answer(IvfIndex.query(m, q, 10, probes = 3, filter = beforeUntil)).isEmpty)
    assert(Knn.Prepared.plans(m.assigned).isEmpty)
    // the hour of the epoch: 0 in UTC, 16 in Los Angeles
    val epochIsMidnight = hour(lit(new java.sql.Timestamp(0L))) === 0
    val zone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(answer(IvfIndex.query(m, q, 10, probes = 3, filter = epochIsMidnight)) === all)
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      assert(answer(IvfIndex.query(m, q, 10, probes = 3, filter = epochIsMidnight)).isEmpty)
      assert(Knn.Prepared.plans(m.assigned).size === 2)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
    m.assigned.unpersist(blocking = true)
  }

  test("a stream of distinct filters keeps the prepared plans of a store at the bound") {
    val m = ownModel()
    val q = localQuery(5)
    (0 until 200).foreach { i =>
      IvfIndex.query(m, q, 10, probes = 3, filter = col("id") =!= lit(i.toLong))
      assert(Knn.Prepared.plans(m.assigned).size <= Knn.Prepared.MaxPlansPerStore)
    }
    assert(Knn.Prepared.plans(m.assigned).size === Knn.Prepared.MaxPlansPerStore)
    m.assigned.unpersist(blocking = true)
  }
}
