package graft

import graft.operators.{Dedup, IvfIndex, Knn}
import graft.types.Metric
import org.apache.spark.sql.functions._

/** IVF build/assign/probe invariants, mirroring the reference's index
  * tests (`/root/reference/src/cores/index.rs:315-410`) in the batch
  * regime (SURVEY.md §2 O9-O13). */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  // seeded random records (reference uses 1000 random dim-128 at density 64)
  private lazy val records = {
    val rnd = new scala.util.Random(42)
    (0 until 1000).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat()), Map("number" -> i.toString))
    }.toDF("id", "embedding", "metadata").cache()
  }

  test("build honors the density contract: k = ceil(n/density) clusters") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    assert(model.centroids.count() === 16) // ceil(1000/64)
    // every record assigned exactly once
    assert(model.assigned.count() === 1000)
    assert(model.assigned.select("cluster_id").distinct().count() <= 16)
  }

  test("assign picks the true argmin centroid (vs brute-force check)") {
    val centroids = records.where(col("id") < 5)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val got = IvfIndex.assign(records.limit(50), centroids, Metric.Euclidean)
      .select("id", "cluster_id").as[(Long, Int)].collect().toMap
    // brute force on the driver
    val cents = records.where(col("id") < 5)
      .select("id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy(_._1).map(_._2)
    val rows = records.limit(50).select("id", "embedding").as[(Long, Seq[Float])].collect()
    rows.foreach { case (id, v) =>
      val best = cents.zipWithIndex.minBy { case (c, ci) =>
        (c.zip(v).map { case (a, b) => val d = a.toDouble - b.toDouble; d * d }.sum, ci)
      }._2
      assert(got(id) === best, s"record $id")
    }
  }

  test("probing all clusters reproduces exact kNN (recall = 1)") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val exact = Knn.search(records, q, 10, Metric.Euclidean)
      .select("id").as[Long].collect().toSet
    val probedAll = IvfIndex.query(model, q, 10, probes = 16, Metric.Euclidean)
      .select("id").as[Long].collect().toSet
    assert(probedAll === exact)
  }

  test("queryPrefixRerank: full prefix + full shortlist degenerates to query; " +
    "funnel keeps high agreement at partial prefix") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val plain = IvfIndex.query(model, q, 10, probes = 4, Metric.Euclidean)
      .select("id").as[Long].collect().toSeq
    // prefixDim = dim and an unpruning shortlist → identical result set
    val full = IvfIndex.queryPrefixRerank(model, q, 10, probes = 4,
        prefixDim = dim, shortlist = 1000)
      .select("id").as[Long].collect().toSeq
    assert(full === plain)
    // a real funnel (half dims, 50-shortlist) still finds the query's own
    // record and mostly agrees with the unpruned probe
    val funnel = IvfIndex.queryPrefixRerank(model, q, 10, probes = 4,
        prefixDim = dim / 2, shortlist = 50)
      .select("id").as[Long].collect().toSeq
    assert(funnel.contains(7L))
    assert((funnel.toSet & plain.toSet).size >= 5,
      s"funnel agreement too low: ${(funnel.toSet & plain.toSet).size}/10")
  }

  test("partial probing achieves reasonable recall and only visits probed clusters") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val exact = Knn.search(records, q, 10, Metric.Euclidean)
      .select("id").as[Long].collect().toSet
    val approx = IvfIndex.query(model, q, 10, probes = 4, Metric.Euclidean)
      .select("id").as[Long].collect().toSet
    assert(approx.size === 10)
    // the query point's own cluster is always probed → its id must appear
    assert(approx.contains(7L))
    assert((approx & exact).size >= 3, s"recall too low: ${(approx & exact).size}/10")
  }

  test("recall curve law (seeded build): monotone in probes, exact at full probe") {
    // the boolean contract that ivf_recall_curve carried before its r8
    // upgrade to an exact fixed-model report — kept as a law against the
    // seeded-kmeans build path the oracle can't replay
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val exact = Knn.search(records, q, 10, Metric.Euclidean)
      .select("id").as[Long].collect().toSet
    val recalls = Seq(1, 2, 4, 8, Int.MaxValue).map { p =>
      (IvfIndex.query(model, q, 10, probes = p, Metric.Euclidean)
        .select("id").as[Long].collect().toSet & exact).size
    }
    assert(recalls.sliding(2).forall { case Seq(a, b) => a <= b },
      s"recall not monotone in probes: $recalls")
    assert(recalls.last === 10, "full probe must reproduce exact kNN")
  }

  test("PQ rerank law: reranking the ADC top-50 never lowers recall@10 vs raw ADC top-10") {
    // the boolean contract that ivf_pq_rerank carried before its r8
    // upgrade to an exact recall report
    import graft.operators.VectorOps
    val booksFrame = VectorOps.pqPack(
      records.where(col("id") < 16)
        .select(col("id").cast("int").as("code"), col("embedding"))
        .select(explode(sequence(lit(0), lit(3))).as("sub_idx"),
          col("code"), col("embedding"))
        .select(col("sub_idx"), col("code"),
          slice(col("embedding"), col("sub_idx") * 4 + 1, lit(4)).as("cvec")))
    val codeStore = records.crossJoin(broadcast(booksFrame))
      .select(col("id"), VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val luts = q.crossJoin(broadcast(booksFrame))
      .select(VectorOps.pqLuts(col("qvec"), col("books")).as("luts"))
    def adcTop(k: Int): Set[Long] = codeStore.crossJoin(broadcast(luts))
      .withColumn("__d", VectorOps.adcDistance(col("codes"), col("luts")))
      .orderBy(col("__d").asc, col("id").asc).limit(k)
      .select("id").as[Long].collect().toSet
    val exact = Knn.search(records, q, 10, Metric.Euclidean)
      .select("id").as[Long].collect().toSet
    val rawHits = (adcTop(10) & exact).size
    val short = adcTop(50)
    val reranked = Knn.search(records.where(col("id").isInCollection(short)),
        q, 10, Metric.Euclidean)
      .select("id").as[Long].collect().toSet
    val rerankHits = (reranked & exact).size
    assert(rerankHits >= rawHits,
      s"rerank lowered recall: $rerankHits < $rawHits")
    assert(rerankHits > 0, "rerank overlap must be nonempty")
  }

  test("deleted records drop out of the index (empty clusters vanish)") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val ids = records.where(col("id") >= 500).select("id")
    val remaining = graft.operators.Crud.delete(model.assigned, ids)
    assert(remaining.count() === 500)
    assert(remaining.where(col("id") >= 500).count() === 0)
  }

  test("queryBatch with all clusters probed equals brute-force searchBatch") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val q = records.where(col("id") < 4)
      .select(col("id").as("query_id"), col("embedding").as("qvec"))
    val brute = Knn.searchBatch(records, q, 5, Metric.Euclidean)
      .select("query_id", "id", "distance").as[(Long, Long, Double)].collect().toSet
    val ivf = IvfIndex.queryBatch(model, q, 5, probes = 16, Metric.Euclidean)
      .select("query_id", "id", "distance").as[(Long, Long, Double)].collect().toSet
    assert(ivf === brute)
  }

  test("tuning-curve law (seeded build): recall non-decreasing, scan cost " +
    "strictly increasing below the cluster count, n_probed clamped") {
    // the contract ivf_tuning_curve's row set exhibits, pinned as a law
    // against the seeded-kmeans build path the oracle can't replay: more
    // probes never buys less recall, and the cost census is exactly the
    // probed prefix of the cluster-size ranking
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val nClusters = model.centroids.count().toInt
    val points = Seq(1, 2, 4, 8, 999)
    val cost = IvfIndex.probeCost(model, q, points, Metric.Euclidean)
      .select("probes", "n_probed", "rows_scanned", "scan_frac")
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    cost.foreach { case (p, nProbed, _, _) =>
      assert(nProbed === math.min(p, nClusters).toLong, s"probes=$p") }
    assert(cost.last._3 === records.count(), "full probe scans the store")
    assert(cost.last._4 === 1.0)
    val below = cost.filter(_._1 <= nClusters)
    assert(below.sliding(2).forall { case Array(a, b) => a._3 < b._3 },
      s"rows_scanned must strictly increase below the cluster count: ${cost.toSeq}")
    val exact = Knn.search(records, q, 10, Metric.Euclidean)
      .select("id").as[Long].collect().toSet
    val recalls = IvfIndex.queryProbeSweep(model, q, 10, points, Metric.Euclidean)
      .select("probes", "id").as[(Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet.count(exact)).toMap
    val curve = points.map(p => recalls.getOrElse(p, 0))
    assert(curve.sliding(2).forall { case Seq(a, b) => a <= b },
      s"recall not monotone along the tuning curve: $curve")
    assert(curve.last === 10)
  }

  test("queryProbeSweep law: row-identical to query() at every probe point") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val points = Seq(1, 2, 4, 16, 999) // 999 exercises the probes clamp
    val sweep = IvfIndex.queryProbeSweep(model, q, 10, points, Metric.Euclidean)
      .select("probes", "id", "distance").as[(Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    points.foreach { p =>
      val direct = IvfIndex.query(model, q, 10, probes = p, Metric.Euclidean)
        .select("id", "distance").as[(Long, Double)].collect().toSet
      assert(sweep(p) === direct, s"probes=$p")
    }
  }

  test("tagged sweep/cost law: queryProbeSweepTagged and probeCostTagged are " +
    "row-identical per model to the single-model operators") {
    // two genuinely different stores sharing the machinery — the
    // ivf_compaction_gain shape (r15): a fine build and a compacted one
    val fine = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val floor = (records.count() + 3L) / 4L // aggressive merge floor
    val coarse = IvfIndex.mergeSmall(fine, floor, Metric.Euclidean)
    val models = Seq("before" -> fine, "after" -> coarse)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val points = Seq(1, 2, 4, 999)
    val sweepT = IvfIndex.queryProbeSweepTagged(models, q, 10, points, Metric.Euclidean)
      .select("__model", "probes", "id", "distance")
      .as[(String, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).toSet).toMap
    val costT = IvfIndex.probeCostTagged(models, q, points, Metric.Euclidean)
      .select("__model", "probes", "n_probed", "rows_scanned", "store_rows",
        "store_clusters", "scan_frac")
      .as[(String, Int, Long, Long, Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3, r._4, r._5, r._6, r._7)).toSet).toMap
    models.foreach { case (tag, m) =>
      val sweep1 = IvfIndex.queryProbeSweep(m, q, 10, points, Metric.Euclidean)
        .select("probes", "id", "distance").as[(Int, Long, Double)].collect().toSet
      assert(sweepT(tag) === sweep1, s"sweep mismatch for $tag")
      val cost1 = IvfIndex.probeCost(m, q, points, Metric.Euclidean)
        .select("probes", "n_probed", "rows_scanned", "store_rows",
          "store_clusters", "scan_frac")
        .as[(Int, Long, Long, Long, Long, Double)].collect().toSet
      assert(costT(tag) === cost1, s"cost mismatch for $tag")
    }
  }

  test("queryMipsBatch at full probe equals brute-force per-query dot top-k " +
    "(descending dot, ties to the smaller id)") {
    val mips = ProbeReference.mipsIndex(records, nCentroids = 8)
    val q = records.where(col("id") < 4)
      .select(col("id").as("query_id"), col("embedding").as("qvec"))
    val got = IvfIndex.queryMipsBatch(mips.centroids, mips.assigned, q, k = 5, probes = 8)
      .select("query_id", "id", "score").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3)).sortBy { case (id, s) => (-s, id) })
      .toMap
    val vecs = records.select("id", "embedding").as[(Long, Seq[Float])]
      .collect().sortBy(_._1)
    (0L until 4L).foreach { qid =>
      val qv = vecs(qid.toInt)._2
      // left-to-right double fold — the dot kernel's exact order
      val expected = vecs.map { case (id, v) =>
        (id, v.zip(qv).foldLeft(0.0) { case (s, (a, b)) =>
          s + a.toDouble * b.toDouble })
      }.sortBy { case (id, s) => (-s, id) }.take(5).toSeq
      assert(got(qid) === expected, s"query $qid")
    }
  }

  test("queryMipsProbeSweep law: row-identical to queryMipsBatch at every probe point") {
    // and to the single-query queryMips, the third path over one ranking
    val mips = ProbeReference.mipsIndex(records, nCentroids = 8)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val points = Seq(1, 2, 4, 8, 999) // 999 exercises the probes clamp
    val sweep = IvfIndex.queryMipsProbeSweep(mips, q, 10, points)
      .select("probes", "id", "score").as[(Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    points.foreach { p =>
      val single = IvfIndex.queryMips(mips, q, k = 10, probes = p)
        .select("id", "score").as[(Long, Double)].collect().toSet
      val batch = IvfIndex.queryMipsBatch(mips.centroids, mips.assigned,
          q.select(lit(0L).as("query_id"), col("qvec")), k = 10, probes = p)
        .select("id", "score").as[(Long, Double)].collect().toSet
      assert(single.nonEmpty, s"probes=$p")
      assert(sweep(p) === single, s"probes=$p: sweep vs queryMips")
      assert(batch === single, s"probes=$p: queryMipsBatch vs queryMips")
    }
  }

  test("queryBatch pruned probing: each query's own record always found") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val q = records.where(col("id") < 4)
      .select(col("id").as("query_id"), col("embedding").as("qvec"))
    val got = IvfIndex.queryBatch(model, q, 5, probes = 2, Metric.Euclidean)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L until 4L).foreach { qid =>
      assert(got(qid).size === 5)
      assert(got(qid).contains(qid), s"query $qid must find itself")
    }
  }

  test("refine splits oversized clusters (reference adaptive split, batch form)") {
    val centroids = records.where(col("id") < 4)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val model = IvfIndex.Model(centroids, IvfIndex.assign(records, centroids, Metric.Euclidean))
    val sizes0 = model.assigned.groupBy("cluster_id").count()
      .as[(Int, Long)].collect().toMap
    val over = sizes0.count(_._2 > 150)
    assert(over > 0, "fixture must have oversized clusters")

    val refined = IvfIndex.refine(model, density = 150, Metric.Euclidean)
    // membership preserved exactly
    assert(refined.assigned.count() === 1000)
    assert(refined.assigned.select("id").distinct().count() === 1000)
    // one replace + one append per split cluster (index.rs:295-300)
    assert(refined.centroids.count() === 4 + over)
    // the split reduced the worst cluster
    val sizes1 = refined.assigned.groupBy("cluster_id").count()
      .as[(Int, Long)].collect().toMap
    assert(sizes1.values.max < sizes0.values.max)
    // every recorded assignment points at an existing centroid
    val cids = refined.centroids.select("cluster_id").as[Int].collect().toSet
    assert(sizes1.keySet.subsetOf(cids))
    // deterministic (seeded farthest-point init, fixed rounds)
    val again = IvfIndex.refine(model, density = 150, Metric.Euclidean)
    assert(again.assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap
      === refined.assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap)
  }

  test("refine is a no-op when all clusters are within density") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val refined = IvfIndex.refine(model, density = 100000, Metric.Euclidean)
    assert(refined.centroids.count() === model.centroids.count())
    assert(refined.assigned.count() === model.assigned.count())
  }

  test("degenerate oversized cluster (all-identical members) is dropped, not split forever") {
    // 200 identical vectors in one cluster: 2-means can make no progress —
    // refine must return the model UNCHANGED (fixed point) instead of
    // appending an empty centroid every call (the infinite-loop hazard for
    // density fixed-point callers)
    val identical = (0 until 200).map(i => (i.toLong, Seq.fill(dim)(0.5f), Map("k" -> "v")))
      .toDF("id", "embedding", "metadata")
    val c = Seq((0, Seq.fill(dim)(0.5f))).toDF("cluster_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    val model = IvfIndex.Model(c, IvfIndex.assign(identical, c, Metric.Euclidean))
    val refined = IvfIndex.refine(model, density = 50, Metric.Euclidean)
    assert(refined eq model, "degenerate cluster must leave the model unchanged")
    // and buildBalanced terminates on the same data (no infinite loop),
    // keeping every record exactly once
    val m = IvfIndex.buildBalanced(identical, density = 50, Metric.Euclidean, seed = 1L, kMax = 2)
    assert(m.assigned.count() === 200)
  }

  test("the unassigned sentinel cluster_id = -1 is never split: wrong-width rows " +
    "leave both split steps at the input model") {
    // an 8-dim store: two populated centroids within density, plus 40
    // DISTINCT 4-wide rows — no finite distance to any centroid, so
    // assign leaves them at -1. They are more than density and
    // separable, so a split set that counted -1 would split it into
    // centroids of the wrong width.
    val w = 8
    val rnd = new scala.util.Random(3)
    val good = (0 until 10).map(i =>
      (i.toLong, Seq.fill(w)(rnd.nextFloat() + (i % 2) * 5f), Map("k" -> "g")))
    val ragged = (100 until 140).map(i =>
      (i.toLong, Seq.fill(4)(rnd.nextFloat() * i), Map("k" -> "r")))
    val df = (good ++ ragged).toDF("id", "embedding", "metadata")
    val c = Seq((0, Seq.fill(w)(0.5f)), (1, Seq.fill(w)(5.5f))).toDF("cluster_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    val model = IvfIndex.Model(c, IvfIndex.assign(df, c, Metric.Euclidean))
    assert(model.assigned.where(col("cluster_id") === -1).count() === 40,
      "fixture: the 4-wide rows must stay unassigned")
    assert(IvfIndex.refine(model, density = 10, Metric.Euclidean) eq model)
    assert(IvfIndex.splitKWay(model, density = 10, Metric.Euclidean) eq model)
    assert(model.centroids.count() === 2, "no centroid added")
  }

  test("the split-round loop tells the round cap from the fixed point") {
    val centroids = records.where(col("id") < 4)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val model = IvfIndex.Model(centroids, IvfIndex.assign(records, centroids, Metric.Euclidean))
    // 1000 rows from 4 clusters to density 50 take more than 2 binary rounds
    val capped = IvfIndex.splitRounds(model, maxRounds = 2)(
      IvfIndex.refine(_, density = 50, Metric.Euclidean))
    assert(!capped.converged, "stopped by the cap, not at the fixed point")
    assert(capped.rounds === 2)
    assert(capped.model.centroids.count() > 4)
    // run on to density: converged, and every cluster within it
    val done = IvfIndex.splitRounds(model, maxRounds = 32)(
      IvfIndex.splitKWay(_, density = 50, Metric.Euclidean))
    assert(done.converged && done.rounds >= 1)
    assert(done.model.assigned.groupBy("cluster_id").count().agg(max("count"))
      .as[Long].head() <= 50L)
    // a degenerate-only store (all-identical members): nothing either step
    // can split — 0 rounds, converged, the input model itself
    val identical = (0 until 200).map(i => (i.toLong, Seq.fill(dim)(0.5f), Map("k" -> "v")))
      .toDF("id", "embedding", "metadata")
    val c = Seq((0, Seq.fill(dim)(0.5f))).toDF("cluster_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    val degenerate = IvfIndex.Model(c, IvfIndex.assign(identical, c, Metric.Euclidean))
    val steps: Seq[IvfIndex.Model => IvfIndex.Model] = Seq(
      IvfIndex.refine(_, density = 50, Metric.Euclidean),
      IvfIndex.splitKWay(_, density = 50, Metric.Euclidean))
    steps.foreach { step =>
      val run = IvfIndex.splitRounds(degenerate, maxRounds = 16)(step)
      assert(run.model eq degenerate)
      assert(run.rounds === 0)
      assert(run.converged)
    }
  }

  test("splitKWay keeps a NaN-embedding member under its old cluster id (no record lost)") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 150).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat()), Map("k" -> "v"))) :+
      ((999L, Seq.fill(dim)(Float.NaN), Map("k" -> "v")))
    val df = rows.toDF("id", "embedding", "metadata")
    val c = Seq((7, Seq.fill(dim)(0.5f))).toDF("cluster_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    // force everything (incl. the NaN row, via a fixed assignment) into
    // one oversized cluster, then split k-way
    val assigned = df.withColumn("cluster_id", lit(7))
    val split = IvfIndex.splitKWay(IvfIndex.Model(c, assigned), density = 60, Metric.Euclidean)
    assert(split.assigned.count() === 151, "no record may be lost in a split")
    val nanCluster = split.assigned.where(col("id") === 999L)
      .select("cluster_id").as[Int].head()
    assert(nanCluster === 7, "NaN member must keep the old cluster id")
    // and the old id still has a centroid (lowest live sub keeps it)
    assert(split.centroids.where(col("cluster_id") === 7).count() === 1)
  }

  test("balanced build: density restored past a tiny kMax; probe query still exact at full probes") {
    val m = IvfIndex.buildBalanced(records, density = 64, Metric.Euclidean, seed = 42L, kMax = 4)
    val sizes = m.assigned.groupBy("cluster_id").count().as[(Int, Long)].collect()
    assert(sizes.map(_._2).sum === 1000L)
    assert(sizes.map(_._2).max <= 64L, s"max=${sizes.map(_._2).max}")
    assert(sizes.length > 4)
    // the refined index answers queries exactly when every cluster is probed
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val exact = Knn.search(records, q, 10, Metric.Euclidean).select("id").as[Long].collect().toSeq
    val probedAll = IvfIndex.query(m, q, 10, probes = sizes.length, Metric.Euclidean)
      .select("id").as[Long].collect().toSeq
    assert(probedAll === exact)
  }

  test("buildBalancedRefine: coverage preserved, density restored from a " +
    "forced-tiny coarse partition, deterministic across runs") {
    val coarse = records.where(col("id") < 4)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val m = IvfIndex.buildBalancedRefine(records, coarse, density = 64,
      Metric.Euclidean)
    val sizes = m.assigned.groupBy("cluster_id").count().as[(Int, Long)].collect()
    assert(sizes.map(_._2).sum === 1000L, "no record lost")
    assert(sizes.map(_._2).max <= 64L,
      s"density not restored within the round budget: max=${sizes.map(_._2).max}")
    assert(sizes.length > 4, "must grow past the coarse partition")
    // full-probe query over the refined index stays exact (the funnel contract)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val exact = Knn.search(records, q, 10, Metric.Euclidean)
      .select("id").as[Long].collect().toSeq
    val probedAll = IvfIndex.query(m, q, 10, probes = sizes.length, Metric.Euclidean)
      .select("id").as[Long].collect().toSeq
    assert(probedAll === exact)
    // deterministic: the chain is seeded argmin + min-id/farthest seeds +
    // r4-quantized means — a second build reproduces every assignment
    val again = IvfIndex.buildBalancedRefine(records, coarse, density = 64,
      Metric.Euclidean)
      .assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap
    assert(m.assigned.select("id", "cluster_id")
      .as[(Long, Int)].collect().toMap === again)
  }

  test("balanced build is deterministic: identical assignments across runs") {
    val a = IvfIndex.buildBalanced(records, density = 64, Metric.Euclidean, seed = 42L, kMax = 4)
      .assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap
    val b = IvfIndex.buildBalanced(records, density = 64, Metric.Euclidean, seed = 42L, kMax = 4)
      .assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap
    assert(a === b, "hash-bucket seeds + fixed Lloyd rounds must reproduce exactly")
  }

  test("mixed split set: only splittable clusters append; degenerate keeps its id") {
    val rnd = new scala.util.Random(11)
    // cluster 0: identical (degenerate); cluster 1: well-separated spread
    // (splittable) — disjoint value ranges so assignment is unambiguous
    val rows = (0 until 150).map(i => (i.toLong, Seq.fill(dim)(0.25f), Map("k" -> "a"))) ++
      (150 until 300).map(i => (i.toLong, Seq.fill(dim)(10f + rnd.nextFloat()), Map("k" -> "b")))
    val df = rows.toDF("id", "embedding", "metadata")
    val c = Seq((0, Seq.fill(dim)(0.25f)), (1, Seq.fill(dim)(10.5f)))
      .toDF("cluster_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    val model = IvfIndex.Model(c, IvfIndex.assign(df, c, Metric.Euclidean))
    val refined = IvfIndex.refine(model, density = 100, Metric.Euclidean)
    val sizes = refined.assigned.groupBy("cluster_id").count().as[(Int, Long)].collect().toMap
    assert(sizes.values.sum === 300L)
    assert(sizes(0) === 150L, "degenerate cluster must keep all its members under its old id")
    assert(sizes.size === 3, "exactly one append for the one splittable cluster")
  }

  test("assignTop2: Voronoi-boundary pair shares a block that single-block assignment misses") {
    val c = Seq((0, Seq.fill(dim)(0.0f)), (1, Seq.fill(dim)(1.0f)))
      .toDF("cluster_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    // two parallel vectors (cos_sim = 1) just either side of the midpoint:
    // best clusters differ, runner-ups cross over
    val pts = Seq(
      (0L, Seq.fill(dim)(0.49f), Map("k" -> "v")),
      (1L, Seq.fill(dim)(0.51f), Map("k" -> "v"))).toDF("id", "embedding", "metadata")
    val a2 = IvfIndex.assignTop2(pts, c, Metric.Euclidean)
      .select("id", "cluster_id", "cluster_id2").as[(Long, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(a2(0L) === ((0, 1)))
    assert(a2(1L) === ((1, 0)))
    // single-block join misses the pair entirely...
    val single = IvfIndex.assign(pts, c, Metric.Euclidean)
      .select(col("cluster_id").as("block"), col("id"), col("embedding"))
    assert(Dedup.embeddingNearDup(single, threshold = 0.9).count() === 0)
    // ...the top-2 union captures it (twice, collapsed by distinct)
    val a2f = IvfIndex.assignTop2(pts, c, Metric.Euclidean)
    val blocked = a2f.select(col("cluster_id").as("block"), col("id"), col("embedding"))
      .unionByName(a2f.where(col("cluster_id2") >= 0)
        .select(col("cluster_id2").as("block"), col("id"), col("embedding")))
    val pairs = Dedup.embeddingNearDup(blocked, threshold = 0.9)
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("assignTop2WithDists: ordered exact distances, cid tie-break, single-centroid sentinel") {
    val c = Seq((0, Seq.fill(dim)(0.0f)), (1, Seq.fill(dim)(1.0f)))
      .toDF("cluster_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    val pts = Seq((0L, Seq.fill(dim)(0.25f), Map.empty[String, String]))
      .toDF("id", "embedding", "metadata")
    val r = IvfIndex.assignTop2WithDists(pts, c, Metric.Euclidean)
      .select("cluster_id", "d1", "cluster_id2", "d2")
      .as[(Int, Double, Int, Double)].head()
    // sq-L2: dim·0.25² vs dim·0.75² — exact dyadic values
    assert(r === ((0, dim * 0.0625, 1, dim * 0.5625)))
    // equidistant point: both ranks resolve ties to the smaller cid
    val mid = Seq((0L, Seq.fill(dim)(0.5f), Map.empty[String, String]))
      .toDF("id", "embedding", "metadata")
    val m = IvfIndex.assignTop2WithDists(mid, c, Metric.Euclidean)
      .select("cluster_id", "cluster_id2", "d1", "d2")
      .as[(Int, Int, Double, Double)].head()
    assert((m._1, m._2) === ((0, 1)))
    assert(m._3 === m._4)
    // one centroid: runner-up is the −1 sentinel with an unusable d2
    val one = IvfIndex.assignTop2WithDists(pts, c.where(col("cluster_id") === 0),
      Metric.Euclidean).select("cluster_id2", "d2").as[(Int, Double)].head()
    assert(one === ((-1, Double.MaxValue)))
  }

  test("cosine-metric build: assign agrees with brute-force cosine argmin") {
    val model = IvfIndex.build(records, density = 64, Metric.Cosine, seed = 42L)
    assert(model.assigned.count() === 1000)
    // spot-check 20 rows against a driver-side cosine argmin
    val cents = model.centroids.orderBy("cluster_id")
      .select("centroid").as[Seq[Float]].collect()
    def cosDist(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = model.assigned.where(col("id") < 20)
      .select("id", "cluster_id").as[(Long, Int)].collect().toMap
    val rows = records.where(col("id") < 20)
      .select("id", "embedding").as[(Long, Seq[Float])].collect()
    rows.foreach { case (id, v) =>
      val best = cents.zipWithIndex.minBy { case (c, ci) => (cosDist(v, c), ci) }._2
      assert(got(id) === best, s"record $id")
    }
  }

  test("searchBatch honors radius and metadata filter") {
    val q = records.where(col("id") < 3)
      .select(col("id").as("query_id"), col("embedding").as("qvec"))
    val all = Knn.searchBatch(records, q, 10, Metric.Euclidean)
      .select("query_id", "id", "distance")
      .as[(Long, Long, Double)].collect()
    val maxD = all.map(_._3).max
    // radius strictly below the max distance must drop at least that row
    val r = maxD * 0.5
    val radiused = Knn.searchBatch(records, q, 10, Metric.Euclidean, radius = r)
      .select("distance").as[Double].collect()
    assert(radiused.nonEmpty && radiused.forall(_ <= r))
    // metadata filter gates before the top-k (reference index.rs:197-199)
    val filtered = Knn.searchBatch(records, q, 10, Metric.Euclidean,
      filter = graft.functions.FilterDsl.predicate(col("metadata"), "number < 100"))
      .select("id").as[Long].collect()
    assert(filtered.nonEmpty && filtered.forall(_ < 100))
  }

  test("buildCached: cache hit returns identical centroids without refitting") {
    val key = s"cache-test-${System.nanoTime()}"
    val first = IvfIndex.buildCached(records, key, density = 64, Metric.Euclidean, seed = 42L)
    val firstCents = first.centroids.orderBy("cluster_id")
      .as[(Int, Seq[Float])].collect().toSeq
    val second = IvfIndex.buildCached(records, key, density = 64, Metric.Euclidean, seed = 42L)
    val secondCents = second.centroids.orderBy("cluster_id")
      .as[(Int, Seq[Float])].collect().toSeq
    assert(secondCents === firstCents)
    assert(second.assigned.count() === 1000)
  }

  test("embedding near-dup over a built index finds planted duplicates") {
    import graft.operators.Dedup
    // plant a near-duplicate of record 7
    val dup = records.where(col("id") === 7)
      .select(lit(5007L).as("id"),
        transform(col("embedding"), x => x * 1.0001f).as("embedding"),
        col("metadata"))
    val all = records.unionByName(dup)
    val model = IvfIndex.build(all, density = 64, Metric.Euclidean, seed = 42L)
    val blocked = model.assigned
      .select(col("cluster_id").as("block"), col("id"), col("embedding"))
    val pairs = Dedup.embeddingNearDup(blocked, threshold = 0.9999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((7L, 5007L)),
      s"planted near-dup must share a cluster and verify; got ${pairs.take(5)}")
  }

  test("queryAdc at full probes equals brute-force ADC ranking over the code store") {
    import graft.operators.VectorOps
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val books = VectorOps.pqPack(VectorOps.pqTrain(records, m = 4, dsub = 4, k = 8))
    val codeStore = model.assigned
      .crossJoin(broadcast(books))
      .select(col("id"), col("cluster_id"),
        VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
    val q = records.where(col("id") === 3).select(col("embedding").as("qvec"))
    val got = IvfIndex.queryAdc(model.centroids, codeStore, books, q,
        k = 10, probes = Int.MaxValue)
      .as[(Long, Double)].collect().toSeq
    // brute force: ADC distance on every code row, top-10 by (d, id)
    val luts = q.crossJoin(broadcast(books))
      .select(VectorOps.pqLuts(col("qvec"), col("books")).as("luts"))
    val want = codeStore.crossJoin(broadcast(luts))
      .select(col("id"), VectorOps.adcDistance(col("codes"), col("luts")).as("d"))
      .as[(Long, Double)].collect().toSeq
      .sortBy { case (id, d) => (d, id) }.take(10)
    assert(got === want)
    assert(got.size === 10)
  }

  test("queryAdc with filterIds equals post-filtering the unfiltered ranking") {
    import graft.operators.VectorOps
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val books = VectorOps.pqPack(VectorOps.pqTrain(records, m = 4, dsub = 4, k = 8))
    val codeStore = model.assigned
      .crossJoin(broadcast(books))
      .select(col("id"), col("cluster_id"),
        VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
    val q = records.where(col("id") === 3).select(col("embedding").as("qvec"))
    val keep = records.where(col("id") % 2 === 0).select(col("id"))
    val got = IvfIndex.queryAdc(model.centroids, codeStore, books, q,
        k = 10, probes = Int.MaxValue, filterIds = Some(keep))
      .as[(Long, Double)].collect().toSeq
    // the filter composes pre-top-k: rank everything, drop the
    // inadmissible, THEN take 10 — k survivors, not k-minus-filtered
    val want = IvfIndex.queryAdc(model.centroids, codeStore, books, q,
        k = Int.MaxValue, probes = Int.MaxValue)
      .as[(Long, Double)].collect().toSeq
      .filter(_._1 % 2 == 0).take(10)
    assert(got === want)
    assert(got.size === 10)
    assert(got.forall(_._1 % 2 == 0))
  }

  test("queryAdcResidual at full probes equals brute-force residual-ADC ranking") {
    import graft.operators.VectorOps
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    // production books: trained on the residuals themselves (IVFADC)
    val residuals = model.assigned
      .join(broadcast(model.centroids), Seq("cluster_id"))
      .select(col("id"),
        VectorOps.residual(col("embedding"), col("centroid")).as("embedding"))
    val books = VectorOps.pqPack(VectorOps.pqTrain(residuals, m = 4, dsub = 4, k = 8))
    val codeStore = IvfIndex.encodeResidual(model.assigned, model.centroids, books)
    val q = records.where(col("id") === 3).select(col("embedding").as("qvec"))
    val got = IvfIndex.queryAdcResidual(model.centroids, codeStore, books, q,
        k = 10, probes = Int.MaxValue)
      .as[(Long, Double)].collect().toSeq
    // brute force: every code row scored through its OWN cluster's LUT
    val want = codeStore
      .join(broadcast(model.centroids), Seq("cluster_id"))
      .crossJoin(broadcast(q)).crossJoin(broadcast(books))
      .select(col("id"),
        VectorOps.adcDistance(col("codes"),
          VectorOps.pqLuts(
            VectorOps.residual(col("qvec"), col("centroid")),
            col("books"))).as("d"))
      .as[(Long, Double)].collect().toSeq
      .sortBy { case (id, d) => (d, id) }.take(10)
    assert(got === want)
    assert(got.size === 10)
  }

  test("queryAdcResidualBatch equals per-query queryAdcResidual") {
    import graft.operators.VectorOps
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val residuals = model.assigned
      .join(broadcast(model.centroids), Seq("cluster_id"))
      .select(col("id"),
        VectorOps.residual(col("embedding"), col("centroid")).as("embedding"))
    val books = VectorOps.pqPack(VectorOps.pqTrain(residuals, m = 4, dsub = 4, k = 8))
    val codeStore = IvfIndex.encodeResidual(model.assigned, model.centroids, books)
    val qs = records.where(col("id") < 4)
      .select(col("id").as("query_id"), col("embedding").as("qvec"))
    val got = IvfIndex.queryAdcResidualBatch(model.centroids, codeStore, books,
        qs, k = 5, probes = 2)
      .as[(Long, Long, Double)].collect().toSet
    val want = (0 until 4).flatMap { i =>
      val q1 = records.where(col("id") === i).select(col("embedding").as("qvec"))
      IvfIndex.queryAdcResidual(model.centroids, codeStore, books, q1,
          k = 5, probes = 2)
        .as[(Long, Double)].collect().map { case (id, d) => (i.toLong, id, d) }
    }.toSet
    assert(got === want)
    assert(got.size === 20) // 4 queries × k=5
  }

  test("residual encoding reconstructs better than raw encoding (IVFADC gain)") {
    import graft.operators.VectorOps
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val withCent = model.assigned
      .join(broadcast(model.centroids), Seq("cluster_id"))
    // raw path: books trained on raw vectors, codes encode the vector
    val rawBooks = VectorOps.pqPack(VectorOps.pqTrain(records, m = 4, dsub = 4, k = 8))
    val rawErr = withCent.crossJoin(broadcast(rawBooks))
      .select(graft.functions.NativeExprs.sqEuclidean(
        col("embedding"),
        VectorOps.pqReconstruct(
          VectorOps.pqCodes(col("embedding"), col("books")),
          col("books"))).as("e"))
      .agg(avg(col("e"))).as[Double].head()
    // residual path: books trained on residuals, codes encode v − centroid;
    // reconstruction = centroid + decoded residual
    val residuals = withCent.select(col("id"),
      VectorOps.residual(col("embedding"), col("centroid")).as("embedding"))
    val resBooks = VectorOps.pqPack(VectorOps.pqTrain(residuals, m = 4, dsub = 4, k = 8))
    val resErr = withCent.crossJoin(broadcast(resBooks))
      .select(graft.functions.NativeExprs.sqEuclidean(
        col("embedding"),
        zip_with(col("centroid"),
          VectorOps.pqReconstruct(
            VectorOps.pqCodes(
              VectorOps.residual(col("embedding"), col("centroid")),
              col("books")),
            col("books")),
          (c, r) => c.cast("double") + r.cast("double"))).as("e"))
      .agg(avg(col("e"))).as[Double].head()
    // the IVFADC argument: within-cluster residuals occupy a tighter ball
    // than the raw vectors, so the same code budget reconstructs closer
    // (deterministic under the fixed seeds — measured gain is pinned loosely)
    assert(resErr < rawErr,
      s"residual MSE $resErr should beat raw MSE $rawErr")
  }

  test("build is deterministic under a fixed seed") {
    val a = IvfIndex.build(records, 64, Metric.Euclidean, seed = 42L)
      .assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap
    val b = IvfIndex.build(records, 64, Metric.Euclidean, seed = 42L)
      .assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap
    assert(a === b)
  }

  test("applyDiff law: incremental update == assigning the new store from scratch") {
    import graft.operators.Crud
    val old = records
    // new version: some ids removed, some vectors moved, some metadata
    // touched, two fresh rows
    val dim = old.select(size(col("embedding"))).head().getInt(0)
    val newStore = old
      .where(col("id") % 7 =!= 1)
      .withColumn("embedding",
        when(col("id") % 5 === 2,
          transform(col("embedding"), x => x + lit(3.0f)))
          .otherwise(col("embedding")))
      .withColumn("metadata",
        when(col("id") % 11 === 3, map(lit("touched"), lit("yes")))
          .otherwise(col("metadata")))
      .unionByName(
        Seq((9001L, Seq.fill(dim)(0.42f), Map("k" -> "new1")),
            (9002L, Seq.fill(dim)(0.84f), Map("k" -> "new2")))
          .toDF("id", "embedding", "metadata"))
    val cents = old.where(col("id") < 4)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val m0 = IvfIndex.Model(cents, IvfIndex.assign(old, cents, Metric.Euclidean))
    val incr = IvfIndex.applyDiff(m0, Crud.diff(old, newStore), Metric.Euclidean)
      .assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap
    val scratch = IvfIndex.assign(newStore, cents, Metric.Euclidean)
      .select("id", "cluster_id").as[(Long, Int)].collect().toMap
    assert(incr === scratch)
    assert(incr.contains(9001L) && !incr.keySet.exists(_ % 7 == 1))
    // empty diff → index unchanged
    val noop = IvfIndex.applyDiff(m0, Crud.diff(old, old), Metric.Euclidean)
      .assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap
    assert(noop === m0.assigned.select("id", "cluster_id")
      .as[(Long, Int)].collect().toMap)
  }

  test("mergeSmall laws: drained clusters dissolve to the nearest survivor; " +
    "membership and survivor centroids preserved; fixed-point and guard cases") {
    val cents = records.where(col("id") < 8)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val m0 = IvfIndex.Model(cents, IvfIndex.assign(records, cents, Metric.Euclidean))
    // the churn scenario: deletes drain clusters 2 and 5 to every 7th
    // member (applyDiff removes rows but never retires a cluster)
    val drained = IvfIndex.Model(cents,
      m0.assigned.where(!(col("cluster_id").isin(2, 5) && col("id") % 7 =!= 0)))
    val total = drained.assigned.count()
    val merged = IvfIndex.mergeSmall(drained, (total + 15) / 16, Metric.Euclidean)

    // donors dissolved; survivor centroid VECTORS unchanged
    val survCents = merged.centroids.select("cluster_id", "centroid")
      .as[(Int, Seq[Float])].collect().toMap
    val origCents = cents.select("cluster_id", "centroid")
      .as[(Int, Seq[Float])].collect().toMap
    assert(survCents.keySet === Set(0, 1, 3, 4, 6, 7))
    survCents.foreach { case (cid, v) => assert(v === origCents(cid), s"centroid $cid") }

    // membership preserved; every row's cluster is a survivor
    assert(merged.assigned.count() === total)
    val got = merged.assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap
    assert(got.values.toSet.subsetOf(survCents.keySet))

    // every MOVED row landed on its true nearest survivor (brute force)
    val survList = survCents.toSeq.sortBy(_._1)
    drained.assigned.where(col("cluster_id").isin(2, 5))
      .select("id", "embedding").as[(Long, Seq[Float])].collect()
      .foreach { case (id, v) =>
        val best = survList.minBy { case (ci, c) =>
          (c.zip(v).map { case (a, b) => val d = a.toDouble - b.toDouble; d * d }.sum, ci)
        }._1
        assert(got(id) === best, s"moved record $id")
      }
    // unmoved rows keep their assignment
    drained.assigned.where(!col("cluster_id").isin(2, 5))
      .select("id", "cluster_id").as[(Long, Int)].collect()
      .foreach { case (id, cid) => assert(got(id) === cid, s"kept record $id") }

    // no donors -> the INPUT MODEL, reference-equal (the convergence test)
    assert(IvfIndex.mergeSmall(m0, 1, Metric.Euclidean) eq m0)

    // all clusters under the floor -> the largest survives alone,
    // holding every record
    val one = IvfIndex.mergeSmall(m0, 100000L, Metric.Euclidean)
    assert(one.centroids.count() === 1)
    assert(one.assigned.count() === m0.assigned.count())
    val largest = m0.assigned.groupBy(col("cluster_id")).count()
      .orderBy(col("count").desc, col("cluster_id").asc)
      .select("cluster_id").as[Int].head()
    assert(one.centroids.select("cluster_id").as[Int].head() === largest)

    // a centroid with NO members always dissolves, even above the floor
    val extra = cents.unionByName(
      Seq((99, Seq.fill(dim)(99.0f))).toDF("cluster_id", "centroid"))
    val m99 = IvfIndex.Model(extra, m0.assigned)
    val dropped = IvfIndex.mergeSmall(m99, 1, Metric.Euclidean)
    assert(dropped.centroids.select("cluster_id").as[Int].collect().toSet === Set(0, 1, 2, 3, 4, 5, 6, 7))
    assert(dropped.assigned.count() === m0.assigned.count())

    // a donor row with no finite distance to any survivor keeps
    // cluster_id = -1 (NaN never wins) — never probed, still stored
    val nanRow = Seq((5000L, Seq.fill(dim)(Float.NaN), Map("k" -> "nan")))
      .toDF("id", "embedding", "metadata").withColumn("cluster_id", lit(5))
    val withNan = IvfIndex.Model(cents,
      drained.assigned.unionByName(nanRow.select(drained.assigned.columns.map(col): _*)))
    val mergedNan = IvfIndex.mergeSmall(withNan, (total + 1 + 15) / 16, Metric.Euclidean)
    val nanGot = mergedNan.assigned.where(col("id") === 5000L)
      .select("cluster_id").as[Int].collect()
    assert(nanGot.toSeq === Seq(-1))
    assert(mergedNan.assigned.count() === total + 1)
  }

  test("maintenancePlan law: the plan states exactly what the executors do " +
    "at the same knobs — merge set matches mergeSmall, split set and way " +
    "match splitKWay's targets, empty centroids listed at fill 0") {
    val cents = records.where(col("id") < 8)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val m0 = IvfIndex.Model(cents, IvfIndex.assign(records, cents, Metric.Euclidean))
    val drained = IvfIndex.Model(cents,
      m0.assigned.where(!(col("cluster_id").isin(2, 5) && col("id") % 7 =!= 0)))
    val floor = (drained.assigned.count() + 15) / 16
    val plan = IvfIndex.maintenancePlan(drained, density = 100, minSize = floor)
      .select("cluster_id", "n", "action", "split_way").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)))).toMap
    assert(plan.keySet === Set(0, 1, 2, 3, 4, 5, 6, 7))
    // fills are the true census
    val sizes = drained.assigned.groupBy(col("cluster_id")).count()
      .as[(Int, Long)].collect().toMap
    plan.foreach { case (cid, (n, _, _)) => assert(n === sizes.getOrElse(cid, 0L)) }
    // action partition is exhaustive and knob-consistent
    plan.foreach { case (cid, (n, action, way)) =>
      val expected = if (n > 100) "split" else if (n < floor) "merge" else "ok"
      assert(action === expected, s"cluster $cid at fill $n")
      assert(way === (if (n > 100) Some(math.min(math.ceil(n * 1.3 / 100).toLong, 256L).toInt)
        else None), s"split_way for cluster $cid")
    }
    // the fixture exercises all three actions
    assert(plan.values.map(_._2).toSet === Set("split", "merge", "ok"))
    // merge set == exactly the clusters mergeSmall dissolves at this floor
    val merged = IvfIndex.mergeSmall(drained, floor, Metric.Euclidean)
    val survived = merged.centroids.select("cluster_id").as[Int].collect().toSet
    plan.foreach { case (cid, (_, action, _)) =>
      assert((action == "merge") === !survived.contains(cid), s"cluster $cid") }
    // one-pass convergence: survivors only GAIN members, so the plan at
    // the same floor schedules no further merges after one merge pass
    assert(IvfIndex.maintenancePlan(merged, density = 100, minSize = floor)
      .where(col("action") === "merge").count() === 0L)
    // an empty centroid is listed from the CENTROID set at fill 0
    val extra = cents.unionByName(
      Seq((99, Seq.fill(dim)(99.0f))).toDF("cluster_id", "centroid"))
    val p99 = IvfIndex.maintenancePlan(
        IvfIndex.Model(extra, drained.assigned), density = 100, minSize = floor)
      .where(col("cluster_id") === 99)
      .select("n", "action").as[(Long, String)].collect()
    assert(p99.toSeq === Seq((0L, "merge")))
  }

  test("applyDiffToCodes law: incremental code store == re-encoding from scratch") {
    import graft.operators.{Crud, VectorOps}
    val old = records
    val dim = old.select(size(col("embedding"))).head().getInt(0)
    val newStore = old
      .where(col("id") % 6 =!= 1)
      .withColumn("embedding",
        when(col("id") % 4 === 2,
          transform(col("embedding"), x => x + lit(2.0f)))
          .otherwise(col("embedding")))
      .unionByName(
        Seq((9002L, Seq.fill(dim)(0.33f), Map("k" -> "new")))
          .toDF("id", "embedding", "metadata"))
    val cents = old.where(col("id") < 4)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val books = VectorOps.pqPack(VectorOps.pqTrain(old, m = 4, dsub = dim / 4, k = 8))
    def encode(store: org.apache.spark.sql.DataFrame) =
      IvfIndex.assign(store, cents, Metric.Euclidean)
        .crossJoin(broadcast(books))
        .select(col("id"), col("cluster_id"),
          VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
    val incr = IvfIndex.applyDiffToCodes(encode(old), Crud.diff(old, newStore),
        cents, books, Metric.Euclidean)
      .select("id", "cluster_id", "codes")
      .as[(Long, Int, Seq[Int])].collect().toSeq.sortBy(_._1)
    val scratch = encode(newStore)
      .select("id", "cluster_id", "codes")
      .as[(Long, Int, Seq[Int])].collect().toSeq.sortBy(_._1)
    assert(incr === scratch)
    assert(incr.exists(_._1 == 9002L) && !incr.exists(_._1 % 6 == 1))
  }

  // ---- hostile-input hardening (round-8 adversarial review of the ----
  // ---- IVF serving/build paths)                                    ----

  test("corrupt code rows degrade, never crash: sentinel / out-of-range / " +
    "null codes are excluded from ADC serving") {
    import graft.operators.VectorOps
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val books = VectorOps.pqPack(VectorOps.pqTrain(records, m = 4, dsub = 4, k = 8))
    val clean = model.assigned
      .crossJoin(broadcast(books))
      .select(col("id"), col("cluster_id"),
        VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
    // an externally-written store can carry the pqCodes -1 sentinel
    // (geometry mismatch), out-of-range codes, and null code arrays —
    // under ANSI mode an unguarded element_at would kill the whole scan
    val corrupt = clean
      .withColumn("codes",
        when(col("id") === 11L, array(lit(-1), lit(0), lit(0), lit(0)))
          .when(col("id") === 13L, array(lit(0), lit(999), lit(0), lit(0)))
          .when(col("id") === 17L, lit(null).cast("array<int>"))
          .otherwise(col("codes")))
    val q = records.where(col("id") === 3).select(col("embedding").as("qvec"))
    val got = IvfIndex.queryAdc(model.centroids, corrupt, books, q,
        k = 1000, probes = Int.MaxValue)
      .as[(Long, Double)].collect().toSeq
    val want = IvfIndex.queryAdc(model.centroids,
        clean.where(!col("id").isin(11L, 13L, 17L)), books, q,
        k = 1000, probes = Int.MaxValue)
      .as[(Long, Double)].collect().toSeq
    assert(got === want) // corrupt rows dropped; every other ranking intact
    assert(!got.exists(r => Set(11L, 13L, 17L)(r._1)))
    // batch twin: same guard, same result shape
    val qb = records.where(col("id") === 3)
      .select(lit(0L).as("query_id"), col("embedding").as("qvec"))
    val gotB = IvfIndex.queryAdcBatch(model.centroids, corrupt, books, qb,
        k = 1000, probes = Int.MaxValue)
      .select("id", "distance").as[(Long, Double)].collect().toSeq
      .sortBy { case (id, d) => (d, id) }
    assert(gotB === want)
  }

  test("applyDiff ignores malformed ops: a NULL-op change neither deletes " +
    "nor inserts (matches Crud.merge)") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val changes = Seq(
      (7L, "upsert", Seq.fill(dim)(0.5f), Map("k" -> "upd")),
      (11L, "delete", Seq.empty[Float], Map.empty[String, String]),
      (13L, null.asInstanceOf[String], Seq.fill(dim)(0.9f), Map.empty[String, String]),
      (17L, "garbage", Seq.fill(dim)(0.1f), Map.empty[String, String]))
      .toDF("id", "op", "embedding", "metadata")
    val after = IvfIndex.applyDiff(model, changes, Metric.Euclidean)
      .assigned.select("id").as[Long].collect().toSet
    assert(!after.contains(11L), "delete applies")
    assert(after.contains(7L), "upsert stays")
    assert(after.contains(13L), "NULL-op row must NOT act as a delete")
    assert(after.contains(17L), "unknown-op row must NOT act as a delete")

    import graft.operators.VectorOps
    val books = VectorOps.pqPack(VectorOps.pqTrain(records, m = 4, dsub = 4, k = 8))
    val codeStore = model.assigned
      .crossJoin(broadcast(books))
      .select(col("id"), col("cluster_id"),
        VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
    val afterCodes = IvfIndex.applyDiffToCodes(codeStore, changes,
        model.centroids, books, Metric.Euclidean)
      .select("id").as[Long].collect().toSet
    assert(!afterCodes.contains(11L) && afterCodes.contains(13L) &&
      afterCodes.contains(17L))
  }

  test("build survives hostile fit rows: null / ragged / non-finite " +
    "embeddings and (under cosine) the zero-norm vector") {
    val hostile = Seq(
      (9100L, null.asInstanceOf[Seq[Float]], Map.empty[String, String]),
      (9101L, Seq.fill(dim + 3)(0.2f), Map.empty[String, String]),
      (9102L, Seq.fill(dim)(Float.NaN), Map.empty[String, String]),
      (9103L, Seq.fill(dim)(Float.PositiveInfinity), Map.empty[String, String]),
      (9104L, Seq.fill(dim)(0.0f), Map.empty[String, String]))
      .toDF("id", "embedding", "metadata")
    val mixed = records.unionByName(hostile)
    // the fit used to crash on any of these (MLlib featurizer / Cosine
    // zero-norm rejection); now it fits on the clean majority and the
    // null-safe assign still covers every row
    for (metric <- Seq(Metric.Euclidean, Metric.Cosine)) {
      val model = IvfIndex.build(mixed, density = 64, metric, seed = 42L)
      assert(model.centroids.count() >= 1)
      assert(model.assigned.count() === mixed.count())
    }
  }

  test("an invalid centroid row (null distance) never steals a probe slot") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val junk = Seq((999, null.asInstanceOf[Seq[Float]]))
      .toDF("cluster_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    val polluted = IvfIndex.Model(
      model.centroids.unionByName(junk), model.assigned)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val want = IvfIndex.query(model, q, 10, probes = 2, Metric.Euclidean)
      .select("id").as[Long].collect().toSeq
    // null centroid distance sorts FIRST ascending unguarded — it would
    // occupy one of the two probe slots and silently halve recall
    val got = IvfIndex.query(polluted, q, 10, probes = 2, Metric.Euclidean)
      .select("id").as[Long].collect().toSeq
    assert(got === want)
  }

  test("density must be positive at every entry point") {
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    intercept[IllegalArgumentException] {
      IvfIndex.build(records, density = 0, Metric.Euclidean, seed = 42L)
    }
    intercept[IllegalArgumentException] {
      IvfIndex.refine(model, density = 0, Metric.Euclidean)
    }
    intercept[IllegalArgumentException] {
      IvfIndex.splitKWay(model, density = -1, Metric.Euclidean)
    }
  }

  // The maintenance rebalance loop the production door runs
  // (VectorIngest.refineNow): k-way splits to the density fixed point,
  // per-round lineage truncation. K-WAY is load-bearing for this
  // fixture — binary 2-means refine peels background off a duplicate-
  // heavy ball a fringe at a time (farthest-point seeds land on
  // outliers, the tight ball drags both means; measured ~10%/round on
  // this fixture), needing rounds ∝ co-resident population instead of
  // log — which is exactly why refineNow switched to splitKWay (r13).
  private def kwayToDensity(m0: IvfIndex.Model, density: Int): IvfIndex.Model =
    IvfIndex.splitRounds(m0, maxRounds = 32)(IvfIndex.splitKWay(_, density, Metric.Euclidean)).model

  test("adversarial skew: a near-duplicate family at 5x density collapses " +
    "into one coarse cluster and the maintained path (build -> applyDiff " +
    "-> refine -> store rewrite) keeps every cluster <= density") {
    // the IVF analogue of the near-dup viral-bucket assert: a duplicate-
    // heavy corpus slams one cluster with >density x mass, and the census
    // must prove the rebalance at every maintenance step
    val rnd = new scala.util.Random(7)
    val background = (0 until 1000).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat()), Map("n" -> i.toString))
    }
    // 320 NEAR-duplicates (distinct, hence splittable — jitter well above
    // the r4 mean-quantization grid) in a tiny ball around (0.5)^dim
    val family = (0 until 320).map { j =>
      val v: Seq[Float] =
        (0 until dim).map(d => 0.5f + ((j * 31 + d * 7) % 23 - 11) * 0.002f)
      ((2000 + j).toLong, v, Map("n" -> s"f$j"))
    }
    val recs = (background ++ family).toDF("id", "embedding", "metadata").cache()
    val coarse = recs.where(col("id") < 4)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    // the fixture is only adversarial if the family really lands in ONE
    // coarse cluster (5x the density budget)
    val preMax = IvfIndex.assign(recs, coarse, Metric.Euclidean)
      .groupBy("cluster_id").count().agg(max("count")).as[Long].head()
    assert(preMax >= 320L, s"family must pack one coarse cluster, max=$preMax")

    val m = kwayToDensity(IvfIndex.Model(coarse,
      IvfIndex.assign(recs, coarse, Metric.Euclidean).localCheckpoint()), 64)
    val sizes = m.assigned.groupBy("cluster_id").count().as[(Int, Long)].collect()
    assert(sizes.map(_._2).sum === 1320L, "no record lost")
    assert(m.assigned.select("id").distinct().count() === 1320L, "no record duplicated")
    assert(sizes.map(_._2).max <= 64L,
      s"skewed family not rebalanced: max=${sizes.map(_._2).max}")

    // maintained path: a change log dumping 100 MORE family members (a
    // tight sub-ball, so they pile onto few clusters) + one delete.
    // applyDiff alone must overflow a cluster — that's what the
    // maintenance refine step is FOR — and the refine fixed point must
    // restore the census
    val diff = ((0 until 100).map { j =>
      val v: Seq[Float] =
        (0 until dim).map(d => 0.5f + ((j * 11 + d * 3) % 13 - 6) * 0.002f)
      ((3000 + j).toLong, v, Map("n" -> s"g$j"), "upsert")
    } :+ ((999L, Seq.fill(dim)(0f): Seq[Float], Map.empty[String, String], "delete")))
      .toDF("id", "embedding", "metadata", "op")
    val applied = IvfIndex.applyDiff(m, diff, Metric.Euclidean)
    val appliedMax = applied.assigned.groupBy("cluster_id").count()
      .agg(max("count")).as[Long].head()
    assert(appliedMax > 64L,
      s"diff must overflow a cluster or the fixture tests nothing: $appliedMax")
    val rebal = kwayToDensity(applied, 64)
    val rebalSizes = rebal.assigned.groupBy("cluster_id").count()
      .as[(Int, Long)].collect()
    assert(rebalSizes.map(_._2).sum === 1419L, "coverage after diff: 1320 - 1 + 100")
    assert(rebalSizes.map(_._2).max <= 64L,
      s"maintenance refine did not restore density: max=${rebalSizes.map(_._2).max}")

    // store rewrite: the maintained assignment lands cluster_id-
    // partitioned (the serving layout with pinned DPP) and the reopened
    // store holds the SAME census and the same rows
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(
        new java.io.File("target").toPath), "ivf_skew_store").toString
    rebal.assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(dir)
    val reopened = spark.read.parquet(dir)
    assert(reopened.count() === 1419L)
    assert(reopened.groupBy("cluster_id").count().agg(max("count"))
      .as[Long].head() <= 64L, "store rewrite must preserve the census")
    assert(reopened.select("id", "cluster_id").as[(Long, Int)].collect().toMap ===
      rebal.assigned.select("id", "cluster_id").as[(Long, Int)].collect().toMap)
  }

  test("adversarial skew: an EXACT-duplicate core beyond density stays by " +
    "the degenerate guard (2-means cannot separate identical points) and " +
    "the build terminates at the fixed point") {
    // the documented division of labor: exact-duplicate mass is the
    // exact-dedup pass's job (composed upstream, like the LSH viral-
    // bucket argument) — the index build must TERMINATE and keep the
    // family intact rather than loop appending empty centroids
    val rnd = new scala.util.Random(11)
    val bg = (0 until 200).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat()), Map("n" -> i.toString))
    }
    val dup = (0 until 130).map { j =>
      ((5000 + j).toLong, Seq.fill(dim)(0.5f): Seq[Float], Map("n" -> s"d$j"))
    }
    val recs = (bg ++ dup).toDF("id", "embedding", "metadata").cache()
    val coarse = recs.where(col("id") < 2)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val m = kwayToDensity(IvfIndex.Model(coarse,
      IvfIndex.assign(recs, coarse, Metric.Euclidean).localCheckpoint()), 64)
    assert(m.assigned.count() === 330L, "no record lost")
    val sizes = m.assigned.groupBy("cluster_id").count().as[(Int, Long)].collect()
      .map(_._2)
    assert(sizes.count(_ > 64L) === 1,
      s"exactly the duplicate family may stay oversized: ${sizes.filter(_ > 64L).toSeq}")
    assert(sizes.max >= 130L, "the family stays together")
    // and the fixed point is reference-equal: NEITHER split operator can
    // make progress on a pure-duplicate cluster (identical members tie to
    // one sub / dmax = 0), and both return the input model rather than
    // appending empty centroids forever
    assert(IvfIndex.splitKWay(m, 64, Metric.Euclidean) eq m)
    assert(IvfIndex.refine(m, 64, Metric.Euclidean) eq m)
  }

  test("queryHammingRerank serves from a stored bcode column without " +
    "re-encoding, with identical results") {
    import graft.operators.VectorOps
    val model = IvfIndex.build(records, density = 64, Metric.Euclidean, seed = 42L)
    val q = records.where(col("id") === 7).select(col("embedding").as("qvec"))
    val onTheFly = IvfIndex.queryHammingRerank(model, q, k = 10,
        probes = 16, shortlist = 40)
      .select("id", "distance").as[(Long, Double)].collect().toSeq
    val encoded = IvfIndex.Model(
      model.centroids,
      model.assigned.withColumn("bcode", VectorOps.binaryCodes(col("embedding"))))
    val fromStore = IvfIndex.queryHammingRerank(encoded, q, k = 10,
        probes = 16, shortlist = 40)
      .select("id", "distance").as[(Long, Double)].collect().toSeq
    assert(fromStore === onTheFly)
  }
}
