package graft.operators

import graft.types.Metric
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Concat, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructField, StructType}

/** IVF (inverted-file) ANN index, batch-native.
  *
  * The reference maintains `Index { centroids, clusters, metric, density }`
  * incrementally — per-insert nearest-centroid assignment with adaptive
  * 2-means cluster splits when a cluster exceeds `density`
  * (`src/cores/index.rs:63-72,106-135,282-308`). Incremental single-row
  * splits are an anti-pattern on Spark; the batch regime (SURVEY.md §2 O9)
  * is: fit k-means with `k = ceil(count / density)` — which honors the same
  * max-records-per-cluster contract (`src/cores/database.rs:16-22`) — and
  * re-assign in bulk; [[refine]] is the adaptive-split semantics itself in
  * batch form (all oversized clusters 2-means-split concurrently). Index
  * state is two DataFrames:
  *
  *   centroids:   (cluster_id int, centroid array<float>)   — small
  *   assigned:    records + cluster_id                      — huge
  *
  * At 100 TB `assigned` is written `partitionBy("cluster_id")`. A
  * single-vector query ranks the centroids on the driver ([[probe]]) and
  * filters the store on the probed cluster ids, which reaches the parquet
  * scan as static partition pruning — the physical analog of the
  * reference's "scan only the probed posting lists" (`index.rs:176-187`).
  * The probed ids ride the plan as one array literal ([[inClusters]]), so
  * a warm query compiles no new code whichever clusters it probes.
  *
  * The probe order (nearest centroid first, null distances dropped, NaN
  * last, ties to the lower cluster_id) has exactly two definitions:
  * [[probe]] for one query, on the driver, and [[probeBatch]] for a frame
  * of queries, as one window.
  */
object IvfIndex {

  /** An index version: its centroids and its assigned records.
    *
    * A single-vector query ranks the centroids on the driver, so each
    * `Model` instance collects its centroid rows ONCE, on its first query,
    * and keeps them for its lifetime (at most `kMax` rows). Treat a `Model`
    * as an immutable index version: when the centroids change, build a new
    * `Model` rather than mutating the data behind `centroids`. */
  final case class Model(centroids: DataFrame, assigned: DataFrame) {
    @transient private[operators] lazy val probeCentroids: ProbeCentroids =
      ProbeCentroids(centroids)
  }

  /** Centroid rows held on the driver for the single-query probe: cluster
    * ids and Catalyst-form vectors (one-column rows the distance kernel
    * evaluates against). A row with a null cluster_id names no posting
    * list and is dropped; `rowCount` still counts it. */
  private[operators] final class ProbeCentroids(
      val ids: Array[Int],
      val vectors: Array[InternalRow],
      val vectorType: DataType,
      val rowCount: Long)

  private[operators] object ProbeCentroids {
    def apply(centroids: DataFrame): ProbeCentroids = {
      val vectorType = centroids.schema("centroid").dataType
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(vectorType)
      val rows = centroids.select(col("cluster_id").cast("int"), col("centroid")).collect()
      val kept = rows.filter(!_.isNullAt(0))
      new ProbeCentroids(kept.map(_.getInt(0)),
        kept.map(r => InternalRow(toCatalyst(r.get(1)))), vectorType, rows.length.toLong)
    }
  }

  /** Nearest-centroid assignment (reference `src/cores/index.rs:246-253`).
    *
    * Centroids are packed into ONE broadcast row holding an array of
    * (cluster_id, centroid) structs, and each record folds over that array
    * with `aggregate` — a pure map-side argmin: no shuffle, no n×k row
    * explosion, and the per-centroid distance runs as the native compiled
    * kernel ([[graft.functions.NativeExprs]]). Ties break to the lowest
    * cluster_id (deterministic; the reference inherits rayon's
    * first-position semantics). */
  def assign(records: DataFrame, centroids: DataFrame, metric: Metric): DataFrame = {
    val packed = centroids
      .agg(collect_list(struct(col("cluster_id"), col("centroid"))).as("__cents"))
    val best = aggregate(
      col("__cents"),
      struct(lit(-1).as("cid"), lit(Double.MaxValue).as("dist")),
      (acc, c) => {
        val d = metric.distance(col("embedding"), c.getField("centroid"))
        val cid = c.getField("cluster_id")
        val closer = !isnan(d) && // NaN distances never win (index.rs:189-193)
          (d < acc.getField("dist") ||
            (d === acc.getField("dist") && cid < acc.getField("cid")))
        when(closer, struct(cid.as("cid"), d.as("dist"))).otherwise(acc)
      })
    records
      .crossJoin(broadcast(packed))
      .withColumn("cluster_id", best.getField("cid"))
      .drop("__cents")
  }

  /** [[assign]] extended to the TWO nearest centroids — the multi-probe
    * blocking key for near-dup joins: a pair of vectors straddling a
    * Voronoi boundary lands in different best clusters (single-block
    * recall gap) but shares a block once each also carries its runner-up.
    * Same shape as [[assign]]: one broadcast packed row, one map-side
    * fold tracking (best, second) — no shuffle, 2× the downstream join
    * input. `cluster_id2` is −1 when only one centroid exists. */
  def assignTop2(records: DataFrame, centroids: DataFrame, metric: Metric): DataFrame =
    assignTop2WithDists(records, centroids, metric).drop("d1", "d2")

  /** [[assignTop2]] keeping the two distances (`d1` ≤ `d2`) — the inputs
    * of the simplified (centroid-based) silhouette s = (d2−d1)/d2: the
    * cluster-quality monitor that reads O(n·k) distances instead of the
    * textbook O(n²) pairwise formulation, the only silhouette that exists
    * at 100 TB. Ties on distance resolve to the smaller cluster_id at
    * both ranks (matching [[assign]]); `d2` is `Double.MaxValue` when
    * `cluster_id2` is −1. */
  def assignTop2WithDists(records: DataFrame, centroids: DataFrame,
      metric: Metric): DataFrame = {
    val packed = centroids
      .agg(collect_list(struct(col("cluster_id"), col("centroid"))).as("__cents"))
    val init = struct(
      lit(-1).as("cid1"), lit(Double.MaxValue).as("d1"),
      lit(-1).as("cid2"), lit(Double.MaxValue).as("d2"))
    val best2 = aggregate(
      col("__cents"), init,
      (acc, c) => {
        val d = metric.distance(col("embedding"), c.getField("centroid"))
        val cid = c.getField("cluster_id")
        val beatsBest = !isnan(d) &&
          (d < acc.getField("d1") ||
            (d === acc.getField("d1") && cid < acc.getField("cid1")))
        val beatsSecond = !isnan(d) &&
          (d < acc.getField("d2") ||
            (d === acc.getField("d2") && cid < acc.getField("cid2")))
        when(beatsBest, struct(
            cid.as("cid1"), d.as("d1"),
            acc.getField("cid1").as("cid2"), acc.getField("d1").as("d2")))
          .when(beatsSecond, struct(
            acc.getField("cid1").as("cid1"), acc.getField("d1").as("d1"),
            cid.as("cid2"), d.as("d2")))
          .otherwise(acc)
      })
    records
      .crossJoin(broadcast(packed))
      .withColumn("cluster_id", best2.getField("cid1"))
      .withColumn("cluster_id2", best2.getField("cid2"))
      .withColumn("d1", best2.getField("d1"))
      .withColumn("d2", best2.getField("d2"))
      .drop("__cents")
  }

  /** Upper bound on centroid count. 2^16 centroids × a few-hundred-float
    * vector ≈ tens of MB packed — comfortably inside both the 2 GB
    * single-row limit and executor broadcast budgets that [[assign]]
    * relies on. Beyond this, grow `density` or go two-level (coarse
    * k ≤ kMax, then per-cluster refinement) rather than raising the cap. */
  val DefaultKMax = 1 << 16

  /** Rows the k-means fit itself may consume. Lloyd's only needs enough
    * data to place k centroids well (a large constant × k); fitting on the
    * full table is O(n·k·iters) wasted work once n is in the billions. */
  val DefaultMaxFitRows = 4000000L

  /** Build the index with seeded k-means (reference O13,
    * `src/utils/kmeans.rs:31-91`, k-means++ init + Lloyd's iterations —
    * MLlib's k-means|| is the published distributed descendant of exactly
    * that algorithm). `density` is the reference's max-records-per-cluster
    * knob (`src/main.rs:83-86`, default 256).
    *
    * Scale contract (the parts that must survive 100 TB):
    *   - `k = min(kMax, ceil(n/density))` — NEVER unbounded; at the cap the
    *     density contract degrades gracefully (bigger clusters) instead of
    *     the build dying on millions of driver-held centroids;
    *   - the fit runs on a deterministic content-hash sample of at most
    *     `maxFitRows` rows, so fit cost is O(min(n, maxFitRows) · k · iters)
    *     regardless of table size;
    *   - the FULL table is assigned via [[assign]] (one map-side pass over
    *     broadcast centroids), not via `model.transform` over a persisted
    *     copy of the input;
    *   - the fit input is repartitioned to a FIXED partition count so the
    *     seeded k-means|| init is reproducible across session configs. */
  def build(
      records: DataFrame,
      density: Int,
      metric: Metric = Metric.Euclidean,
      seed: Long = 42L,
      kMax: Int = DefaultKMax,
      maxFitRows: Long = DefaultMaxFitRows,
      maxIter: Int = 100): Model = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    // density=0 would silently yield k=kMax (n/0.0 → ∞ → Int.MaxValue →
    // min kMax): a 65536-cluster fit over a possibly tiny sample, with
    // no error. Fail fast like every sibling knob (k, prefixDim).
    require(density > 0, s"density must be positive, got $density")
    val n = records.count()
    val k = math.max(1, math.min(kMax, math.ceil(n.toDouble / density).toInt))
    val distanceMeasure = metric match {
      case Metric.Cosine => "cosine"
      case _             => "euclidean" // squared-L2 is argmin-equivalent
    }
    // Deterministic sample: keep rows by content hash of the id, not by
    // Spark's partition-seeded sample(), so the fit set is identical for
    // any partitioning of the input.
    val sampled =
      if (n <= maxFitRows) records
      else {
        val keep = math.max(1L, (maxFitRows * 1000000L) / n)
        records.where(pmod(xxhash64(col("id"), lit(seed)), lit(1000000L)) < lit(keep))
      }
    // Hostile rows every SERVING path tolerates via null-safe kernels
    // would KILL the MLlib fit: a null embedding or a ragged dimension
    // crashes the featurizer, a non-finite component poisons centroids,
    // and CosineDistanceMeasure rejects zero-norm vectors outright. Fit
    // on clean rows only — the sample's dominant dimension, finite
    // components, and (under cosine) nonzero norm; the FULL table is
    // still assigned row by row through the null-safe kernels. The
    // dim-mode pass runs over the bounded fit sample, not the table.
    val dimRow = sampled.where(col("embedding").isNotNull)
      .groupBy(size(col("embedding")).as("__d")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__d").asc)
      .limit(1).collect()
    require(dimRow.nonEmpty, "cannot build an index: no non-null embeddings in the fit sample")
    val fitDim = dimRow(0).getInt(0)
    val finite = sampled.where(
      col("embedding").isNotNull && size(col("embedding")) === lit(fitDim) &&
        forall(col("embedding"), e =>
          e.isNotNull && !isnan(e) && abs(e) <= lit(Float.MaxValue)))
    val fitRows = metric match {
      case Metric.Cosine => finite.where(exists(col("embedding"), e => e =!= lit(0.0f)))
      case _             => finite
    }
    // Cache the featurized frame: Lloyd's iterates over it many times and
    // MLlib does NOT cache its input — uncached, every iteration re-reads
    // the parquet scan + conversion lineage. Partition count is a PURE
    // FUNCTION OF n (not of session config or input layout), so the
    // seeded k-means|| init sampling — which is partition-dependent — is
    // reproducible everywhere; small fits use fewer partitions because
    // each Lloyd iteration is a job and per-task overhead dominates tiny
    // inputs.
    val fitPartitions = if (n < 100000) 4 else 16
    val featurized = fitRows.repartition(fitPartitions, col("id"))
      .withColumn("__features", array_to_vector(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model =
      try new KMeans()
        .setK(k)
        .setSeed(seed)
        .setMaxIter(maxIter) // default: reference kmeans.rs:36 MAX_ITERATIONS=100
        // The reference's convergence check is a SAMPLED stability test
        // (first ≤1000 assignments unchanged >3 rounds, kmeans.rs:70-84) —
        // deliberately loose. MLlib's analog is the centroid-movement
        // tolerance; 1e-3 stops the local[N] fit tens of near-no-op
        // iterations earlier with no measurable recall change.
        .setTol(1e-3)
        .setDistanceMeasure(distanceMeasure)
        .setFeaturesCol("__features")
        .setPredictionCol("cluster_id")
        .fit(featurized)
      finally featurized.unpersist()

    val spark = records.sparkSession
    val centroidRows = model.clusterCenters.zipWithIndex.map { case (v, i) =>
      (i, v.toArray.map(_.toFloat).toSeq)
    }.toSeq
    import spark.implicits._
    val centroids = centroidRows.toDF("cluster_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    val assigned = assign(records, centroids, metric)
    Model(centroids, assigned)
  }

  /** Centroid cache for [[buildCached]], keyed by caller-supplied dataset
    * identity + build params. Only the (small, driver-resident) centroid
    * array is cached; assignments are re-derived plans over the input. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, String, Long), Seq[(Int, Seq[Float])]]()

  /** [[build]], memoized on `(datasetKey, density, metric, seed)`. The
    * reference builds its index ONCE and serves every query from it
    * (`src/cores/database.rs:70-76` holds one `Index` for the process);
    * re-fitting k-means per query would be an artifact of the batch
    * harness, not a semantic difference — results are identical because
    * the fit is seeded and deterministic.
    *
    * The assignment plan is additionally session-cached
    * ([[graft.Caching.ensureCached]]): a serving session answers every
    * query from ONE materialized assignment instead of re-running the
    * argmin pass per query — the in-memory twin of the partitioned store
    * ([[writePartitioned]]). A `clearCache()` simply re-materializes on
    * next use. */
  def buildCached(
      records: DataFrame,
      datasetKey: String,
      density: Int,
      metric: Metric = Metric.Euclidean,
      seed: Long = 42L): Model = {
    val key = (datasetKey, density, metric.name, seed)
    val cached = centroidCache.get(key)
    if (cached != null) {
      val spark = records.sparkSession
      import spark.implicits._
      val centroids = cached.toDF("cluster_id", "centroid")
        .withColumn("centroid", col("centroid").cast("array<float>"))
      Model(centroids, graft.Caching.ensureCached(assign(records, centroids, metric)))
    } else {
      val model = build(records, density, metric, seed)
      val rows = model.centroids.collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq
      centroidCache.put(key, rows)
      Model(model.centroids, graft.Caching.ensureCached(model.assigned))
    }
  }

  /** The probe order for ONE query, and one of its two definitions (the
    * other is [[probeBatch]], pinned to this one in ProbePropSpec): every
    * single-query funnel, both sweeps and [[probeCost]] rank through it.
    * Positions into `cents`, nearest centroid first. Distances are the
    * metric's own kernel evaluated on the driver against the query
    * literal, so they are bit-identical to the kernel in a plan. NaN ranks
    * last (`index.rs:269-272`), ties go to the lower cluster_id. A NULL
    * distance (null or wrong-length centroid/query — the kernels return
    * null, not NaN) is an invalid row, not a near one: it is excluded
    * outright rather than stealing a probe slot from a real cluster. A
    * zero-row query probes nothing. */
  private[operators] def probe(
      cents: ProbeCentroids,
      query: Knn.QueryRow,
      metric: Metric): Array[Int] =
    if (query.row.isEmpty) Array.empty
    else {
      val dist = ColumnBridge.expression(metric.distance(
        ColumnBridge.column(BoundReference(0, cents.vectorType, nullable = true)),
        query.literal("qvec")))
      val scored = cents.vectors.indices.iterator.flatMap { i =>
        Option(dist.eval(cents.vectors(i))).map(d => (d.asInstanceOf[Double], cents.ids(i), i))
      }.toArray
      // Spark's sort order: isnan asc, distance asc (NaN = NaN, 0.0 = -0.0),
      // cluster_id asc
      scored.sortWith { case ((da, ia, _), (db, ib, _)) =>
        if (da.isNaN != db.isNaN) db.isNaN
        else if (!da.isNaN && da != db) da < db
        else ia < ib
      }.map(_._3)
    }

  /** The probe order for a FRAME of queries, keyed by `query_id`, and the
    * other of its two definitions: [[probe]]'s rule as one ranking window
    * over the broadcast centroids × queries cross (never the data). Emits
    * the rows that survive each query's nearest-`probes` cut, with every
    * column of both sides and no rank column. */
  private[operators] def probeBatch(
      centroids: DataFrame,
      queries: DataFrame,
      qvec: Column,
      metric: Metric,
      probes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(isnan(col("__cdist")).asc, col("__cdist").asc, col("cluster_id").asc)
    centroids
      .crossJoin(broadcast(queries))
      .withColumn("__cdist", metric.distance(col("centroid"), qvec))
      .where(col("__cdist").isNotNull && col("cluster_id").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= lit(probes))
      .drop("__cdist", "__rn")
  }

  /** `q` in the norm-augmented MIPS geometry: its `qvec` widened to
    * doubles and padded with a 0 (q̃ = q ++ [0], [[queryMipsBatch]]). */
  private def padded(q: Knn.QueryRow): Knn.QueryRow = {
    val augType = ArrayType(DoubleType)
    val aug = Concat(Seq(
      Cast(ColumnBridge.expression(q.literal("qvec")), augType),
      Literal.create(Seq(0.0), augType)))
    Knn.QueryRow(StructType(Seq(StructField("qvec", augType))),
      q.row.map(_ => Row(CatalystTypeConverters.convertToScala(aug.eval(), augType))))
  }

  /** The ids of the nearest `probes` clusters under [[probe]]'s order. */
  private def probedIds(
      cents: ProbeCentroids,
      query: Knn.QueryRow,
      probes: Int,
      metric: Metric): Seq[Int] =
    probe(cents, query, metric).take(probes).map(cents.ids).toSeq

  /** `store` restricted to the probed posting lists:
    * `array_contains(<probed ids>, cluster_id)` with the ids as ONE array
    * literal. An IN-list would be optimized to an `INSET` whose values are
    * written into the generated code, so every new probe list would be
    * new source and a fresh Janino compile on the driver; an array
    * literal reaches the generated code as a reference object, so every
    * warm query of one plan shape reuses one compiled class. The
    * predicate reads only cluster_id, so a `partitionBy("cluster_id")`
    * store still prunes partitions statically at the scan. An empty
    * probe list is a constant-false filter, which plans no scan. */
  private def inClusters(store: DataFrame, ids: Seq[Int]): DataFrame =
    if (ids.isEmpty) store.where(lit(false))
    else store.where(array_contains(typedLit(ids.toArray), col("cluster_id")))

  /** Every rankable cluster of each tagged model as `(tag, cluster_id,
    * rank)`, rank 1 = nearest: the budget-`p` probe list is the
    * `rank <= p` prefix, which is what lets the sweeps serve every budget
    * from one ranking. */
  private def taggedRanks(
      models: Seq[(String, Model)],
      query: Knn.QueryRow,
      metric: Metric): Seq[(String, Int, Int)] = {
    require(models.nonEmpty, "models must be non-empty")
    require(models.map(_._1).distinct.size == models.size, "model tags must be distinct")
    models.flatMap { case (t, m) =>
      val cents = m.probeCentroids
      probe(cents, query, metric).toSeq.zipWithIndex.map { case (i, r) => (t, cents.ids(i), r + 1) }
    }
  }

  /** Probed ANN query (reference `src/cores/index.rs:168-214`):
    * rank ALL centroids by distance to the query — NaN ranks last
    * (`index.rs:269-272`) — visit the nearest `min(probes, n_centroids)`
    * clusters (`index.rs:177-182`), then exact search within them.
    *
    * The query row and the probe list are resolved on the driver
    * ([[Knn.QueryRow]], [[probe]]); the store is filtered on the probed
    * ids (static partition pruning when `assigned` is disk-partitioned by
    * cluster_id) and the exact re-rank inherits Knn's
    * TakeOrderedAndProject — a warm query is one scan job. The query
    * vector and the probed ids both enter the plan as array literals,
    * which generated code holds as references, not as inlined values: a
    * warm query reuses the compiled code of the previous one instead of
    * compiling its own ([[inClusters]]).
    *
    * When `model.assigned` is held in the session cache, the store and
    * the driver-side probe list go to [[Knn.Prepared]]: the call runs
    * its one job when called, from a plan prepared once per query shape
    * with the query vector and the probed ids bound at run time, and
    * returns the ≤ k answer rows as a local frame. Concurrent callers
    * each run their own bound copy of the shared prepared plan, with no
    * lock. A store that is not cached (a `writePartitioned` store) keeps
    * the lazy per-query plan above, whose literal ids prune partitions. */
  def query(
      model: Model,
      query: DataFrame,
      k: Int,
      probes: Int = 32, // default: reference database.rs:35-42
      metric: Metric = Metric.Euclidean,
      radius: Double = Double.PositiveInfinity,
      filter: Column = lit(true)): DataFrame = {
    val q = Knn.QueryRow(query)
    val probed = probedIds(model.probeCentroids, q, probes, metric)
    Knn.Prepared.serve(model.assigned, Some(probed), q, k, metric, radius, filter, None)
      .getOrElse(Knn.search(inClusters(model.assigned, probed), q, k, metric, radius, filter, None))
  }

  /** Probe-COST observability — the dashboard row that tells an
    * operator whether `density`/`probes` are mis-tuned for the store:
    * for one query and probe budget, the EXACT clusters-probed and
    * rows-scanned census from the assignment frame (the same probe
    * selection [[query]] runs, so the numbers are what the serving path
    * actually pays), against store totals.
    *
    * Why it matters at 100 TB: the funnel's per-query scan cost is
    * `probes × density` rows (reference defaults: density = 256
    * max records/cluster, `src/main.rs:83-86`; probes = 32,
    * `src/cores/database.rs:35-42` — i.e. ~8k rows scanned per query
    * regardless of store size). `scan_frac` drifting toward 1 means the
    * store has too few clusters for its row count (rebuild with a
    * smaller density); `rows_scanned` far above `probes × density`
    * means over-dense clusters (the adaptive-split budget is behind —
    * see [[refine]]). One row per requested probe budget; a probed
    * cluster emptied by duplicate-tie assignment still counts as probed
    * with zero rows (left join, not inner). The one-model case of
    * [[probeCostTagged]], ranked by [[probe]]. */
  def probeCost(
      model: Model,
      query: DataFrame,
      probesList: Seq[Int],
      metric: Metric = Metric.Euclidean): DataFrame =
    probeCostTagged(Seq("model" -> model), query, probesList, metric).drop("__model")

  /** Single-query MIPS serving — the dot-product twin of [[query]] over
    * the norm-augmented geometry of [[queryMipsBatch]]: `model.centroids`
    * are the AUGMENTED centroids, `model.assigned` keeps the ORIGINAL
    * embeddings. The zero-padded query ranks the centroids under L2 with
    * [[probe]], the store is filtered on the probed ids ([[inClusters]]),
    * `filter` applies before the top-k, and the dot rerank is a bounded
    * top-k: descending score, ties to the smaller id, NaN and null scores
    * dropped. Emits `(id, score)`, score = the raw dot product. */
  def queryMips(
      model: Model,
      query: DataFrame,
      k: Int,
      probes: Int = 32,
      filter: Column = lit(true)): DataFrame = {
    require(k > 0, "k must be positive")
    val q = Knn.QueryRow(query)
    val probed = probedIds(model.probeCentroids, padded(q), probes, Metric.Euclidean)
    q.attachTo(inClusters(model.assigned, probed))
      .where(filter)
      .withColumn("score", graft.functions.NativeExprs.dot(col("embedding"), col("qvec")))
      .where(!isnan(col("score")))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
      .select(col("id"), col("score"))
  }

  /** IVF probe composed with the Matryoshka prefix funnel
    * ([[Knn.searchPrefixRerank]]): probes prune CLUSTERS, the
    * prefix-dim distance prunes WITHIN the probed clusters, and the
    * full-dim kernel reranks only the shortlist — the three-level
    * funnel of a 100 TB serving stack (coarse quantizer → cheap scalar
    * scan → exact rerank). One store scan (cluster-pruned under the
    * partitioned layout), two chained bounded heaps, no join-back.
    * Fully deterministic (cluster_id / id tiebreaks at every stage), so
    * the whole funnel is oracle-replayable. */
  def queryPrefixRerank(
      model: Model,
      query: DataFrame,
      k: Int,
      probes: Int,
      prefixDim: Int,
      shortlist: Int,
      metric: Metric = Metric.Euclidean): DataFrame = {
    val q = Knn.QueryRow(query)
    val candidates = inClusters(model.assigned, probedIds(model.probeCentroids, q, probes, metric))
    Knn.searchPrefixRerank(candidates, q, k, prefixDim, shortlist, metric)
  }

  /** Three-level BINARY serving funnel: IVF probe pruning → Hamming
    * shortlist over packed sign codes → exact rerank. The 100 TB shape
    * for a compressed binary store: the probe prunes to `probes`
    * posting lists (partition pruning on the written layout), the
    * shortlist stage costs d/64 integer XOR+POPCNTs per surviving
    * candidate ([[VectorOps.hammingDistance]]; no float math), and only
    * `shortlist` rows reach the full-precision kernel. Same recall
    * contract as every funnel here: a true neighbor outside the probed
    * clusters or the Hamming shortlist is lost. Deterministic end to
    * end (probe, Hamming, and rerank stages all tiebreak ascending), so
    * the composition is oracle-checkable.
    *
    * A store that has already MATERIALIZED the codes (the documented
    * 100 TB layout: `bcode` written next to `embedding` at index-build
    * time) serves straight from the stored column; only a store without
    * one pays the sign-encode kernel per query — otherwise the funnel's
    * cost model ("only the 8-byte-per-64-dims codes stay hot") would be
    * negated by re-reading every candidate's full float vector on every
    * query. */
  def queryHammingRerank(
      model: Model,
      query: DataFrame,
      k: Int,
      probes: Int,
      shortlist: Int,
      metric: Metric = Metric.Euclidean): DataFrame = {
    val q = Knn.QueryRow(query.withColumn("qcode", VectorOps.binaryCodes(col("qvec"))))
    val pruned = inClusters(model.assigned, probedIds(model.probeCentroids, q, probes, metric))
    val candidates =
      if (pruned.columns.contains("bcode")) pruned
      else pruned.withColumn("bcode", VectorOps.binaryCodes(col("embedding")))
    Knn.searchHammingRerank(candidates, q, k, shortlist, metric)
  }

  /** IVF-PQ probe served ENTIRELY from codes — the compressed-store
    * twin of [[query]] for squared L2. `codeStore` holds
    * `(id, cluster_id, codes)` (see [[VectorOps.pqCodes]]; 2 bytes per
    * vector in the demo geometry instead of 256) and `books` is the
    * packed one-row codebook frame ([[VectorOps.pqPack]]). Probe
    * selection runs full-precision against the centroids exactly as in
    * [[query]]; candidate distances are asymmetric (ADC): a per-query
    * lookup table `luts[sub][code]` is built once
    * ([[VectorOps.pqLuts]]), broadcast, and each candidate costs m
    * array lookups + m−1 adds ([[VectorOps.adcDistance]]) — no d-dim
    * vector is reconstructed or scanned. Output: `(id, distance)`
    * ascending, ties to the smaller id, bounded top-k
    * (TakeOrderedAndProject — plan pinned in PlanShapeSpec via
    * ivf_adc_query). For higher fidelity compose with an exact re-rank
    * of the shortlist on original vectors (the ivf_pq_rerank shape). */
  def queryAdc(
      centroids: DataFrame,
      codeStore: DataFrame,
      books: DataFrame,
      query: DataFrame,
      k: Int,
      probes: Int = 32,
      filterIds: Option[DataFrame] = None): DataFrame = {
    val q = Knn.QueryRow(query)
    val luts = books.select(VectorOps.pqLuts(q.literal("qvec"), col("books")).as("luts"))
    val candidates = inClusters(codeStore,
      probedIds(ProbeCentroids(centroids), q, probes, Metric.Euclidean))
    // Metadata filtering composes PRE-top-k (the reference's filtered
    // query: predicate evaluation precedes ranking, O4 × O6): the code
    // store carries no metadata at 100 TB — the caller derives the
    // admissible-id frame from the record store (FilterDsl) and the scan
    // semi-joins it on id (AQE broadcasts a selective filter's ids).
    val admitted = filterIds.fold(candidates)(ids =>
      candidates.join(ids.select(col("id")), Seq("id"), "left_semi"))
    admitted
      .crossJoin(broadcast(luts))
      .withColumn("distance", VectorOps.adcDistance(col("codes"), col("luts")))
      // invalid candidate guard (same as every sibling funnel stage):
      // null codes / ragged codes / sentinel codes yield distance NULL,
      // which would sort FIRST ascending and fill the top-k with
      // garbage; NaN never wins but would fill an underfull heap
      .where(col("distance").isNotNull && !isnan(col("distance")))
      .orderBy(col("distance").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("distance"))
  }

  /** RESIDUAL code store `(id, cluster_id, codes)`: each vector is
    * encoded as PQ codes of its residual `v − centroid[cluster_id]`
    * ([[VectorOps.residual]]) — the IVFADC layout (Jégou et al. 2011,
    * §IV.B). Same storage footprint as the raw-vector code store
    * (m·log2(|book|) bits per vector), strictly better use of it in
    * production where the books are trained on residuals: codes spend
    * their resolution on the within-cluster displacement instead of
    * re-encoding the cluster's position. One broadcast join on
    * cluster_id (centroid frames are ≤ thousands of rows) + the fused
    * native encode kernel — map-only over the store, no shuffle of the
    * embeddings. */
  def encodeResidual(
      assigned: DataFrame,
      centroids: DataFrame,
      books: DataFrame): DataFrame =
    assigned
      .join(broadcast(centroids), Seq("cluster_id"))
      .crossJoin(broadcast(books))
      .select(col("id"), col("cluster_id"),
        VectorOps.pqCodes(
          VectorOps.residual(col("embedding"), col("centroid")),
          col("books")).as("codes"))

  /** Residual-ADC probe — the IVFADC serving shape over an
    * [[encodeResidual]] store. The LUTs are per (query, PROBED CLUSTER):
    * within cluster `c` the stored code approximates `v − centroid[c]`,
    * so the matching query-side table is `luts_c[sub][code] =
    * ‖(q − centroid[c])_sub − books[sub][code]‖²` and
    * `Σ_sub luts_c[sub][codes[sub]] ≈ ‖q − v‖²`. Cost of the LUT build
    * is ≤ probes·m·|book| doubles — a tiny broadcast frame keyed by
    * cluster_id — and the candidate scan stays m lookups + m−1 adds per
    * record. The probe runs on the driver ([[probe]]): the centroids and
    * the store are filtered on the probed ids (static partition pruning
    * when the code store is disk-partitioned by cluster_id, same as
    * [[queryAdc]]) and the broadcast join on cluster_id delivers each
    * candidate its cluster's table. Output `(id, distance)`
    * ascending, ties to the smaller id, bounded top-k. */
  def queryAdcResidual(
      centroids: DataFrame,
      codeStore: DataFrame,
      books: DataFrame,
      query: DataFrame,
      k: Int,
      probes: Int = 32): DataFrame = {
    val q = Knn.QueryRow(query)
    val probed = probedIds(ProbeCentroids(centroids), q, probes, Metric.Euclidean)
    val cluts = inClusters(centroids, probed)
      .crossJoin(broadcast(books))
      .select(col("cluster_id"),
        VectorOps.pqLuts(
          VectorOps.residual(q.literal("qvec"), col("centroid")),
          col("books")).as("luts"))
    inClusters(codeStore, probed)
      .join(broadcast(cluts), Seq("cluster_id"))
      .withColumn("distance", VectorOps.adcDistance(col("codes"), col("luts")))
      // same invalid-candidate guard as queryAdc: NULL sorts first
      .where(col("distance").isNotNull && !isnan(col("distance")))
      .orderBy(col("distance").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("distance"))
  }

  /** Batch twin of [[queryAdcResidual]]: many queries against the
    * residual code store. Each query's probe list is cut by
    * [[probeBatch]]; LUTs live per (query, probed cluster) — the
    * broadcast frame is ≤ |queries|·probes rows of m·|book| doubles —
    * and the single cluster_id join both prunes the store to probed
    * clusters and fans each candidate out to exactly the queries probing
    * its cluster. Top-k per query via the two-phase bounded heap
    * ([[graft.functions.TopKPairsAgg]]) — no ranking window over
    * candidates. */
  def queryAdcResidualBatch(
      centroids: DataFrame,
      codeStore: DataFrame,
      books: DataFrame,
      queries: DataFrame,
      k: Int,
      probes: Int = 32): DataFrame = {
    require(k > 0, "k must be positive")
    val cluts = probeBatch(centroids, queries, col("qvec"), Metric.Euclidean, probes)
      .select(col("query_id"), col("cluster_id"), col("centroid"), col("qvec"))
      .crossJoin(broadcast(books))
      .select(col("query_id"), col("cluster_id"),
        VectorOps.pqLuts(
          VectorOps.residual(col("qvec"), col("centroid")),
          col("books")).as("luts"))
    val candidates = codeStore
      .join(broadcast(cluts), Seq("cluster_id"))
      .withColumn("distance", VectorOps.adcDistance(col("codes"), col("luts")))
      // NULLs are skipped by the heap, but NaN would fill an underfull
      // one — same guard as the single-query twin
      .where(col("distance").isNotNull && !isnan(col("distance")))
      .select(col("query_id"), col("distance"), col("id"))
    Knn.topKPerQueryPairs(candidates, k)
  }

  /** Batch analog of the reference's ADAPTIVE CLUSTER SPLIT (O9/O11,
    * `src/cores/index.rs:127-132` split trigger, `282-308` 2-means
    * split): every cluster whose population exceeds `density` is split by
    * a seeded 2-means over its members — the first sub-centroid REPLACES
    * the old cluster id, the second is APPENDED under a fresh id, exactly
    * the reference's replace-and-append (`index.rs:295-300`). Centroid
    * updates are exact per-dimension means (the reference's INTENT for
    * O10 — its running-mean formula is a documented bug, SURVEY.md §2).
    *
    * All set-based: sizes via one groupBy; the 2-means loop joins members
    * against a broadcast 2-row-per-cluster centroid frame (3 fixed
    * rounds, each materializing only the tiny centroid frame ON THE
    * EXECUTORS via `localCheckpoint` — no driver round-trip); ALL
    * oversized clusters split concurrently in one pass — the batch shape
    * of the reference's one-insert-one-split loop.
    *
    * No-progress guard: a cluster a 2-means cannot separate (all-identical
    * embeddings, so the farthest-point seed coincides with seed-0, or a
    * final assignment that leaves sub-1 empty) is DROPPED from the split
    * set — its rows keep their assignment and no empty centroid is
    * appended. When nothing is splittable the input model is returned
    * UNCHANGED (reference-equal, `eq`), so fixed-point loops like
    * [[splitRounds]] terminate instead of appending empty clusters
    * forever.
    *
    * The result is a finished index version: its assignment is
    * checkpointed once ([[graft.Caching.truncate]], eager) and the step's
    * oversized-members cache is released before it returns, so a caller
    * reads and re-reads it without re-running the Lloyd chain. Run it to
    * `maxClusterSize ≤ density` with [[splitRounds]]. */
  def refine(model: Model, density: Int, metric: Metric = Metric.Euclidean): Model = {
    require(density > 0, s"density must be positive, got $density")
    val oversizedIds = splitSet(model.assigned, density).select("cluster_id")
    if (oversizedIds.isEmpty) model
    else finished(model,
      model.assigned.join(broadcast(oversizedIds), Seq("cluster_id"), "left_semi"))(
      refineMembers(model, _, metric))
  }

  /** The split set both split steps share: every cluster over `density`
    * with its size `__n`. The unassigned sentinel `cluster_id = -1` (a
    * row with no finite distance to any centroid, [[assign]]) is not a
    * cluster — it has no centroid, and its rows may not even have the
    * index's width — so it is never split; [[maintenancePlan]], which
    * lists the centroid set, never plans it either. */
  private def splitSet(assigned: DataFrame, density: Int): DataFrame =
    assigned.where(col("cluster_id") >= 0)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("__n"))
      .where(col("__n") > density)

  /** A split step's result as a finished index version: `split` runs over
    * the persisted `members` of the split set, its assignment is
    * checkpointed once, and the members cache is released before the
    * step returns — the checkpoint holds everything the new version
    * reads. Only the BIG frame is checkpointed: the centroid plan nests
    * one tiny, broadcast-joined layer per round (linear growth; its
    * anti-join/union stats don't multiply), so re-evaluating it stays
    * cheap while skipping a materialization job per round.
    * `None` (no cluster in the split set could be separated)
    * returns `model` itself, the fixed point [[splitRounds]] stops on. */
  private def finished(model: Model, members: DataFrame)(
      split: DataFrame => Option[Model]): Model = {
    members.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try split(members) match {
      case None => model
      case Some(m) => Model(m.centroids, graft.Caching.truncate(m.assigned, eager = true))
    } finally members.unpersist()
  }

  /** [[refine]]'s binary 2-means over the persisted split-set members. */
  private def refineMembers(model: Model, members: DataFrame, metric: Metric): Option[Model] = {
    val assigned = model.assigned

    // Deterministic seeding: sub-0 = the min-id member; sub-1 = the
    // member farthest from it (ties → min id) — the farthest-point
    // heuristic, deterministic where the reference seeds randomly
    // (kmeans.rs:94-98; determinism policy SURVEY.md §7.4). min_by /
    // max_by aggregates, NOT per-cluster row_number windows: an argmin
    // aggregate combines map-side partials, where a window must
    // shuffle-and-sort every member row per round. A cluster whose
    // farthest member sits at distance 0 (or NaN) from seed-0 is
    // degenerate — every member is identical — and is excluded here.
    val seed0 = members.groupBy(col("cluster_id"))
      .agg(min_by(col("embedding"), col("id")).as("__s0"))
    val seed1 = members.join(broadcast(seed0), Seq("cluster_id"))
      .withColumn("__d", metric.distance(col("embedding"), col("__s0")))
      .groupBy(col("cluster_id"))
      .agg(max(col("__d")).as("__dmax"),
        max_by(col("embedding"), struct(col("__d"), -col("id"))).as("__s1"))
      .where(col("__dmax") > 0 && !isnan(col("__dmax")))
      .select(col("cluster_id"), col("__s1"))

    def lloydRound(cent: DataFrame): DataFrame = {
      // cent: (cluster_id, __s0, __s1[, __has1]) — one row per splitting
      // cluster. Sub-centroid update via the native vector-mean aggregate
      // ([[graft.functions.VectorMeanAgg]]): one (count, Σ) buffer per
      // (cluster, sub) — the posexplode+avg twin multiplied the member
      // rows by the vector width before every shuffle. `__has1` records
      // whether sub-1 received ANY member under this round's assignment —
      // the no-progress signal, captured here for free instead of via a
      // separate members pass.
      val sub = members.join(broadcast(cent.select("cluster_id", "__s0", "__s1")),
          Seq("cluster_id"))
        .withColumn("__sub",
          when(metric.distance(col("embedding"), col("__s0")) <=
               metric.distance(col("embedding"), col("__s1")), 0).otherwise(1))
      // r4-QUANTIZED means ([[graft.functions.VectorMeanAgg.vectorMeanQ4]]):
      // refine is a DETERMINISTIC build an independent engine replays
      // (the ivf_refine_stats / ivf_balanced_stats oracles restate the
      // whole seed → Lloyd → reassign chain in SQL), and the raw double
      // sum is partial-order-dependent in its low bits — the 1e-4 grid
      // makes both engines' means identical, so every downstream distance
      // comparison (and hence the final cluster census) is exact. A 1e-4
      // perturbation of a centroid is far below any clustering signal.
      val means = sub
        .groupBy(col("cluster_id"), col("__sub"))
        .agg(graft.functions.VectorMeanAgg.vectorMeanQ4(col("embedding")).as("__c"))
      val m0 = means.where(col("__sub") === 0).select(col("cluster_id"), col("__c").as("__m0"))
      val m1 = means.where(col("__sub") === 1).select(col("cluster_id"), col("__c").as("__m1"))
      // an emptied sub-cluster keeps its previous centroid (the reference
      // reseeds empties, kmeans.rs:151-156; keeping is the deterministic twin)
      cent.join(m0, Seq("cluster_id"), "left_outer")
        .join(m1, Seq("cluster_id"), "left_outer")
        .select(col("cluster_id"),
          coalesce(col("__m0"), col("__s0")).as("__s0"),
          coalesce(col("__m1"), col("__s1")).as("__s1"),
          col("__m1").isNotNull.as("__has1"))
    }

    // Each round truncates lineage with a LAZY `localCheckpoint`: the
    // logical plan is cut to a LogicalRDD at call time — lloydRound
    // references its input twice, so keeping the lineage would double the
    // logical plan per round (exponential plan blowup — observed as an
    // explain-string OOM at 5 rounds) — while materialization defers to
    // first use, so the whole seed→Lloyd chain executes as ONE job (the
    // `effIds` action below) with each level's blocks cached as
    // executor-held partitions along the way. Unlike the round-2
    // collect+re-broadcast, nothing proportional to cluster count moves
    // through the driver. The cut also resets the checkpoint's inherited
    // statistics ([[graft.Caching.truncate]]).
    // centPrev = the centroids the FINAL assignment runs under; cent =
    // the means of that assignment (proper Lloyd: each stored centroid is
    // exactly the mean of the members assigned to it).
    var centPrev = graft.Caching.truncate(seed0.join(seed1, Seq("cluster_id")), eager = false)
    var cent = centPrev
    (1 to SplitIters).foreach { _ =>
      centPrev = cent
      cent = graft.Caching.truncate(lloydRound(cent), eager = false)
    }

    // Effective splits: clusters whose sub-1 actually received members in
    // the final Lloyd assignment (`__has1`, captured inside the round — no
    // extra members pass). A split that leaves sub-1 empty makes no
    // progress (the cluster stays oversized and an empty centroid would
    // be appended every call — an infinite loop for density fixed-point
    // callers), so such clusters are dropped from the split set.
    //
    // id allocation: sub-0 keeps the old cluster_id; sub-1 gets
    // max(cluster_id) + rank (append semantics, index.rs:295-300). The
    // rank is assigned in THE one small driver materialization — the
    // effective-split id list, plain ints bounded by kMax (≤ 256 KiB) —
    // instead of a partitionless global window over a distributed frame
    // (which single-partitions the frame and floods logs with
    // `WindowExec: No Partition Defined`).
    val effIds = cent.where(col("__has1")).select("cluster_id")
      .collect().map(_.getInt(0)).sorted
    if (effIds.isEmpty) return None
    val maxId = model.centroids.agg(max(col("cluster_id"))).head().getInt(0)
    val spark = assigned.sparkSession
    import spark.implicits._
    val newIds = effIds.zipWithIndex.toSeq
      .map { case (cid, i) => (cid, maxId + 1 + i) }
      .toDF("cluster_id", "__new_id")
    val effOnly = newIds.select("cluster_id")

    // Final assignment under centPrev — the centroids the stored means
    // were computed from, so membership and centroid values are mutually
    // consistent (one exact Lloyd step).
    val subAssigned = members
      .join(broadcast(centPrev.select("cluster_id", "__s0", "__s1")), Seq("cluster_id"))
      .withColumn("__sub",
        when(metric.distance(col("embedding"), col("__s0")) <=
             metric.distance(col("embedding"), col("__s1")), 0).otherwise(1))
      .join(broadcast(newIds), Seq("cluster_id"))
      .withColumn("cluster_id",
        when(col("__sub") === 0, col("cluster_id")).otherwise(col("__new_id")))
    val keptMembers = assigned.join(broadcast(effOnly), Seq("cluster_id"), "left_anti")
    val newAssigned = keptMembers.unionByName(
      subAssigned.select(keptMembers.columns.map(col): _*))

    val keptCentroids = model.centroids
      .join(broadcast(effOnly), Seq("cluster_id"), "left_anti")
    val splitCentroids = cent.join(broadcast(newIds), Seq("cluster_id"))
      .select(
        col("cluster_id"), col("__s0"), col("__s1"), col("__new_id"))
    val newCentroids = keptCentroids
      .unionByName(splitCentroids.select(col("cluster_id"), col("__s0").as("centroid")))
      .unionByName(splitCentroids.select(col("__new_id").as("cluster_id"), col("__s1").as("centroid")))

    Some(Model(newCentroids, newAssigned))
  }

  /** Lloyd steps per split step, both [[refine]] and [[splitKWay]]: 1
    * step leaves seed-Voronoi cuts so lopsided that a split loop needs
    * extra full rounds (measured strictly slower end-to-end); past ~3,
    * extra steps no longer reduce the round count under the 1.3×
    * over-split — they are pure added stage latency in the checkpoint
    * chain. The `ivf_refine_stats` / `ivf_balanced_stats` oracles unroll
    * exactly 3. */
  private val SplitIters = 3

  /** Cap on how many sub-clusters one [[splitKWay]] step creates per
    * oversized cluster: bounds the per-row argmin fold and the packed
    * broadcast sub-centroid row. A cluster needing more pieces is split
    * again next round — 256-ary instead of binary progress, so the round
    * count is log_256, not log_2. */
  private val MaxWay = 256

  /** [[splitKWay]]'s piece count for a cluster of `n` rows, which
    * [[maintenancePlan]] reports as `split_way`: `ceil(n·1.3/density)`,
    * at most [[MaxWay]]. The 1.3× over-split: pieces sized for MEAN
    * fill = density would leave every above-average Lloyd cell a
    * straggler needing another full round (assignment pass +
    * checkpoint); 30% slack lands most cells under density in one round,
    * trading slightly lower fill for round count. */
  private def splitWay(n: Column, density: Int): Column =
    least(ceil(n.cast("double") * 1.3 / density), lit(MaxWay)).cast("int")

  /** Per-cluster sub-centroid argmin — the [[assign]] fold scoped to the
    * packed `(cluster_id, array<(sub, centroid)>)` row each member joined.
    * Ties break to the lowest sub; NaN distances never win. */
  private def argminSub(metric: Metric): Column =
    aggregate(
      col("__subs"),
      struct(lit(-1).as("sub"), lit(Double.MaxValue).as("dist")),
      (acc, c) => {
        val d = metric.distance(col("embedding"), c.getField("__c"))
        val sub = c.getField("__sub")
        val closer = !isnan(d) &&
          (d < acc.getField("dist") ||
            (d === acc.getField("dist") && sub < acc.getField("sub")))
        when(closer, struct(sub.as("sub"), d.as("dist"))).otherwise(acc)
      }).getField("sub")

  /** K-WAY batch split — [[refine]]'s multi-round 2-means collapsed into
    * one round: every cluster over `density` splits directly into
    * [[splitWay]] sub-clusters (`ceil(n·1.3/density)`, at most 256) via a
    * seeded per-cluster Lloyd. [[refine]] keeps the reference's
    * replace-and-append semantics exactly (ONE appended cluster per
    * split, `index.rs:295-300`); this
    * is the scale path for [[buildBalanced]], where walking from a
    * kMax-capped coarse build down to density with binary splits costs
    * log2(coarse/density) full assignment passes + checkpoints.
    *
    * Same scale shape as [[refine]]: sizes via one groupBy; seeds are the
    * min-id member of each of k_c deterministic hash buckets (a min_by
    * aggregate — no per-cluster window, map-side combinable); each Lloyd
    * step joins members against the broadcast packed sub-centroids and
    * argmin-folds ([[assign]]'s shape); means via the native vector-mean
    * aggregate; lineage AND inherited stats truncated per step (lazy
    * [[graft.Caching.truncate]], see [[refine]]). The
    * lowest live sub keeps the old cluster id (replace), the rest append
    * under fresh ids allocated in the one small driver materialization
    * (bounded by the NEW cluster count — the same bound as the centroid
    * frame itself). Degenerate clusters (one live sub — e.g. all-identical
    * members) drop out of the split set unchanged; when nothing is
    * splittable the input model is returned unchanged (`eq`), so
    * [[splitRounds]] terminates. Like [[refine]]'s, the result is a
    * finished version: assignment checkpointed, members cache released. */
  def splitKWay(model: Model, density: Int, metric: Metric = Metric.Euclidean): Model = {
    require(density > 0, s"density must be positive, got $density")
    val targets = splitSet(model.assigned, density)
      .select(col("cluster_id"), splitWay(col("__n"), density).as("__kc"))
    if (targets.isEmpty) model
    else finished(model, model.assigned.join(broadcast(targets), Seq("cluster_id")))(
      splitKWayMembers(model, _, metric))
  }

  /** [[splitKWay]]'s seeded per-cluster Lloyd over the persisted
    * split-set members, each carrying its piece count `__kc`. */
  private def splitKWayMembers(model: Model, members: DataFrame, metric: Metric): Option[Model] = {
    val assigned = model.assigned

    // Seeds: the min-id member of each of k_c id-hash buckets — a
    // deterministic pseudo-random spread in ONE map-side-combinable
    // aggregate. An empty bucket is just a sub that never goes live.
    val seed = members
      .withColumn("__sub", pmod(xxhash64(col("id")), col("__kc")).cast("int"))
      .groupBy(col("cluster_id"), col("__sub"))
      .agg(min_by(col("embedding"), col("id")).as("__c"))

    def packed(cent: DataFrame): DataFrame = cent.groupBy(col("cluster_id"))
      .agg(collect_list(struct(col("__sub"), col("__c"))).as("__subs"))

    def subAssign(cent: DataFrame): DataFrame =
      members.join(broadcast(packed(cent)), Seq("cluster_id"))
        .withColumn("__sub", argminSub(metric))
        .drop("__subs")

    def lloydRound(cent: DataFrame): DataFrame = {
      val means = subAssign(cent)
        .groupBy(col("cluster_id"), col("__sub"))
        .agg(graft.functions.VectorMeanAgg.vectorMean(col("embedding")).as("__m"))
      // an emptied sub keeps its previous centroid (it may re-capture
      // members in a later step) but is marked dead: only subs live under
      // the FINAL assignment become clusters
      cent.join(means, Seq("cluster_id", "__sub"), "left_outer")
        .select(col("cluster_id"), col("__sub"),
          coalesce(col("__m"), col("__c")).as("__c"),
          col("__m").isNotNull.as("__live"))
    }

    // centPrev = the centroids the FINAL assignment runs under; cent =
    // the means of that assignment (each stored centroid is exactly the
    // mean of its final members — one consistent Lloyd step, like refine).
    var centPrev = graft.Caching.truncate(seed, eager = false)
    var cent = centPrev.withColumn("__live", lit(true))
    (1 to SplitIters).foreach { _ =>
      val base = cent.select("cluster_id", "__sub", "__c")
      centPrev = base
      cent = graft.Caching.truncate(lloydRound(base), eager = false)
    }

    // The one small driver materialization: live (cluster, sub) pairs of
    // the final round — plain ints bounded by the new cluster count.
    val live = cent.where(col("__live")).select(col("cluster_id"), col("__sub"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val bySplit = live.groupBy(_._1).filter(_._2.length >= 2)
    if (bySplit.isEmpty) return None
    val maxId = model.centroids.agg(max(col("cluster_id"))).head().getInt(0)
    // lowest live sub keeps the old cluster id; the rest append in
    // deterministic (cluster_id, sub) order. The (cid, -1, cid) row keeps
    // members with NO finite distance to any sub (NaN embeddings — argmin
    // returns -1, mirroring the reference's "NaN never wins") under the
    // old cluster id instead of silently dropping out of the assignment.
    var next = maxId
    val mapping = bySplit.toSeq.sortBy(_._1).flatMap { case (cid, pairs) =>
      val subs = pairs.map(_._2).sorted
      (cid, -1, cid) +: (cid, subs.head, cid) +: subs.tail.map { s => next += 1; (cid, s, next) }
    }
    val spark = assigned.sparkSession
    import spark.implicits._
    val mapDf = mapping.toDF("cluster_id", "__sub", "__tid")
    val splitIdsDf = bySplit.keys.toSeq.sorted.toDF("cluster_id")

    // membership under centPrev — consistent with the stored means
    val splitAssigned = subAssign(centPrev)
      .join(broadcast(mapDf), Seq("cluster_id", "__sub"))
      .withColumn("cluster_id", col("__tid"))
    val keptMembers = assigned.join(broadcast(splitIdsDf), Seq("cluster_id"), "left_anti")
    val newAssigned = keptMembers.unionByName(
      splitAssigned.select(keptMembers.columns.map(col): _*))

    val keptCentroids = model.centroids
      .join(broadcast(splitIdsDf), Seq("cluster_id"), "left_anti")
    val splitCentroids = cent.where(col("__live"))
      .join(broadcast(mapDf), Seq("cluster_id", "__sub"))
      .select(col("__tid").as("cluster_id"), col("__c").as("centroid"))
    val newCentroids = keptCentroids.unionByName(splitCentroids)

    Some(Model(newCentroids, newAssigned))
  }

  /** Cluster COMPACTION — the inverse of [[splitKWay]]: clusters drained
    * below `minSize` are dissolved and their members re-assigned to the
    * nearest SURVIVING centroid. The reference's adaptive index only ever
    * splits (`src/cores/index.rs:106-135`); its delete path
    * (`index.rs:142-161`) removes rows but never retires a cluster, so a
    * churned store accumulates near-empty posting lists. Probe budgets
    * are cluster-COUNT-based (`index.rs:176-182`): every probe spent on a
    * drained cluster buys almost no candidates, so recall per scanned row
    * decays with churn. Merge restores the fill floor the way
    * [[splitKWay]] restores the density ceiling.
    *
    * Semantics (all deterministic, oracle-replayable):
    *   - survivors = clusters with at least `minSize` assigned rows;
    *     their centroids are UNCHANGED (quantizer anchors — re-center by
    *     composing with [[refine]], exactly as after a split);
    *   - a centroid with NO assigned rows always dissolves (size 0 —
    *     the drained-to-empty case this operator exists for);
    *   - donor members re-assign via [[assign]] against the survivor
    *     centroids only — one map-side pass over JUST the donor rows
    *     (under [[writePartitioned]] the donor scan partition-prunes to
    *     the dissolved clusters; never a store scan);
    *   - if EVERY populated cluster is under the floor, the largest
    *     (ties → lowest cluster_id) survives — a merge over a non-empty
    *     store never empties the index;
    *   - no donors → the input model returns REFERENCE-EQUAL (the
    *     [[splitKWay]] fixed-point guard), so a maintenance loop's
    *     convergence test is `merged eq model`;
    *   - a donor row with no finite distance to any survivor keeps
    *     `cluster_id = -1` (NaN never wins — `index.rs:189-193`): never
    *     probed, still stored.
    *
    * At 100 TB: `sizes` is one map-side-combinable count (footer-cheap
    * off the partitioned layout's partition column), the survivor id set
    * is cluster-count-bounded and broadcasts, and the kept side of the
    * store moves through a broadcast semi-join — the store itself never
    * shuffles. */
  def mergeSmall(
      model: Model,
      minSize: Long,
      metric: Metric = Metric.Euclidean): Model = {
    require(minSize > 0, s"minSize must be positive, got $minSize")
    val sizes = model.assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("__n"))
    val bigEnough = sizes.where(col("__n") >= minSize)
    // all-donor guard: with every populated cluster under the floor,
    // the largest (ties -> lowest id) survives
    val survivorIds =
      (if (bigEnough.isEmpty)
        sizes.orderBy(col("__n").desc, col("cluster_id").asc).limit(1)
      else bigEnough).select("cluster_id")
    val donorCentroids = model.centroids
      .join(broadcast(survivorIds), Seq("cluster_id"), "left_anti")
    if (donorCentroids.isEmpty) return model
    val survivors = model.centroids
      .join(broadcast(survivorIds), Seq("cluster_id"), "left_semi")
    val kept = model.assigned
      .join(broadcast(survivorIds), Seq("cluster_id"), "left_semi")
    val moved = assign(
      model.assigned
        .join(broadcast(survivorIds), Seq("cluster_id"), "left_anti")
        .drop("cluster_id"),
      survivors, metric)
    Model(survivors, kept.unionByName(moved.select(kept.columns.map(col): _*)))
  }

  /** The maintenance PLANNER — the read-only census an operator runs
    * before scheduling [[splitKWay]] / [[mergeSmall]] work: one row per
    * centroid with its fill and the action the two maintenance ops would
    * take at these knobs. `action` is `split` above `density` (the
    * reference's max-records-per-cluster contract,
    * `src/cores/database.rs:16-22`), `merge` below `minSize` (including
    * fill 0 — [[mergeSmall]] always dissolves empty clusters, so the
    * planner lists them from the CENTROID set, not the assignment), else
    * `ok` — INCLUDING [[mergeSmall]]'s all-donor guard: when every
    * populated cluster is under the floor, the one that would survive
    * (largest fill, ties → lowest id) reads `ok`, so the plan never
    * schedules a merge the executor would refuse.
    * `split_way` is [[splitKWay]]'s own piece count, the one
    * [[splitWay]] column both use (`ceil(n·1.3/density)`, at most 256),
    * null for non-split rows, so the plan states exactly what the
    * executor would do, not an approximation of it.
    *
    * The plan enumerates the CENTROID set: assigned rows under a
    * cluster_id with no centroid row (a corrupt store) are not listed —
    * they surface through the store-integrity checks, and [[mergeSmall]]
    * heals them when under the floor (re-assigned to a real survivor).
    *
    * At 100 TB this is one map-side-combinable count plus a
    * centroid-set left join (cluster-count-bounded output) — the
    * dashboard is free relative to either action it schedules. */
  def maintenancePlan(
      model: Model,
      density: Int,
      minSize: Long): DataFrame = {
    require(density > 0, s"density must be positive, got $density")
    require(minSize > 0, s"minSize must be positive, got $minSize")
    val sizes = model.assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("__n"))
    val base = model.centroids.select(col("cluster_id"))
      .join(sizes, Seq("cluster_id"), "left_outer")
      .select(col("cluster_id"), coalesce(col("__n"), lit(0L)).as("n"))
    // the all-donor guard as one broadcast 1-row aggregate over the
    // cluster-count-bounded census (no partition-less window): whether
    // any cluster clears the floor, and the guard survivor otherwise
    // (largest populated fill, ties -> lowest id; null on an empty
    // store, where everything dissolves)
    val guard = base.agg(
      max(when(col("n") >= minSize, lit(1)).otherwise(lit(0))).as("__anyBig"),
      max_by(when(col("n") > 0, col("cluster_id")),
        when(col("n") > 0, struct(col("n"), (-col("cluster_id")).as("__negid"))))
        .as("__topc"))
    base.crossJoin(broadcast(guard))
      .withColumn("action",
        when(col("n") > density, lit("split"))
          .when(col("n") < minSize &&
            !(col("__anyBig") === 0 && (col("cluster_id") <=> col("__topc"))),
            lit("merge"))
          .otherwise(lit("ok")))
      .withColumn("split_way", when(col("n") > density, splitWay(col("n"), density)))
      .drop("__anyBig", "__topc")
  }

  /** What a [[splitRounds]] loop ran: the last index version, how many
    * split rounds changed it, and whether it stopped at the fixed point
    * (a round returned its input, `eq` — nothing left it could split)
    * rather than at the round cap. */
  final case class SplitRun(model: Model, rounds: Int, converged: Boolean)

  /** The split-round loop — split to density in one place: apply `step`
    * ([[refine]] or [[splitKWay]] at the caller's density; the choice of
    * binary or k-way splitting is the caller's) until a round returns its
    * input unchanged or `maxRounds` rounds have changed it. Each step
    * returns a finished version (checkpointed assignment), so rounds
    * never nest lineage and nothing here touches a step's caches. At the
    * cap the run reports `converged = false` with `rounds == maxRounds`;
    * a model with nothing splittable comes back as itself (`eq`), 0
    * rounds, converged. */
  def splitRounds(model: Model, maxRounds: Int)(step: Model => Model): SplitRun = {
    @annotation.tailrec
    def loop(m: Model, rounds: Int): SplitRun =
      if (rounds >= maxRounds) SplitRun(m, rounds, converged = false)
      else {
        val next = step(m)
        if (next eq m) SplitRun(m, rounds, converged = true) else loop(next, rounds + 1)
      }
    loop(model, 0)
  }

  /** Two-level build (SURVEY.md §2 O9 at any n): [[build]]'s single-level
    * k-means caps k at `kMax`, beyond which the density contract degrades
    * gracefully (bigger clusters). This composes the coarse build with the
    * adaptive-split loop — [[splitKWay]] until every cluster is within
    * `density` or no split can make progress — so max-records-per-cluster
    * (`src/cores/database.rs:16-22`) holds for ANY table size: the coarse
    * level bounds the k-means fit, the split level restores density with
    * per-cluster k-way Lloyd splits, each round one bounded distributed
    * pass. One k-way round replaces log2(coarse/density) binary refine
    * rounds — at kMax=4 over sf0.1 that's 2 rounds instead of ~9, each
    * round dominated by the full-assignment checkpoint.
    *
    * Lineage AND statistics are truncated per round
    * ([[graft.Caching.truncate]] — see [[refine]]) — the assignment frame
    * would otherwise nest one union+join layer per round and its
    * inherited stats would compound into driver-grinding BigInts. At
    * warehouse scale, round boundaries would instead persist to the
    * partitioned store ([[writePartitioned]]) — same truncation, durable. */
  def buildBalanced(
      records: DataFrame,
      density: Int,
      metric: Metric = Metric.Euclidean,
      seed: Long = 42L,
      kMax: Int = DefaultKMax): Model = {
    // loose coarse fit (3 Lloyd iterations): the split loop below refines
    // every oversized cluster anyway, so converging the coarse centroids
    // first is wasted work — only their seeded determinism and rough
    // placement matter, and each MLlib iteration is a scheduled job
    // (fixed latency that dwarfs the math at fit-sample scale).
    val coarse = build(records, density, metric, seed, kMax, maxIter = 3)
    // checkpoint the coarse assignment once: each split round actions the
    // assignment several times (sizes, members, final anti-join) — raw,
    // every action would re-run the scan + argmin assign pass.
    // 32 rounds is unreachable headroom: each k-way round multiplies the
    // worst cluster's piece count by up to 256 (binary-split refine would
    // already cover a 2^32× density violation in 32).
    splitRounds(Model(coarse.centroids, graft.Caching.truncate(coarse.assigned, eager = true)),
      maxRounds = 32)(splitKWay(_, density, metric)).model
  }

  /** DETERMINISTIC two-level build: a caller-supplied coarse partition
    * (fixed centroids here; any kMax-bounded coarse model) refined to
    * the density contract by repeated BINARY adaptive splits
    * ([[refine]]), at most 12 rounds, stopping early at the fixed
    * point. [[buildBalanced]] (k-way splits over an MLlib coarse
    * fit) is the production fast path — log_256 rounds instead of
    * log₂ — but its coarse fit is engine-internal; THIS build is
    * replayable step by step by an independent engine (seeded argmin
    * assignment, min-id/farthest-point 2-means seeding, r4-quantized
    * exact means), which is what lets the `ivf_balanced_stats` oracle
    * state the exact final cluster census instead of boolean
    * invariants. Semantics of "up to 12 rounds" are part of the
    * contract both engines share: a corpus that needs more rounds
    * leaves the same residual oversize on both sides. */
  def buildBalancedRefine(
      records: DataFrame,
      coarse: DataFrame,
      density: Int,
      metric: Metric = Metric.Euclidean): Model =
    // 12 rounds, the count the `ivf_balanced_stats` oracle unrolls: binary
    // splits are UNEVEN (farthest-point seeds cut where the data is
    // widest, not where the median sits), so the budget must exceed
    // log2(coarse cluster / density) — 6 rounds left a 92-doc cluster at
    // density 64 from ~500-doc coarse clusters
    splitRounds(Model(coarse, graft.Caching.truncate(assign(records, coarse, metric), eager = true)),
      maxRounds = 12)(refine(_, density, metric)).model

  /** Batch probed ANN: many queries against the index at once, each
    * pruned to its own nearest `probes` clusters.
    *
    * Plan shape (the part that must survive 100 TB):
    *   1. queries × centroids is a broadcast cross of two SMALL frames;
    *      the per-query ranking window ([[probeBatch]]) runs over
    *      ≤ |queries|·k_centroids rows — never the data table.
    *   2. The big `assigned` table joins the broadcast (query_id,
    *      cluster_id, qvec) probe list on `cluster_id` — each record
    *      meets only the queries probing its cluster (with disk
    *      partitioning by cluster_id this is partition pruning), versus
    *      the brute-force record × query cross of [[Knn.searchBatch]].
    *   3. Per-query two-phase top-k ([[Knn.topKPerQuery]]) — no
    *      full-candidate funnel through one task. */
  def queryBatch(
      model: Model,
      queries: DataFrame,
      k: Int,
      probes: Int = 32,
      metric: Metric = Metric.Euclidean,
      radius: Double = Double.PositiveInfinity,
      filter: Column = lit(true)): DataFrame = {
    require(k > 0, "k must be positive")
    val probedQ = probeBatch(model.centroids, queries, col("qvec"), metric, probes)
      .select(col("query_id"), col("cluster_id"), col("qvec"))
    val dist = metric.distance(col("embedding"), col("qvec"))
    val candidates = model.assigned
      .join(broadcast(probedQ), Seq("cluster_id"))
      .withColumn("distance", dist)
      .where(!isnan(col("distance")) && col("distance") <= lit(radius))
      .where(filter)
      .select(col("query_id"), col("distance"), col("id"))
    Knn.topKPerQuery(candidates, model.assigned, k)
  }

  /** Probe-SWEEP evaluation: [[query]]'s top-k at EVERY probe count in
    * `probePoints`, from ONE scan of the assignment — the recall-curve /
    * parameter-tuning pass (`ivf_recall_curve`). Re-running [[query]]
    * per probe point costs Σ_p (p/k_centroids) full distance scans
    * (≈ 2.9× the corpus for the {1,2,4,8,all} sweep); here each record's
    * exact distance is computed once, and only NARROW
    * `(probes, distance, id)` rows fan out to the probe points that
    * admit the record's cluster.
    *
    * Exactness: a cluster's centroid RANK under [[probe]]'s order
    * (NaN-last, ties to the lower cluster_id — `index.rs:269-272`) is a
    * total order, so `rank <= p` reproduces [[query]]'s probe list for
    * every p at once; the ranking runs on the driver over the centroid
    * rows — never the data. Per-point top-k is the two-phase bounded
    * heap; output `(probes, id, distance)` is row-identical to [[query]]
    * at each probe count (law-pinned in IvfIndexSpec). The one-model
    * case of [[queryProbeSweepTagged]]. */
  def queryProbeSweep(
      model: Model,
      query: DataFrame,
      k: Int,
      probePoints: Seq[Int],
      metric: Metric = Metric.Euclidean): DataFrame =
    queryProbeSweepTagged(Seq("model" -> model), query, k, probePoints, metric)
      .drop("__model")

  /** [[queryProbeSweep]] over SEVERAL models in ONE pass, and the one
    * body of both: the models' assignment frames are unioned under a
    * `__model` tag, each model's centroids are ranked on the driver
    * ([[probe]]), and the bounded heap runs per (model, probes) — so a
    * before/after dashboard (`ivf_compaction_gain`) pays ONE data-scan
    * chain and ONE top-k aggregation instead of one each per model
    * (guide §2.4: two operations keyed the same way share one exchange).
    * Output `(__model, probes, id, distance)`; each model's rows are
    * those of its own one-model sweep (law-pinned in IvfIndexSpec): the
    * ranks, the rank-prefix fan-out and the heap are all keyed by the
    * tag, so models never mix. */
  def queryProbeSweepTagged(
      models: Seq[(String, Model)],
      query: DataFrame,
      k: Int,
      probePoints: Seq[Int],
      metric: Metric = Metric.Euclidean): DataFrame = {
    val q = Knn.QueryRow(query)
    sweep(models.map { case (t, m) => t -> m.assigned }, taggedRanks(models, q, metric), q,
      k, probePoints, metric.distance(col("embedding"), col("qvec")))
  }

  /** The one body of the probe sweeps: the tagged stores' records joined
    * to their clusters' `(tag, cluster_id, rank)`, each record's
    * `distance` computed once (NaN and null dropped), fanned out to the
    * budgets that admit its rank, and a bounded heap per (tag, probes).
    * Emits `(__model, probes, id, distance)`. */
  private def sweep(
      stores: Seq[(String, DataFrame)],
      ranks: Seq[(String, Int, Int)],
      q: Knn.QueryRow,
      k: Int,
      probePoints: Seq[Int],
      distance: Column): DataFrame = {
    require(k > 0, "k must be positive")
    require(probePoints.nonEmpty, "probePoints must be non-empty")
    val spark = stores.head._2.sparkSession
    import spark.implicits._
    val asg = stores.map { case (t, a) =>
      a.select(lit(t).as("__model"), col("cluster_id"), col("id"), col("embedding"))
    }.reduce(_ unionByName _)
    val ranked = ranks.toDF("__model", "cluster_id", "__rank")
    val points = probePoints.toDF("probes")
    val cands = q.attachTo(asg.join(broadcast(ranked), Seq("__model", "cluster_id")))
      .withColumn("distance", distance)
      .where(!isnan(col("distance")))
      .select(col("__model"), col("id"), col("__rank"), col("distance"))
      .join(broadcast(points), col("__rank") <= col("probes"))
      // the (model, probes) pair IS the heap key: topKPerQueryPairs
      // groups by the whole query_id column, struct or scalar alike
      .select(struct(col("__model"), col("probes")).as("query_id"),
        col("distance"), col("id"))
    Knn.topKPerQueryPairs(cands, k)
      .select(col("query_id.__model").as("__model"),
        col("query_id.probes").as("probes"), col("id"), col("distance"))
  }

  /** [[probeCost]] over SEVERAL models in ONE pass, and the one body of
    * both — the cost half of the tagged-union dashboard machinery (see
    * [[queryProbeSweepTagged]]): one tagged sizes rollup, one driver-side
    * ranking per model ([[probe]]), one rank-prefix aggregate, and the
    * totals as one two-count row per model. Output adds `__model` in
    * front of [[probeCost]]'s columns; each model's rows are those of its
    * own one-model census (law-pinned in IvfIndexSpec). */
  def probeCostTagged(
      models: Seq[(String, Model)],
      query: DataFrame,
      probesList: Seq[Int],
      metric: Metric = Metric.Euclidean): DataFrame = {
    require(probesList.nonEmpty,
      "probeCost needs at least one probe budget (got an empty probesList)")
    val ranks = taggedRanks(models, Knn.QueryRow(query), metric)
    val spark = models.head._2.assigned.sparkSession
    import spark.implicits._
    val asg = models.map { case (t, m) =>
      m.assigned.select(lit(t).as("__model"), col("cluster_id"))
    }.reduce(_ unionByName _)
    val sizes = asg.groupBy(col("__model"), col("cluster_id"))
      .agg(count(lit(1)).as("__csz"))
    val ranked = ranks.toDF("__model", "cluster_id", "__rank")
      // NOTE (r14): broadcast(sizes) was tried here and reverted — both
      // sides are cluster-count-bounded, so the join is tiny either way,
      // and A/B probes could not show a win for the extra
      // BroadcastExchange (a driver collect round-trip per
      // materialization) over the small sort-merge.
      .join(sizes, Seq("__model", "cluster_id"), "left_outer")
    val tags = models.map(_._1).toDF("__model")
    // totals per model as two single-partition counts: deriving
    // store_rows from the sizes rollup was tried and measured WORSE — it
    // duplicates the sizes subtree (re-inlining the whole assignment
    // lineage when a model is not checkpoint-backed) and adds two
    // tag-keyed joins where a cross of 1-row aggregates suffices (r15)
    val totals = models.map { case (t, m) =>
      m.assigned.agg(count(lit(1)).as("store_rows"))
        .select(lit(t).as("__model"), col("store_rows"),
          lit(m.probeCentroids.rowCount).as("store_clusters"))
    }.reduce(_ unionByName _)
    probesList.distinct.toDF("probes").crossJoin(tags)
      // rank-prefix fan-out: budgets × clusters nested-loop on a broadcast
      // cluster-count frame; left join keeps a budget row even when no
      // cluster is probeable (empty/NaN centroid set → n_probed = 0)
      .join(broadcast(ranked),
        ranked("__model") === tags("__model") && col("__rank") <= col("probes"),
        "left_outer")
      .drop(ranked("__model"))
      .groupBy(col("__model"), col("probes"))
      .agg(count(col("cluster_id")).as("n_probed"),
        coalesce(sum(col("__csz")), lit(0L)).as("rows_scanned"))
      .join(broadcast(totals), Seq("__model"))
      .select(col("__model"), col("probes"), col("n_probed"),
        col("rows_scanned"), col("store_rows"), col("store_clusters"),
        // an EMPTY store scans 0 of 0 rows — report 0.0, not null
        when(col("store_rows") === 0L, lit(0.0))
          .otherwise(floor(col("rows_scanned").cast("double") / col("store_rows")
            * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("scan_frac"))
  }

  /** Batch MIPS serving — [[queryBatch]] for DOT-PRODUCT order via the
    * norm-augmentation reduction (Bachrach et al., RecSys 2014): with
    * x̃ = x ++ [√(M² − |x|²)] and q̃ = q ++ [0], |x̃|² is the constant
    * M², so ascending L2 over augmented vectors equals descending dot —
    * the whole IVF probe machinery serves MIPS unchanged. The caller
    * builds the index in AUGMENTED space ONCE per corpus version
    * (`augCentroids` holds augmented centroids; `assigned` keeps the
    * ORIGINAL embeddings for the exact rerank); queries arrive
    * unaugmented and are padded with a literal 0 here.
    *
    * Probe selection per query is the bounded centroids×queries window
    * of [[probeBatch]] (|centroids|·|queries| rows — never the data),
    * the batch twin of [[queryMips]]'s driver probe; the exact dot rerank inside the probed clusters feeds the
    * two-phase bounded heap ([[Knn.topKPerQueryPairs]]) on the NEGATED
    * score — IEEE negation is exact, so ascending −dot is exactly
    * descending dot with ties to the smaller id. NaN scores are dropped
    * on both engines (an underfull heap would otherwise admit NaN).
    * Emits `(query_id, id, score)`, score = the raw dot product. */
  def queryMipsBatch(
      augCentroids: DataFrame,
      assigned: DataFrame,
      queries: DataFrame,
      k: Int,
      probes: Int = 32): DataFrame = {
    require(k > 0, "k must be positive")
    val qAug = concat(col("qvec").cast("array<double>"), array(lit(0.0)))
    val probedQ = probeBatch(augCentroids, queries, qAug, Metric.Euclidean, probes)
      .select(col("query_id"), col("cluster_id"), col("qvec"))
    val cands = assigned
      .join(broadcast(probedQ), Seq("cluster_id"))
      .withColumn("__s",
        graft.functions.NativeExprs.dot(col("embedding"), col("qvec")))
      .where(!isnan(col("__s")))
      .select(col("query_id"), negate(col("__s")).as("distance"), col("id"))
    Knn.topKPerQueryPairs(cands, k)
      .select(col("query_id"), col("id"), negate(col("distance")).as("score"))
  }

  /** Probe-SWEEP evaluation for MIPS — [[queryProbeSweep]]'s one-scan
    * sweep over the norm-augmented geometry of [[queryMips]]: the
    * zero-padded query ranks the AUGMENTED centroids once on the driver
    * ([[probe]] under L2), the store is filtered to the clusters ranked
    * within the largest budget ([[inClusters]]), and the sweep's heap
    * runs on the negated DOT score (NaN scores dropped). Each point's
    * output is row-identical to [[queryMips]] and [[queryMipsBatch]] at
    * that budget (law-pinned in IvfIndexSpec). Emits
    * `(probes, id, score)`. */
  def queryMipsProbeSweep(
      model: Model,
      query: DataFrame,
      k: Int,
      probePoints: Seq[Int]): DataFrame = {
    val q = Knn.QueryRow(query)
    val ranks = taggedRanks(Seq("model" -> model), padded(q), Metric.Euclidean)
      .filter { case (_, _, r) => probePoints.exists(r <= _) }
    sweep(Seq("model" -> inClusters(model.assigned, ranks.map(_._2))), ranks, q, k,
      probePoints, negate(graft.functions.NativeExprs.dot(col("embedding"), col("qvec"))))
      .select(col("probes"), col("id"), negate(col("distance")).as("score"))
  }

  /** The 100 TB layout: posting lists as Parquet partitions. Published
    * like a snapshot ([[graft.sources.Commit.snapshot]]): the index is
    * written to a stage and swapped in by one checked rename, so a
    * failed write leaves the previous index in place, and
    * [[graft.sources.Records.open]] finishes a publish that crashed
    * between delete and rename. */
  def writePartitioned(model: Model, path: String): Unit =
    graft.sources.Commit.snapshot(model.assigned.sparkSession, path)(
      model.assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(_))

  /** Incremental index maintenance from a change log
    * ([[Crud.diff]]'s shape: `id, op ∈ upsert|delete, embedding,
    * metadata`): deletes leave the index, upserts are assigned against
    * the CURRENT centroids and replace any previous row for that id —
    * the reference's per-record insert/delete index updates
    * (`/root/reference/src/cores/index.rs:105-152`) applied as one
    * batch, without re-assigning the unchanged 99.99 %.
    *
    * Law (pinned in IvfIndexSpec): for any two stores,
    * `applyDiff(indexOf(old), diff(old, new))` holds exactly the same
    * (id, cluster) rows as assigning `new` from scratch against the
    * same centroids. Centroids are NOT refit here — density repair
    * stays the split loop's job ([[splitRounds]] of [[splitKWay]] or
    * [[refine]]), exactly as in the ingest path.
    *
    * Plan: one anti-join of the store against the (typically tiny,
    * AQE-broadcast) touched-id set + a map-only assign of the upserts +
    * a narrow union — nothing proportional to the store but the
    * anti-join scan itself. */
  def applyDiff(model: Model, changes: DataFrame, metric: Metric): Model = {
    import org.apache.spark.sql.functions.col
    // Only RECOGNIZED ops participate — the same guard as Crud.merge:
    // unfiltered, a NULL/unknown-op row's id joins the anti-join set
    // while `op === 'upsert'` (NULL) keeps it out of the re-add, i.e. a
    // malformed log row silently DELETES the record from the index while
    // the store keeps it — index and store permanently inconsistent.
    val clean = changes.where(col("op").isin("upsert", "delete"))
    val upserts = clean.where(col("op") === "upsert")
      .select("id", "embedding", "metadata")
    Model(
      model.centroids,
      model.assigned
        .join(clean.select("id").distinct(), Seq("id"), "left_anti")
        .unionByName(assign(upserts, model.centroids, metric)))
  }

  /** [[applyDiff]] for the COMPRESSED code store (`id, cluster_id,
    * codes` — the layout `ivf_adc_store_query` serves from): deletes
    * leave via the anti-join, upserts are assigned against the current
    * centroids and re-encoded against the broadcast codebooks — a
    * map-only pass over just the changed rows, so a 0.01 % change log
    * refreshes a 100 TB code store at 0.01 % of the encode cost. Same
    * incremental == from-scratch law as [[applyDiff]], pinned in
    * IvfIndexSpec. */
  def applyDiffToCodes(
      codeStore: DataFrame,
      changes: DataFrame,
      centroids: DataFrame,
      books: DataFrame,
      metric: Metric): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // same recognized-op guard as applyDiff / Crud.merge: a malformed
    // log row must neither insert nor silently delete
    val clean = changes.where(col("op").isin("upsert", "delete"))
    val upserts = assign(
      clean.where(col("op") === "upsert").select("id", "embedding", "metadata"),
      centroids, metric)
      .crossJoin(broadcast(books))
      .select(col("id"), col("cluster_id"),
        VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
    codeStore
      .join(clean.select(col("id")).distinct(), Seq("id"), "left_anti")
      .unionByName(upserts)
  }

  /** Batch twin of [[queryAdc]]: many queries against the compressed
    * code store. Probe selection per query is the bounded
    * centroids×queries window of [[probeBatch]] (|centroids|·|queries|
    * rows — never the data); every query's LUT rides one broadcast, and
    * the per-query top-k is the two-phase bounded-heap shape
    * ([[graft.functions.TopKPairsAgg]]) — no ranking window over
    * candidates. Emits `(query_id, id, distance)`. */
  def queryAdcBatch(
      centroids: DataFrame,
      codeStore: DataFrame,
      books: DataFrame,
      queries: DataFrame,
      k: Int,
      probes: Int = 32): DataFrame = {
    require(k > 0, "k must be positive")
    val probedQ = probeBatch(centroids, queries, col("qvec"), Metric.Euclidean, probes)
      .select(col("query_id"), col("cluster_id"))
    val luts = queries.crossJoin(broadcast(books))
      .select(col("query_id"), VectorOps.pqLuts(col("qvec"), col("books")).as("luts"))
    val candidates = codeStore
      .join(broadcast(probedQ), Seq("cluster_id"))
      .join(broadcast(luts), Seq("query_id"))
      .withColumn("distance", VectorOps.adcDistance(col("codes"), col("luts")))
      // NULLs are skipped by the heap, but NaN would fill an underfull
      // one — same guard as the single-query twin
      .where(col("distance").isNotNull && !isnan(col("distance")))
      .select(col("query_id"), col("distance"), col("id"))
    Knn.topKPerQueryPairs(candidates, k)
  }
}
