package graft.operators

import graft.types.Metric
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types.{DataType, StructType}

/** Exact k-nearest-neighbor search (reference `src/cores/index.rs:168-214`,
  * minus the IVF pruning which lives in [[IvfIndex]]).
  *
  * Semantics reproduced from the reference:
  *   - NaN / failed distances are skipped (`index.rs:189-193`);
  *   - candidates with `distance > radius` are dropped — strictly-greater
  *     exclusion, i.e. `<=` inclusive (`index.rs:197`); default radius ∞
  *     (`database.rs:35-42`);
  *   - the metadata filter gates BEFORE the top-k heap (`index.rs:197-199`);
  *   - results ascend by distance (`index.rs:213`), with `id` as a
  *     deterministic tiebreak (our addition, for reproducibility);
  *   - result shape is `(id, metadata, distance)` — vector excluded
  *     (`src/cores/index.rs:8-12,13-40`).
  *
  * Scale notes: `orderBy(distance).limit(k)` plans as
  * `TakeOrderedAndProject` — a bounded per-partition heap merged at the
  * driver, the distributed analog of the reference's size-k+1 BinaryHeap
  * (`index.rs:201-209`); no full sort, no full shuffle, driver traffic is
  * k rows per partition. The filter and radius predicates sit below the
  * top-k, so one stage runs scan→distance→filter→heap. The distance is a
  * `CodegenFallback` kernel ([[graft.functions.NativeExprs]]), so the
  * `Filter` and `Project` that evaluate it run outside whole-stage
  * codegen.
  */
object Knn {

  /** A single-vector query resolved on the driver: the one row of a query
    * frame (`None` for a zero-row frame) and the frame's schema. The row
    * is small and the query is answered in one action anyway, so it rides
    * the plan as typed literals ([[attachTo]]) instead of a broadcast
    * cross join: a warm single-query plan is one scan job over the store,
    * with no broadcast exchange and no nested-loop join. */
  private[graft] final case class QueryRow(schema: StructType, row: Option[Row]) {

    /** Column `name` as a typed literal; a typed null for a zero-row frame. */
    def literal(name: String): Column =
      ColumnBridge.column(Literal.create(
        row.map(_.get(schema.fieldIndex(name))).orNull, schema(name).dataType))

    /** `records` with every query column attached as a literal. A zero-row
      * query attaches typed nulls under a false filter, so the result is
      * empty and keeps its schema. */
    def attachTo(records: DataFrame): DataFrame = {
      val attached = records.withColumns(schema.fieldNames.map(n => n -> literal(n)).toMap)
      if (row.isEmpty) attached.where(lit(false)) else attached
    }
  }

  private[graft] object QueryRow {
    /** Collect the query frame: no job for a local frame, one job for a
      * computed one. */
    def apply(query: DataFrame): QueryRow = {
      val rows = query.collect()
      require(rows.length <= 1,
        s"a single-vector query takes a one-row query frame, got ${rows.length} rows")
      QueryRow(query.schema, rows.headOption)
    }
  }

  /** Single-query search. `query` is a one-row frame with column `qvec`
    * (kept as a frame, not a literal argument, so the same code path works
    * when the query vector is itself the result of a computation). Its row
    * is collected to the driver ([[QueryRow]]); a zero-row frame gives an
    * empty result, more rows fail.
    *
    * On a store held in the session cache (`records` itself is a cached
    * plan, [[graft.Caching.ensureCached]]) the call is served from a
    * prepared plan ([[Prepared]]): it runs its one job when called and
    * returns the ≤ k answer rows as a local frame. Concurrent callers
    * each run their own bound copy of the shared prepared plan, with no
    * lock. Any other store gets a lazy frame planned for this query, with
    * the query row attached as literals. */
  def search(
      records: DataFrame,
      query: DataFrame,
      k: Int,
      metric: Metric = Metric.Euclidean,
      radius: Double = Double.PositiveInfinity,
      filter: Column = lit(true),
      dim: Option[Int] = None): DataFrame = {
    val q = QueryRow(query)
    Prepared.serve(records, None, q, k, metric, radius, filter, dim)
      .getOrElse(search(records, q, k, metric, radius, filter, dim))
  }

  private[operators] def search(
      records: DataFrame,
      query: QueryRow,
      k: Int,
      metric: Metric,
      radius: Double,
      filter: Column,
      dim: Option[Int]): DataFrame =
    topK(query.attachTo(records), k, metric, radius, filter, dim)

  /** The exact top-k over `candidates`, which carry the query columns. */
  private def topK(
      candidates: DataFrame,
      k: Int,
      metric: Metric,
      radius: Double,
      filter: Column,
      dim: Option[Int]): DataFrame = {
    require(k > 0, "k must be positive") // reference database.rs:321-325
    val dist = metric.distance(col("embedding"), col("qvec"))
    val dimOk = dim match { // O20, reference database.rs:189-199 call site 319
      case Some(d) => Metric.validDimension(col("embedding"), d) &&
        Metric.validDimension(col("qvec"), d)
      case None => lit(true)
    }
    candidates
      .where(dimOk)
      .withColumn("distance", dist)
      .where(!isnan(col("distance")) && col("distance") <= lit(radius))
      .where(filter)
      .orderBy(col("distance").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("metadata"), col("distance"))
  }

  /** Prepared serving plans: [[search]] and [[IvfIndex.query]] on a
    * store held in the session cache plan each query SHAPE once and bind
    * each query into that plan at run time.
    *
    * A shape is the store frame (by identity, held weakly), the metric,
    * k, radius, `dim`, the filter (its canonicalized expression, literal
    * values included), the query frame's schema, whether the store is
    * restricted to probed clusters and the session's SQL conf (the time
    * zone, ANSI mode and the rest shape analysis and planning). The
    * query row and the probed cluster ids are not part of it: they enter
    * the plan as [[graft.functions.NativeExprs.BoundValue]] slots, one per
    * query column plus one for the ids, so every query of a shape runs
    * the same physical plan and compiles no code after the shape's first
    * call.
    *
    * A call binds by copying the prepared plan with its own values
    * (`transformAllExpressions`); the copy is immutable, so concurrent
    * callers share the prepared plan without a lock. It runs the copy in
    * one job and returns the answer rows as a local frame. The plan's
    * root is its top-k heap (`TakeOrderedAndProjectExec`), and the job
    * runs through [[PlanBridge.takeOrdered]], not the node's
    * `executeCollect`: that one hands three Spark-defined closures to
    * Spark's closure cleaner, which reads and scans the class file of
    * each closure's defining class (`RDD` twice, `SparkContext` once) on
    * every call, a fixed cost of every warm query. (A plan with another
    * root, the empty scan the optimizer leaves when a filter folds to
    * false, runs its own `executeCollect`.)
    *
    * A prepared plan reads the cached columns of one CacheManager entry.
    * Every call looks the store up again and re-prepares when the entry
    * is gone or is another registration (after `unpersist`, or
    * `clearCache()` and caching again): re-running a plan over cleared
    * buffers would rebuild a cache the session no longer tracks. A store
    * that is not cached (a `writePartitioned` store needs literal ids for
    * static partition pruning), a zero-row query, an empty probe list, a
    * shape whose plan has an exchange and a shape with a value Spark fixes
    * when it plans the query (`current_timestamp()`, `rand()`,
    * [[PlanBridge.reusable]]) keep the per-query plan. There is no answer
    * cache: every call runs a job. */
  private[graft] object Prepared {
    import graft.functions.NativeExprs.BoundValue
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.types.{ArrayType, IntegerType}

    /** Prepared plans kept per store, least recently used dropped first:
      * room for a serving mix of a few query kinds over one index with
      * about ten filter values each. */
    val MaxPlansPerStore = 16

    private final case class Shape(
        metric: String,
        k: Int,
        radiusBits: Long,
        dim: Option[Int],
        filter: Expression,
        query: StructType,
        clustered: Boolean,
        conf: Map[String, String])

    /** A shape's plan, planned against the cache entry `cache`; `plan` is
      * `None` when the shape cannot be served prepared. */
    private final class Entry(val plan: Option[SparkPlan], val cache: AnyRef, val schema: StructType)

    private final class Plans extends java.util.LinkedHashMap[Shape, Entry](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Shape, Entry]): Boolean =
        size > MaxPlansPerStore
    }

    private val stores =
      java.util.Collections.synchronizedMap(new java.util.WeakHashMap[DataFrame, Plans]())

    private val IdsType = ArrayType(IntegerType, containsNull = false)

    /** The answer from `store`'s prepared plan for this shape, or `None`
      * when the call takes the per-query plan. `clusters` restricts the
      * store to those `cluster_id`s. */
    def serve(
        store: DataFrame,
        clusters: Option[Seq[Int]],
        query: QueryRow,
        k: Int,
        metric: Metric,
        radius: Double,
        filter: Column,
        dim: Option[Int]): Option[DataFrame] =
      if (query.row.isEmpty || clusters.exists(_.isEmpty)) None
      else PlanBridge.cacheEntry(store).flatMap { cache =>
        val shape = Shape(metric.name, k, java.lang.Double.doubleToLongBits(radius), dim,
          canonical(filter), query.schema, clusters.isDefined, store.sparkSession.conf.getAll)
        val plans = stores.computeIfAbsent(store, _ => new Plans)
        val cached = plans.synchronized(Option(plans.get(shape))).filter(_.cache eq cache)
        val entry = cached.getOrElse {
          val e = prepare(store, cache, clusters.isDefined, query.schema, k, metric, radius, filter, dim)
          plans.synchronized(plans.put(shape, e))
          e
        }
        entry.plan.map(plan => PlanBridge.collectLocal(store, entry.schema)(bind(plan, query, clusters)))
      }

    /** A copy of the prepared `plan` with this call's values in its
      * slots. */
    private[graft] def bind(plan: SparkPlan, query: QueryRow, clusters: Option[Seq[Int]]): SparkPlan = {
      val values = slotValues(query, clusters)
      plan.transformAllExpressions { case b: BoundValue => b.copy(value = values(b.slot)) }
    }

    /** The prepared physical plans held for `store`, least recently used
      * first. */
    private[graft] def plans(store: DataFrame): Seq[SparkPlan] = {
      import scala.jdk.CollectionConverters._
      Option(stores.get(store)).toSeq.flatMap(p => p.synchronized(p.values.asScala.toList))
        .flatMap(_.plan)
    }

    private def canonical(filter: Column): Expression = {
      val e = ColumnBridge.converted(filter)
      try e.canonicalized catch { case scala.util.control.NonFatal(_) => e }
    }

    /** The bound values of one call: the query columns in schema order,
      * then the probed ids. */
    private def slotValues(query: QueryRow, clusters: Option[Seq[Int]]): IndexedSeq[Any] = {
      val row = query.row.get
      query.schema.fields.indices.map { i =>
        CatalystTypeConverters.createToCatalystConverter(query.schema(i).dataType)(row.get(i))
      } ++ clusters.map(ids => new GenericArrayData(ids.toArray[Any]))
    }

    private def prepare(
        store: DataFrame,
        cache: AnyRef,
        clustered: Boolean,
        schema: StructType,
        k: Int,
        metric: Metric,
        radius: Double,
        filter: Column,
        dim: Option[Int]): Entry = {
      def slot(i: Int, t: DataType): Column = ColumnBridge.column(BoundValue(i, t, null))
      val restricted =
        if (clustered) store.where(array_contains(slot(schema.length, IdsType), col("cluster_id")))
        else store
      val attached = restricted.withColumns(
        schema.fields.zipWithIndex.map { case (f, i) => f.name -> slot(i, f.dataType) }.toMap)
      val df = topK(attached, k, metric, radius, filter, dim)
      val plan = PlanBridge.physicalPlan(df)
      new Entry(Some(plan).filter(PlanBridge.reusable(df, _)), cache, df.schema)
    }
  }

  /** Matryoshka-style two-stage search (Kusupati et al. 2022): a
    * shortlist ranked on the PREFIX of the embedding (the first
    * `prefixDim` dims — an MRL-trained embedding front-loads information
    * there, and even untrained embeddings keep most relative geometry),
    * then exact reranking of the shortlist at full dimension.
    *
    * Scale shape — this is the cheap-funnel pattern of every 100 TB
    * serving stack: the plan is ONE scan feeding two chained bounded
    * heaps (`TakeOrderedAndProject` → `TakeOrderedAndProject`). The
    * prefix stage pays `prefixDim/dim` of the full kernel cost per row
    * and carries the full embedding through the heap (shortlist rows
    * only), so the rerank needs no second scan and no join. Exactness
    * is a recall trade: any true neighbor ranked outside `shortlist` by
    * the prefix metric is lost — the same contract as IVF probing.
    *
    * Determinism: both stages tiebreak on `id` ascending, so the
    * shortlist membership and the final order are total orders — which
    * is what makes the two-stage pipeline oracle-checkable end to end. */
  def searchPrefixRerank(
      records: DataFrame,
      query: DataFrame,
      k: Int,
      prefixDim: Int,
      shortlist: Int,
      metric: Metric = Metric.Euclidean): DataFrame =
    searchPrefixRerank(records, QueryRow(query), k, prefixDim, shortlist, metric)

  private[operators] def searchPrefixRerank(
      records: DataFrame,
      query: QueryRow,
      k: Int,
      prefixDim: Int,
      shortlist: Int,
      metric: Metric): DataFrame = {
    require(k > 0 && shortlist >= k, "need shortlist >= k > 0")
    require(prefixDim > 0, "prefixDim must be positive")
    val pre = metric.distance(
      slice(col("embedding"), 1, prefixDim), slice(col("qvec"), 1, prefixDim))
    query.attachTo(records)
      .withColumn("__pd", pre)
      .where(col("__pd").isNotNull && !isnan(col("__pd")))
      .orderBy(col("__pd").asc, col("id").asc)
      .limit(shortlist)
      .withColumn("distance", metric.distance(col("embedding"), col("qvec")))
      .where(col("distance").isNotNull && !isnan(col("distance")))
      .orderBy(col("distance").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("metadata"), col("distance"))
  }

  /** Binary-funnel search: a Hamming shortlist over packed sign codes,
    * then exact rerank at full precision. Same one-scan, two-chained-
    * bounded-heaps shape as [[searchPrefixRerank]] — but the first
    * stage's per-row cost is d/64 integer XOR+POPCNTs over the `bcode`
    * column (no float math at all), which is what lets the scan stage
    * run against a store whose vectors live in cold storage and only
    * the 8-byte-per-64-dims codes stay hot. `records` must carry
    * `bcode` (from [[VectorOps.binaryCodes]]) next to `embedding`;
    * `query` is a one-row frame with `qvec` and `qcode`. Both stages
    * tiebreak on `id`, so the funnel is a total order end-to-end
    * (oracle-checkable). Recall contract: any true neighbor outside
    * the Hamming shortlist is lost — same trade as IVF probing. */
  def searchHammingRerank(
      records: DataFrame,
      query: DataFrame,
      k: Int,
      shortlist: Int,
      metric: Metric = Metric.Euclidean): DataFrame =
    searchHammingRerank(records, QueryRow(query), k, shortlist, metric)

  private[operators] def searchHammingRerank(
      records: DataFrame,
      query: QueryRow,
      k: Int,
      shortlist: Int,
      metric: Metric): DataFrame = {
    require(k > 0 && shortlist >= k, "need shortlist >= k > 0")
    query.attachTo(records)
      .withColumn("__h", VectorOps.hammingDistance(col("bcode"), col("qcode")))
      // a null Hamming distance (null/ragged codes) must not fill
      // shortlist slots: Spark sorts nulls FIRST ascending — the same
      // invalid-candidate guard every sibling funnel stage applies
      .where(col("__h").isNotNull)
      .orderBy(col("__h").asc, col("id").asc)
      .limit(shortlist)
      .withColumn("distance", metric.distance(col("embedding"), col("qvec")))
      .where(col("distance").isNotNull && !isnan(col("distance")))
      .orderBy(col("distance").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("metadata"), col("distance"))
  }

  /** Shortlist-budget SWEEP of [[searchHammingRerank]]: the rerank
    * result at EVERY budget in `shortlists`, from ONE Hamming scan —
    * the recall-vs-budget evaluation pass (`ann_hamming_recall_curve`).
    * Because the shortlist stage is a DETERMINISTIC total order
    * (hamming asc, id asc), the budget-`s` shortlist is exactly the
    * s-prefix of the budget-max shortlist — so one scan at the largest
    * budget plus per-budget prefix slices over those ≤max rows is
    * row-identical to running the funnel per budget (law-pinned in
    * KnnSpec), at 1/|shortlists| the scan cost. The exact distance is
    * computed once per surviving candidate; all per-budget work runs
    * over the cached ≤max-row frame. Emits
    * `(shortlist, id, metadata, distance)`. */
  def searchHammingRerankSweep(
      records: DataFrame,
      query: DataFrame,
      k: Int,
      shortlists: Seq[Int],
      metric: Metric = Metric.Euclidean): DataFrame = {
    require(shortlists.nonEmpty, "need at least one shortlist budget")
    require(k > 0 && shortlists.min >= k, "need every shortlist >= k > 0")
    val top = graft.Caching.ensureCached(QueryRow(query).attachTo(records)
      .withColumn("__h", VectorOps.hammingDistance(col("bcode"), col("qcode")))
      .where(col("__h").isNotNull) // same invalid-candidate guard as the single-budget funnel
      .orderBy(col("__h").asc, col("id").asc)
      .limit(shortlists.max)
      .select(col("id"), col("metadata"), col("__h"),
        metric.distance(col("embedding"), col("qvec")).as("distance")))
    shortlists.map { sl =>
      top.orderBy(col("__h").asc, col("id").asc).limit(sl)
        .where(col("distance").isNotNull && !isnan(col("distance")))
        .orderBy(col("distance").asc, col("id").asc).limit(k)
        .select(lit(sl).as("shortlist"), col("id"), col("metadata"),
          col("distance"))
    }.reduce(_ unionByName _)
  }

  /** Batch form of the Hamming scan: top-k per query over packed sign
    * codes via the same bounded-heap two-stage reduction as
    * [[searchBatch]] (map-side partial heaps, merge, broadcast
    * join-back) — no ranking window anywhere. `records` carries
    * `bcode`, `queries` is `(query_id, qcode)`; the heap key is the
    * Hamming distance cast to double (exact for any realistic d), ties
    * by id ascending. */
  def searchHammingBatch(
      records: DataFrame,
      queries: DataFrame,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val candidates = records
      .crossJoin(broadcast(queries))
      .withColumn("distance",
        VectorOps.hammingDistance(col("bcode"), col("qcode")).cast("double"))
      .where(col("distance").isNotNull) // invalid codes never enter a heap
      .select(col("query_id"), col("distance"), col("id"))
    topKPerQuery(candidates, records, k)
  }

  /** MMR diversity rerank (Carbonell & Goldstein 1998): a relevance
    * shortlist, then greedy maximal-marginal-relevance selection —
    * each pick balances closeness to the query against redundancy with
    * what is already picked (`lam`·relevance − (1−`lam`)·min distance
    * to the selected set, distance-space formulation; `lam`=1 degrades
    * to plain top-k order).
    *
    * Scale shape: the scan funnels through ONE bounded heap
    * (`TakeOrderedAndProject`, shortlist rows carrying their
    * embeddings); the greedy loop runs inside a single expression over
    * the collected shortlist — model-bounded state (≤ shortlist rows),
    * so per the literal-model rule it never touches a join or second
    * scan. O(k·shortlist·dim) driver-side work, independent of corpus
    * size.
    *
    * `oneMinusLam` is a separate literal rather than `1 − lam` because
    * the unrolled SQL oracle must restate the identical double —
    * `1.0 − 0.3` is not the literal `0.7`. Both stages and the greedy
    * argmin tiebreak on id, so the output is a total order. */
  def mmrRerank(
      records: DataFrame,
      query: DataFrame,
      k: Int,
      shortlist: Int,
      lam: Double,
      oneMinusLam: Double,
      metric: Metric = Metric.Euclidean): DataFrame = {
    require(k > 0 && shortlist >= k, "need shortlist >= k > 0")
    QueryRow(query).attachTo(records)
      .withColumn("__dq", metric.distance(col("embedding"), col("qvec")))
      .where(col("__dq").isNotNull && !isnan(col("__dq")))
      .orderBy(col("__dq").asc, col("id").asc)
      .limit(shortlist)
      .agg(array_sort(collect_list(struct(
        col("__dq").as("dq"), col("id").as("id"),
        col("embedding").as("embedding")))).as("__c"))
      .select(explode(graft.functions.NativeExprs.mmrSelect(
        col("__c"), lam, oneMinusLam, k)).as("__m"))
      .select(col("__m.rank").as("rank"), col("__m.id").as("id"),
        col("__m.mmr").as("mmr"))
  }

  /** Many-queries batch search: `queries(query_id, qvec)` × records,
    * two-phase top-k.
    *
    * Phase 1 reduces WITHIN each input partition: group by
    * `(query_id, partition)` and keep a sorted k-slice — after this, a
    * query's candidate set is `k × num_partitions` rows, not `n`. Phase 2
    * merges those slices per query. This is the batch analog of what
    * `TakeOrderedAndProject` does for the single-query path; the naive
    * ranking-window formulation funnels all `n` candidate rows of each
    * query through one task. Only `(query_id, distance, id)` is shuffled;
    * metadata is joined back for the final `k` rows per query. */
  def searchBatch(
      records: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: Metric = Metric.Euclidean,
      radius: Double = Double.PositiveInfinity,
      filter: Column = lit(true)): DataFrame = {
    require(k > 0, "k must be positive")
    val dist = metric.distance(col("embedding"), col("qvec"))
    val candidates = records
      .crossJoin(broadcast(queries))
      .withColumn("distance", dist)
      .where(!isnan(col("distance")) && col("distance") <= lit(radius))
      .where(filter)
      .select(col("query_id"), col("distance"), col("id"))
    topKPerQuery(candidates, records, k)
  }

  /** Nearest-neighbor SELF-join over a pre-blocked frame
    * `(block, id, embedding)`: for every id, the single nearest OTHER id
    * among candidates sharing a block — the per-row-NN primitive behind
    * kNN-graph construction, semantic-dedup representative choice, and
    * retrieval evaluation. The intended block producer is
    * [[IvfIndex.assignTop2]]'s two nearest clusters per vector (same
    * contract as [[Dedup.embeddingNearDup]]): candidate counts stay
    * O(n · density), never quadratic, and a pair straddling a Voronoi
    * boundary still meets in the runner-up block.
    *
    * The reduction is `min(struct(distance, nn_id))` — lexicographic
    * struct ordering gives distance-then-id ascending, identical to a
    * ranking window's first row but with O(1) state per group and a
    * map-side partial, so each partition contributes at most one
    * candidate per id to the shuffle instead of its whole candidate
    * list. A vector whose blocks contain no other member yields no row
    * (no neighbor evidence — callers wanting totality union a sentinel).
    * Duplicate candidates from a pair sharing both blocks collapse in
    * the same min. */
  def selfJoinNN(blocked: DataFrame, metric: Metric = Metric.Euclidean): DataFrame =
    nnFromPairs(pairDistances(blocked, metric))

  /** The blocked candidate-pair distance frame `(id, cand_id, d)` —
    * shared by every consumer that reduces over the same candidate set
    * (NN graph, triplet mining, label-transfer eval). A pair sharing
    * both blocks appears twice with identical `d`; consumers collapse
    * duplicates in their min-reductions, which is cheaper than a
    * corpus-wide `distinct` here. Sessions serving several consumers
    * should materialize this ONCE (the one-index-serves-every-query
    * argument). */
  def pairDistances(blocked: DataFrame, metric: Metric = Metric.Euclidean): DataFrame = {
    val a = blocked.select(col("block"), col("id"), col("embedding"))
    val b = blocked.select(
      col("block"), col("id").as("cand_id"), col("embedding").as("__eb"))
    a.join(b, Seq("block"))
      .where(col("id") =!= col("cand_id"))
      .withColumn("d", metric.distance(col("embedding"), col("__eb")))
      .where(col("d").isNotNull && !isnan(col("d")))
      .select(col("id"), col("cand_id"), col("d"))
  }

  /** Per-id nearest neighbor from a `(id, cand_id, d)` pair frame: one
    * `min(struct)` reduction — O(1) state per id, map-side combinable,
    * duplicate candidate rows collapse for free. */
  def nnFromPairs(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("id"))
      .agg(min(struct(col("d").as("distance"), col("cand_id").as("nn_id"))).as("__best"))
      .select(col("id"), col("__best.nn_id").as("nn_id"),
        col("__best.distance").as("distance"))

  /** Two-phase per-query top-k over a `(query_id, distance, id)` candidate
    * frame, then metadata re-attach. Shared by [[searchBatch]] and
    * [[IvfIndex.queryBatch]].
    *
    * Both phases aggregate with [[graft.functions.TopKPairsAgg]] — a
    * size-k bounded heap (the reference's size-k+1 BinaryHeap,
    * `index.rs:201-209`, as a Catalyst aggregate): per-group memory is
    * O(k) regardless of group size, unlike a collect_list-then-slice
    * which buffers the whole group. Ordering (distance, id ascending)
    * is identical to the sliced-sort formulation. */
  private[operators] def topKPerQuery(
      candidates: DataFrame,
      records: DataFrame,
      k: Int): DataFrame = {
    val flat = topKPerQueryPairs(candidates, k)
    // k × |queries| rows → broadcast; the big table is streamed map-side.
    broadcast(flat)
      .join(records.select(col("id"), col("metadata")), Seq("id"))
      .select(col("query_id"), col("id"), col("metadata"), col("distance"))
  }

  /** The bare two-phase reduction of [[topKPerQuery]] — per-query top-k
    * over a `(query_id, distance, id)` candidate frame WITHOUT the
    * metadata re-attach, for stores that carry no metadata (the
    * compressed code stores: [[IvfIndex.queryAdcBatch]],
    * [[IvfIndex.queryAdcResidualBatch]]). ONE definition of the
    * partial-heap / merge / explode pipeline so ordering and null
    * handling can't drift between the exact and ADC batch paths.
    * Emits `(query_id, id, distance)` — null distances are skipped by
    * the heap ([[graft.functions.TopKPairsAgg]]); callers drop NaN
    * before this reduction (NaN never wins, but an underfull heap
    * would otherwise admit it). */
  private[operators] def topKPerQueryPairs(
      candidates: DataFrame,
      k: Int): DataFrame = {
    import graft.functions.TopKPairsAgg.topKPairs
    val partial = candidates
      .withColumn("__pid", spark_partition_id())
      .groupBy(col("query_id"), col("__pid"))
      .agg(topKPairs(col("distance"), col("id"), k).as("__top"))
    val merged = partial
      .select(col("query_id"), explode(col("__top")).as("__r"))
      .select(col("query_id"), col("__r.distance").as("distance"), col("__r.id").as("id"))
      .groupBy(col("query_id"))
      .agg(topKPairs(col("distance"), col("id"), k).as("__top"))
    merged
      .select(col("query_id"), explode(col("__top")).as("__r"))
      .select(col("query_id"), col("__r.id").as("id"), col("__r.distance").as("distance"))
  }

  /** Reciprocal-rank fusion of retrieval shortlists (Cormack et al.,
    * SIGIR 2009): each arm contributes `1 / (kRrf + rank)` per document
    * and arms' contributions sum — the standard way to merge a lexical
    * (BM25) and a semantic (ANN) ranking without calibrating their
    * incomparable score scales. Every arm is a `(id, rank)` frame with
    * 1-based ranks (a top-k shortlist, so each is ≤ k rows); a document
    * missing from an arm simply contributes nothing. Output:
    * `(id, n_arms, rrf_score)`, descending score, ties to the smaller
    * id, top `k`.
    *
    * Scale: the inputs are already-bounded shortlists, so the fusion is
    * a union of tiny frames + one aggregate — cost is O(Σ|arm|),
    * independent of corpus size. With the default two arms the score is
    * a sum of ≤2 doubles (commutative — deterministic regardless of
    * union order); 3+ arms can differ in the last ulp across addition
    * orders, which the caller's rounding absorbs. */
  def rrfFuse(arms: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(arms.nonEmpty, "at least one ranking arm required")
    require(k > 0, s"k must be positive, got $k")
    require(kRrf > 0, s"kRrf must be positive, got $kRrf")
    val scored = arms
      .map(_.select(col("id"),
        (lit(1.0) / (lit(kRrf) + col("rank").cast("double"))).as("__s")))
      .reduce(_ unionByName _)
    scored.groupBy(col("id"))
      .agg(count(lit(1)).as("n_arms"), sum(col("__s")).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("id").asc)
      .limit(k)
      .select(col("id"), col("n_arms"), col("rrf_score"))
  }
}
