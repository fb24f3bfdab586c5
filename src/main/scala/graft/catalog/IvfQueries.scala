package graft
package catalog

import graft.functions.FilterDsl
import graft.operators.{Crud, IvfIndex, Knn}
import graft.types.Metric
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** The IVF family: index fit, probe, batch, product-quantized, MIPS and maintenance
  * queries over `embeddings`. */
object IvfQueries {
  /** The fixed-4-centroid argmin assignment (base state of the
    * deterministic IVF builds): centroids = embeddings `vec_id < 4`,
    * each vector assigned to the squared-L2-nearest (ties → lower
    * cluster id) — the SQL twin of [[operators.IvfIndex.assign]] over
    * `fixedCentroids.where(cluster_id < 4)`. Emits `asg0(vec_id, cid)`. */
  private val sqlFixed4AsgCtes: String =
    s"""c4 AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 4),
       |asg0 AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c4.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c4.cvec")} ASC, c4.cid ASC) AS rn
       |  FROM embeddings e CROSS JOIN c4) WHERE rn = 1)""".stripMargin

  /** DuckDB replay of ONE deterministic [[operators.IvfIndex.refine]]
    * round over the running assignment `asgPrev(vec_id, cid)` — the full
    * step-by-step restatement of the engine's adaptive binary split:
    *
    *   1. sizes → oversized set (`n > density`), members re-joined to
    *      their embeddings;
    *   2. 2-means seeds: sub-0 = the min-id member, sub-1 = the member
    *      FARTHEST from it (ties → min id; degenerate clusters —
    *      `dmax ≤ 0` or NaN — excluded, exactly the engine's guard);
    *   3. `iters` unrolled Lloyd rounds, each sub-assigning by squared-L2
    *      (`≤` → sub-0, the engine's tie rule) and recomputing
    *      r4-QUANTIZED per-dimension means (⌊mean·10⁴+½⌋/10⁴ — the
    *      quantize-before-compare rule that makes the two engines' means
    *      bit-identical despite different summation orders; an emptied
    *      sub keeps its previous centroid);
    *   4. final membership under the PENULTIMATE centroids (the
    *      engine's one-exact-Lloyd-step invariant), effective splits =
    *      clusters whose sub-1 received members in the LAST round,
    *      replace-and-append ids (`sub-0` keeps the old id, `sub-1` gets
    *      `maxid + rank`), non-effective clusters keep their assignment.
    *
    * Emits `asg$o(vec_id, cid)` and the running max-centroid-id scalar
    * `mx$o(m)`; `sz$o` holds the BEFORE sizes. Chain rounds by feeding
    * `asg$o` / `(SELECT m FROM mx$o)` into round o+1 — a round whose
    * oversized set is empty degrades to the identity, mirroring the
    * engine's fixed-point early stop. */
  private def sqlRefineRoundCtes(o: Int, asgPrev: String, maxidPrev: String,
      density: Int, iters: Int = 3): String = {
    val inner = (1 to iters).map { r =>
      s"""x${o}_$r AS MATERIALIZED (SELECT m.cid, m.vec_id, m.embedding,
         |  CASE WHEN ${sqlSq("m.embedding", "c.s0")} <= ${sqlSq("m.embedding", "c.s1")} THEN 0 ELSE 1 END AS sub
         |  FROM mem$o m JOIN c${o}_${r - 1} c USING (cid)),
         |md${o}_$r AS MATERIALIZED (SELECT cid, sub, g.i AS i,
         |    floor((sum(CAST(embedding[g.i] AS DOUBLE)) / count(*)) * 10000.0 + 0.5) / 10000.0 AS m
         |  FROM x${o}_$r, unnest(generate_series(1, len(embedding))) AS g(i)
         |  GROUP BY cid, sub, g.i),
         |mv${o}_$r AS MATERIALIZED (SELECT cid, sub, list(m ORDER BY i) AS mv FROM md${o}_$r GROUP BY cid, sub),
         |c${o}_$r AS MATERIALIZED (SELECT c.cid, coalesce(m0.mv, c.s0) AS s0, coalesce(m1.mv, c.s1) AS s1,
         |    m1.mv IS NOT NULL AS has1
         |  FROM c${o}_${r - 1} c
         |  LEFT JOIN (SELECT cid, mv FROM mv${o}_$r WHERE sub = 0) m0 ON m0.cid = c.cid
         |  LEFT JOIN (SELECT cid, mv FROM mv${o}_$r WHERE sub = 1) m1 ON m1.cid = c.cid)""".stripMargin
    }.mkString(",\n")
    s"""sz$o AS MATERIALIZED (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM $asgPrev GROUP BY cid),
       |ov$o AS MATERIALIZED (SELECT cid FROM sz$o WHERE n > $density),
       |mem$o AS MATERIALIZED (SELECT a.vec_id, a.cid, e.embedding
       |  FROM $asgPrev a JOIN ov$o USING (cid) JOIN embeddings e USING (vec_id)),
       |sa$o AS MATERIALIZED (SELECT cid, embedding AS s0 FROM (
       |    SELECT cid, embedding, row_number() OVER (PARTITION BY cid ORDER BY vec_id ASC) AS rn FROM mem$o) WHERE rn = 1),
       |db$o AS MATERIALIZED (SELECT m.cid, m.vec_id, m.embedding, ${sqlSq("m.embedding", "s.s0")} AS d
       |  FROM mem$o m JOIN sa$o s USING (cid)),
       |sb$o AS MATERIALIZED (SELECT cid, embedding AS s1 FROM (
       |    SELECT cid, embedding, d, max(d) OVER (PARTITION BY cid) AS dmax,
       |      row_number() OVER (PARTITION BY cid ORDER BY d DESC, vec_id ASC) AS rn FROM db$o)
       |  WHERE rn = 1 AND dmax > 0 AND NOT isnan(dmax)),
       |c${o}_0 AS MATERIALIZED (SELECT sa$o.cid,
       |    CAST(sa$o.s0 AS DOUBLE[]) AS s0, CAST(sb$o.s1 AS DOUBLE[]) AS s1
       |  FROM sa$o JOIN sb$o USING (cid)),
       |$inner,
       |fn$o AS MATERIALIZED (SELECT m.cid, m.vec_id,
       |    CASE WHEN ${sqlSq("m.embedding", "c.s0")} <= ${sqlSq("m.embedding", "c.s1")} THEN 0 ELSE 1 END AS sub
       |  FROM mem$o m JOIN c${o}_${iters - 1} c USING (cid)),
       |ef$o AS MATERIALIZED (SELECT cid, CAST(row_number() OVER (ORDER BY cid ASC) AS BIGINT) AS rk
       |  FROM c${o}_$iters WHERE has1),
       |mx$o AS MATERIALIZED (SELECT ($maxidPrev) + (SELECT count(*) FROM ef$o) AS m),
       |asg$o AS MATERIALIZED (
       |  SELECT vec_id, cid FROM $asgPrev WHERE cid NOT IN (SELECT cid FROM ef$o)
       |  UNION ALL
       |  SELECT f.vec_id, CASE WHEN f.sub = 0 THEN f.cid ELSE CAST(($maxidPrev) + e.rk AS INT) END AS cid
       |  FROM fn$o f JOIN ef$o e USING (cid))""".stripMargin
  }

  /** The CHURNED fixture shared by the maintenance dashboards
    * (`ivf_merge_stats`, `ivf_maintenance_plan`): the fixed model with a
    * delete-only change log applied through [[IvfIndex.applyDiff]] —
    * clusters 2 and 5 drained to every 7th member, the drained-store
    * state the compaction path exists for. Memoized per (session, dir),
    * same rationale as [[fixedModel]]: one churn replay serves every
    * consumer. */
  private val drainedAssignedCache = new SessionMemo[String, DataFrame]
  private def drainedAssigned(s: SparkSession, dir: String): DataFrame =
    drainedAssignedCache(s, dir) {
      val m = fixedModel(s, dir, Metric.Euclidean)
      // consumed twice inside applyDiff (anti-join + upsert split)
      val changes = Caching.ensureCached(
        m.assigned.where(col("cluster_id").isin(2, 5) && col("id") % 7 =!= 0)
          .select(col("id"), lit("delete").as("op"),
            col("embedding"), col("metadata")))
      // checkpoint-backed, not merely persisted (r14): the churned frame
      // is a converged RESULT (the memoize-results rule), and its three
      // dashboards reference it several times EACH (sizes, totals,
      // candidates, the exact baseline...). Plan-matched persistence
      // still re-analyzes the full applyDiff-over-assign lineage at
      // every reference — ivf_compaction_gain's physical plan was
      // 11.5k lines / 1232 Exchange nodes, ~3.4 s of per-pass driver
      // planning at sf0.1. A LogicalRDD leaf collapses every reference.
      val ckpt = Caching.truncate(
        IvfIndex.applyDiff(m, changes, Metric.Euclidean).assigned, eager = true)
      // the eager checkpoint above is the last consumer of `changes`:
      // drop its cache entry now instead of leaving a dead pin until the
      // next clearCache (r14 advice)
      changes.unpersist()
      ckpt
    }

  /** The COMPACTED twin of [[drainedAssigned]]: [[IvfIndex.mergeSmall]]
    * at the ceil(n/16) floor over the churned fixture, memoized per
    * (session, dir) with both frames cached — merge once, serve every
    * consumer (`ivf_merge_stats`, `ivf_compaction_gain`), exactly the
    * [[fixedModel]] discipline: a production maintenance job compacts
    * the store once and every dashboard reads the compacted version. */
  private val mergedModelCache = new SessionMemo[String, IvfIndex.Model]
  private def mergedModel(s: SparkSession, dir: String): IvfIndex.Model =
    mergedModelCache(s, dir) {
      val da = drainedAssigned(s, dir)
      val floor = (da.count() + 15L) / 16L
      val merged = IvfIndex.mergeSmall(
        IvfIndex.Model(fixedCentroids(s, dir), da), floor, Metric.Euclidean)
      // checkpoint-backed like [[drainedAssigned]] (and [[balancedModel]]):
      // the compacted store is a converged maintenance result; truncating
      // the mergeSmall-over-churn lineage keeps every consumer reference a
      // LogicalRDD leaf instead of a re-analyzed plan subtree
      IvfIndex.Model(Caching.truncate(merged.centroids, eager = true),
        Caching.truncate(merged.assigned, eager = true))
    }

  /** The two-level balanced build (coarse seeded k-means at a forced-tiny
    * kMax + the adaptive-split loop), memoized per (session, dir) with
    * BOTH frames eagerly checkpoint-backed — the memoize-converged-
    * results rule applied to the build fixed point, exactly like the
    * dedup group maps: a production session builds the index ONCE per
    * corpus version and serves every query from it; re-running several
    * sequential Lloyd stages per consuming query is a batch-harness
    * artifact (r10: ivf_balanced_stats paid the full build per pass,
    * #2 on the bench). The build is deterministic (seeded), so results
    * are identical either way; checkpoint backing survives the
    * between-family clear in [[Catalog.run]]. */
  private val balancedModelCache = new SessionMemo[String, IvfIndex.Model]
  /** r12: the build behind `ivf_balanced_stats` switched from
    * [[IvfIndex.buildBalanced]] (MLlib coarse fit — engine-internal, so
    * the oracle could only state boolean invariants) to the
    * DETERMINISTIC [[IvfIndex.buildBalancedRefine]] over the fixed
    * 4-centroid coarse partition: same two-level semantics (a forced-
    * tiny coarse model whose clusters all violate density, restored by
    * the adaptive-split loop), but every step SQL-replayable, so the
    * oracle states the exact final cluster census. buildBalanced stays
    * the production fast path, law-pinned in IvfIndexSpec. */
  private def balancedModel(s: SparkSession, dir: String): IvfIndex.Model =
    balancedModelCache(s, dir) {
      val m = IvfIndex.buildBalancedRefine(recs(s, dir),
        fixedCentroids(s, dir).where(col("cluster_id") < 4),
        density = 64, Metric.Euclidean)
      // the build's last step already checkpointed the assignment
      IvfIndex.Model(Caching.truncate(m.centroids, eager = true), m.assigned)
    }

  /** The fixed augmented MIPS geometry shared by the `ivf_mips_*` family
    * (Bachrach et al. 2014 norm augmentation: x̃ = x ++ [√(M² − |x|²)],
    * so augmented-L2 order equals descending-dot order and the IVF probe
    * machinery serves MIPS unchanged): augmented fixed centroids
    * (records 0..7) and the map-only argmin assignment
    * ([[IvfIndex.assign]]'s broadcast packed-centroid fold — the r10
    * crossJoin + groupBy(id) form SHUFFLED every (id, embedding) row, a
    * full store shuffle at 100 TB), persisted once for the family like
    * [[fixedModel]]'s assignment. `assigned` keeps metadata so the
    * filtered variant composes (O4 × O6).
    *
    * M² is a one-scalar model (bounded driver state, rule 19a), guarded:
    * on an EMPTY admissible corpus max() is NULL (getDouble would NPE —
    * the repo's empty-frame-over-throw convention), and a non-finite M²
    * (an Inf-norm payload beyond the Metric.validRecord domain) would
    * poison every augmentation via sqrt(∞ − n²) — both return `None`
    * and the callers emit the oracle's zero-row frame. */
  private[graft] def mipsFixedIndex(
      s: SparkSession, dir: String): Option[IvfIndex.Model] = {
    val base = recs(s, dir)
      .withColumn("__n2",
        graft.functions.NativeExprs.dot(col("embedding"), col("embedding")))
      .where(!isnan(col("__n2")))
    val m2Row = base.agg(max(col("__n2"))).head()
    val m2 = if (m2Row.isNullAt(0)) Double.NaN else m2Row.getDouble(0)
    if (!java.lang.Double.isFinite(m2)) None
    else {
      val aug = base.select(col("id"), col("embedding"), col("metadata"),
        concat(col("embedding").cast("array<double>"),
          array(sqrt(lit(m2) - col("__n2")))).as("__aug"))
      val cents = aug.where(col("id") < 8)
        .select(col("id").cast("int").as("cluster_id"),
          col("__aug").as("centroid"))
      val assigned = Caching.ensureCached(IvfIndex.assign(
          aug.select(col("id"), col("__aug").as("embedding"),
            col("embedding").as("__orig"), col("metadata")),
          cents, Metric.Euclidean)
        .select(col("id"), col("cluster_id"), col("__orig").as("embedding"),
          col("metadata")))
      Some(IvfIndex.Model(cents, assigned))
    }
  }

  /** A single-query `ivf_mips_*` answer `(vec_id, score)`: `serve` over
    * the fixed augmented index, or the oracle's zero-row frame when there
    * is none. */
  private def mipsAnswer(s: SparkSession, dir: String)(
      serve: IvfIndex.Model => DataFrame): DataFrame =
    mipsFixedIndex(s, dir) match {
      case None => recs(s, dir).limit(0)
        .select(col("id").as("vec_id"), lit(0.0).as("score"))
      case Some(m) => serve(m).select(col("id").as("vec_id"), r4(col("score")).as("score"))
    }

  /** The (pre-refine, post-refine) pair over the forced-oversized
    * 4-fixed-centroid model, memoized per (session, dir) with the
    * refined assignment checkpoint-backed ([[IvfIndex.refine]] returns
    * it so) — the same memoize-converged-results argument as
    * [[balancedModel]]: refine is a deterministic build step a production
    * session runs once per corpus version, and `ivf_refine_stats` only
    * AGGREGATES its result, so memoizing it removes the per-pass
    * Lloyd-chain re-execution entirely. One refine step, not the
    * split-round loop: the oracle replays exactly one round. */
  private val refinedFixedModelCache =
    new SessionMemo[String, (IvfIndex.Model, IvfIndex.Model)]
  private def refinedFixedModel(
      s: SparkSession, dir: String): (IvfIndex.Model, IvfIndex.Model) =
    refinedFixedModelCache(s, dir) {
      val c = fixedCentroids(s, dir).where(col("cluster_id") < 4)
      val model = IvfIndex.Model(c,
        Caching.ensureCached(IvfIndex.assign(recs(s, dir), c, Metric.Euclidean)))
      val refined = IvfIndex.refine(model, density = 100, Metric.Euclidean)
      (model, IvfIndex.Model(Caching.truncate(refined.centroids, eager = true), refined.assigned))
    }

  /** The L2-NORMALIZED record frame and its fixed-centroid assignment,
    * memoized per (session, dir) — the cosine-serving twin of
    * [[fixedModel]]: a production store normalizes ONCE at ingest (the
    * normalized vectors ARE the cosine store), so re-running the
    * interpreted normalize fold inside every probe is a batch-harness
    * artifact. */
  private val normalizedAssignedCache = new SessionMemo[String, DataFrame]
  private def normalizedRecs(s: SparkSession, dir: String): DataFrame =
    recs(s, dir).select(col("id"),
      operators.VectorOps.l2Normalize(col("embedding")).as("embedding"))
  private def normalizedCentroids(s: SparkSession, dir: String): DataFrame =
    normalizedRecs(s, dir).where(col("id") < 8)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
  private def normalizedAssigned(s: SparkSession, dir: String): DataFrame =
    Caching.ensureCached(normalizedAssignedCache(s, dir)(
      IvfIndex.assign(normalizedRecs(s, dir), normalizedCentroids(s, dir), Metric.Euclidean)))

  /** Twin of `IvfIndex.query(fixedModel(…), qvec0(…), k = 10, probes = 3)`
    * under `dist`: the exact top 10 of the probed clusters. */
  private def sqlProbeTop10(dist: (String, String) => String): String =
    s"""WITH ${sqlProbedFixed(dist)}
       |SELECT e.vec_id AS vec_id, ${sqlR4(dist("e.embedding", "q.qvec"))} AS distance
       |FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q
       |ORDER BY ${dist("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin

  /** Twin of [[IvfIndex.queryAdc]]'s distance: per candidate, the
    * squared distances of `q`'s sub-vectors to the encoded sub-codebook
    * entries of `enc` (at rn = 1), summed in sub_idx order. */
  private val sqlAdc: String =
    s"""adc AS (SELECT enc.vec_id,
       |  list_sum(list((${sqlSq(sqlPqSlice("q.qvec", "enc.sub_idx"), "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
       |  FROM enc, q WHERE rn = 1 GROUP BY enc.vec_id)""".stripMargin

  /** Twin of [[IvfIndex.queryMips]]'s norm augmentation x ++ √(M² − |x|²)
    * (NaN norms dropped): `n2` → `m` → `aug(cols, a)`, and the fixed
    * centroids over the augmented vectors `c(cid, ca)`. `cols` are the
    * embeddings columns carried through. */
  private def sqlMipsAug(cols: String): String =
    s"""n2 AS (SELECT $cols, ${sqlDot("embedding", "embedding")} AS nn
       |  FROM embeddings WHERE NOT isnan(${sqlDot("embedding", "embedding")})),
       |m AS (SELECT max(nn) AS m2 FROM n2),
       |aug AS (SELECT $cols,
       |  list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), sqrt(m.m2 - nn)) AS a
       |  FROM n2, m),
       |c AS (SELECT CAST(vec_id AS INT) AS cid, a AS ca FROM aug WHERE vec_id < 8)""".stripMargin

  /** Each augmented vector's nearest augmented centroid `(vec_id, cid)`. */
  private val sqlMipsAssign: String =
    s"""SELECT vec_id, cid FROM (
       |  SELECT aug.vec_id, c.cid, row_number() OVER (PARTITION BY aug.vec_id ORDER BY ${sqlSq("aug.a", "c.ca")} ASC, c.cid ASC) AS rn
       |  FROM aug CROSS JOIN c) WHERE rn = 1""".stripMargin

  /** The ivf_mips_query funnel replay (augmentation + assignment +
    * probe + dot rerank, list-for-list, NaN scores dropped as
    * [[IvfIndex.queryMips]] drops them) — shared VERBATIM by
    * `ivf_mips_store_query`: the on-disk posting-list roundtrip must
    * not change a single row, so the two queries carry one oracle. */
  private lazy val mipsQueryOracleSql: String =
    s"""WITH $sqlQ0,
       |${sqlMipsAug("vec_id, embedding")},
       |qa AS (SELECT qvec, list_append(list_transform(qvec, v -> CAST(v AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS qaug FROM q),
       |asg AS ($sqlMipsAssign),
       |probed AS (SELECT c.cid FROM c, qa ORDER BY ${sqlSq("c.ca", "qa.qaug")} ASC, c.cid ASC LIMIT 3)
       |SELECT aug.vec_id AS vec_id, ${sqlR4(sqlDot("aug.embedding", "q.qvec"))} AS score
       |FROM aug JOIN asg ON aug.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q
       |WHERE NOT isnan(${sqlDot("aug.embedding", "q.qvec")})
       |ORDER BY ${sqlDot("aug.embedding", "q.qvec")} DESC, aug.vec_id ASC LIMIT 10""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // extension: IVF-pruned MIPS via the norm-augmentation reduction
    // (Bachrach et al. 2014, RecSys): x̃ = x ++ [√(M² − |x|²)] with
    // M² = max |x|², q̃ = q ++ [0] — then |x̃|² is the CONSTANT M², so
    // L2 order on the augmented vectors equals dot-product order and
    // the whole IVF probe machinery applies to MIPS unchanged. Probe =
    // 3 nearest augmented fixed centroids (records 0..7), ranked on the
    // driver ([[IvfIndex.queryMips]]); exact dot rerank inside the probed
    // clusters, NaN scores dropped. All augmentation arithmetic in
    // doubles (float→double widening is exact; sqrt is correctly
    // rounded), every fold in index order — the oracle replays
    // augmentation, assignment, probe, and rerank list-for-list
    QueryDef("ivf_mips_query", ((s, dir) => mipsAnswer(s, dir)(m =>
      IvfIndex.queryMips(m, qvec0(s, dir), k = 10, probes = 3))),
      // augmentation + assignment + probe + dot rerank replayed list-for-list
      mipsQueryOracleSql),

    // extension: METADATA-FILTERED MIPS — the O4 × O6 composition on the
    // dot-product order, completing the MIPS family's symmetry with the
    // L2/cosine serving paths (knn_filtered / ivf_batch_filtered): the
    // predicate evaluates on the probed candidates BEFORE the top-k
    // (predicate precedes ranking, reference index.rs:197-199), so a
    // selective filter never widens the probe. Same fixed augmented
    // geometry and oracle-replayed probe as ivf_mips_query.
    QueryDef("ivf_mips_filtered", ((s, dir) => mipsAnswer(s, dir)(m =>
      IvfIndex.queryMips(m, qvec0(s, dir), k = 10, probes = 3,
        filter = FilterDsl.predicate(col("metadata"), "label >= 5")))),
      // the filtered twin: same augmented probe replay, predicate applied
      // to the probed candidates BEFORE the top-k (filter precedes ranking)
      s"""WITH $sqlQ0,
         |${sqlMipsAug("vec_id, embedding, label")},
         |qa AS (SELECT qvec, list_append(list_transform(qvec, v -> CAST(v AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS qaug FROM q),
         |asg AS ($sqlMipsAssign),
         |probed AS (SELECT c.cid FROM c, qa ORDER BY ${sqlSq("c.ca", "qa.qaug")} ASC, c.cid ASC LIMIT 3)
         |SELECT aug.vec_id AS vec_id, ${sqlR4(sqlDot("aug.embedding", "q.qvec"))} AS score
         |FROM aug JOIN asg ON aug.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q
         |WHERE aug.label >= 5 AND NOT isnan(${sqlDot("aug.embedding", "q.qvec")})
         |ORDER BY ${sqlDot("aug.embedding", "q.qvec")} DESC, aug.vec_id ASC LIMIT 10""".stripMargin),

    // extension: the MIPS 100 TB LAYOUT — the norm-augmented assignment
    // written as cluster_id-partitioned parquet (posting lists on disk,
    // ivf_store_query's shape applied to dot order) and probed from the
    // reopened store: the 3-centroid probe list must prune partitions at
    // the scan (static pruning, pinned in PlanShapeSpec), and the pruned
    // store answers exactly like the in-memory ivf_mips_query — same oracle.
    // Augmented centroids stay in memory (the model side); only the
    // data-proportional posting lists live on disk.
    QueryDef("ivf_mips_store_query", ((s, dir) => mipsAnswer(s, dir) { m =>
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_mips_store_" +
        s"${s.sparkContext.applicationId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        IvfIndex.writePartitioned(m, path)
      IvfIndex.queryMips(IvfIndex.Model(m.centroids, s.read.parquet(path)),
        qvec0(s, dir), k = 10, probes = 3)
    }),
      // the on-disk posting-list twin answers IDENTICALLY (same fixed
      // augmented geometry; only the storage layout differs)
      mipsQueryOracleSql),

    // extension: BATCH MIPS serving — the r10 single-query norm-augmented
    // probe generalized to many queries ([[IvfIndex.queryMipsBatch]]):
    // the augmented index is built once (map-only assign), each of the 5
    // queries probes its own 3 nearest augmented centroids through the
    // bounded centroids×queries window, and the exact dot rerank runs
    // per query through the two-phase bounded heap on the negated score.
    // Same guarded M² scalar as the single-query form; the oracle
    // replays augmentation, assignment, per-query probe, and rerank.
    QueryDef("ivf_mips_batch", ((s, dir) =>
      mipsFixedIndex(s, dir) match {
        case None => recs(s, dir).limit(0)
          .select(col("id").as("query_id"), col("id").as("vec_id"),
            lit(0.0).as("score"))
        case Some(m) =>
          val queries = recs(s, dir).where(col("id") < 5)
            .select(col("id").as("query_id"), col("embedding").as("qvec"))
          IvfIndex.queryMipsBatch(m.centroids, m.assigned, queries, k = 5, probes = 3)
            .orderBy(col("query_id").asc, col("score").desc, col("id").asc)
            .select(col("query_id"), col("id").as("vec_id"),
              r4(col("score")).as("score"))
      }),
      // batch twin: augmentation + assignment + PER-QUERY probe + dot
      // rerank replayed with window functions (the per-query top-5 of the
      // bounded-heap reduction == the rn<=5 slice of the ranked rerank)
      s"""WITH ${sqlMipsAug("vec_id, embedding")},
         |q AS (SELECT vec_id AS query_id, embedding AS qvec,
         |  list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS qaug
         |  FROM embeddings WHERE vec_id < 5),
         |asg AS ($sqlMipsAssign),
         |probed AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqlSq("c.ca", "q.qaug")} ASC, c.cid ASC) AS rn
         |  FROM c CROSS JOIN q) WHERE rn <= 3),
         |cand AS (SELECT q.query_id, aug.vec_id, ${sqlDot("aug.embedding", "q.qvec")} AS s
         |  FROM aug JOIN asg ON aug.vec_id = asg.vec_id
         |  JOIN probed p ON asg.cid = p.cid JOIN q ON q.query_id = p.query_id
         |  WHERE NOT isnan(${sqlDot("aug.embedding", "q.qvec")})),
         |r AS (SELECT query_id, vec_id, s, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("s")} AS score FROM r WHERE rn <= 5
         |ORDER BY query_id ASC, s DESC, vec_id ASC""".stripMargin),

    // extension: MIPS recall curve — the parameter-tuning pass every
    // other ANN family already has (ivf_recall_curve,
    // ann_hamming_recall_curve): recall@10 of the norm-augmented probe
    // funnel vs the exact dot top-10, at probe counts {1,2,4,8} over the
    // 8 augmented fixed centroids, from ONE scan
    // ([[IvfIndex.queryMipsProbeSweep]]'s rank <= p derivation — the
    // per-point re-probe would cost ≈1.9 full scans for this sweep).
    // NaN scores are dropped on BOTH the funnel and the exact reference
    // (the funnel's bounded heap never admits NaN), so the curve
    // measures pruning loss only, reaching 1.0 at full probe.
    QueryDef("ivf_mips_recall_curve", ((s, dir) => {
      import s.implicits._
      val points = Seq(1, 2, 4, 8)
      mipsFixedIndex(s, dir) match {
        case None =>
          // empty admissible corpus: zero hits at every point — the
          // oracle's LEFT JOIN … coalesce(0) shape, not an empty frame
          points.toDF("probes").select(col("probes"),
            lit(0L).as("n_hit"), lit(0.0).as("recall"))
        case Some(m) =>
          val q = qvec0(s, dir)
          val exact10 = m.assigned.crossJoin(broadcast(q))
            .withColumn("__s",
              graft.functions.NativeExprs.dot(col("embedding"), col("qvec")))
            .where(!isnan(col("__s")))
            .orderBy(col("__s").desc, col("id").asc).limit(10)
            .select(col("id"))
          val hits = IvfIndex.queryMipsProbeSweep(m, q, k = 10, points)
            .join(broadcast(exact10), Seq("id"), "left_semi")
            .groupBy(col("probes")).agg(count(lit(1)).as("__h"))
          points.toDF("probes")
            .join(hits, Seq("probes"), "left")
            .select(col("probes"),
              coalesce(col("__h"), lit(0L)).as("n_hit"),
              r4(coalesce(col("__h"), lit(0L)).cast("double") / lit(10.0))
                .as("recall"))
            .orderBy("probes")
      }
    }),
      // augmented probe funnel replayed at each probe count via the
      // centroid-rank derivation (rank <= p == ORDER BY … LIMIT p), recall
      // vs the exact dot top-10 — NaN scores excluded on both paths
      s"""WITH $sqlQ0,
         |${sqlMipsAug("vec_id, embedding")},
         |qa AS (SELECT qvec, list_append(list_transform(qvec, v -> CAST(v AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS qaug FROM q),
         |asg AS ($sqlMipsAssign),
         |crank AS (SELECT c.cid, row_number() OVER (ORDER BY ${sqlSq("c.ca", "qa.qaug")} ASC, c.cid ASC) AS prank FROM c, qa),
         |ex AS (SELECT aug.vec_id FROM aug, q WHERE NOT isnan(${sqlDot("aug.embedding", "q.qvec")})
         |  ORDER BY ${sqlDot("aug.embedding", "q.qvec")} DESC, aug.vec_id ASC LIMIT 10),
         |p AS (SELECT unnest([1, 2, 4, 8]) AS probes),
         |res AS (SELECT p.probes, r.vec_id FROM p, LATERAL (
         |  SELECT aug.vec_id FROM aug JOIN asg ON aug.vec_id = asg.vec_id
         |    JOIN crank ON asg.cid = crank.cid, q
         |  WHERE crank.prank <= p.probes AND NOT isnan(${sqlDot("aug.embedding", "q.qvec")})
         |  ORDER BY ${sqlDot("aug.embedding", "q.qvec")} DESC, aug.vec_id ASC LIMIT 10) r),
         |hits AS (SELECT probes, count(*) AS h FROM res JOIN ex USING (vec_id) GROUP BY probes)
         |SELECT p.probes AS probes, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hit,
         |  ${sqlR4("CAST(coalesce(h.h, 0) AS DOUBLE) / 10.0")} AS recall
         |FROM p LEFT JOIN hits h ON p.probes = h.probes ORDER BY probes""".stripMargin),

    // extension: incremental index maintenance — apply the change log
    // derived by snapshot_diff to the fixed-centroid index WITHOUT
    // re-assigning the unchanged rows; verified by the per-cluster
    // (count, id-sum) profile of the updated index, which the oracle
    // recomputes by assigning the transformed store from scratch
    QueryDef("ivf_apply_diff", ((s, dir) => {
      val old = recs(s, dir)
      // the change log is ~0.3 % of the store but applyDiff consumes it
      // TWICE (anti-join + re-add) — uncached, the full-outer diff join
      // over the whole store executes once per consumer
      val changes = Caching.ensureCached(Crud.diff(old, diffNewStore(s, old)))
      IvfIndex.applyDiff(fixedModel(s, dir, Metric.Euclidean), changes,
          Metric.Euclidean)
        .assigned
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
        .orderBy("cluster_id")
    }),
      // from-scratch recomputation of what the INCREMENTALLY-updated index
      // must hold: the transformed store (deletes out, vector perturbation
      // applied, fresh insert in) assigned to the fixed centroids; the
      // metadata rewrite keeps id and vector, so it cannot move a row
      s"""WITH c AS ($sqlFixedCentroids),
         |base AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 101 = 7
         |      THEN [CAST(embedding[1] + 1.0 AS REAL)] || embedding[2:]
         |      ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 97 <> 3
         |  UNION ALL
         |  SELECT (SELECT max(vec_id) + 1 FROM embeddings),
         |    list_transform(range($Dim), x -> CAST(0.9 AS REAL))),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT b.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${sqlSq("b.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM base b CROSS JOIN c) WHERE rn = 1)
         |SELECT cid AS cluster_id, count(*) AS n,
         |  CAST(sum(vec_id) AS BIGINT) AS id_sum
         |FROM asg GROUP BY cid ORDER BY cid""".stripMargin),

    // extension: cluster COMPACTION after churn — the maintenance
    // composition the reference never closes: deletes ([[applyDiff]],
    // O12/O15) drain posting lists but never retire a cluster, so the
    // probe budget decays onto near-empty lists. Here a delete-only
    // change log drains clusters 2 and 5 to ~1/7 fill, then
    // [[IvfIndex.mergeSmall]] dissolves everything under the floor
    // (ceil(n/16) = half the mean fill over the 8 fixed centroids) and
    // re-assigns the remnants to their nearest surviving centroid.
    // Emits the post-merge census — exact integers the oracle derives
    // by replaying the assignment, the delete rule, the floor, and the
    // survivor-only re-assignment
    QueryDef("ivf_merge_stats", ((s, dir) =>
      mergedModel(s, dir).assigned
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
        .orderBy("cluster_id")),
      // the drain + merge replayed end to end: assignment under the fixed
      // centroids, the delete rule, the ceil(n/16) floor, survivor
      // selection, and the survivor-only re-assignment of donor remnants
      s"""WITH c AS MATERIALIZED ($sqlFixedCentroids),
         |asg AS (${sqlAssign(sqlSq)}),
         |kept AS MATERIALIZED (SELECT vec_id, cid FROM asg
         |  WHERE NOT (cid IN (2, 5) AND vec_id % 7 <> 0)),
         |fl AS (SELECT (count(*) + 15) // 16 AS f FROM kept),
         |surv AS MATERIALIZED (SELECT cid FROM (
         |  SELECT cid, count(*) AS n FROM kept GROUP BY cid), fl WHERE n >= f),
         |moved AS (SELECT vec_id, cid FROM (
         |  SELECT k.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY k.vec_id
         |      ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM kept k
         |  JOIN embeddings e ON e.vec_id = k.vec_id
         |  CROSS JOIN c
         |  WHERE k.cid NOT IN (SELECT cid FROM surv)
         |    AND c.cid IN (SELECT cid FROM surv)) WHERE rn = 1),
         |fin AS (SELECT vec_id, cid FROM kept WHERE cid IN (SELECT cid FROM surv)
         |  UNION ALL SELECT vec_id, cid FROM moved)
         |SELECT cid AS cluster_id, count(*) AS n,
         |  CAST(sum(vec_id) AS BIGINT) AS id_sum
         |FROM fin GROUP BY cid ORDER BY cid""".stripMargin),

    // extension: the maintenance PLANNER — the read-only census run
    // before scheduling split/merge work: per centroid, the fill and
    // the action the two maintenance ops would take at these knobs
    // (density 64 = the split ceiling, floor = ceil(n/16) = the merge
    // gate), with split_way stating splitKWay's own 1.3x-over-split
    // target arithmetic. Over the churned fixture all three actions
    // appear at every gate SF; every cell an exact integer/string the
    // oracle re-derives
    QueryDef("ivf_maintenance_plan", ((s, dir) => {
      val da = drainedAssigned(s, dir)
      val floor = (da.count() + 15L) / 16L
      IvfIndex.maintenancePlan(
          IvfIndex.Model(fixedCentroids(s, dir), da),
          density = 64, minSize = floor)
        .orderBy("cluster_id")
    }),
      // the planner re-derived over the same churned population: per
      // centroid (LEFT JOIN — empty clusters are listed, at fill 0), the
      // density-64 / ceil(n/16)-floor action and splitKWay's exact
      // 1.3x-over-split target arithmetic
      s"""WITH c AS MATERIALIZED ($sqlFixedCentroids),
         |asg AS (${sqlAssign(sqlSq)}),
         |kept AS MATERIALIZED (SELECT vec_id, cid FROM asg
         |  WHERE NOT (cid IN (2, 5) AND vec_id % 7 <> 0)),
         |fl AS (SELECT (count(*) + 15) // 16 AS f FROM kept),
         |sz AS MATERIALIZED (SELECT c.cid, coalesce(k.n, 0) AS n FROM c LEFT JOIN (
         |  SELECT cid, count(*) AS n FROM kept GROUP BY cid) k ON k.cid = c.cid),
         |grd AS (SELECT coalesce(max(CASE WHEN n >= f THEN 1 ELSE 0 END), 0) AS anybig,
         |  (SELECT cid FROM sz WHERE n > 0 ORDER BY n DESC, cid ASC LIMIT 1) AS topc
         |  FROM sz, fl)
         |SELECT cid AS cluster_id, CAST(n AS BIGINT) AS n,
         |  CASE WHEN n > 64 THEN 'split'
         |    WHEN n < f AND NOT (grd.anybig = 0 AND sz.cid IS NOT DISTINCT FROM grd.topc) THEN 'merge'
         |    ELSE 'ok' END AS action,
         |  CASE WHEN n > 64 THEN CAST(least(ceil(n * 1.3 / 64), 256) AS INTEGER) END AS split_way
         |FROM sz, fl, grd ORDER BY cluster_id""".stripMargin),

    // extension: the compaction PAYOFF dashboard — ivf_tuning_curve's
    // cost-beside-recall join evaluated on the churned store BEFORE and
    // AFTER [[IvfIndex.mergeSmall]], per probe budget, against the same
    // exact top-10 over the same live rows (only the cluster geometry
    // differs): the number that justifies scheduling a compaction. Both
    // curves ride the shared churn memo and the one-pass sweep/cost
    // machinery; every cell oracle-replayed
    QueryDef("ivf_compaction_gain", ((s, dir) => {
      val da = drainedAssigned(s, dir)
      val before = IvfIndex.Model(fixedCentroids(s, dir), da)
      val after = mergedModel(s, dir)
      val probes = Seq(1, 2, 4, 999)
      // the query lands in the DRAINED region: vec 2 = the dissolved
      // cluster's own (deleted) anchor — the case compaction exists for
      val qv = recs(s, dir).where(col("id") === 2)
        .select(col("embedding").as("qvec"))
      val exact10 = Knn.search(da, qv, 10, Metric.Euclidean)
        .select(col("id"))
      // ONE tagged sweep + ONE tagged cost pass over the union of the
      // two stores instead of one each per model (r15; guide §2.4 —
      // the r14 form re-ran the ranking window, the store scan, the
      // sizes rollup and the exact10 subtree once per curve: 84
      // Exchange / 22 parquet scans). Tagged outputs are law-pinned
      // row-identical per model, so the pivot below reproduces the
      // old two-join stitch cell for cell.
      val models = Seq("before" -> before, "after" -> after)
      val hits = IvfIndex.queryProbeSweepTagged(models, qv, k = 10,
          probes, Metric.Euclidean)
        .join(broadcast(exact10), Seq("id"), "left_semi")
        .groupBy(col("__model"), col("probes")).agg(count(lit(1)).as("__h"))
      val curves = IvfIndex.probeCostTagged(models, qv, probes, Metric.Euclidean)
        .join(broadcast(hits), Seq("__model", "probes"), "left")
        .select(col("__model"), col("probes"),
          col("rows_scanned"), col("scan_frac"),
          r4(coalesce(col("__h"), lit(0L)).cast("double") / lit(10.0))
            .as("recall"))
      // pivot the model tag into the before/after column pairs; every
      // (model, probes) cell exists (probeCostTagged left-joins the
      // budget list), so each max(when) picks exactly one value
      def cell(tag: String, c: String) =
        max(when(col("__model") === tag, col(c)))
      curves.groupBy(col("probes")).agg(
          cell("before", "rows_scanned").as("rows_before"),
          cell("before", "scan_frac").as("frac_before"),
          cell("before", "recall").as("recall_before"),
          cell("after", "rows_scanned").as("rows_after"),
          cell("after", "scan_frac").as("frac_after"),
          cell("after", "recall").as("recall_after"))
        .orderBy("probes")
    }),
      // both tuning curves replayed over the same churned population: the
      // drain, the merge (floor / survivors / re-assignment), then per
      // probe budget the cost census and the probed top-10 vs the exact
      // top-10 over the SAME live rows, for each geometry
      s"""WITH c AS MATERIALIZED ($sqlFixedCentroids),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 2),
         |asg AS (${sqlAssign(sqlSq)}),
         |kept AS MATERIALIZED (SELECT vec_id, cid FROM asg
         |  WHERE NOT (cid IN (2, 5) AND vec_id % 7 <> 0)),
         |fl AS (SELECT (count(*) + 15) // 16 AS f FROM kept),
         |surv AS MATERIALIZED (SELECT cid FROM (
         |  SELECT cid, count(*) AS n FROM kept GROUP BY cid), fl WHERE n >= f),
         |moved AS (SELECT vec_id, cid FROM (
         |  SELECT k.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY k.vec_id
         |      ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM kept k
         |  JOIN embeddings e ON e.vec_id = k.vec_id
         |  CROSS JOIN c
         |  WHERE k.cid NOT IN (SELECT cid FROM surv)
         |    AND c.cid IN (SELECT cid FROM surv)) WHERE rn = 1),
         |fin AS MATERIALIZED (SELECT vec_id, cid FROM kept WHERE cid IN (SELECT cid FROM surv)
         |  UNION ALL SELECT vec_id, cid FROM moved),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS store_rows FROM kept),
         |szb AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY cid),
         |sza AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM fin GROUP BY cid),
         |crb AS MATERIALIZED (SELECT c.cid, row_number() OVER (
         |  ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS prank FROM c, q),
         |cra AS MATERIALIZED (SELECT c.cid, row_number() OVER (
         |  ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS prank
         |  FROM c JOIN surv USING (cid), q),
         |p AS (SELECT unnest([1, 2, 4, 999]) AS probes),
         |costb AS (SELECT p.probes,
         |    CAST(coalesce(sum(coalesce(szb.n, 0)), 0) AS BIGINT) AS rows_before,
         |    ${sqlR4("CAST(coalesce(sum(coalesce(szb.n, 0)), 0) AS DOUBLE) / tot.store_rows")} AS frac_before
         |  FROM p JOIN crb ON crb.prank <= p.probes LEFT JOIN szb ON szb.cid = crb.cid, tot
         |  GROUP BY p.probes, tot.store_rows),
         |costa AS (SELECT p.probes,
         |    CAST(coalesce(sum(coalesce(sza.n, 0)), 0) AS BIGINT) AS rows_after,
         |    ${sqlR4("CAST(coalesce(sum(coalesce(sza.n, 0)), 0) AS DOUBLE) / tot.store_rows")} AS frac_after
         |  FROM p JOIN cra ON cra.prank <= p.probes LEFT JOIN sza ON sza.cid = cra.cid, tot
         |  GROUP BY p.probes, tot.store_rows),
         |ex AS MATERIALIZED (SELECT e.vec_id FROM embeddings e JOIN kept k ON e.vec_id = k.vec_id, q
         |  ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10),
         |resb AS (SELECT p.probes, r.vec_id FROM p, LATERAL (
         |  SELECT e.vec_id FROM embeddings e JOIN kept ON e.vec_id = kept.vec_id
         |    JOIN crb ON kept.cid = crb.cid, q
         |  WHERE crb.prank <= p.probes
         |  ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10) r),
         |resa AS (SELECT p.probes, r.vec_id FROM p, LATERAL (
         |  SELECT e.vec_id FROM embeddings e JOIN fin ON e.vec_id = fin.vec_id
         |    JOIN cra ON fin.cid = cra.cid, q
         |  WHERE cra.prank <= p.probes
         |  ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10) r),
         |hb AS (SELECT probes, count(*) AS h FROM resb JOIN ex USING (vec_id) GROUP BY probes),
         |ha AS (SELECT probes, count(*) AS h FROM resa JOIN ex USING (vec_id) GROUP BY probes)
         |SELECT costb.probes, costb.rows_before, costb.frac_before,
         |  ${sqlR4("CAST(coalesce(hb.h, 0) AS DOUBLE) / 10.0")} AS recall_before,
         |  costa.rows_after, costa.frac_after,
         |  ${sqlR4("CAST(coalesce(ha.h, 0) AS DOUBLE) / 10.0")} AS recall_after
         |FROM costb JOIN costa ON costb.probes = costa.probes
         |LEFT JOIN hb ON hb.probes = costb.probes
         |LEFT JOIN ha ON ha.probes = costb.probes
         |ORDER BY costb.probes""".stripMargin),

    // O6,O9 — nearest-centroid assignment over fixed centroids
    QueryDef("ivf_assignments", ((s, dir) =>
      fixedModel(s, dir, Metric.Euclidean).assigned
        .select(col("id").as("vec_id"), col("cluster_id")).orderBy("vec_id")),
      s"""WITH c AS ($sqlFixedCentroids),
         |d AS (SELECT e.vec_id, c.cid, ${sqlSq("e.embedding", "c.cvec")} AS dist FROM embeddings e CROSS JOIN c),
         |r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM d)
         |SELECT vec_id, cid AS cluster_id FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // O6,O13 — probe-pruned ANN query over fixed centroids
    QueryDef("ivf_probe_query", ((s, dir) =>
      knnOut(IvfIndex.query(fixedModel(s, dir, Metric.Euclidean),
        qvec0(s, dir), k = 10, probes = 3, Metric.Euclidean))),
      sqlProbeTop10(sqlSq)),

    // extension: probe-cost OBSERVABILITY — per probe budget, the exact
    // clusters-probed / rows-scanned census vs store totals off the
    // assignment frame ([[IvfIndex.probeCost]] — the dashboard that
    // says probes/density are mis-tuned; see its scaladoc for the
    // reference defaults, density=256 records/cluster and probes=32,
    // that size the 100 TB per-query scan at ~probes×density rows).
    // Every cell is an exact integer the oracle derives by replaying
    // the deterministic fixed-centroid probe ranking and assignment
    QueryDef("ivf_probe_cost", ((s, dir) =>
      IvfIndex.probeCost(fixedModel(s, dir, Metric.Euclidean),
          qvec0(s, dir), probesList = Seq(1, 2, 3, 4, 8), Metric.Euclidean)
        .orderBy("probes")),
      // replay the probe ranking once, join each probe budget against the
      // ranked prefix, LEFT join sizes (a duplicate-tied-away centroid is
      // probed with zero rows)
      s"""WITH c AS ($sqlFixedCentroids),
         |$sqlQ0,
         |asg AS (${sqlAssign(sqlSq)}),
         |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM asg GROUP BY cid),
         |pr AS (SELECT c.cid, row_number() OVER (ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS prk FROM c, q),
         |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS store_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS store_clusters),
         |p AS (SELECT unnest([1, 2, 3, 4, 8]) AS probes)
         |SELECT p.probes, CAST(count(*) AS BIGINT) AS n_probed,
         |  CAST(coalesce(sum(coalesce(sz.n, 0)), 0) AS BIGINT) AS rows_scanned,
         |  tot.store_rows, tot.store_clusters,
         |  ${sqlR4("CAST(coalesce(sum(coalesce(sz.n, 0)), 0) AS DOUBLE) / tot.store_rows")} AS scan_frac
         |FROM p JOIN pr ON pr.prk <= p.probes LEFT JOIN sz ON sz.cid = pr.cid, tot
         |GROUP BY p.probes, tot.store_rows, tot.store_clusters
         |ORDER BY p.probes""".stripMargin),

    // extension: ASSIGNMENT drift between snapshot versions — how many
    // surviving vectors change their nearest cluster under the same
    // fixed centroids after the version perturbation: the metric that
    // sizes the incremental-refresh work (ivf_apply_diff) and triggers
    // re-clustering when geometry shifts. Exact counts
    QueryDef("ivf_assignment_drift", ((s, dir) => {
      val cents = fixedCentroids(s, dir)
      val oldA = IvfIndex.assign(recs(s, dir), cents, Metric.Euclidean)
        .select(col("id"), col("cluster_id").as("__co"))
      val newRecs = perturbStore(recs(s, dir), "id")
      val newA = IvfIndex.assign(newRecs, cents, Metric.Euclidean)
        .select(col("id"), col("cluster_id").as("__cn"))
      oldA.join(newA, Seq("id"))
        .agg(count(lit(1)).as("n_common"),
          count(when(col("__co") =!= col("__cn"), 1)).as("n_moved"))
        .select(col("n_common"), col("n_moved"),
          r4(col("n_moved").cast("double") / col("n_common")).as("moved_frac"))
    }),
      // both assignments replayed against the ORIGINAL fixed centroids
      s"""WITH c AS ($sqlFixedCentroids),
         |newv AS (SELECT vec_id,
         |    CASE WHEN vec_id % 101 = 7
         |      THEN list_prepend(CAST(embedding[1] + CAST(1.0 AS REAL) AS REAL), embedding[2:])
         |      ELSE embedding END AS embedding
         |  FROM embeddings WHERE NOT (vec_id % 97 = 3)),
         |ao AS (${sqlAssign(sqlSq)}),
         |an AS (SELECT vec_id, cid FROM (
         |  SELECT n.vec_id, c.cid, row_number() OVER (PARTITION BY n.vec_id ORDER BY ${sqlSq("n.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM newv n CROSS JOIN c) WHERE rn = 1),
         |j AS (SELECT ao.cid AS co, an.cid AS cn FROM ao JOIN an ON ao.vec_id = an.vec_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_common,
         |  CAST(count(*) FILTER (co <> cn) AS BIGINT) AS n_moved,
         |  ${sqlR4("CAST(count(*) FILTER (co <> cn) AS DOUBLE) / count(*)")} AS moved_frac
         |FROM j""".stripMargin),

    // extension: index-HEALTH dashboard — per-cluster population and
    // distance-to-centroid stats (the density/drift monitor that decides
    // refine). Distances r4-quantized to exact ints BEFORE aggregation
    // (the checksum trick), so mean/max are partition-order-independent
    QueryDef("ivf_cluster_stats", ((s, dir) => {
      val m = fixedModel(s, dir, Metric.Euclidean)
      m.assigned
        .join(broadcast(m.centroids), Seq("cluster_id"))
        .select(col("cluster_id"),
          floor(Metric.Euclidean.distance(col("embedding"), col("centroid"))
            * lit(10000.0) + lit(0.5)).cast("long").as("__qd"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"), sum(col("__qd")).as("__s"),
          max(col("__qd")).as("__mx"))
        .select(col("cluster_id"), col("n"),
          r4(col("__s").cast("double") / col("n") / lit(10000.0)).as("mean_dist"),
          (col("__mx").cast("double") / lit(10000.0)).as("max_dist"))
        .orderBy("cluster_id")
    }),
      // the assignment CTE + the same quantized-int distance aggregation
      s"""WITH c AS ($sqlFixedCentroids),
         |asg AS (${sqlAssign(sqlSq)}),
         |d AS (SELECT asg.cid AS cluster_id,
         |    CAST(floor(${sqlSq("e.embedding", "c2.cvec")} * 10000.0 + 0.5) AS BIGINT) AS qd
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id JOIN c c2 ON asg.cid = c2.cid)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
         |  ${sqlR4("CAST(sum(qd) AS DOUBLE) / count(*) / 10000.0")} AS mean_dist,
         |  CAST(max(qd) AS DOUBLE) / 10000.0 AS max_dist
         |FROM d GROUP BY cluster_id ORDER BY cluster_id""".stripMargin),

    // extension: the three-level serving funnel — IVF probes prune
    // clusters, prefix-dim (16 of 64) distance prunes within them,
    // full-dim reranks the 50-row shortlist. One cluster-pruned scan,
    // two chained bounded heaps; every stage id-tiebroken, so the
    // whole funnel replays in the oracle
    QueryDef("ivf_matryoshka_query", ((s, dir) =>
      knnOut(IvfIndex.queryPrefixRerank(fixedModel(s, dir, Metric.Euclidean),
        qvec0(s, dir), k = 10, probes = 3, prefixDim = 16, shortlist = 50))),
      // the full funnel replayed: probe selection, prefix shortlist
      // within probed clusters, exact rerank
      s"""WITH ${sqlProbedFixed(sqlSq)},
         |cand AS (SELECT e.vec_id AS vec_id, e.embedding AS embedding, q.qvec AS qvec
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q),
         |sl AS (SELECT vec_id, embedding, qvec FROM cand
         |  ORDER BY ${sqlSq("embedding[1:16]", "qvec[1:16]")} ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id, ${sqlR4(sqlSq("embedding", "qvec"))} AS distance
         |FROM sl ORDER BY ${sqlSq("embedding", "qvec")} ASC, vec_id ASC LIMIT 10""".stripMargin),

    // extension: the three-level BINARY funnel — IVF probe pruning,
    // then an integer Hamming shortlist over packed sign codes, then
    // exact rerank of the shortlist only
    QueryDef("ivf_hamming_query", ((s, dir) =>
      knnOut(IvfIndex.queryHammingRerank(fixedModel(s, dir, Metric.Euclidean),
        qvec0(s, dir), k = 10, probes = 3, shortlist = 50))),
      s"""WITH c AS ($sqlFixedCentroids),
         |q AS (SELECT embedding AS qvec, ${sqlBinCode("embedding")} AS qc FROM embeddings WHERE vec_id = 0),
         |asg AS (${sqlAssign(sqlSq)}),
         |${sqlProbed3(sqlSq)},
         |cand AS (SELECT e.vec_id AS vec_id, e.embedding AS embedding, q.qvec AS qvec, q.qc AS qc
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q),
         |sl AS (SELECT vec_id, embedding, qvec FROM cand
         |  ORDER BY ${sqlHamming(sqlBinCode("embedding"), "qc")} ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id, ${sqlR4(sqlSq("embedding", "qvec"))} AS distance
         |FROM sl ORDER BY ${sqlSq("embedding", "qvec")} ASC, vec_id ASC LIMIT 10""".stripMargin),

    // O17/O18 × O6 — the 100 TB index LAYOUT in the correctness gate:
    // write the assignment partitionBy(cluster_id) (posting lists as
    // parquet partitions), reopen, probe — the pruned-scan store must
    // answer exactly like the in-memory frame (same fixed centroids, so
    // the ivf_probe_query oracle applies verbatim). Partition pruning
    // itself is pinned by PlanShapeSpec.
    QueryDef("ivf_store_query", ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_store_" +
        s.sparkContext.applicationId
      IvfIndex.writePartitioned(fixedModel(s, dir, Metric.Euclidean), path)
      val disk = IvfIndex.Model(fixedCentroids(s, dir), s.read.parquet(path))
      knnOut(IvfIndex.query(disk, qvec0(s, dir), k = 10, probes = 3, Metric.Euclidean))
    }),
      sqlProbeTop10(sqlSq)),

    // O6,O9 under the COSINE metric — assignment, probe ranking, and
    // re-rank all run cosine distance (reference metric.rs:30-31)
    QueryDef("ivf_probe_cosine", ((s, dir) =>
      knnOut(IvfIndex.query(fixedModel(s, dir, Metric.Cosine),
        qvec0(s, dir), k = 10, probes = 3, Metric.Cosine))),
      sqlProbeTop10(sqlCosDist)),

    // extension: batch ANN through the IVF index — per-query probe
    // pruning (each record meets only the queries probing its cluster),
    // the scale path that replaces the brute-force record × query cross
    QueryDef("ivf_batch_query", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val q = recs(s, dir).where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      IvfIndex.queryBatch(model, q, k = 5, probes = 3, Metric.Euclidean)
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"), r4(col("distance")).as("distance"))
    }),
      s"""WITH c AS ($sqlFixedCentroids),
         |$sqlQBatch,
         |asg AS (${sqlAssign(sqlSq)}),
         |probed AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS rn
         |  FROM c CROSS JOIN q) WHERE rn <= 3),
         |cand AS (SELECT q.query_id, e.vec_id, ${sqlSq("e.embedding", "q.qvec")} AS dist
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id
         |  JOIN probed p ON asg.cid = p.cid JOIN q ON q.query_id = p.query_id),
         |r AS (SELECT query_id, vec_id, dist, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin),

    // extension: the full stack in one query — filter-DSL predicate ×
    // IVF probe pruning × batch two-phase top-k
    QueryDef("ivf_batch_filtered", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val q = recs(s, dir).where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      IvfIndex.queryBatch(model, q, k = 5, probes = 4, Metric.Euclidean,
          filter = FilterDsl.predicate(col("metadata"), "label >= 3"))
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"), r4(col("distance")).as("distance"))
    }),
      s"""WITH c AS ($sqlFixedCentroids),
         |$sqlQBatch,
         |asg AS (${sqlAssign(sqlSq)}),
         |probed AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS rn
         |  FROM c CROSS JOIN q) WHERE rn <= 4),
         |cand AS (SELECT q.query_id, e.vec_id, ${sqlSq("e.embedding", "q.qvec")} AS dist
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id
         |  JOIN probed p ON asg.cid = p.cid JOIN q ON q.query_id = p.query_id
         |  WHERE e.label >= 3),
         |r AS (SELECT query_id, vec_id, dist, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin),

    // extension: the IVF probe served from QUANTIZED vectors — the memory-
    // optimized posting-list layout end-to-end: store int8 codes + scale,
    // reconstruct at scan time, probe + top-k over the reconstruction.
    // Assignment/probing run on full-precision centroids (codes only
    // replace the stored record vectors, as in scalar-quantized IVF).
    // Full SQL oracle: DuckDB replays quantize→dequantize→distance→top-k.
    QueryDef("ivf_quantized_query", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val qstore = model.assigned
        .withColumn("__scale", operators.VectorOps.int8Scale(col("embedding")))
        .withColumn("embedding",
          operators.VectorOps.dequantizeInt8(
            operators.VectorOps.quantizeInt8(col("embedding"), col("__scale")),
            col("__scale")).cast("array<float>"))
        .drop("__scale")
      knnOut(IvfIndex.query(IvfIndex.Model(model.centroids, qstore),
        qvec0(s, dir), k = 10, probes = 3, Metric.Euclidean))
    }),
      s"""WITH ${sqlProbedFixed(sqlSq)},
         |dq AS (SELECT e.vec_id, asg.cid,
         |  list_transform(e.embedding, x -> CAST(
         |    CAST(CASE WHEN sc.scale > 0 THEN floor(CAST(x AS DOUBLE) / sc.scale + 0.5) ELSE 0 END AS INT) * sc.scale
         |    AS REAL)) AS deq
         |  FROM embeddings e
         |  JOIN (SELECT vec_id, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
         |        FROM embeddings) sc ON sc.vec_id = e.vec_id
         |  JOIN asg ON asg.vec_id = e.vec_id)
         |SELECT d.vec_id AS vec_id, ${sqlR4(sqlSq("d.deq", "q.qvec"))} AS distance
         |FROM dq d JOIN probed ON d.cid = probed.cid, q
         |ORDER BY ${sqlSq("d.deq", "q.qvec")} ASC, d.vec_id ASC LIMIT 10""".stripMargin),

    // extension: the IVF probe served from PQ codes end-to-end (the
    // IVF-PQ layout): store codes, reconstruct at scan time (= ADC for
    // squared L2), probe + top-k over the reconstruction. Assignment
    // and probing stay full-precision, as in ivf_quantized_query.
    QueryDef("ivf_pq_query", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val qstore = model.assigned
        .crossJoin(broadcast(pqFixedBooks(s, dir)))
        .withColumn("embedding",
          operators.VectorOps.pqReconstruct(
            operators.VectorOps.pqCodes(col("embedding"), col("books")),
            col("books")).cast("array<float>"))
        .drop("books")
      knnOut(IvfIndex.query(IvfIndex.Model(model.centroids, qstore),
        qvec0(s, dir), k = 10, probes = 3, Metric.Euclidean))
    }),
      s"""WITH ${sqlProbedFixed(sqlSq)},
         |$sqlPqBooks,
         |${sqlPqEncode("embeddings")},
         |recon AS (SELECT vec_id, flatten(list(cvec ORDER BY sub_idx)) AS deq FROM enc WHERE rn = 1 GROUP BY vec_id)
         |SELECT r.vec_id AS vec_id, ${sqlR4(sqlSq("r.deq", "q.qvec"))} AS distance
         |FROM recon r JOIN asg ON asg.vec_id = r.vec_id JOIN probed ON asg.cid = probed.cid, q
         |ORDER BY ${sqlSq("r.deq", "q.qvec")} ASC, r.vec_id ASC LIMIT 10""".stripMargin),

    // extension: TRUE ADC — the probe served from the code store and a
    // per-query lookup table (luts[sub][code] = per-subspace distance,
    // broadcast): per record the scan is m=4 array lookups + 3 adds, and
    // no d-dim vector is reconstructed or scanned. ivf_pq_query above
    // keeps the reconstruct-then-distance formulation (bit-exact against
    // the flat oracle); this row pins the per-subspace-sum serving shape
    // with its own grouped-sum oracle
    QueryDef("ivf_adc_query", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      // compressed store: (id, cluster_id, codes) — embedding dropped
      val codeStore = model.assigned
        .crossJoin(broadcast(books))
        .select(col("id"), col("cluster_id"),
          operators.VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
      knnOut(IvfIndex.queryAdc(model.centroids, codeStore, books,
        qvec0(s, dir), k = 10, probes = 3))
    }),
      // ADC distance = per-subspace grouped sum of the same terms the
      // ivf_pq_query oracle sums flat; r4 absorbs the regrouping ulps
      s"""WITH ${sqlProbedFixed(sqlSq)},
         |$sqlPqBooks,
         |${sqlPqEncode("embeddings")},
         |$sqlAdc
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin),

    // extension: the OPQ serving story end-to-end — the WHOLE index in
    // rotated space: rotated centroids (membership is unchanged since
    // the reflection preserves distances), codes over rotated vectors
    // against the rotated codebooks, the query reflected ONCE per query,
    // then the unchanged ADC scan. Rotation cost at serving time is one
    // kernel call per query row, zero per stored code.
    QueryDef("ivf_adc_rotated_query", ((s, dir) => {
      def rot(c: Column) =
        operators.VectorOps.householderReflect(c).cast("array<float>")
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqRotatedBooks(s, dir)
      val centroidsR = model.centroids
        .select(col("cluster_id"), rot(col("centroid")).as("centroid"))
      val codeStore = model.assigned
        .crossJoin(broadcast(books))
        .select(col("id"), col("cluster_id"),
          operators.VectorOps.pqCodes(rot(col("embedding")), col("books")).as("codes"))
      val qR = qvec0(s, dir).select(rot(col("qvec")).as("qvec"))
      knnOut(IvfIndex.queryAdc(centroidsR, codeStore, books, qR, k = 10, probes = 3))
    }),
      // the ivf_adc_query oracle with every vector passed through the
      // pinned reflection first (assignment stays original-space, matching
      // the Spark side's unrotated model.assigned); same forced-order ADC
      // fold
      s"""WITH rotq AS (SELECT vec_id, embedding,
         |  list_reduce(list_transform(list_zip(embedding, $sqlOpqW),
         |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b) AS wv
         |  FROM embeddings),
         |rot AS (SELECT vec_id,
         |  list_transform(list_zip(embedding, $sqlOpqW),
         |    p -> CAST(CAST(p[1] AS DOUBLE) - (2.0 * wv / $sqlOpqWw) * CAST(p[2] AS DOUBLE) AS REAL)) AS rv
         |  FROM rotq),
         |c AS (SELECT CAST(vec_id AS INTEGER) AS cid, rv AS cvec FROM rot WHERE vec_id < 8),
         |q AS (SELECT rv AS qvec FROM rot WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c0.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c0.cvec")} ASC, c0.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN ($sqlFixedCentroids) c0) WHERE rn = 1),
         |${sqlProbed3(sqlSq)},
         |cb AS (SELECT CAST(vec_id AS INT) AS code, rv AS embedding FROM rot WHERE vec_id < 16),
         |$sqlPqSubBooks,
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.rv, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM rot e CROSS JOIN books b),
         |$sqlAdc
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin),

    // extension: metadata-filtered ADC serving — the filter-DSL predicate
    // composes PRE-top-k with the compressed code scan (the code store
    // carries no metadata; admissible ids semi-join in from the record
    // store), completing the filtered-query matrix: brute force
    // (knn_filtered), LSH (ann_lsh_filtered), IVF (ivf_batch_filtered),
    // and now the PQ/ADC path
    QueryDef("ivf_adc_filtered", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      val codeStore = model.assigned
        .crossJoin(broadcast(books))
        .select(col("id"), col("cluster_id"),
          operators.VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
      val keep = recs(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "label >= 3"))
        .select(col("id"))
      knnOut(IvfIndex.queryAdc(model.centroids, codeStore, books,
        qvec0(s, dir), k = 10, probes = 3, filterIds = Some(keep)))
    }),
      // All ADC oracles compute the per-record distance as
      // list_sum(list(... ORDER BY sub_idx)) instead of a plain grouped
      // sum(): DuckDB parallelizes grouped double-summation, so addition
      // order (hence the last ulp) varied RUN TO RUN and could flip a
      // knife-edge top-k boundary between two near-tied candidates —
      // observed intermittently on ivf_adc_residual_batch. The ordered
      // list fold is thread-count-independent AND matches Spark's
      // adcDistance sub-order fold bit for bit.
      //
      // same grouped-sum ADC oracle as ivf_adc_query, with the metadata
      // predicate applied before the top-k (filter composes pre-ranking)
      s"""WITH ${sqlProbedFixed(sqlSq)},
         |$sqlPqBooks,
         |${sqlPqEncode("embeddings")},
         |$sqlAdc
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |JOIN embeddings e ON e.vec_id = adc.vec_id
         |WHERE e.label >= 3
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin),

    // extension: the compressed store ON DISK — codes written as
    // cluster_id-partitioned parquet (the 100 TB layout: 2-byte codes in
    // posting-list partitions) and probed from the reopened store; the
    // probe must prune partitions exactly like the full-precision
    // ivf_store_query (pinned in PlanShapeSpec)
    QueryDef("ivf_adc_store_query", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_adcstore_" +
        s"${s.sparkContext.applicationId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        model.assigned
          .crossJoin(broadcast(books))
          .select(col("id"), col("cluster_id"),
            operators.VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
          .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
      knnOut(IvfIndex.queryAdc(model.centroids, s.read.parquet(path), books,
        qvec0(s, dir), k = 10, probes = 3))
    }),
      // the disk layout changes the files, never the rows — the
      // ivf_adc_query oracle applies verbatim
      s"""WITH ${sqlProbedFixed(sqlSq)},
         |$sqlPqBooks,
         |${sqlPqEncode("embeddings")},
         |$sqlAdc
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin),

    // extension: incremental CODE-STORE maintenance — the snapshot_diff
    // change log applied to the compressed store (deletes out, upserts
    // re-assigned + re-encoded, unchanged rows untouched); the oracle
    // re-derives the updated store's per-cluster (count, code-sum)
    // profile by assigning AND encoding the transformed store from
    // scratch in SQL
    QueryDef("ivf_adc_apply_diff", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      val codeStore = model.assigned
        .crossJoin(broadcast(books))
        .select(col("id"), col("cluster_id"),
          operators.VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
      val old = recs(s, dir)
      // same cached-change-log shape as ivf_apply_diff: two consumers,
      // and the plan-keyed persist lets the sibling diff query's
      // materialization serve this one within the family
      val changes = Caching.ensureCached(Crud.diff(old, diffNewStore(s, old)))
      IvfIndex.applyDiffToCodes(codeStore, changes, model.centroids, books,
          Metric.Euclidean)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"),
          sum(aggregate(col("codes"), lit(0L), (a, c) => a + c.cast("long")))
            .as("codes_sum"))
        .orderBy("cluster_id")
    }),
      s"""WITH c AS ($sqlFixedCentroids),
         |base AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 101 = 7
         |      THEN [CAST(embedding[1] + 1.0 AS REAL)] || embedding[2:]
         |      ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 97 <> 3
         |  UNION ALL
         |  SELECT (SELECT max(vec_id) + 1 FROM embeddings),
         |    list_transform(range($Dim), x -> CAST(0.9 AS REAL))),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT b.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${sqlSq("b.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM base b CROSS JOIN c) WHERE rn = 1),
         |$sqlPqBooks,
         |enc AS (SELECT bb.vec_id, b.sub_idx, b.code,
         |  row_number() OVER (PARTITION BY bb.vec_id, b.sub_idx
         |    ORDER BY ${sqlSq("list_slice(bb.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM base bb CROSS JOIN books b),
         |codes AS (SELECT vec_id, sum(CAST(code AS BIGINT)) AS csum
         |  FROM enc WHERE rn = 1 GROUP BY vec_id)
         |SELECT asg.cid AS cluster_id, count(*) AS n,
         |  CAST(sum(codes.csum) AS BIGINT) AS codes_sum
         |FROM asg JOIN codes USING (vec_id)
         |GROUP BY asg.cid ORDER BY cluster_id""".stripMargin),

    // extension: the BATCH ADC probe — many queries against the code
    // store, per-query LUTs on one broadcast, bounded-heap two-phase
    // top-k (no ranking window over candidates)
    QueryDef("ivf_adc_batch", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      val codeStore = model.assigned
        .crossJoin(broadcast(books))
        .select(col("id"), col("cluster_id"),
          operators.VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
      val q = recs(s, dir).where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      IvfIndex.queryAdcBatch(model.centroids, codeStore, books, q, k = 5, probes = 3)
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"),
          r4(col("distance")).as("distance"))
    }),
      s"""WITH c AS ($sqlFixedCentroids),
         |$sqlQBatch,
         |asg AS (${sqlAssign(sqlSq)}),
         |probed AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS rn
         |  FROM c CROSS JOIN q) WHERE rn <= 3),
         |$sqlPqBooks,
         |${sqlPqEncode("embeddings")},
         |adc AS (SELECT q.query_id, enc.vec_id,
         |  list_sum(list((${sqlSq("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc, q WHERE rn = 1 GROUP BY q.query_id, enc.vec_id),
         |cand AS (SELECT adc.query_id, adc.vec_id, adc.dist FROM adc
         |  JOIN asg ON asg.vec_id = adc.vec_id
         |  JOIN probed p ON asg.cid = p.cid AND p.query_id = adc.query_id),
         |r AS (SELECT query_id, vec_id, dist,
         |  row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance
         |FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin),

    // extension: RESIDUAL-encoded ADC — the IVFADC layout (codes encode
    // v − centroid[cluster], per-probed-cluster LUTs on the query side),
    // the design that makes PQ accurate at 100 TB because codes spend
    // their resolution on within-cluster displacement. Same fixed demo
    // books as the raw path so every step stays oracle-exact; production
    // trains the books on residuals (VectorOps.pqTrain over
    // VectorOps.residual inputs)
    QueryDef("ivf_adc_residual_query", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      val codeStore = IvfIndex.encodeResidual(model.assigned, model.centroids, books)
      knnOut(IvfIndex.queryAdcResidual(model.centroids, codeStore, books,
        qvec0(s, dir), k = 10, probes = 3))
    }),
      // residual twin of the ivf_adc_query oracle: the encode compares
      // (v − own-centroid) slices against the books, the ADC distance
      // compares (q − candidate's-cluster-centroid) slices against the
      // chosen entries — both joins replayed row-exactly
      s"""WITH ${sqlProbedFixed(sqlSq)},
         |$sqlPqBooks,
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq(sqlSub("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "list_slice(cc.cvec, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))"), "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM embeddings e JOIN asg ON asg.vec_id = e.vec_id JOIN c cc ON cc.cid = asg.cid CROSS JOIN books b),
         |adc AS (SELECT enc.vec_id,
         |  list_sum(list((${sqlSq(sqlSub("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "list_slice(cc.cvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))"), "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc JOIN asg ON asg.vec_id = enc.vec_id JOIN c cc ON cc.cid = asg.cid, q WHERE rn = 1 GROUP BY enc.vec_id)
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin),

    // extension: COSINE on the compressed path — no cosine ADC kernel
    // exists or is needed: on an L2-normalized store, cosine distance is
    // exactly half the squared L2 distance, so the whole L2 ADC stack
    // (encode, LUTs, code scan) serves cosine with a final /2. Store,
    // centroids, books, and query all normalize once at build time
    QueryDef("ivf_adc_cosine_query", ((s, dir) => {
      val cents = normalizedCentroids(s, dir)
      val books = operators.VectorOps.pqPack(
        normalizedRecs(s, dir).where(col("id") < 16)
          .select(col("id").cast("int").as("code"), col("embedding"))
          .select(explode(sequence(lit(0), lit(3))).as("sub_idx"),
            col("code"), col("embedding"))
          .select(col("sub_idx"), col("code"),
            slice(col("embedding"), col("sub_idx") * 16 + 1, lit(16)).as("cvec")))
      val codeStore = normalizedAssigned(s, dir)
        .crossJoin(broadcast(books))
        .select(col("id"), col("cluster_id"),
          operators.VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
      val q = normalizedRecs(s, dir).where(col("id") === 0)
        .select(col("embedding").as("qvec"))
      IvfIndex.queryAdc(cents, codeStore, books, q, k = 10, probes = 3)
        .select(col("id").as("vec_id"), r4(col("distance") / 2).as("distance"))
    }),
      // the ivf_adc_query oracle over the normalized table, final /2 —
      // the unit-vector identity cosine = sqL2/2 replayed end to end
      // the normalize twin carries l2Normalize's zero-norm guard (zero
      // vector → zero vector, never 0/0 NaN) — an unguarded division gave
      // the zero vector NaN-keyed code assignments that landed it a
      // spurious 0-distance serve (adversarial-data finding, r8)
      s"""WITH nv AS (SELECT vec_id, list_transform(embedding,
         |    x -> CASE WHEN list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0
         |         THEN CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
         |         ELSE CAST(0 AS DOUBLE) END) AS embedding
         |  FROM embeddings),
         |c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM nv WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM nv WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM nv e CROSS JOIN c) WHERE rn = 1),
         |${sqlProbed3(sqlSq)},
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM nv WHERE vec_id < 16),
         |$sqlPqSubBooks,
         |${sqlPqEncode("nv")},
         |$sqlAdc
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist / 2.0")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin),

    // extension: batch twin of the residual probe — LUTs per
    // (query, probed cluster), two-phase bounded-heap top-k per query
    QueryDef("ivf_adc_residual_batch", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      val codeStore = IvfIndex.encodeResidual(model.assigned, model.centroids, books)
      val q = recs(s, dir).where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      IvfIndex.queryAdcResidualBatch(model.centroids, codeStore, books, q,
          k = 5, probes = 3)
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"),
          r4(col("distance")).as("distance"))
    }),
      // batch residual oracle: the enc/adc residual terms of
      // ivf_adc_residual_query inside the per-query structure of
      // ivf_adc_batch
      s"""WITH c AS ($sqlFixedCentroids),
         |$sqlQBatch,
         |asg AS (${sqlAssign(sqlSq)}),
         |probed AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS rn
         |  FROM c CROSS JOIN q) WHERE rn <= 3),
         |$sqlPqBooks,
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq(sqlSub("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "list_slice(cc.cvec, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))"), "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM embeddings e JOIN asg ON asg.vec_id = e.vec_id JOIN c cc ON cc.cid = asg.cid CROSS JOIN books b),
         |adc AS (SELECT q.query_id, enc.vec_id,
         |  list_sum(list((${sqlSq(sqlSub("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "list_slice(cc.cvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))"), "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc JOIN asg ON asg.vec_id = enc.vec_id JOIN c cc ON cc.cid = asg.cid, q WHERE rn = 1 GROUP BY q.query_id, enc.vec_id),
         |cand AS (SELECT adc.query_id, adc.vec_id, adc.dist FROM adc
         |  JOIN asg ON asg.vec_id = adc.vec_id
         |  JOIN probed p ON asg.cid = p.cid AND p.query_id = adc.query_id),
         |r AS (SELECT query_id, vec_id, dist,
         |  row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance
         |FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin),

    // extension: ADC-shortlist + exact re-rank with a FULL-SQL oracle —
    // the deterministic twin of ivf_pq_rerank's invariant contract:
    // full-probe ADC top-50 from the code store, exact top-10 re-rank on
    // original vectors, every step replayed row-exactly in DuckDB
    QueryDef("ivf_adc_rerank", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      val codeStore = model.assigned
        .crossJoin(broadcast(books))
        .select(col("id"), col("cluster_id"),
          operators.VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
      val shortlist = IvfIndex.queryAdc(model.centroids, codeStore, books,
        qvec0(s, dir), k = 50, probes = Int.MaxValue).select(col("id"))
      knnOut(Knn.search(recs(s, dir).join(shortlist, Seq("id")),
        qvec0(s, dir), k = 10, Metric.Euclidean))
    }),
      // full-probe shortlist: every step deterministic, so the rerank path
      // gets a row-exact oracle (ivf_pq_rerank keeps the invariant form)
      s"""WITH $sqlQ0,
         |$sqlPqBooks,
         |${sqlPqEncode("embeddings")},
         |$sqlAdc,
         |short AS (SELECT vec_id FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 50)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e JOIN short USING (vec_id), q
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin),

    // extension: the production PQ serving shape — ADC shortlist from
    // the compressed store, exact re-rank of the shortlist on original
    // vectors (50 rows, broadcast). Invariant oracle: re-ranking the
    // top-50 shortlist on true distances can only IMPROVE recall@10
    // over the raw PQ top-10 (a fixed recall threshold would encode the
    // fixed demo codebooks' distortion, not the operator's contract)
    QueryDef("ivf_pq_rerank", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      // the shortlist comes from the TRUE ADC code scan (see
      // ivf_adc_query): 2-byte codes + a per-query broadcast LUT, no
      // reconstruction — O(m) per record instead of a d-dim kernel
      val codeStore = model.assigned
        .crossJoin(broadcast(books))
        .select(col("id"),
          operators.VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
      val luts = qvec0(s, dir).crossJoin(broadcast(books))
        .select(operators.VectorOps.pqLuts(col("qvec"), col("books")).as("luts"))
      // full probe set: isolates PQ distortion (pruning loss is
      // ivf_recall_curve's separately-measured contract).
      // ONE ADC scan serves both cut-offs: the top-10 is the 10-prefix
      // of the top-50 under the same (__d, id) total order — the r10
      // form ran the code scan once per cut-off
      val short50 = Caching.ensureCached(
        codeStore.crossJoin(broadcast(luts))
          .withColumn("__d",
            operators.VectorOps.adcDistance(col("codes"), col("luts")))
          .orderBy(col("__d").asc, col("id").asc)
          .limit(50)
          .select(col("id"), col("__d")))
      def pqTop(k: Int): DataFrame =
        short50.orderBy(col("__d").asc, col("id").asc).limit(k)
          .select(col("id"))
      val reranked = Knn.search(recs(s, dir).join(pqTop(50), Seq("id")),
          qvec0(s, dir), k = 10, Metric.Euclidean)
        .select(col("id"))
      val exactIds = Knn.search(recs(s, dir), qvec0(s, dir), k = 10,
          Metric.Euclidean)
        .select(col("id"))
      // EXACT report (upgraded from the r6 boolean contract, which lives
      // on as an IvfIndexSpec law): recall@10 of the raw PQ top-10 and
      // of the rerank funnel, both against the true top-10 — exact
      // integers the oracle re-derives by replaying the codebook
      // assignment, LUT scan, and rerank in SQL
      reranked.join(exactIds, Seq("id")).agg(count(lit(1)).as("__hr"))
        .crossJoin(
          pqTop(10).join(exactIds, Seq("id")).agg(count(lit(1)).as("__hp")))
        .select(col("__hp").cast("long").as("n_hit_pq"),
          col("__hr").cast("long").as("n_hit_rerank"),
          r4(col("__hp").cast("double") / lit(10.0)).as("recall_pq"),
          r4(col("__hr").cast("double") / lit(10.0)).as("recall_rerank"))
    }),
      // full-SQL replay of the PQ funnel (same CTE machinery as
      // ivf_adc_rerank): codebook assignment, full-probe LUT scan, raw
      // top-10 vs rerank-of-top-50, recall against the exact top-10
      s"""WITH $sqlQ0,
         |$sqlPqBooks,
         |${sqlPqEncode("embeddings")},
         |$sqlAdc,
         |pq10 AS (SELECT vec_id FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 10),
         |short AS (SELECT vec_id FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 50),
         |rr10 AS (SELECT e.vec_id FROM embeddings e JOIN short USING (vec_id), q
         |  ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10),
         |ex10 AS (SELECT e.vec_id FROM embeddings e, q
         |  ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM pq10 JOIN ex10 USING (vec_id)) AS n_hit_pq,
         |  (SELECT CAST(count(*) AS BIGINT) FROM rr10 JOIN ex10 USING (vec_id)) AS n_hit_rerank,
         |  ${sqlR4("CAST((SELECT count(*) FROM pq10 JOIN ex10 USING (vec_id)) AS DOUBLE) / 10.0")} AS recall_pq,
         |  ${sqlR4("CAST((SELECT count(*) FROM rr10 JOIN ex10 USING (vec_id)) AS DOUBLE) / 10.0")} AS recall_rerank""".stripMargin),

    // extension: REAL index build (seeded MLlib k-means) + probed query.
    // probes=64 ≥ k at verify scale, so every cluster is probed and the
    // result MUST equal the exact top-10 — a full SQL oracle over the
    // whole build→assign→probe→rerank machinery (any dropped/duplicated
    // record or broken probe plumbing breaks the match). Pruned-probe
    // recall is checked by `ivf_build_stats` and ScalaTest.
    QueryDef("ivf_build_query", ((s, dir) => {
      val model = IvfIndex.buildCached(recs(s, dir), dir, density = 64, Metric.Euclidean, seed = 42L)
      knnOut(IvfIndex.query(model, qvec0(s, dir), k = 10, probes = 64, Metric.Euclidean))
    }),
      // probes ≥ n_centroids ⇒ IVF result must equal the exact top-10
      s"""WITH $sqlQ0
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e, q
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin),

    // extension: invariants of the seeded k-means build. Every cell a
    // SQL oracle can independently derive is an exact integer: centroid
    // count (ceil(n/density)), assignment coverage as BOTH total rows
    // AND distinct ids (catches duplicated records, not just net
    // count), and full-probe hits vs the exact top-10 (= 10 by the
    // funnel contract at ANY fit — probing every cluster is exhaustive
    // search). The ONE fit-dependent cell, pruned-probe recall
    // (2 of 8 clusters), stays a boolean: the seeded MLlib fit is
    // engine-internal and not SQL-replayable, so an exact pruned count
    // would encode this fit, not the operator (IvfIndexSpec pins it).
    QueryDef("ivf_build_stats", ((s, dir) => {
      val r = recs(s, dir)
      val model = IvfIndex.buildCached(r, dir, density = 64, Metric.Euclidean, seed = 42L)
      val exact10 = Knn.search(r, qvec0(s, dir), 10, Metric.Euclidean).select(col("id"))
      val ivf10 = IvfIndex.query(model, qvec0(s, dir), k = 10, probes = 2, Metric.Euclidean)
        .select(col("id"))
      val full10 = IvfIndex.query(model, qvec0(s, dir), k = 10,
          probes = Int.MaxValue, Metric.Euclidean)
        .select(col("id"))
      val hits = ivf10.join(exact10, Seq("id"), "left_semi")
        .agg((count(lit(1)) >= 3).as("recall_ok_at_10"))
      val fullHits = full10.join(exact10, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("n_hit_full_probe"))
      model.centroids.agg(count(lit(1)).as("n_centroids"))
        .crossJoin(model.assigned.agg(count(lit(1)).as("n_assigned"),
          count_distinct(col("id")).as("n_distinct_assigned")))
        .crossJoin(fullHits)
        .crossJoin(hits)
    }),
      // scale-robust invariants: k = ceil(n/density); full coverage (rows
      // AND distinct ids — a duplicated record breaks the match); probing
      // every cluster IS exhaustive search, so full-probe hits = 10 at any
      // fit; probing 2 clusters must recover at least 3 of the exact
      // top-10 (measured seeded values: 6/10 at sf0.01, 4/10 at sf0.001 —
      // the one fit-dependent cell, hence boolean not integer)
      """SELECT CAST(ceil(count(*) / 64.0) AS BIGINT) AS n_centroids,
        |  CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(count(DISTINCT vec_id) AS BIGINT) AS n_distinct_assigned,
        |  CAST(10 AS BIGINT) AS n_hit_full_probe,
        |  CAST(1 AS BOOLEAN) AS recall_ok_at_10 FROM embeddings""".stripMargin),

    // extension: recall CURVE of the pruned probe — the monotonicity
    // invariant behind the probes knob (reference database.rs:29-42):
    // recall@10 vs the exact top-10 is non-decreasing in the probe count,
    // and probing every cluster recovers the exact top-10 — the same
    // argument ivf_build_query pins as full SQL. Probes {1,2,4,8,all};
    // "all" clamps to n_centroids, so the invariant holds at ANY SF.
    // EXACT per-probe recall report over the fixed-centroid model
    // (upgraded from the r6 monotonicity booleans, which live on as an
    // IvfIndexSpec law against the seeded-kmeans build): recall@10 at
    // probes ∈ {1,2,4,8,999} (999 clamps to all 8 clusters — the probes-
    // clamp contract, O6), every number an exact integer the oracle
    // re-derives by replaying assignment + probe + top-k in SQL
    QueryDef("ivf_recall_curve", ((s, dir) => {
      import s.implicits._
      val model = fixedModel(s, dir, Metric.Euclidean)
      val exact10 = Knn.search(recs(s, dir), qvec0(s, dir), 10, Metric.Euclidean)
        .select(col("id"))
      // ONE distance pass for the whole sweep (IvfIndex.queryProbeSweep):
      // the r10 form re-ran IvfIndex.query per probe point — ≈2.9 full
      // scans for this {1,2,4,8,all} sweep; the sweep ranks the 8
      // centroids once and derives every point by rank <= p (row-identical
      // to the per-point queries — law-pinned in IvfIndexSpec)
      val hits = IvfIndex.queryProbeSweep(model, qvec0(s, dir), k = 10,
          Seq(1, 2, 4, 8, 999), Metric.Euclidean)
        .join(broadcast(exact10), Seq("id"), "left_semi")
        .groupBy(col("probes")).agg(count(lit(1)).as("__h"))
      Seq(1, 2, 4, 8, 999).toDF("probes")
        .join(broadcast(hits), Seq("probes"), "left")
        .select(col("probes"),
          coalesce(col("__h"), lit(0L)).as("n_hit"),
          r4(coalesce(col("__h"), lit(0L)).cast("double") / lit(10.0)).as("recall"))
        .orderBy("probes")
    }),
      // recall-curve invariants of the seeded build (like ivf_build_stats,
      // these booleans are computed Spark-side and asserted constant; the
      // independent full-SQL check of the same build is ivf_build_query)
      // full-SQL replay of the probe funnel at each probe count: fixed
      // centroids (vec_id < 8), nearest-cluster assignment, probe the p
      // closest clusters, exact top-10 inside them, recall vs global top-10
      s"""WITH c AS ($sqlFixedCentroids),
         |$sqlQ0,
         |asg AS (${sqlAssign(sqlSq)}),
         |ex AS (SELECT e.vec_id FROM embeddings e, q ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10),
         |crank AS (SELECT c.cid, row_number() OVER (ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS prank FROM c, q),
         |p AS (SELECT unnest([1, 2, 4, 8, 999]) AS probes),
         |res AS (SELECT p.probes, r.vec_id FROM p, LATERAL (
         |  SELECT e.vec_id FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id
         |    JOIN crank ON asg.cid = crank.cid, q
         |  WHERE crank.prank <= p.probes
         |  ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10) r),
         |hits AS (SELECT probes, count(*) AS h FROM res JOIN ex USING (vec_id) GROUP BY probes)
         |SELECT p.probes AS probes, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hit,
         |  ${sqlR4("CAST(coalesce(h.h, 0) AS DOUBLE) / 10.0")} AS recall
         |FROM p LEFT JOIN hits h ON p.probes = h.probes ORDER BY probes""".stripMargin),

    // extension: the TUNING curve — cost JOINED to recall on the same
    // probes axis, the dashboard a 100 TB operator actually tunes
    // density/probes from: "what recall does each scan fraction buy?"
    // ivf_probe_cost and ivf_recall_curve each publish half of that
    // answer; this row is their composition — per probe budget, the
    // exact clusters-probed / rows-scanned / scan-fraction census
    // ([[IvfIndex.probeCost]], off the assignment frame) beside
    // recall@10 vs the exact top-10 (one distance pass for the whole
    // sweep via [[IvfIndex.queryProbeSweep]]). Every cell exact and
    // oracle-replayed; recall is non-decreasing and scan_frac
    // increasing in probes by construction — visible in the row set
    QueryDef("ivf_tuning_curve", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val probes = Seq(1, 2, 4, 8, 999)
      val exact10 = Knn.search(recs(s, dir), qvec0(s, dir), 10, Metric.Euclidean)
        .select(col("id"))
      val hits = IvfIndex.queryProbeSweep(model, qvec0(s, dir), k = 10,
          probes, Metric.Euclidean)
        .join(broadcast(exact10), Seq("id"), "left_semi")
        .groupBy(col("probes")).agg(count(lit(1)).as("__h"))
      // broadcast: same ≤5-row stitch as ivf_compaction_gain's curves
      IvfIndex.probeCost(model, qvec0(s, dir), probes, Metric.Euclidean)
        .join(broadcast(hits), Seq("probes"), "left")
        .select(col("probes"), col("n_probed"), col("rows_scanned"),
          col("store_rows"), col("store_clusters"), col("scan_frac"),
          coalesce(col("__h"), lit(0L)).as("n_hit"),
          r4(coalesce(col("__h"), lit(0L)).cast("double") / lit(10.0)).as("recall"))
        .orderBy("probes")
    }),
      // cost and recall replayed on the same probes axis and joined —
      // the probe-cost census CTEs beside the recall-curve CTEs, one row
      // per probe budget
      s"""WITH c AS ($sqlFixedCentroids),
         |$sqlQ0,
         |asg AS MATERIALIZED (${sqlAssign(sqlSq)}),
         |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM asg GROUP BY cid),
         |crank AS MATERIALIZED (SELECT c.cid, row_number() OVER (ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS prank FROM c, q),
         |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS store_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS store_clusters),
         |p AS (SELECT unnest([1, 2, 4, 8, 999]) AS probes),
         |cost AS (SELECT p.probes, CAST(count(*) AS BIGINT) AS n_probed,
         |    CAST(coalesce(sum(coalesce(sz.n, 0)), 0) AS BIGINT) AS rows_scanned,
         |    tot.store_rows, tot.store_clusters,
         |    ${sqlR4("CAST(coalesce(sum(coalesce(sz.n, 0)), 0) AS DOUBLE) / tot.store_rows")} AS scan_frac
         |  FROM p JOIN crank ON crank.prank <= p.probes LEFT JOIN sz ON sz.cid = crank.cid, tot
         |  GROUP BY p.probes, tot.store_rows, tot.store_clusters),
         |ex AS (SELECT e.vec_id FROM embeddings e, q ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10),
         |res AS (SELECT p.probes, r.vec_id FROM p, LATERAL (
         |  SELECT e.vec_id FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id
         |    JOIN crank ON asg.cid = crank.cid, q
         |  WHERE crank.prank <= p.probes
         |  ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10) r),
         |hits AS (SELECT probes, count(*) AS h FROM res JOIN ex USING (vec_id) GROUP BY probes)
         |SELECT cost.probes, cost.n_probed, cost.rows_scanned,
         |  cost.store_rows, cost.store_clusters, cost.scan_frac,
         |  CAST(coalesce(h.h, 0) AS BIGINT) AS n_hit,
         |  ${sqlR4("CAST(coalesce(h.h, 0) AS DOUBLE) / 10.0")} AS recall
         |FROM cost LEFT JOIN hits h ON cost.probes = h.probes ORDER BY cost.probes""".stripMargin),

    // extension: adaptive cluster split (reference O9/O11 in batch form) —
    // deterministic invariants: assignment preserved, one append per
    // oversized cluster, worst cluster strictly shrunk. ONE pass over the
    // refined assignment: n_assigned is the sum of the per-cluster counts
    // the max/count invariants already aggregate (round 2 consumed the
    // refine plan three times).
    // EXACT census (r12 upgrade from the r6 invariant booleans): every
    // integer is independently re-derived by the oracle's full SQL
    // replay of the deterministic refine — argmin assignment to the 4
    // fixed centroids, min-id/farthest-point 2-means seeding, 3
    // r4-quantized Lloyd rounds, replace-and-append reassignment. The
    // booleans remain as DERIVED columns (computed from each engine's
    // own census), not pinned constants.
    QueryDef("ivf_refine_stats", ((s, dir) => {
      val (model, refined) = refinedFixedModel(s, dir)
      val before = model.assigned.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("max_before"),
          sum(when(col("n") > 100, 1L).otherwise(0L)).as("n_over"))
      val after = refined.assigned.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_clusters_after"), max(col("n")).as("max_after"),
          sum(col("n")).as("n_assigned"))
      before.crossJoin(after)
        .select(col("n_assigned").cast("long").as("n_assigned"),
          col("max_before").cast("long").as("max_before"),
          col("n_over").cast("long").as("n_over"),
          col("n_clusters_after").cast("long").as("n_clusters_after"),
          col("max_after").cast("long").as("max_after"),
          (col("n_clusters_after") === lit(4) + col("n_over")).as("one_append_per_split"),
          (col("max_after") < col("max_before")).as("max_reduced"))
    }),
      // FULL replay of one deterministic refine round (r12 — exact census
      // instead of pinned booleans): fixed-4 assignment, 2-means split of
      // every >100 cluster, final sizes. sz1 = the BEFORE sizes.
      s"""WITH $sqlFixed4AsgCtes,
         |${sqlRefineRoundCtes(1, "asg0", "3", density = 100)},
         |sza AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM asg1 GROUP BY cid)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM asg1) AS n_assigned,
         |  (SELECT max(n) FROM sz1) AS max_before,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sz1 WHERE n > 100) AS n_over,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sza) AS n_clusters_after,
         |  (SELECT max(n) FROM sza) AS max_after,
         |  ((SELECT count(*) FROM sza) = 4 + (SELECT count(*) FROM sz1 WHERE n > 100)) AS one_append_per_split,
         |  ((SELECT max(n) FROM sza) < (SELECT max(n) FROM sz1)) AS max_reduced""".stripMargin),

    // extension: two-level build — a forced-tiny coarse partition (4
    // fixed centroids, so the initial clusters all violate density),
    // then the adaptive-split loop restores the max-records-per-cluster
    // contract. EXACT census (r12, like ivf_refine_stats): the oracle
    // replays the whole deterministic build — up to 12 binary-split
    // rounds, each an unrolled refine — and states n_clusters/max_size
    // as values; booleans are derived, not pinned.
    QueryDef("ivf_balanced_stats", ((s, dir) => {
      val m = balancedModel(s, dir)
      m.assigned.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("n_assigned"), max(col("n")).as("max_size"),
          count(lit(1)).as("n_clusters"))
        .select(col("n_assigned").cast("long").as("n_assigned"),
          col("n_clusters").cast("long").as("n_clusters"),
          col("max_size").cast("long").as("max_size"),
          (col("max_size") <= 64).as("density_ok"),
          (col("n_clusters") > 4).as("grew_past_kmax"))
    }),
      // FULL replay of the deterministic two-level build (r12): the fixed-4
      // coarse assignment refined by up to 12 chained binary-split rounds
      // (each an unrolled refine at density 64; a converged round is the
      // identity) — the exact final cluster census, booleans derived.
      {
      val rounds = (1 to 12).map { o =>
        sqlRefineRoundCtes(o, s"asg${o - 1}",
          if (o == 1) "3" else s"(SELECT m FROM mx${o - 1})", density = 64)
      }.mkString(",\n")
      s"""WITH $sqlFixed4AsgCtes,
         |$rounds,
         |szf AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM asg12 GROUP BY cid)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM asg12) AS n_assigned,
         |  (SELECT CAST(count(*) AS BIGINT) FROM szf) AS n_clusters,
         |  (SELECT max(n) FROM szf) AS max_size,
         |  ((SELECT max(n) FROM szf) <= 64) AS density_ok,
         |  ((SELECT count(*) FROM szf) > 4) AS grew_past_kmax""".stripMargin
    }),

    // extension: DIVERSITY-stratified sampling — at most k vectors per
    // IVF cluster in deterministic content-hash order: the sample keeps
    // the embedding space's topical spread where a uniform sample would
    // mirror its skew; growing k only extends each cluster's slice
    QueryDef("ivf_sample_diverse", ((s, dir) =>
      graft.operators.Corpus.sampleDiverse(
          fixedModel(s, dir, Metric.Euclidean).assigned,
          col("cluster_id"), col("id").cast("string"), col("id"), k = 5)
        .select(col("cluster_id"), col("id").as("vec_id"))
        .orderBy("cluster_id", "vec_id")),
      // per-cluster hash-order prefix over the fixed-centroid assignment;
      // hv re-derives contentHash32 (first 8 md5 hex digits) in SQL
      s"""WITH c AS ($sqlFixedCentroids),
         |asg AS (${sqlAssign(sqlSq)}),
         |r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY cid
         |  ORDER BY ${sqlMd5Hex("CAST(vec_id AS VARCHAR)", 8)}, vec_id) AS rn
         |  FROM asg)
         |SELECT cid AS cluster_id, vec_id FROM r WHERE rn <= 5
         |ORDER BY cluster_id, vec_id""".stripMargin)
  )
}
