package graft
package catalog

import graft.operators.{Dedup, IvfIndex, Knn}
import graft.types.Metric
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._

/** The embedding family: drift, triplets, statistics, outliers, kNN accuracy, silhouette,
  * PCA, quantization, projections and coresets over `embeddings`. */
object EmbedQueries {
  /** Seeded ±1 JL-projection matrix (8 × 64) shared by `embed_project`
    * and its oracle — ONE Scala definition feeds both engines (the
    * literal-model rule), so every sign and the scale double are
    * identical bit-for-bit. */
  private val rpSignMatrix: Seq[Seq[Int]] =
    operators.VectorOps.rpSigns(seed = 7L, dIn = Dim, dOut = 8)
  private val rpScaleSql: String = (1.0 / math.sqrt(8.0)).toString

  /** The `embed_pca` oracle: the k=1 instance of the SHARED
    * [[pcaCtesSql]] machinery (one definition of the hash-exactness-
    * bearing moment/covariance/power-iteration arithmetic — the scree
    * and project oracles reuse the same CTEs) plus a final SELECT over
    * `fin0`/`tr`. Arithmetic-identical to the pre-r8 standalone chain:
    * with a single component the deflation loop degenerates to exactly
    * [[operators.VectorOps.pcaTop]]'s unrolled iterations, and `tr` is
    * the original covariance trace. */
  private def pcaOracleSql(iters: Int): String =
    s"""${pcaCtesSql(k = 1, iters)}
       |SELECT CAST(u.i AS INT) AS pos, ${sqlR4("xs[u.i + 1]")} AS loading, ${sqlR4("lam / tr.tr")} AS share
       |FROM fin0, tr, unnest(generate_series(0, len(xs) - 1)) AS u(i) ORDER BY pos""".stripMargin

  /** The `embed_pca_scree` oracle: k deflation rounds of the
    * [[pcaOracleSql]] machinery — each round unrolls `iters` matvec
    * CTEs from the CURRENT matrix, fixes the sign, takes the Rayleigh
    * λ, and deflates `c[i][j] − λ·xs[i]·xs[j]` for the next round;
    * shares all divide the ORIGINAL trace. Mirrors
    * [[operators.VectorOps.pcaTopK]] op-for-op. */
  private def pcaScreeOracleSql(k: Int, iters: Int): String = {
    s"""${pcaCtesSql(k, iters)}
       |${(0 until k).map { m =>
      s"""SELECT CAST($m AS INT) AS component, CAST(u.i AS INT) AS pos,
         |  ${sqlR4("xs[u.i + 1]")} AS loading, ${sqlR4("lam / tr.tr")} AS share
         |FROM fin$m, tr, unnest(generate_series(0, len(xs) - 1)) AS u(i)""".stripMargin
    }.mkString("\nUNION ALL\n")}
       |ORDER BY component, pos""".stripMargin
  }

  /** The `embed_pca_project` oracle: the [[pcaCtesSql]] component
    * machinery plus a per-row projection — `Σᵢ (xᵢ − μᵢ)·v⁽ᵐ⁾ᵢ` as an
    * ascending list fold against the 1-row mean/component frames,
    * mirroring the literal-array map in
    * [[operators.VectorOps.pcaProject]]. */
  private def pcaProjectOracleSql(k: Int, iters: Int): String = {
    val pcs = (0 until k).map { m =>
      s"""${sqlR4(s"list_sum(list_transform(generate_series(1, len(e.embedding)), i -> " +
        s"(CAST(e.embedding[i] AS DOUBLE) - mu.mu[i]) * f$m.xs[i]))")} AS pc$m"""
    }
    val fins = (0 until k).map(m => s"fin$m f$m").mkString(", ")
    s"""${pcaCtesSql(k, iters)},
       |mu AS MATERIALIZED (SELECT list(CAST(s1.s AS DOUBLE) / CAST(dd.n AS DOUBLE) / 1000.0
       |    ORDER BY s1.i) AS mu FROM s1, dd)
       |SELECT e.vec_id AS vec_id,
       |  ${pcs.mkString(",\n  ")}
       |FROM embeddings e, mu, $fins
       |ORDER BY vec_id""".stripMargin
  }

  /** Shared CTE body of the PCA oracles: exact q3 moments, covariance,
    * trace, and `k` deflation blocks ending in `fin0..fin{k-1}`. */
  private def pcaCtesSql(k: Int, iters: Int): String = {
    val blocks = (0 until k).map { m =>
      val steps = (1 to iters).map { t =>
        s"""x${m}_$t AS MATERIALIZED (SELECT list_transform(generate_series(1, len(y)), i ->
           |    CASE WHEN nrm > 0 THEN y[i] / nrm ELSE y[i] END) AS x, c FROM (
           |  SELECT y, sqrt(list_sum(list_transform(y, v -> v * v))) AS nrm, c FROM (
           |    SELECT list_transform(generate_series(1, len(x)), i ->
           |      list_sum(list_transform(generate_series(1, len(x)), j -> c[i][j] * x[j]))) AS y, c
           |    FROM x${m}_${t - 1})))""".stripMargin
      }
      val deflate =
        if (m + 1 < k)
          s""",
             |cm${m + 1} AS MATERIALIZED (SELECT list_transform(generate_series(1, len(xs)), i ->
             |    list_transform(generate_series(1, len(xs)), j ->
             |      c[i][j] - lam * xs[i] * xs[j])) AS c FROM fin$m)""".stripMargin
        else ""
      s"""x${m}_0 AS MATERIALIZED (SELECT list_transform(generate_series(1, dd.d), i ->
         |    CAST(1.0 AS DOUBLE) / sqrt(CAST(dd.d AS DOUBLE))) AS x, cm$m.c AS c FROM dd, cm$m),
         |${steps.mkString(",\n")},
         |fin$m AS MATERIALIZED (SELECT xs, c,
         |    list_sum(list_transform(generate_series(1, len(xs)), i -> xs[i] *
         |      list_sum(list_transform(generate_series(1, len(xs)), j -> c[i][j] * xs[j])))) AS lam
         |  FROM (SELECT CASE WHEN list_sum(x) < 0
         |    THEN list_transform(x, v -> -v) ELSE x END AS xs, c FROM x${m}_$iters))$deflate""".stripMargin
    }
    s"""WITH qv AS MATERIALIZED (SELECT list_transform(embedding, x ->
       |    CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q FROM embeddings),
       |dd AS MATERIALIZED (SELECT CAST(max(len(q)) AS INT) AS d, CAST(count(*) AS BIGINT) AS n FROM qv),
       |s1 AS MATERIALIZED (SELECT u.i AS i, CAST(sum(q[u.i]) AS BIGINT) AS s
       |  FROM qv, dd, unnest(generate_series(1, dd.d)) AS u(i) GROUP BY u.i),
       |s2 AS MATERIALIZED (SELECT ui.i AS i, uj.i AS j, CAST(sum(q[ui.i] * q[uj.i]) AS BIGINT) AS s
       |  FROM qv, dd, unnest(generate_series(1, dd.d)) AS ui(i), unnest(generate_series(1, dd.d)) AS uj(i)
       |  GROUP BY ui.i, uj.i),
       |cm0 AS MATERIALIZED (SELECT list(rw ORDER BY i) AS c FROM (
       |  SELECT s2.i AS i, list((CAST(s2.s AS DOUBLE) - CAST(a.s AS DOUBLE) * CAST(b.s AS DOUBLE)
       |      / CAST(dd.n AS DOUBLE)) / CAST(dd.n AS DOUBLE) ORDER BY s2.j) AS rw
       |  FROM s2 CROSS JOIN dd JOIN s1 a ON a.i = s2.i JOIN s1 b ON b.i = s2.j GROUP BY s2.i)),
       |tr AS MATERIALIZED (SELECT list_sum(list_transform(generate_series(1, len(c)), i -> c[i][i])) AS tr FROM cm0),
       |${blocks.mkString(",\n")}""".stripMargin
  }

  /** The embed_coreset oracle: [[operators.VectorOps.greedyKCenters]]
    * unrolled — per round, the min-distance frame excludes the chosen
    * center and folds `least` with the distance to it; the argmax
    * orders by the same quantized key. */
  private def kCentersOracleSql(k: Int): String = {
    val steps = (2 to k).map { i =>
      val prev = i - 1
      val mPrev = if (prev == 1) "m1" else s"m$prev"
      s"""c$i AS MATERIALIZED (SELECT vec_id, embedding, mind FROM $mPrev
         |  WHERE NOT isnan(mind)
         |  ORDER BY floor(mind * 10000.0 + 0.5) DESC, vec_id ASC LIMIT 1)""".stripMargin +
        (if (i == k) "" else s""",
           |m$i AS MATERIALIZED (SELECT m.vec_id, m.embedding,
           |    least(m.mind, ${sqlSq("m.embedding", "c.embedding")}) AS mind
           |  FROM $mPrev m, c$i c WHERE m.vec_id <> c.vec_id)""".stripMargin)
    }.mkString(",\n")
    val union = (2 to k)
      .map(i => s"SELECT $i AS step, vec_id, ${sqlR4("mind")} AS radius FROM c$i")
      .mkString("\n UNION ALL ")
    s"""WITH c1 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT 1),
       |m1 AS MATERIALIZED (SELECT e.vec_id, e.embedding,
       |    ${sqlSq("e.embedding", "c.embedding")} AS mind
       |  FROM embeddings e, c1 c WHERE e.vec_id <> c.vec_id),
       |$steps
       |SELECT CAST(step AS INT) AS step, vec_id, radius FROM (
       |  SELECT 1 AS step, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c1
       | UNION ALL $union)
       |ORDER BY step""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    // extension: per-label centroid DRIFT between snapshot versions —
    // the embedding-space monitoring dual of the change-log algebra:
    // deletes + perturbations move each label's mean, and this is the
    // re-index/re-embed trigger metric. Per-(label, dim) means from
    // quantized-int sums (exact); the 64 per-dim squared deltas fold in
    // EXPLICIT pos order (collect→sort→fold), because a plain sum of
    // doubles would be partial-aggregation-order-dependent
    QueryDef("embed_centroid_drift", ((s, dir) => {
      val oldE = emb(s, dir).select(col("vec_id"), col("label"), col("embedding"))
      val newE = perturbStore(oldE, "vec_id")
      def qmeans(df: DataFrame, mAs: String) = df
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "__v")))
        .select(col("label"), col("pos"),
          floor(col("__v").cast("double") * lit(10000.0) + lit(0.5))
            .cast("long").as("__q"))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("__q")).cast("double") / count(lit(1)) / lit(10000.0)).as(mAs))
      qmeans(oldE, "__mo").join(qmeans(newE, "__mn"), Seq("label", "pos"))
        .select(col("label"), col("pos"),
          ((col("__mo") - col("__mn")) * (col("__mo") - col("__mn"))).as("__d2"))
        .groupBy(col("label").cast("long").as("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("__d2")))).as("__a"))
        .select(col("label"),
          r4(aggregate(transform(col("__a"), e => e.getField("__d2")),
            lit(0.0), (acc, x) => acc + x)).as("drift_sq"))
        .orderBy("label")
    }),
      // same version transform, same quantized-int means, same
      // pos-ORDERED fold of the squared deltas (list(... ORDER BY pos) →
      // list_sum is the sequential fold Spark's sorted-aggregate runs)
      s"""WITH oldv AS (SELECT vec_id, label, embedding FROM embeddings),
         |newv AS (SELECT vec_id, label,
         |    CASE WHEN vec_id % 101 = 7
         |      THEN list_prepend(CAST(embedding[1] + CAST(1.0 AS REAL) AS REAL), embedding[2:])
         |      ELSE embedding END AS embedding
         |  FROM embeddings WHERE NOT (vec_id % 97 = 3)),
         |mo AS (SELECT label, u.i - 1 AS pos,
         |    (CAST(sum(CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / count(*)) / 10000.0 AS m
         |  FROM oldv, unnest(generate_series(1, len(embedding))) AS u(i)
         |  GROUP BY label, u.i),
         |mn AS (SELECT label, u.i - 1 AS pos,
         |    (CAST(sum(CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / count(*)) / 10000.0 AS m
         |  FROM newv, unnest(generate_series(1, len(embedding))) AS u(i)
         |  GROUP BY label, u.i),
         |d AS (SELECT mo.label, mo.pos, (mo.m - mn.m) * (mo.m - mn.m) AS d2
         |  FROM mo JOIN mn ON mo.label = mn.label AND mo.pos = mn.pos)
         |SELECT CAST(label AS BIGINT) AS label,
         |  ${sqlR4("list_sum(list(d2 ORDER BY pos))")} AS drift_sq
         |FROM d GROUP BY label ORDER BY label""".stripMargin),

    // extension: contrastive TRIPLET mining — per anchor, the nearest
    // same-label vector (positive) and nearest different-label vector
    // (hard negative) among its top-2-cluster block candidates, plus
    // the margin: the training-pair construction step of metric
    // learning. Candidates stay block-bounded (never all-pairs); both
    // arg-mins are O(1)-state min(struct) reductions
    QueryDef("embed_triplets", ((s, dir) => {
      val lab = emb(s, dir).select(col("vec_id"), col("label"))
      val pairs = blockedSqPairs(s, dir)
        .withColumnRenamed("d", "__d")
        .join(lab.select(col("vec_id").as("id"), col("label").as("__la")), Seq("id"))
        .join(lab.select(col("vec_id").as("cand_id"), col("label").as("__lb")),
          Seq("cand_id"))
      // ONE conditional aggregation (r14): min() skips nulls, so
      // min(when(same-label, struct)) is exactly the argmin over the
      // same-label subset — the r13 form ran TWO groupBy(id) aggregates
      // over the filtered pair frame and inner-joined them back (2
      // aggregate exchanges + a join per pass); requiring both structs
      // non-null reproduces the inner join's "has a pos AND a neg"
      // membership. Same (d, cand_id) struct order, same ties.
      pairs
        .groupBy(col("id"))
        .agg(
          min(when(col("__la") === col("__lb"),
            struct(col("__d"), col("cand_id")))).as("__bp"),
          min(when(col("__la") =!= col("__lb"),
            struct(col("__d"), col("cand_id")))).as("__bn"))
        .where(col("__bp").isNotNull && col("__bn").isNotNull)
        .select(col("id").as("vec_id"),
          col("__bp.cand_id").as("pos_id"), col("__bn.cand_id").as("neg_id"),
          r4(col("__bp.__d")).as("pos_dist"), r4(col("__bn.__d")).as("neg_dist"),
          r4(col("__bn.__d") - col("__bp.__d")).as("margin"))
        .orderBy("vec_id")
    }),
      // the blocked-candidate CTE with labels; two ranked branches pick
      // the positive and the hard negative; margins subtract unrounded
      // doubles before r4 in both engines
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn <= 2),
         |cand AS (SELECT a.vec_id AS id, b.vec_id AS cand_id, a.label AS la, b.label AS lb,
         |    ${sqlSq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a JOIN asg aa ON a.vec_id = aa.vec_id
         |  JOIN asg ab ON aa.cid = ab.cid
         |  JOIN embeddings b ON b.vec_id = ab.vec_id AND a.vec_id <> b.vec_id),
         |p AS (SELECT id, cand_id, d FROM (
         |  SELECT id, cand_id, d, row_number() OVER (PARTITION BY id ORDER BY d ASC, cand_id ASC) AS rn
         |  FROM cand WHERE la = lb) WHERE rn = 1),
         |n AS (SELECT id, cand_id, d FROM (
         |  SELECT id, cand_id, d, row_number() OVER (PARTITION BY id ORDER BY d ASC, cand_id ASC) AS rn
         |  FROM cand WHERE la <> lb) WHERE rn = 1)
         |SELECT p.id AS vec_id, p.cand_id AS pos_id, n.cand_id AS neg_id,
         |  ${sqlR4("p.d")} AS pos_dist, ${sqlR4("n.d")} AS neg_dist,
         |  ${sqlR4("n.d - p.d")} AS margin
         |FROM p JOIN n ON p.id = n.id ORDER BY vec_id""".stripMargin),

    // extension: leave-one-out 1-NN label accuracy per class — the
    // embedding-quality eval (does the space cluster by label?). Reuses
    // the blocked NN self-join; exact integer counts per label
    // extension: per-DIMENSION embedding health — mean/std/min/max for
    // every vector position (dead-dimension and scale-drift detection,
    // the embedding-QC table a feature store publishes per version).
    // Moments from exact quantized-int sums (Σq, Σq² longs — partition-
    // order-independent; q ≤ 1e4·|x| keeps Σq² far under 2^63 at any
    // corpus size that fits a long row count), posexplode is the one
    // data-proportional pass
    QueryDef("embed_dim_stats", ((s, dir) => {
      val q = emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "__v")))
        .select(col("pos"),
          floor(col("__v").cast("double") * lit(10000.0) + lit(0.5))
            .cast("long").as("__q"))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__s"),
          sum(col("__q") * col("__q")).as("__s2"),
          min(col("__q")).as("__mn"), max(col("__q")).as("__mx"))
      q.select(col("pos"),
          r4(col("__s").cast("double") / col("__n") / lit(10000.0)).as("mean"),
          r4(sqrt(greatest(lit(0.0),
            col("__s2").cast("double") / col("__n")
              - (col("__s").cast("double") / col("__n"))
              * (col("__s").cast("double") / col("__n")))) / lit(10000.0))
            .as("std"),
          (col("__mn").cast("double") / lit(10000.0)).as("min_v"),
          (col("__mx").cast("double") / lit(10000.0)).as("max_v"))
        .orderBy("pos")
    }),
      // the ann_self_join NN map joined to both labels; exact counts
      // identical quantize-then-integer-moment construction; std from the
      // same operand order (E[q²] − E[q]² before the one sqrt)
      s"""WITH q AS (SELECT u.i - 1 AS pos,
         |    CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS q
         |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
         |m AS (SELECT pos, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS s,
         |    CAST(sum(q * q) AS BIGINT) AS s2,
         |    CAST(min(q) AS BIGINT) AS mn, CAST(max(q) AS BIGINT) AS mx
         |  FROM q GROUP BY pos)
         |SELECT CAST(pos AS INT) AS pos,
         |  ${sqlR4("CAST(s AS DOUBLE) / n / 10000.0")} AS mean,
         |  ${sqlR4("sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))) / 10000.0")} AS std,
         |  CAST(mn AS DOUBLE) / 10000.0 AS min_v,
         |  CAST(mx AS DOUBLE) / 10000.0 AS max_v
         |FROM m ORDER BY pos""".stripMargin),

    // extension: kNN-distance OUTLIER detection — each vector scored by
    // its 3rd-nearest-neighbor distance over the shared blocked
    // candidate frame (the classic kNN outlier score: isolated points
    // have FAR third neighbors; duplicates/dense clusters have near
    // ones), then the global top-10. Two bounded heaps (per-id 3-NN,
    // global top-10) — no ranking window, no all-pairs; the blocked
    // candidate set IS the operating regime at 100 TB (a vector's
    // outlier-ness is judged against its own probe neighborhood, the
    // same blocks the ANN serving path reads)
    QueryDef("embed_outliers", ((s, dir) => {
      import graft.functions.TopKPairsAgg.topKPairs
      // the shared-block pair frame emits each (id, cand_id) at most
      // TWICE (once per common block) with bit-identical d — so a k=6
      // heap over the raw multiset always contains the 3 nearest
      // DISTINCT pairs, and the per-row array_distinct replaces what
      // was a full extra shuffle (`.distinct()` before the heap) with
      // map-side-combinable aggregation only
      val k3 = blockedSqPairs(s, dir)
        .groupBy(col("id"))
        .agg(array_distinct(topKPairs(col("d"), col("cand_id"), 6)).as("__nn"))
        .where(size(col("__nn")) >= 3)
        .select(col("id"), col("__nn")(2)("distance").as("__kd"))
      k3.agg(topKPairs(lit(0.0) - col("__kd"), col("id"), 10).as("__top"))
        .select(posexplode(col("__top")).as(Seq("rank", "p")))
        .select((col("rank") + 1).cast("long").as("rank"),
          col("p.id").as("vec_id"),
          r4(lit(0.0) - col("p.distance")).as("knn_dist"))
        .orderBy("rank")
    }),
      // same blocked candidate set, DISTINCT pairs, rank-3 per id, then
      // the global top-10 by (kd DESC, id ASC)
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn <= 2),
         |cand AS (SELECT DISTINCT a.vec_id AS id, b.vec_id AS cand_id,
         |    ${sqlSq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a JOIN asg aa ON a.vec_id = aa.vec_id
         |  JOIN asg ab ON aa.cid = ab.cid
         |  JOIN embeddings b ON b.vec_id = ab.vec_id AND a.vec_id <> b.vec_id
         |  WHERE NOT isnan(${sqlSq("a.embedding", "b.embedding")})),
         |k3 AS (SELECT id, d AS kd FROM (
         |  SELECT id, d, row_number() OVER (PARTITION BY id ORDER BY d ASC, cand_id ASC) AS rn
         |  FROM cand) WHERE rn = 3)
         |SELECT CAST(row_number() OVER (ORDER BY kd DESC, id ASC) AS BIGINT) AS rank,
         |  id AS vec_id, ${sqlR4("kd")} AS knn_dist
         |FROM k3 ORDER BY kd DESC, id ASC LIMIT 10""".stripMargin),

    QueryDef("embed_knn_accuracy", ((s, dir) => {
      val lab = emb(s, dir).select(col("vec_id"), col("label"))
      val nn = Knn.nnFromPairs(blockedSqPairs(s, dir))
      nn.join(lab.select(col("vec_id").as("id"), col("label").as("__own")), Seq("id"))
        .join(lab.select(col("vec_id").as("nn_id"), col("label").as("__pred")),
          Seq("nn_id"))
        .groupBy(col("__own").cast("long").as("label"))
        .agg(count(lit(1)).as("n"),
          count(when(col("__own") === col("__pred"), 1)).as("n_correct"))
        .select(col("label"), col("n"), col("n_correct"),
          r4(col("n_correct").cast("double") / col("n")).as("accuracy"))
        .orderBy("label")
    }),
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn <= 2),
         |cand AS (SELECT a.vec_id AS id, b.vec_id AS nn_id, ${sqlSq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a JOIN asg aa ON a.vec_id = aa.vec_id
         |  JOIN asg ab ON aa.cid = ab.cid
         |  JOIN embeddings b ON b.vec_id = ab.vec_id AND a.vec_id <> b.vec_id),
         |nn AS (SELECT id, nn_id FROM (
         |  SELECT id, nn_id, row_number() OVER (PARTITION BY id ORDER BY d ASC, nn_id ASC) AS rn FROM cand)
         |  WHERE rn = 1),
         |r AS (SELECT CAST(ea.label AS BIGINT) AS label,
         |    CASE WHEN ea.label = eb.label THEN 1 ELSE 0 END AS ok
         |  FROM nn JOIN embeddings ea ON nn.id = ea.vec_id
         |  JOIN embeddings eb ON nn.nn_id = eb.vec_id)
         |SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(sum(ok) AS BIGINT) AS n_correct,
         |  ${sqlR4("CAST(sum(ok) AS DOUBLE) / count(*)")} AS accuracy
         |FROM r GROUP BY label ORDER BY label""".stripMargin),

    // extension: simplified (centroid-based) silhouette — the cluster-
    // quality dashboard over the fixed-centroid model: s = (d2−d1)/d2
    // with (d1, d2) the two nearest centroid distances (0 when d2 = 0,
    // i.e. the vector coincides with both centroids). O(n·k) map-side
    // distances + a k-key rollup; the textbook O(n²) pairwise
    // silhouette does not exist at 100 TB. s is quantized to exact
    // 1e-4 ints BEFORE summing (the checksum trick), so the per-cluster
    // mean is partition-order-independent; rows whose distances are all
    // NaN/null (no assignment) are excluded on both engines.
    QueryDef("embed_silhouette", ((s, dir) => {
      IvfIndex.assignTop2WithDists(recs(s, dir), fixedCentroids(s, dir),
          Metric.Euclidean)
        .where(col("cluster_id") >= 0 && col("cluster_id2") >= 0)
        .select(col("cluster_id"),
          floor(when(col("d2") > 0, (col("d2") - col("d1")) / col("d2"))
              .otherwise(lit(0.0)) * lit(10000.0) + lit(0.5))
            .cast("long").as("__s4"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"), sum(col("__s4")).as("sum_s4"))
        .select(col("cluster_id"), col("n"), col("sum_s4"),
          r4(col("sum_s4").cast("double")
            / (col("n").cast("double") * lit(10000.0))).as("mean_silhouette"))
        .orderBy("cluster_id")
    }),
      // simplified silhouette replayed in full: per-vector top-2 centroid
      // distances (ties → smaller cid, matching the engine fold), s =
      // (d2−d1)/d2 quantized to 1e-4 ints before the per-cluster sum;
      // all-NaN/null rows drop on both engines (engine: cluster_id = −1)
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |d AS (SELECT e.vec_id, c.cid, ${sqlSq("e.embedding", "c.cvec")} AS d
         |  FROM embeddings e CROSS JOIN c),
         |r AS (SELECT vec_id, cid, d,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
         |  FROM d WHERE NOT isnan(d)),
         |s AS (SELECT a.cid AS cluster_id,
         |    CAST(floor((CASE WHEN b.d > 0 THEN (b.d - a.d) / b.d ELSE CAST(0 AS DOUBLE) END) * 10000.0 + 0.5) AS BIGINT) AS s4
         |  FROM r a JOIN r b ON a.vec_id = b.vec_id AND b.rn = 2 WHERE a.rn = 1)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(s4) AS BIGINT) AS sum_s4,
         |  ${sqlR4("CAST(sum(s4) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0)")} AS mean_silhouette
         |FROM s GROUP BY cluster_id ORDER BY cluster_id""".stripMargin),

    // extension: top principal component + explained-variance share
    // from exact integer moments — ONE distributed GramSumAgg pass
    // (d+d² longs per partition through the shuffle), 24 power
    // iterations on the collected model; oracle replays both halves
    QueryDef("embed_pca", ((s, dir) => {
      val (loadings, share) =
        operators.VectorOps.pcaTop(emb(s, dir), "embedding", iters = 24)
      import s.implicits._
      loadings.zipWithIndex.map { case (v, i) => (i, v, share) }
        .toDF("pos", "loading", "share")
        .select(col("pos").cast("int").as("pos"),
          r4(col("loading")).as("loading"), r4(col("share")).as("share"))
        .orderBy("pos")
    }),
      pcaOracleSql(iters = 24)),

    // extension: PCA scree — top-3 components by Hotelling deflation,
    // shares against the original trace: the anisotropy/spectrum-decay
    // dashboard. Same one-pass moment aggregate, k·iters driver math
    QueryDef("embed_pca_scree", ((s, dir) => {
      val comps =
        operators.VectorOps.pcaTopK(emb(s, dir), "embedding", k = 3, iters = 24)
      import s.implicits._
      comps.zipWithIndex.flatMap { case ((loadings, share), m) =>
        loadings.zipWithIndex.map { case (v, i) => (m, i, v, share) }
      }.toDF("component", "pos", "loading", "share")
        .select(col("component").cast("int").as("component"),
          col("pos").cast("int").as("pos"),
          r4(col("loading")).as("loading"), r4(col("share")).as("share"))
        .orderBy("component", "pos")
    }),
      pcaScreeOracleSql(k = 3, iters = 24)),

    // extension: materialized PCA projection — per-vector scores on the
    // top-3 components; the fitted mean/loadings ride the plan as
    // literals, so the projection is map-only at any corpus size
    QueryDef("embed_pca_project", ((s, dir) =>
      operators.VectorOps.pcaProject(emb(s, dir), "embedding", k = 3, iters = 24)
        .select(col("vec_id"), r4(col("pc0")).as("pc0"),
          r4(col("pc1")).as("pc1"), r4(col("pc2")).as("pc2"))
        .orderBy("vec_id")),
      pcaProjectOracleSql(k = 3, iters = 24)),

    // extension: exact per-label centroid distance matrix — q4 integer
    // moment sums per (label, dim) make the centroids order-independent
    // doubles, so inter-label geometry ("which classes collide") is
    // hash-exact; the pairwise stage runs on the label-bounded frame
    QueryDef("embed_label_dist", ((s, dir) => {
      val cent = emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "__v")))
        .select(col("label"), col("pos"),
          floor(col("__v").cast("double") * lit(10000.0) + lit(0.5))
            .cast("long").as("__q"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("__q")).as("__s"), count(lit(1)).as("__n"))
        .select(col("label"), col("pos"),
          (col("__s").cast("double") / col("__n").cast("double")
            / lit(10000.0)).as("__c"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("__c")))).as("__pc"))
        .select(col("label"),
          transform(col("__pc"), e => e.getField("__c")).as("cv"))
      val a = cent.select(col("label").as("label_a"), col("cv").as("__ca"))
      val b = cent.select(col("label").as("label_b"), col("cv").as("__cb"))
      a.join(b, col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          r4(aggregate(
            zip_with(col("__ca"), col("__cb"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, v) => acc + v)).as("dist"))
        .orderBy("label_a", "label_b")
    }),
      s"""WITH e AS (SELECT label, u.i AS pos,
         |    CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS q
         |  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS u(i)),
         |c AS (SELECT label, pos, CAST(sum(q) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
         |  FROM e GROUP BY label, pos),
         |v AS (SELECT label, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 ORDER BY pos) AS cv
         |  FROM c GROUP BY label)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  ${sqlR4("list_sum(list_transform(list_zip(a.cv, b.cv), p -> (p[1] - p[2]) * (p[1] - p[2])))")} AS dist
         |FROM v a JOIN v b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin),

    // extension: 1-bit binary quantization — sign-pack each embedding
    // into ceil(d/64) longs (32× smaller than f32; the most aggressive
    // point on the int8→PQ→binary compression ladder)
    QueryDef("embed_binary_codes", ((s, dir) =>
      emb(s, dir)
        .select(col("vec_id"),
          posexplode(operators.VectorOps.binaryCodes(col("embedding"))))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
          col("col").as("code"))
        .orderBy("vec_id", "pos")),
      s"""WITH c AS (SELECT vec_id, ${sqlBinCode("embedding")} AS words FROM embeddings)
         |SELECT vec_id, CAST(u.i AS INT) AS pos, words[u.i + 1] AS code
         |FROM c, unnest(generate_series(0, len(words) - 1)) AS u(i)
         |ORDER BY vec_id, pos""".stripMargin),

    // extension: embedding-cosine near-dup blocked on the TWO nearest IVF
    // cluster ids (multi-probe): block cardinality grows with n (bounded
    // bucket size under the density contract), and carrying each vector's
    // runner-up cluster closes the single-block recall gap for pairs
    // straddling a Voronoi boundary — at the cost of 2× join input and a
    // distinct over the (candidate-only) matched pairs. Fixed centroids
    // keep it oracle-able.
    QueryDef("embed_neardup", ((s, dir) =>
      Dedup.embeddingNearDup(top2Blocked(s, dir), threshold = 0.2)
        .select(col("id_a"), col("id_b"), r4(col("cos_sim")).as("cos_sim"))
        .distinct() // a pair sharing both blocks matches twice, identically
        .orderBy("id_a", "id_b")),
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn <= 2)
         |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, ${sqlR4(sqlCosSim("a.embedding", "b.embedding"))} AS cos_sim
         |FROM embeddings a JOIN asg aa ON a.vec_id = aa.vec_id
         |JOIN asg ab ON aa.cid = ab.cid
         |JOIN embeddings b ON b.vec_id = ab.vec_id AND a.vec_id < b.vec_id
         |WHERE ${sqlNormPos("a.embedding")} AND ${sqlNormPos("b.embedding")}
         |  AND ${sqlCosSim("a.embedding", "b.embedding")} >= 0.2 ORDER BY id_a, id_b""".stripMargin),

    // extension: symmetric per-vector int8 quantization — the 4× memory
    // lever for posting lists at 100 TB (scalar-quantization member of
    // the PQ family). Map-only; one row per (vec_id, pos) so every
    // output column is a sortable primitive for the gate.
    QueryDef("embed_quantize", ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
        .withColumn("__scale", operators.VectorOps.int8Scale(col("embedding")))
      e.select(col("vec_id"), col("__scale"),
          posexplode(operators.VectorOps.quantizeInt8(col("embedding"), col("__scale"))))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
          col("col").as("qval"), r4(col("__scale")).as("scale"))
        .orderBy("vec_id", "pos")
    }),
      s"""WITH s AS (SELECT vec_id, embedding,
         |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings),
         |x AS (SELECT vec_id, scale, u.i AS pos,
         |  CAST(CASE WHEN scale > 0 THEN floor(CAST(embedding[u.i + 1] AS DOUBLE) / scale + 0.5) ELSE 0 END AS INT) AS qval
         |  FROM s, unnest(generate_series(0, len(embedding) - 1)) AS u(i))
         |SELECT vec_id, CAST(pos AS INT) AS pos, qval, ${sqlR4("scale")} AS scale
         |FROM x ORDER BY vec_id, pos""".stripMargin),

    // extension: per-label embedding-NORM statistics — the vector-space
    // health dashboard (collapsed or exploding norms are the classic
    // embedding-pipeline regression). The per-row norm is a sequential
    // fold + IEEE sqrt (engine-identical double); aggregation happens on
    // r4-QUANTIZED norms summed as exact integers (the checksum trick),
    // so mean/min/max are partition-order-independent and oracle-exact
    QueryDef("embed_norm_stats", ((s, dir) =>
      emb(s, dir)
        .select(col("label"),
          floor(operators.VectorOps.l2Norm(col("embedding")) * lit(10000.0)
            + lit(0.5)).cast("long").as("__qn"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("__qn")).as("__s"),
          min(col("__qn")).as("__mn"), max(col("__qn")).as("__mx"))
        .select(col("label").cast("long").as("label"), col("n"),
          r4(col("__s").cast("double") / col("n") / lit(10000.0)).as("mean_norm"),
          (col("__mn").cast("double") / lit(10000.0)).as("min_norm"),
          (col("__mx").cast("double") / lit(10000.0)).as("max_norm"))
        .orderBy("label")),
      // norms quantized to exact ints BEFORE aggregation (checksum trick)
      s"""WITH q AS (SELECT CAST(label AS BIGINT) AS label,
         |    CAST(floor(sqrt(${sqlDot("embedding", "embedding")}) * 10000.0 + 0.5) AS BIGINT) AS qn
         |  FROM embeddings),
         |a AS (SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(sum(qn) AS BIGINT) AS s,
         |    CAST(min(qn) AS BIGINT) AS mn, CAST(max(qn) AS BIGINT) AS mx
         |  FROM q GROUP BY label)
         |SELECT label, n, ${sqlR4("CAST(s AS DOUBLE) / n / 10000.0")} AS mean_norm,
         |  CAST(mn AS DOUBLE) / 10000.0 AS min_norm,
         |  CAST(mx AS DOUBLE) / 10000.0 AS max_norm
         |FROM a ORDER BY label""".stripMargin),

    // extension: JL random projection (Achlioptas ±1 scheme, seeded
    // splitmix64 signs) 64 → 8 dims — the dimensionality-reduction
    // lever for cheap pre-filtering and sketching. The sign matrix is
    // model-bounded, so it rides the plan as literals (both engines
    // restate the identical ints); map-only, one fold per output dim.
    QueryDef("embed_project", ((s, dir) =>
      emb(s, dir).select(col("vec_id"),
          posexplode(operators.VectorOps.randomProject(
            col("embedding"), rpSignMatrix)))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
          r4(col("col")).as("pval"))
        .orderBy("vec_id", "pos")),
      // the 8×64 sign matrix and the scale are restated from the SAME
      // Scala values the Spark query reads (literal-model rule): the fold
      // is list_sum over per-element double products, sequential in both
      // engines
      {
      val rows = rpSignMatrix.map { row =>
        val signsSql = row.mkString("[", ",", "]")
        s"list_sum(list_transform(list_zip(embedding, $signsSql), " +
          s"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) * $rpScaleSql"
      }
      s"""WITH t AS (SELECT vec_id, ${rows.zipWithIndex
        .map { case (e, j) => s"($e) AS p$j" }.mkString(", ")}
         |  FROM embeddings),
         |x AS (SELECT vec_id, u.i AS pos, [${(0 until 8)
        .map(j => s"p$j").mkString(",")}][u.i + 1] AS pval
         |  FROM t, unnest(generate_series(0, 7)) AS u(i))
         |SELECT vec_id, CAST(pos AS INT) AS pos, ${sqlR4("pval")} AS pval
         |FROM x ORDER BY vec_id, pos""".stripMargin
    }),

    // extension: greedy k-center coreset (farthest-point traversal) —
    // the diversity-maximizing exemplar selector (labeling seeds, eval
    // probes, codebook inits); selection per round on the r4-QUANTIZED
    // min-distance with id tiebreak, so the greedy path is engine-
    // independent and the oracle unrolls all 8 rounds as chained CTEs
    QueryDef("embed_coreset", ((s, dir) =>
      operators.VectorOps.greedyKCenters(recs(s, dir), k = 8, Metric.Euclidean)
        .select(col("step"), col("id").as("vec_id"), r4(col("radius")).as("radius"))
        .orderBy("step")),
      kCentersOracleSql(k = 8))
  )
}
