package graft
package catalog

import graft.functions.FilterDsl
import graft.operators.{Crud, IvfIndex, Knn, TextOps}
import graft.sources.Records
import graft.types.Metric
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** The reference surface (knn, filter, get, insert, update, delete, count) and the small
  * families: label centroids, MMR, product quantization, language id, fuzzy matching,
  * hybrid search, mixing, packing, vocabularies and the TPC-H-style relational queries. */
object ReferenceQueries {
  /** Declared target mix for the drift monitor — ONE definition shared by
    * the Spark query and its oracle's VALUES list, so both engines compare
    * the exact same doubles (Scala's shortest-round-trip toString parses
    * back to identical bits in DuckDB). */
  private val driftTargets: Seq[(String, Double)] =
    (0 until 20).map(i => s"src$i" -> (if (i < 2) 0.1 else 0.8 / 18))

  /** MMR parameters shared by `knn_mmr` and its oracle. `MmrOneMinusLam`
    * is its own literal (not derived as `1 − lam` at use sites): the
    * greedy argmin compares doubles, so both engines must multiply by
    * the identical constant. */
  private val MmrLam = 0.5
  private val MmrOneMinusLam = 0.5

  private def mmrOracleSql(k: Int, shortlist: Int): String = {
    val steps = (2 to k).map { i =>
      val prevSel = (1 until i).map(j => s"SELECT id FROM s$j").mkString(" UNION ALL ")
      s"""s$i AS MATERIALIZED (SELECT c.id AS id,
         |    $MmrLam * c.dq - $MmrOneMinusLam * (SELECT min(p.d) FROM sim p
         |      WHERE p.ia = c.id AND p.ib IN ($prevSel)) AS mmr
         |  FROM cand c WHERE c.id NOT IN ($prevSel)
         |  ORDER BY mmr ASC, c.id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k)
      .map(i => s"SELECT $i AS rank, id, mmr FROM s$i")
      .mkString("\n UNION ALL ")
    s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
       |cand AS MATERIALIZED (SELECT e.vec_id AS id, e.embedding AS embedding,
       |    ${sqlSq("e.embedding", "q.qvec")} AS dq
       |  FROM embeddings e, q
       |  ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT $shortlist),
       |sim AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib,
       |    ${sqlSq("a.embedding", "b.embedding")} AS d
       |  FROM cand a JOIN cand b ON a.id <> b.id),
       |s1 AS MATERIALIZED (SELECT id, $MmrLam * dq AS mmr
       |  FROM cand ORDER BY mmr ASC, id ASC LIMIT 1),
       |$steps
       |SELECT CAST(rank AS INT) AS rank, id AS vec_id, ${sqlR4("mmr")} AS mmr
       |FROM ($union) ORDER BY rank""".stripMargin
  }

  /** The BOUNDED customer-name frame the fuzzy-match family runs on:
    * NFC-normalized names (so composed/decomposed twins match at
    * distance 0 — byte-level distance is normalization-sensitive),
    * NULL names dropped (a NULL matches nothing on either engine), and
    * two documented domain bounds shared verbatim by the oracle CTE:
    * `c_custkey < 2500` keeps the oracle's quadratic truth bounded at
    * any SF (the ENGINE side stays sub-quadratic via SymSpell blocking —
    * the bound is an oracle-cost contract, not an engine limit), and
    * `length ≤ 24` codepoints is [[operators.Fuzzy.matchPairs]]'s
    * exactness precondition (= `prefixLen`, so deletion keys cover the
    * whole string). */
  private def fuzzyCustomers(s: SparkSession, dir: String): DataFrame =
    Records.table(s, dir, "customer")
      .select(col("c_custkey").as("id"), TextOps.nfc(col("c_name")).as("s"))
      .where(col("id") < 2500 && col("s").isNotNull && length(col("s")) <= 24)

  /** The verified fuzzy pair list (byte edit distance ≤ 2 over the
    * bounded customer names), memoized per (session, dir) and
    * checkpoint-backed — three consumers (stats rollup, pair listing,
    * best-match resolve) reduce over the same converged RESULT, so the
    * blocking+verify pipeline runs once per corpus (the
    * memoize-results-never-pipelines rule). */
  private val fuzzyPairsCache = new SessionMemo[String, DataFrame]
  private def fuzzyNamePairs(s: SparkSession, dir: String): DataFrame =
    fuzzyPairsCache(s, dir)(Caching.truncate(
      operators.Fuzzy.matchPairs(fuzzyCustomers(s, dir), maxDist = 2, prefixLen = 24),
      eager = true))

  /** Oracle CTE twin of [[fuzzyCustomers]] + [[fuzzyNamePairs]]: the
    * bounded frame, then the QUADRATIC pair truth — DuckDB's
    * `levenshtein` is byte-level (the kernel's contract, see
    * [[graft.functions.NativeExprs.editDistanceCapped]]); the oracle
    * affords O(n²) because the frame is bounded to < 2500 names. */
  private val sqlFuzzyCtes: String =
    """c AS (SELECT c_custkey AS id, nfc_normalize(c_name) AS s FROM customer
      |  WHERE c_custkey < 2500 AND c_name IS NOT NULL
      |    AND length(nfc_normalize(c_name)) <= 24),
      |p AS (SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
      |    levenshtein(a.s, b.s) AS dist
      |  FROM c a JOIN c b ON a.id < b.id
      |  WHERE levenshtein(a.s, b.s) <= 2)""".stripMargin

  /** q4-exact per-line revenue `(l_orderkey, __rev4)` — ONE definition
    * of `floor(extprice·(1−disc)·10⁴ + 0.5)` for the three sales
    * queries, twinned by [[sqlLineRev4]] so the hash-exactness-bearing
    * arithmetic can never diverge per query. */
  private def lineRev4(s: SparkSession, dir: String): DataFrame =
    Records.table(s, dir, "lineitem")
      .select(col("l_orderkey"),
        floor(col("l_extendedprice").cast("double")
          * (lit(1.0) - col("l_discount").cast("double"))
          * lit(10000.0) + lit(0.5)).cast("long").as("__rev4"))

  /** DuckDB twin of [[lineRev4]] as a `li(l_orderkey, rev4)` CTE. */
  private val sqlLineRev4: String =
    """li AS (SELECT l_orderkey,
      |    CAST(floor(CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS rev4
      |  FROM lineitem)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // O1,O2,O21 — exact top-k, squared L2 (reference metric.rs:29)
    // extension: per-group embedding centroids (cluster profiling) via
    // VectorMeanAgg — one (count, Σ) buffer per label, map-side
    // combinable; verified through deterministic derived properties
    // (member count, the member nearest to the centroid, the centroid's
    // own norm) since a float mean's raw bits are summation-order-
    // dependent across engines.
    //
    // Cross-engine trust guards: DuckDB's avg() sums doubles in a
    // different order than VectorMeanAgg's partial aggregation, so the
    // two centroids can differ by one double ulp per component before
    // the shared float cast. The derived values only compare reliably
    // when they sit FAR from their decision boundaries, so the query
    // raises (loudly, instead of flaking) if (a) the nearest member's
    // margin over the runner-up is within float-ulp reach, or (b) the
    // norm lies within ~1e-7 of an r4 rounding flip. Both margins are
    // ~1e-1 on the real data — 3+ orders above the guard.
    QueryDef("label_centroids", ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.groupBy(col("label"))
        .agg(graft.functions.VectorMeanAgg.vectorMean(col("embedding")).as("cvec"),
          count(lit(1)).as("n"))
      // top-2 nearest members per label in ONE bounded-heap pass (no
      // second join for the runner-up); heap orders (distance, id) so
      // element 0 reproduces min_by's lowest-id tie-break
      val near2 = e.join(cents.select(col("label"), col("cvec")), Seq("label"))
        .withColumn("__d",
          graft.functions.NativeExprs.sqEuclidean(col("embedding"), col("cvec")))
        .groupBy(col("label"))
        .agg(graft.functions.TopKPairsAgg.topKPairs(col("__d"), col("vec_id"), 2)
          .as("__n2"))
      val nearGap = col("__n2")(1)("distance") - col("__n2")(0)("distance")
      val norm = sqrt(graft.functions.NativeExprs.dot(col("cvec"), col("cvec")))
      // distance from r4's scaled argument to its nearest flip point
      val boundaryGap = abs(norm * lit(10000.0) + lit(0.5)
        - floor(norm * lit(10000.0) + lit(1.0)))
      cents.join(near2, Seq("label"))
        .select(col("label"), col("n"),
          when(size(col("__n2")) < 2 || nearGap > lit(1e-4),
            col("__n2")(0)("id"))
            .otherwise(raise_error(concat(
              lit("label_centroids: nearest-member margin within float-ulp "
                + "reach for label "), col("label"))))
            .as("nearest_vec_id"),
          when(boundaryGap > lit(1e-3), r4(norm))
            .otherwise(raise_error(concat(
              lit("label_centroids: centroid norm within 1e-7 of an r4 "
                + "rounding boundary for label "), col("label"))))
            .as("centroid_norm"))
        .orderBy("label")
    }),
      // same group map, best-copy representative: longest text wins the
      // group, ties to the lowest id (the operator's max_by ordering)
      // centroid mirrored to Spark's float cast (CAST(avg AS REAL)) so
      // distances/norms are computed from identical floats in both engines
      s"""WITH d AS (SELECT label, vec_id, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS x
         |  FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS i) u),
         |c AS (SELECT label, list(CAST(ax AS REAL) ORDER BY i) AS cvec FROM (
         |    SELECT label, i, avg(x) AS ax FROM d GROUP BY label, i) GROUP BY label),
         |nrm AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
         |near AS (SELECT label, vec_id AS nearest_vec_id FROM (
         |  SELECT e.label, e.vec_id,
         |    row_number() OVER (PARTITION BY e.label
         |      ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, e.vec_id ASC) AS rn
         |  FROM embeddings e JOIN c ON e.label = c.label) WHERE rn = 1)
         |SELECT nrm.label, nrm.n, near.nearest_vec_id,
         |  ${sqlR4("sqrt(" + sqlDot("c.cvec", "c.cvec") + ")")} AS centroid_norm
         |FROM nrm JOIN near ON nrm.label = near.label JOIN c ON nrm.label = c.label
         |ORDER BY nrm.label""".stripMargin),

    QueryDef("knn_euclidean", ((s, dir) =>
      knnOut(Knn.search(recs(s, dir), qvec0(s, dir), 10, Metric.Euclidean))),
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e, q
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin),

    // O1,O2,O21 — exact top-k, cosine distance (reference metric.rs:30-31)
    QueryDef("knn_cosine", ((s, dir) =>
      knnOut(Knn.search(recs(s, dir), qvec0(s, dir), 10, Metric.Cosine))),
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlCosDist("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e, q
         |ORDER BY ${sqlCosDist("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin),

    // extension: MAX-INNER-PRODUCT top-k (MIPS) — the recommendation-
    // serving metric the reference's L2/cosine pair lacks: score = raw
    // dot product, descending (ties by id). Same native dot kernel and
    // fold order as the cosine family, so the doubles are bit-identical
    // to the oracle's list_sum. Admission gate = !isnan(self-dot), the
    // SAME predicate the oracle (and ivf_mips_query) applies — filtering
    // on the SCORE instead diverged on ±Inf components (self-dot +Inf
    // passes, score NaN via Inf−Inf: engine dropped the row, oracle kept
    // a NaN that both engines sort FIRST under their descending total
    // orders — so keeping it is the consistent choice, r10 advice)
    QueryDef("knn_mips", ((s, dir) =>
      recs(s, dir).crossJoin(broadcast(qvec0(s, dir)))
        .where(!isnan(
          graft.functions.NativeExprs.dot(col("embedding"), col("embedding"))))
        .withColumn("__s",
          graft.functions.NativeExprs.dot(col("embedding"), col("qvec")))
        .orderBy(col("__s").desc, col("id").asc).limit(10)
        .select(col("id").as("vec_id"), r4(col("__s")).as("score"))),
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlDot("e.embedding", "q.qvec"))} AS score
         |FROM embeddings e, q
         |WHERE NOT isnan(${sqlDot("e.embedding", "e.embedding")})
         |ORDER BY ${sqlDot("e.embedding", "q.qvec")} DESC, e.vec_id ASC LIMIT 10""".stripMargin),

    // O3 — radius gate, <= inclusive (reference index.rs:197)
    QueryDef("knn_radius", ((s, dir) =>
      knnOut(Knn.search(recs(s, dir), qvec0(s, dir), 50, Metric.Euclidean, radius = 1.7))),
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e, q
         |WHERE ${sqlSq("e.embedding", "q.qvec")} <= 1.7
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 50""".stripMargin),

    // O1-O5 — the flagship filtered ANN composition (reference index.rs:197-199)
    QueryDef("knn_filtered", ((s, dir) =>
      knnOut(Knn.search(recs(s, dir), qvec0(s, dir), 10, Metric.Euclidean,
        filter = FilterDsl.predicate(col("metadata"), "label >= 5")))),
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e, q
         |WHERE e.label >= 5
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin),

    // O4,O5 — AND-joined numeric clauses
    QueryDef("filter_and", ((s, dir) =>
      recs(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "label >= 3 AND label <= 6"))
        .select(col("id").as("vec_id")).orderBy("vec_id")),
      "SELECT vec_id FROM embeddings WHERE label >= 3 AND label <= 6 ORDER BY vec_id"),

    // O4,O5 — OR join, text + numeric coercion
    QueryDef("filter_or", ((s, dir) =>
      Records.fromDocuments(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "lang = en OR n_chars < 200"))
        .select(col("id").as("doc_id")).orderBy("doc_id")),
      "SELECT doc_id FROM documents WHERE lang = 'en' OR n_chars < 200 ORDER BY doc_id"),

    // O4 — text CONTAINS, value containing a space (splitn(3) semantics)
    QueryDef("filter_contains", ((s, dir) =>
      Records.fromDocuments(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "text CONTAINS spark window"))
        .select(col("id").as("doc_id")).orderBy("doc_id")),
      "SELECT doc_id FROM documents WHERE contains(text, 'spark window') ORDER BY doc_id"),

    // O5 — quote-stripping coercion (reference record.rs:67-75)
    QueryDef("filter_quoted", ((s, dir) =>
      Records.fromDocuments(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "lang = 'fr'"))
        .select(col("id").as("doc_id")).orderBy("doc_id")),
      "SELECT doc_id FROM documents WHERE lang = 'fr' ORDER BY doc_id"),

    // O4,O5 — the §1.3 coercion traps IN the oracle gate (previously
    // ScalaTest-only): a numeric filter vs text metadata is false (never
    // an error); a QUOTED numeric value is text-typed, so it mismatches
    // numeric metadata; a boolean filter vs text is false; a missing key
    // under OR leaves the other clause to decide. Spark evaluates through
    // FilterDsl; the oracle re-derives each count with TRY_CAST/IN type
    // gates — the independent formulation of same-type-only comparison.
    QueryDef("filter_mismatch", ((s, dir) => {
      val d = Records.fromDocuments(s, dir)
      def n(dsl: String): Column =
        sum(when(FilterDsl.predicate(col("metadata"), dsl), 1L).otherwise(0L))
      d.agg(
        n("lang >= 0").as("n_num_vs_text"),
        n("n_chars = '150'").as("n_quoted_vs_num"),
        n("lang != true").as("n_bool_vs_text"),
        n("missing_key = 1 OR n_chars < 200").as("n_missing_or"),
        n("source CONTAINS rc1").as("n_contains"))
    }),
      """SELECT
        |  count(*) FILTER (WHERE TRY_CAST(lang AS DOUBLE) >= 0) AS n_num_vs_text,
        |  count(*) FILTER (WHERE TRY_CAST(n_chars AS DOUBLE) IS NULL AND CAST(n_chars AS VARCHAR) = '150') AS n_quoted_vs_num,
        |  count(*) FILTER (WHERE lang IN ('true', 'false') AND lang <> 'true') AS n_bool_vs_text,
        |  count(*) FILTER (WHERE n_chars < 200) AS n_missing_or,
        |  count(*) FILTER (WHERE contains(source, 'rc1')) AS n_contains
        |FROM documents""".stripMargin),

    // O7 — point lookup
    QueryDef("get_by_id", ((s, dir) =>
      Crud.getById(recs(s, dir), 42)
        .select(col("id").as("vec_id"),
          try_element_at(col("metadata"), lit("label")).as("label"))),
      "SELECT vec_id, CAST(label AS VARCHAR) AS label FROM embeddings WHERE vec_id = 42"),

    // O7 over the id-bucketed point-lookup layout (the reference's O(1)
    // hashmap get as a file-system layout): the store is written once
    // per (session, sf) — session-lifecycle state like fixedModel — and
    // the lookup statically prunes to one bucket file (plan pinned in
    // PlanShapeSpec)
    QueryDef("get_by_id_store", ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_idstore_" +
        s"${s.sparkContext.applicationId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      if (!new java.io.File(s"$path/_graft_layout").exists())
        Records.snapshotById(recs(s, dir), path, buckets = 64)
      Records.getById(s, path, 42L)
        .select(col("id").as("vec_id"),
          try_element_at(col("metadata"), lit("label")).as("label"))
    }),
      // the bucketed layout changes the files, never the rows
      "SELECT vec_id, CAST(label AS VARCHAR) AS label FROM embeddings WHERE vec_id = 42"),

    // O16 — count
    QueryDef("count_records", ((s, dir) =>
      recs(s, dir).agg(count(lit(1)).as("n_records"))),
      "SELECT count(*) AS n_records FROM embeddings"),

    // O19 — heartbeat: liveness + library version (reference
    // database.rs:204-213 returns CARGO_PKG_VERSION). The one operator
    // that deliberately touches no data: a session that can answer it
    // has a live driver, which is exactly the RPC's contract.
    QueryDef("heartbeat", ((s, dir) => {
      import s.implicits._
      Seq(graft.BuildInfo.version).toDF("version")
    }),
      s"SELECT '${graft.BuildInfo.version}' AS version"),

    // O8 — batch insert, verified by post-state aggregate
    QueryDef("insert_batch", ((s, dir) => {
      import s.implicits._
      val newRows = Seq(
        (1000001L, Seq.fill(Dim)(0.1f), Map("label" -> "90")),
        (1000002L, Seq.fill(Dim)(0.2f), Map("label" -> "91")),
        (1000003L, Seq.fill(Dim)(0.3f), Map("label" -> "92")))
        .toDF("id", "embedding", "metadata")
      Crud.insert(recs(s, dir), newRows)
        .agg(count(lit(1)).as("n"),
          sum(try_element_at(col("metadata"), lit("label")).cast("double")).as("label_sum"))
    }),
      "SELECT count(*) + 3 AS n, CAST(sum(label) + 273 AS DOUBLE) AS label_sum FROM embeddings"),

    // O8,O20 — validated insert: the wrong-width row is rejected
    // (reference database.rs:189-199 errors per record; batch-wise the
    // invalid rows are dropped and observable via Crud.invalidDim)
    QueryDef("insert_invalid_dim", ((s, dir) => {
      import s.implicits._
      val newRows = Seq(
        (2000001L, Seq.fill(Dim)(0.1f), Map("label" -> "90")),
        (2000002L, Seq.fill(Dim + 1)(0.2f), Map("label" -> "91")), // wrong width
        (2000003L, Seq.fill(Dim)(0.3f), Map("label" -> "92")))
        .toDF("id", "embedding", "metadata")
      Crud.insertValidated(recs(s, dir), newRows, Dim)
        .agg(count(lit(1)).as("n"))
        .crossJoin(Crud.invalidDim(newRows, Dim)
          .agg(count(lit(1)).as("n_rejected")))
    }),
      "SELECT count(*) + 2 AS n, CAST(1 AS BIGINT) AS n_rejected FROM embeddings"),

    // O12,O15 — batch delete (broadcast anti-join)
    QueryDef("delete_batch", ((s, dir) => {
      val r = recs(s, dir)
      val ids = r.where(col("id") % 10 === 0).select("id")
      Crud.delete(r, ids).agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
    }),
      "SELECT count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum FROM embeddings WHERE vec_id % 10 <> 0"),

    // O14 — metadata replace (vector immutable, storage.rs:52-54)
    // O8/O12/O14 composed — batch MERGE with last-write-wins: deletes,
    // conflicting upserts (last seq wins), delete-then-upsert (revives),
    // upsert-then-delete (stays dead), and a fresh insert, in one batch
    QueryDef("merge_batch", ((s, dir) => {
      import s.implicits._
      val base = recs(s, dir)
      // fresh-insert sentinel: one past the store's max id, computed from
      // the data (a 1-row aggregate) so the query holds at ANY scale
      // factor — a fixed literal would silently collide once a bigger SF
      // grew past it, and the failure would masquerade as a merge bug
      val freshId = base.agg(max(col("id"))).head.getLong(0) + 1L
      val changes = Seq(
        (0L, "delete", 1, None, None),
        (1L, "delete", 1, None, None),
        (5L, "upsert", 1, Some(Seq.fill(Dim)(0.5f)), Some(Map("label" -> "A"))),
        (5L, "upsert", 2, Some(Seq.fill(Dim)(0.5f)), Some(Map("label" -> "B"))),
        (6L, "upsert", 1, Some(Seq.fill(Dim)(0.6f)), Some(Map("label" -> "C"))),
        (7L, "upsert", 1, Some(Seq.fill(Dim)(0.7f)), Some(Map("label" -> "D"))),
        (7L, "delete", 2, None, None),
        (8L, "delete", 1, None, None),
        (8L, "upsert", 2, Some(Seq.fill(Dim)(0.8f)), Some(Map("label" -> "E"))),
        (freshId, "upsert", 1, Some(Seq.fill(Dim)(0.9f)), Some(Map("label" -> "N"))))
        .toDF("id", "op", "seq", "embedding", "metadata")
      Crud.merge(base, changes)
        .where(col("id") < 12 || col("id") === freshId)
        .select(col("id").as("vec_id"),
          try_element_at(col("metadata"), lit("label")).as("label"),
          size(col("embedding")).cast("long").as("dim"))
        .orderBy("vec_id")
    }),
      // expected end state spelled out: 0,1 deleted; 5,6,8 upserted (5 via
      // last-write-wins over two seqs, 8 revived after a delete); 7 dead
      // (delete after upsert); max(vec_id)+1 fresh — the sentinel and the
      // vector width both derived ($Dim, max+1), never hard-coded, so the
      // oracle survives any scale factor or dim change
      s"""SELECT vec_id, label, dim FROM (
         |  SELECT vec_id, CAST(label AS VARCHAR) AS label,
         |    CAST(len(embedding) AS BIGINT) AS dim
         |  FROM embeddings WHERE vec_id IN (2, 3, 4, 9, 10, 11)
         |  UNION ALL SELECT * FROM (VALUES
         |    (CAST(5 AS BIGINT), 'B', CAST($Dim AS BIGINT)),
         |    (6, 'C', $Dim), (8, 'E', $Dim)) v(vec_id, label, dim)
         |  UNION ALL SELECT (SELECT max(vec_id) + 1 FROM embeddings), 'N',
         |    CAST($Dim AS BIGINT))
         |ORDER BY vec_id""".stripMargin),

    QueryDef("update_metadata", ((s, dir) => {
      val r = recs(s, dir)
      val updates = r.where(col("id") < 10)
        .select(col("id"), map(lit("label"), lit("99")).as("metadata"))
      Crud.updateMetadata(r, updates)
        .where(col("id") < 20)
        .select(col("id").as("vec_id"),
          try_element_at(col("metadata"), lit("label")).as("label"))
        .orderBy("vec_id")
    }),
      """SELECT vec_id, CASE WHEN vec_id < 10 THEN '99' ELSE CAST(label AS VARCHAR) END AS label
        |FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""".stripMargin),

    // extension: relational analytics over the TPC-H-ish tables —
    // revenue per nation through a 4-way join (lineitem ⋈ orders ⋈
    // customer ⋈ broadcast nation). Revenue is quantized per row
    // (q4 of extprice·(1−disc), fixed operand order) then summed as
    // exact longs, so the multi-way shuffle sum is order-independent
    QueryDef("sales_by_nation", ((s, dir) => {
      val li = lineRev4(s, dir)
      val o = Records.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val c = Records.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val n = Records.table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      // same pre-aggregate-before-join shape as sales_by_segment: the
      // orderkey join moves one row per order, carrying exact partial
      // (item count, q4-revenue) sums
      li.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("__ni"), sum(col("__rev4")).as("__r4"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("__ni")).as("n_items"),
          r4(sum(col("__r4")).cast("double") / lit(10000.0)).as("revenue"))
        .orderBy("n_name")
    }),
      s"""WITH $sqlLineRev4
         |SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_items,
         |  ${sqlR4("CAST(sum(li.rev4) AS DOUBLE) / 10000.0")} AS revenue
         |FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin),

    // extension: revenue + order stats per market segment (broadcast
    // dim join, exact q4 sums; the order count is a plain count over
    // the one-row-per-order pre-aggregate)
    QueryDef("sales_by_segment", ((s, dir) => {
      val li = lineRev4(s, dir)
      val o = Records.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val c = Records.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      // pre-aggregate revenue to one row per order BEFORE the join: the
      // order-key join then moves |orders| rows instead of |lineitem|,
      // and the per-segment distinct-order count becomes a plain count
      // (one row per order by construction — no count_distinct Expand)
      li.groupBy(col("l_orderkey")).agg(sum(col("__rev4")).as("__r4"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          r4(sum(col("__r4")).cast("double") / lit(10000.0)).as("revenue"))
        .orderBy("c_mktsegment")
    }),
      s"""WITH $sqlLineRev4
         |SELECT c.c_mktsegment, CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
         |  ${sqlR4("CAST(sum(li.rev4) AS DOUBLE) / 10000.0")} AS revenue
         |FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin),

    // extension: top-10 customers by exact revenue — quantize-then-rank
    // with the custkey tiebreak, bounded heap
    QueryDef("top_customers", ((s, dir) => {
      val li = lineRev4(s, dir)
      val o = Records.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val c = Records.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("__rev4")).as("__r4"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .orderBy(col("__r4").desc, col("c_custkey").asc)
        .limit(10)
        .select(col("c_custkey"), col("c_name"),
          r4(col("__r4").cast("double") / lit(10000.0)).as("revenue"))
    }),
      s"""WITH $sqlLineRev4,
         |r AS (SELECT o.o_custkey, CAST(sum(li.rev4) AS BIGINT) AS r4
         |  FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey GROUP BY o.o_custkey)
         |SELECT c.c_custkey, c.c_name, ${sqlR4("CAST(r.r4 AS DOUBLE) / 10000.0")} AS revenue
         |FROM r JOIN customer c ON r.o_custkey = c.c_custkey
         |ORDER BY r.r4 DESC, c.c_custkey ASC LIMIT 10""".stripMargin),

    // extension: supplier census through the region→nation→supplier
    // dimension chain (both joins broadcast; q4-exact balance sums)
    QueryDef("supplier_by_region", ((s, dir) => {
      val sup = Records.table(s, dir, "supplier")
        .select(col("s_nationkey"),
          floor(col("s_acctbal").cast("double") * lit(10000.0) + lit(0.5))
            .cast("long").as("__b4"))
      val n = Records.table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val r = Records.table(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      sup.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          r4(sum(col("__b4")).cast("double") / lit(10000.0)).as("acctbal_sum"))
        .orderBy("r_name")
    }),
      s"""SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_suppliers,
         |  ${sqlR4("CAST(sum(CAST(floor(CAST(s.s_acctbal AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0")} AS acctbal_sum
         |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin),

    // extension: part catalog stats per brand — exact count/min/max and
    // a q4-exact mean retail price
    QueryDef("parts_price_stats", ((s, dir) =>
      Records.table(s, dir, "part")
        .select(col("p_brand"),
          floor(col("p_retailprice").cast("double") * lit(10000.0) + lit(0.5))
            .cast("long").as("__p4"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          min(col("__p4")).as("__mn"), max(col("__p4")).as("__mx"),
          sum(col("__p4")).as("__s"))
        .select(col("p_brand"), col("n_parts"),
          r4(col("__mn").cast("double") / lit(10000.0)).as("min_price"),
          r4(col("__mx").cast("double") / lit(10000.0)).as("max_price"),
          r4(col("__s").cast("double") / col("n_parts").cast("double")
            / lit(10000.0)).as("mean_price"))
        .orderBy("p_brand")),
      s"""WITH p AS (SELECT p_brand,
         |    CAST(floor(CAST(p_retailprice AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS p4
         |  FROM part),
         |g AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
         |    CAST(min(p4) AS BIGINT) AS mn, CAST(max(p4) AS BIGINT) AS mx,
         |    CAST(sum(p4) AS BIGINT) AS s
         |  FROM p GROUP BY p_brand)
         |SELECT p_brand, n_parts,
         |  ${sqlR4("CAST(mn AS DOUBLE) / 10000.0")} AS min_price,
         |  ${sqlR4("CAST(mx AS DOUBLE) / 10000.0")} AS max_price,
         |  ${sqlR4("CAST(s AS DOUBLE) / CAST(n_parts AS DOUBLE) / 10000.0")} AS mean_price
         |FROM g ORDER BY p_brand""".stripMargin),

    // extension: fuzzy entity resolution — SymSpell deletion-neighborhood
    // blocking + banded byte edit distance (operators.Fuzzy), rolled up
    // per distance with a same-nation split. The nation lookup joins the
    // BOUNDED (< 2500) customer slice, broadcast — at 100 TB the pair
    // frame and the slice are both small sides; nothing corpus-sized
    // shuffles. NULL nationkeys fall into the "not same" count on both
    // engines (CASE WHEN null-cond → ELSE).
    QueryDef("fuzzy_match_stats", ((s, dir) => {
      val cn = Records.table(s, dir, "customer")
        .where(col("c_custkey") < 2500)
        .select(col("c_custkey"), col("c_nationkey"))
      fuzzyNamePairs(s, dir)
        .join(broadcast(cn.select(col("c_custkey").as("id_a"),
          col("c_nationkey").as("__na"))), Seq("id_a"))
        .join(broadcast(cn.select(col("c_custkey").as("id_b"),
          col("c_nationkey").as("__nb"))), Seq("id_b"))
        .groupBy(col("dist").cast("long").as("dist"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("__na") === col("__nb"), lit(1L)).otherwise(lit(0L)))
            .as("n_same_nation"))
        .orderBy("dist")
    }),
      s"""WITH $sqlFuzzyCtes,
         |n AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey < 2500)
         |SELECT CAST(p.dist AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN na.c_nationkey = nb.c_nationkey THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_same_nation
         |FROM p JOIN n na ON p.id_a = na.c_custkey
         |       JOIN n nb ON p.id_b = nb.c_custkey
         |GROUP BY p.dist ORDER BY dist""".stripMargin),

    // extension: the verified pair listing itself — first 100 by
    // (dist, id_a, id_b), a unique deterministic order
    QueryDef("fuzzy_match_pairs", ((s, dir) =>
      fuzzyNamePairs(s, dir)
        .orderBy(col("dist"), col("id_a"), col("id_b"))
        .limit(100)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"),
          col("s_a").as("name_a"), col("s_b").as("name_b"))),
      s"""WITH $sqlFuzzyCtes
         |SELECT id_a, id_b, CAST(dist AS BIGINT) AS dist,
         |  s_a AS name_a, s_b AS name_b
         |FROM p ORDER BY dist, id_a, id_b LIMIT 100""".stripMargin),

    // extension: best-match resolve (the entity-resolution serve shape):
    // for each probe id < 100, the nearest OTHER name within distance 2 —
    // min dist, min id tiebreak. The probe filter lands BEFORE the
    // window, so the ranked frame is bounded by the probe set's matches.
    QueryDef("fuzzy_resolve_best", ((s, dir) => {
      val p = fuzzyNamePairs(s, dir)
      val sym = p.select(col("id_a").as("id"), col("id_b").as("best_id"), col("dist"))
        .unionByName(
          p.select(col("id_b").as("id"), col("id_a").as("best_id"), col("dist")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("dist"), col("best_id"))
      sym.where(col("id") < 100)
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("id").as("c_custkey"), col("best_id"),
          col("dist").cast("long").as("dist"))
        .orderBy("c_custkey")
    }),
      s"""WITH $sqlFuzzyCtes,
         |sym AS (SELECT id_a AS id, id_b AS best_id, dist FROM p
         |  UNION ALL SELECT id_b, id_a, dist FROM p)
         |SELECT id AS c_custkey, best_id, CAST(dist AS BIGINT) AS dist
         |FROM sym WHERE id < 100
         |QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist, best_id) = 1
         |ORDER BY c_custkey""".stripMargin),

    // extension: n-gram Jaccard similarity against a fixed document —
    // set ops run on 56-bit long shingle hashes (primitive fast path;
    // string-array intersect is an O(n²) fallback)
    QueryDef("ngram_jaccard", ((s, dir) => {
      val d = docs(s, dir)
      val q = d.where(col("doc_id") === 0)
        .select(TextOps.shingleHashes(TextOps.shingles(col("text"), 3)).as("__qshh"))
      docsSpread(s, dir) // spread the CPU work only when the scan is narrow
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__sh", TextOps.shinglesFromTokens(col("__toks"), 3))
        .select(col("doc_id"), TextOps.shingleHashes(col("__sh")).as("__shh"))
        .crossJoin(broadcast(q))
        .where(size(array_intersect(col("__shh"), col("__qshh"))) > 0)
        .select(col("doc_id"), r4(TextOps.jaccard(col("__shh"), col("__qshh"))).as("jaccard"))
        .orderBy("doc_id")
    }),
      s"""WITH t0 AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents)),
         |t AS (SELECT doc_id, list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)) AS h
         |  FROM t0),
         |q AS (SELECT h AS qh FROM t WHERE doc_id = 0)
         |SELECT t.doc_id AS doc_id,
         |  ${sqlR4("CAST(len(list_intersect(t.h, q.qh)) AS DOUBLE) / len(list_distinct(t.h || q.qh))")} AS jaccard
         |FROM t, q WHERE len(list_intersect(t.h, q.qh)) > 0 ORDER BY t.doc_id""".stripMargin),

    // extension: Matryoshka two-stage search — prefix-dim (16 of 64)
    // shortlist of 50, exact full-dim rerank to top-10. ONE scan, two
    // chained bounded heaps (TakeOrderedAndProject), no join: the
    // cheap-funnel serving shape. Deterministic end to end (id
    // tiebreaks at both stages), so the oracle replays both stages.
    QueryDef("knn_matryoshka", ((s, dir) =>
      knnOut(Knn.searchPrefixRerank(recs(s, dir), qvec0(s, dir),
        k = 10, prefixDim = 16, shortlist = 50, Metric.Euclidean))),
      // both stages replayed: prefix-dim shortlist (LIMIT 50, id
      // tiebreak) then exact full-dim rerank — list slice [1:16] is
      // 1-based inclusive, = Spark's slice(v, 1, 16)
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT e.vec_id AS vec_id, e.embedding AS embedding, q.qvec AS qvec
         |  FROM embeddings e, q
         |  ORDER BY ${sqlSq("e.embedding[1:16]", "q.qvec[1:16]")} ASC, e.vec_id ASC LIMIT 50)
         |SELECT vec_id, ${sqlR4(sqlSq("embedding", "qvec"))} AS distance
         |FROM s
         |ORDER BY ${sqlSq("embedding", "qvec")} ASC, vec_id ASC LIMIT 10""".stripMargin),

    // extension: MMR diversity rerank — relevance shortlist of 30, then
    // greedy maximal-marginal-relevance selection of 10 (lam = 0.5).
    // One scan → one bounded heap → one model-bounded expression; the
    // oracle replays the greedy loop as 10 unrolled one-row CTE steps.
    QueryDef("knn_mmr", ((s, dir) =>
      Knn.mmrRerank(recs(s, dir), qvec0(s, dir), k = 10, shortlist = 30,
          lam = MmrLam, oneMinusLam = MmrOneMinusLam)
        .select(col("rank"), col("id").as("vec_id"), r4(col("mmr")).as("mmr"))
        .orderBy("rank")),
      mmrOracleSql(k = 10, shortlist = 30)),

    // extension: PRODUCT-quantization codes — m=4 subspaces × 16 codes
    // over 64 dims = 2 bytes a vector (vs 256 raw): the compression
    // lever past int8. Fixed codebooks (records 0..15's subvectors)
    // keep the argmin encode oracle-exact; trained codebooks are the
    // VectorOpsSpec path. Map-only: books ride a broadcast.
    QueryDef("pq_codes", ((s, dir) =>
      emb(s, dir).select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(pqFixedBooks(s, dir)))
        .select(col("vec_id"),
          posexplode(operators.VectorOps.pqCodes(col("embedding"), col("books"))))
        .select(col("vec_id"), col("pos").cast("int").as("sub_idx"),
          col("col").as("code"))
        .orderBy("vec_id", "sub_idx")),
      s"""WITH cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.code,
         |  ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} AS d
         |  FROM embeddings e CROSS JOIN books b)
         |SELECT vec_id, CAST(sub_idx AS INT) AS sub_idx, code FROM (
         |  SELECT vec_id, sub_idx, code, row_number() OVER (PARTITION BY vec_id, sub_idx ORDER BY d ASC, code ASC) AS rn FROM enc)
         |WHERE rn = 1 ORDER BY vec_id, sub_idx""".stripMargin),

    // extension: ROTATED product quantization (OPQ-lite) — the pinned
    // Householder reflection applied to vectors and codebook sources
    // before encoding: OPQ's plumbing (rotate → encode; a query side
    // would rotate q once and probe unchanged) with the trained rotation
    // replaced by a pinned one. Distances are preserved exactly, so all
    // downstream ADC algebra is unchanged; rotation is one native
    // map-only kernel per row.
    QueryDef("pq_rotated_codes", ((s, dir) =>
      emb(s, dir).select(col("vec_id"),
          operators.VectorOps.householderReflect(col("embedding"))
            .cast("array<float>").as("__rv"))
        .crossJoin(broadcast(pqRotatedBooks(s, dir)))
        .select(col("vec_id"),
          posexplode(operators.VectorOps.pqCodes(col("__rv"), col("books"))))
        .select(col("vec_id"), col("pos").cast("int").as("sub_idx"),
          col("col").as("code"))
        .orderBy("vec_id", "sub_idx")),
      // the reflection restated from the same pinned integers the kernel
      // folds (left-fold dot, one map, REAL cast), then pq_codes' argmin
      s"""WITH rotq AS (SELECT vec_id, embedding,
         |  list_reduce(list_transform(list_zip(embedding, $sqlOpqW),
         |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b) AS wv
         |  FROM embeddings),
         |rot AS (SELECT vec_id,
         |  list_transform(list_zip(embedding, $sqlOpqW),
         |    p -> CAST(CAST(p[1] AS DOUBLE) - (2.0 * wv / $sqlOpqWw) * CAST(p[2] AS DOUBLE) AS REAL)) AS rv
         |  FROM rotq),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, rv FROM rot WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(rv, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.code,
         |  ${sqlSq("list_slice(e.rv, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} AS d
         |  FROM rot e CROSS JOIN books b)
         |SELECT vec_id, CAST(sub_idx AS INT) AS sub_idx, code FROM (
         |  SELECT vec_id, sub_idx, code, row_number() OVER (PARTITION BY vec_id, sub_idx ORDER BY d ASC, code ASC) AS rn FROM enc)
         |WHERE rn = 1 ORDER BY vec_id, sub_idx""".stripMargin),

    // extension: the quantization-ERROR dashboard — per-vector squared
    // reconstruction error for int8, plain PQ, and residual PQ on a
    // fixed sample: the comparison one actually tunes m/bits/layout
    // with (expected ordering: residual < plain PQ; int8 smallest —
    // it keeps 8 bits per DIM, the PQ rows 2 bits). Row-exact (no
    // corpus-wide float mean), every path the same pinned codebooks.
    QueryDef("pq_error_sample", ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      val sq = graft.functions.NativeExprs.sqEuclidean _
      val base = model.assigned.where(col("id") < 50)
        .crossJoin(broadcast(books))
        .join(broadcast(model.centroids), Seq("cluster_id"))
        .withColumn("__sc", operators.VectorOps.int8Scale(col("embedding")))
        .withColumn("__res",
          operators.VectorOps.residual(col("embedding"), col("centroid")))
      base.select(
        col("id").as("vec_id"),
        r4(sq(col("embedding"),
          operators.VectorOps.dequantizeInt8(
            operators.VectorOps.quantizeInt8(col("embedding"), col("__sc")),
            col("__sc")))).as("err_int8"),
        r4(sq(col("embedding"),
          operators.VectorOps.pqReconstruct(
            operators.VectorOps.pqCodes(col("embedding"), col("books")),
            col("books")))).as("err_pq"),
        r4(sq(col("__res"),
          operators.VectorOps.pqReconstruct(
            operators.VectorOps.pqCodes(col("__res"), col("books")),
            col("books")))).as("err_rpq"))
        .orderBy("vec_id")
    }),
      // all three reconstruction paths replayed on the sample: int8
      // round-half-up dequant, PQ argmin + flatten-ordered reconstruct,
      // residual PQ via the assignment's own centroid
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |sm AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
         |i8 AS (SELECT vec_id, embedding,
         |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM sm),
         |i8d AS (SELECT vec_id, embedding, list_transform(embedding,
         |  x -> CASE WHEN scale > 0 THEN floor(CAST(x AS DOUBLE) / scale + 0.5) * scale ELSE 0.0 END) AS deq FROM i8),
         |e1 AS (SELECT vec_id, ${sqlSq("embedding", "deq")} AS err_int8 FROM i8d),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM sm e CROSS JOIN books b),
         |rec AS (SELECT vec_id, flatten(list(cvec ORDER BY sub_idx)) AS deq FROM enc WHERE rn = 1 GROUP BY vec_id),
         |e2 AS (SELECT sm.vec_id, ${sqlSq("sm.embedding", "rec.deq")} AS err_pq FROM sm JOIN rec USING (vec_id)),
         |resid AS (SELECT sm.vec_id, ${sqlSub("sm.embedding", "cc.cvec")} AS rv
         |  FROM sm JOIN asg ON asg.vec_id = sm.vec_id JOIN c cc ON cc.cid = asg.cid),
         |renc AS (SELECT r.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY r.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(r.rv, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM resid r CROSS JOIN books b),
         |rrec AS (SELECT vec_id, flatten(list(cvec ORDER BY sub_idx)) AS deq FROM renc WHERE rn = 1 GROUP BY vec_id),
         |e3 AS (SELECT r.vec_id, ${sqlSq("r.rv", "rr.deq")} AS err_rpq FROM resid r JOIN rrec rr ON rr.vec_id = r.vec_id)
         |SELECT e1.vec_id, ${sqlR4("err_int8")} AS err_int8, ${sqlR4("err_pq")} AS err_pq, ${sqlR4("err_rpq")} AS err_rpq
         |FROM e1 JOIN e2 ON e2.vec_id = e1.vec_id JOIN e3 ON e3.vec_id = e1.vec_id ORDER BY e1.vec_id""".stripMargin),

    // extension: stopword-heuristic language ID. Tokens and the fused
    // stats are materialized as attributes so each kernel runs once per
    // row; spreadIfNarrow spreads the CPU only when the scan is narrow.
    QueryDef("lang_id", ((s, dir) =>
      docsSpread(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(col("doc_id"),
          TextOps.langFromVotes(col("__stats.votes")).as("lang_pred"))
        .orderBy("doc_id")),
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents),
         |s AS (SELECT doc_id,
         |  len(list_filter(tk, x -> list_contains(['the','a','of','to','and','is','in','it'], x))) AS e,
         |  len(list_filter(tk, x -> list_contains(['el','la','de','que','y','en','un','es'], x))) AS sp,
         |  len(list_filter(tk, x -> list_contains(['le','la','de','et','un','que','les','des'], x))) AS f,
         |  len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','ein','zu','den'], x))) AS d,
         |  len(list_filter(tk, x -> list_contains(['de','shi','bu','le','zai','ren','you','wo'], x))) AS z
         |  FROM t)
         |SELECT doc_id, CASE WHEN coalesce(greatest(e, sp, f, d, z), 0) = 0 THEN 'und'
         |  WHEN e >= sp AND e >= f AND e >= d AND e >= z THEN 'en'
         |  WHEN sp >= f AND sp >= d AND sp >= z THEN 'es'
         |  WHEN f >= d AND f >= z THEN 'fr'
         |  WHEN d >= z THEN 'de' ELSE 'zh' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin),

    // extension: language-ID CONFUSION matrix — predicted × declared
    // label counts plus per-declared-language accuracy: the detector's
    // eval report, exact integers end to end
    QueryDef("lang_confusion", ((s, dir) =>
      docs(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(col("lang").as("declared"),
          TextOps.langFromVotes(col("__stats.votes")).as("predicted"))
        .groupBy(col("declared"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .withColumn("declared_total",
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("declared"))))
        .select(col("declared"), col("predicted"), col("n"),
          r4(col("n").cast("double") / col("declared_total").cast("double"))
            .as("share"))
        .orderBy("declared", "predicted")),
      // same vote CTE, aggregated to the confusion matrix; the window
      // partitions by declared language (vocabulary-bounded)
      s"""WITH t AS (SELECT doc_id, lang, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents),
         |s AS (SELECT doc_id, lang,
         |  len(list_filter(tk, x -> list_contains(['the','a','of','to','and','is','in','it'], x))) AS e,
         |  len(list_filter(tk, x -> list_contains(['el','la','de','que','y','en','un','es'], x))) AS sp,
         |  len(list_filter(tk, x -> list_contains(['le','la','de','et','un','que','les','des'], x))) AS f,
         |  len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','ein','zu','den'], x))) AS d,
         |  len(list_filter(tk, x -> list_contains(['de','shi','bu','le','zai','ren','you','wo'], x))) AS z
         |  FROM t),
         |p AS (SELECT lang AS declared, CASE WHEN coalesce(greatest(e, sp, f, d, z), 0) = 0 THEN 'und'
         |  WHEN e >= sp AND e >= f AND e >= d AND e >= z THEN 'en'
         |  WHEN sp >= f AND sp >= d AND sp >= z THEN 'es'
         |  WHEN f >= d AND f >= z THEN 'fr'
         |  WHEN d >= z THEN 'de' ELSE 'zh' END AS predicted
         |FROM s),
         |c AS (SELECT declared, predicted, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
         |tt AS (SELECT declared, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY declared)
         |SELECT c.declared, c.predicted, c.n,
         |  ${sqlR4("CAST(c.n AS DOUBLE) / CAST(tt.t AS DOUBLE)")} AS share
         |FROM c JOIN tt ON c.declared IS NOT DISTINCT FROM tt.declared
         |ORDER BY c.declared, c.predicted""".stripMargin),

    // extension: HYBRID retrieval — the BM25 lexical shortlist fused
    // with the IVF semantic shortlist by reciprocal-rank fusion (no
    // score calibration across incomparable scales). The 100 TB serving
    // shape: two bounded shortlists, fusion cost independent of corpus
    // size; vec_id ≡ doc_id in the demo tables
    QueryDef("hybrid_rrf_query", ((s, dir) => {
      val lex = TextOps.bm25TopK(docsSpread(s, dir),
          col("text"), Seq("q" -> Seq("key", "table")), k = 20)
        .select(col("doc_id").as("id"), col("rank").cast("long").as("rank"))
      // rank the k-row shortlist without a window: one array_sort
      // aggregate + posexplode (no single-partition WindowExec stage)
      val sem = IvfIndex.query(fixedModel(s, dir, Metric.Euclidean),
          qvec0(s, dir), k = 20, probes = 3)
        .agg(array_sort(collect_list(struct(col("distance"), col("id")))).as("__a"))
        .select(posexplode(col("__a")).as(Seq("__p", "__r")))
        .select(col("__r.id").as("id"), (col("__p") + 1).cast("long").as("rank"))
      Knn.rrfFuse(Seq(lex, sem), k = 10)
        .select(col("id").as("doc_id"), col("n_arms"),
          r4(col("rrf_score")).as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id"))
    }),
      // lexical arm = the text_bm25_topk pipeline (single query, top-20);
      // semantic arm = the ivf_probe_query ranking (top-20); fusion sums
      // 1/(60+rank) — two terms per doc, so addition order can't matter
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents),
         |st AS (SELECT count(*) AS n, avg(len(tk)) AS avgdl FROM t),
         |terms AS (SELECT unnest(['key', 'table']) AS term),
         |tf AS (SELECT doc_id, term, len(list_filter(tk, x -> x = term)) AS tf, len(tk) AS dl FROM t, terms),
         |dfreq AS (SELECT term, sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id, sum(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * 2.2
         |    / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
         |  FROM tf JOIN dfreq d USING (term), st GROUP BY tf.doc_id),
         |lex AS (SELECT doc_id AS id, rank FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM sc WHERE score > 0) WHERE rank <= 20),
         |c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
         |sem AS (SELECT id, rank FROM (
         |  SELECT e.vec_id AS id, row_number() OVER (ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC) AS rank
         |  FROM embeddings e JOIN asg ON asg.vec_id = e.vec_id JOIN probed ON asg.cid = probed.cid, q) WHERE rank <= 20),
         |u AS (SELECT id, rank FROM lex UNION ALL SELECT id, rank FROM sem),
         |f AS (SELECT id, count(*) AS n_arms, sum(1.0 / (60 + rank)) AS rrf FROM u GROUP BY id)
         |SELECT id AS doc_id, CAST(n_arms AS BIGINT) AS n_arms, ${sqlR4("rrf")} AS rrf_score
         |FROM f ORDER BY rrf DESC, id ASC LIMIT 10""".stripMargin),

    // extension: md5 + rolling-window document fingerprints
    QueryDef("doc_fingerprint", ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        md5(col("text")).as("md5_full"),
        TextOps.fingerprint(col("text"), 8).as("min_window_md5"))
        .orderBy("doc_id")),
      """SELECT doc_id, md5(text) AS md5_full,
        |  list_min(list_transform(generate_series(1, greatest(length(text) - 7, 1)), i -> md5(substr(text, i, 8)))) AS min_window_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // extension: greedy concat-and-chunk sequence packing into
    // 512-token training chunks, shard-parallel running totals
    QueryDef("seq_pack", ((s, dir) =>
      graft.operators.Corpus.pack(
          docsSpread(s, dir),
          size(TextOps.tokens(col("text"))), budget = 512, nShards = 8)
        .orderBy("doc_id")),
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tp AS (SELECT * FROM t WHERE n_tokens >= 1),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS strt
        |  FROM tp)
        |SELECT doc_id, shard, n_tokens, strt // 512 AS pack_id, strt % 512 AS tok_offset
        |FROM c ORDER BY doc_id""".stripMargin),

    // extension: BPE-TOKEN-AWARE packing — the packer budgeted in
    // TRAINED-tokenizer tokens (the pinned [[TextOps.BpeMerges]] list
    // applied to fixpoint per token), not whitespace words: whitespace
    // budgets under-count everything the tokenizer splits, so those
    // packs overflow a real context window. The count is MAP-ONLY
    // ([[TextOps.bpeTokenCountTrained]] — the segmentation kernel runs
    // per token instance inside one fused projection; no vocabulary
    // join, no text shuffle), so the only exchanges are the packing
    // window's narrow (doc_id, shard, n_tokens) shuffle and the output
    // sort — plan-pinned in PlanShapeSpec. The oracle replays the merge
    // list to fixpoint per vocab token (the text_bpe_apply CTEs) and
    // re-runs the running-sum pack arithmetic.
    QueryDef("pack_bpe", ((s, dir) =>
      graft.operators.Corpus.pack(
          docsSpread(s, dir),
          TextOps.bpeTokenCountTrained(col("text")), budget = 512, nShards = 8)
        .orderBy("doc_id")),
      // seq_pack with the trained-BPE token count: segmentation replayed
      // to fixpoint per DISTINCT vocab token (the text_bpe_apply CTEs),
      // summed per token INSTANCE per doc, then the same pack arithmetic
      s"""WITH RECURSIVE $sqlBpeSegCtes,
         |bdoc AS (SELECT doc_id, unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS token FROM documents),
         |dn AS (SELECT d.doc_id, CAST(sum(b.n_sym) AS BIGINT) AS n_tokens
         |  FROM bdoc d JOIN bseg b USING (token) WHERE d.token <> '' GROUP BY d.doc_id),
         |base AS (SELECT doc_id, doc_id % 8 AS shard, n_tokens FROM dn WHERE n_tokens >= 1),
         |c AS (SELECT doc_id, shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS strt
         |  FROM base)
         |SELECT doc_id, shard, n_tokens, strt // 512 AS pack_id, strt % 512 AS tok_offset
         |FROM c ORDER BY doc_id""".stripMargin),

    // extension: PACKING-efficiency report — per-shard document/token
    // counts, pack counts, and fill ratio: the dashboard that says
    // whether the packing budget wastes context-window tokens. Exact
    // ints until the final fill division
    QueryDef("pack_efficiency", ((s, dir) =>
      graft.operators.Corpus.pack(
          docsSpread(s, dir),
          size(TextOps.tokens(col("text"))), budget = 512, nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
          (max(col("pack_id")) + 1).as("n_packs"))
        .select(col("shard"), col("n_docs"), col("total_tokens"), col("n_packs"),
          r4(col("total_tokens").cast("double") /
            (col("n_packs") * lit(512)).cast("double")).as("fill"))
        .orderBy("shard")),
      // the seq_pack CTE aggregated per shard
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tp AS (SELECT * FROM t WHERE n_tokens >= 1),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS strt
        |  FROM tp),
        |p AS (SELECT shard, n_tokens, strt // 512 AS pack_id FROM c),
        |a AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    CAST(max(pack_id) + 1 AS BIGINT) AS n_packs
        |  FROM p GROUP BY shard)
        |SELECT shard, n_docs, total_tokens, n_packs,
        |  floor((CAST(total_tokens AS DOUBLE) / CAST(n_packs * 512 AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS fill
        |FROM a ORDER BY shard""".stripMargin),

    // extension: per-source quota sampling (dataset mixing) — smallest
    // content hash per source via the bounded-heap aggregate, no
    // per-source ranking window
    QueryDef("mix_sample", ((s, dir) =>
      graft.operators.Corpus.mixSample(
          docsSpread(s, dir), col("source"), col("text"), quota = 10)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),
      // null text carries no content hash: the heap skips it (null-key
      // heap rule) — the oracle must too, or NULLS-LAST ranking would
      // smuggle the doc into an under-quota source's sample
      """WITH h AS (SELECT doc_id, source, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin),

    // extension: PER-SOURCE token budgets — dataset mixing denominated in
    // tokens ("20B of web, 5B of code") instead of document counts; each
    // listed source keeps its own content-hash-order prefix fitting its
    // budget (src1's budget exceeds its total → whole source kept;
    // unlisted sources drop). Stratified two-level prefix sum.
    QueryDef("mix_token_budget", ((s, dir) =>
      graft.operators.Corpus.mixTokenBudget(
          docsSpread(s, dir), col("source"), col("text"),
          size(TextOps.tokens(col("text"))),
          budgets = Map("src0" -> 800L, "src1" -> 5000L, "src3" -> 300L))
        .orderBy("doc_id")),
      """WITH h AS (SELECT doc_id, source, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv,
        |    CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS BIGINT) AS n
        |  FROM documents WHERE source IN ('src0', 'src1', 'src3')),
        |p AS (SELECT doc_id, source, n,
        |    sum(n) OVER (PARTITION BY source ORDER BY hv, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h WHERE n >= 1)
        |SELECT doc_id, source, n AS n_tokens FROM p
        |WHERE cum <= CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 5000 ELSE 300 END
        |ORDER BY doc_id""".stripMargin),

    // extension: mix-DRIFT monitoring — actual vs declared per-source
    // composition (char mass) with per-source KL and total-variation
    // terms; the post-assembly check a production mixer runs after every
    // wave — drift above threshold is the re-balance trigger
    QueryDef("mix_drift", ((s, dir) =>
      graft.operators.Corpus.mixDrift(
          docs(s, dir), col("source"), col("n_chars"), driftTargets.toMap)
        .select(col("source"), r4(col("actual_share")).as("actual_share"),
          r4(col("target_share")).as("target_share"),
          r4(col("kl_term")).as("kl_term"), r4(col("tv_term")).as("tv_term"))
        .orderBy("source")),
      // the target VALUES list is generated from the same driftTargets
      // sequence the Spark query reads — one source of truth for the doubles
      {
      val values = driftTargets
        .map { case (src, w) => s"('$src', CAST($w AS DOUBLE))" }.mkString(", ")
      s"""WITH t(source, tw) AS (VALUES $values),
         |a AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS w FROM documents GROUP BY source),
         |tot AS (SELECT sum(w) AS twl FROM a),
         |sh AS (SELECT a.source AS source, a.w / tot.twl AS ash FROM a, tot)
         |SELECT COALESCE(sh.source, t.source) AS source,
         |  ${sqlR4("COALESCE(sh.ash, 0.0)")} AS actual_share,
         |  ${sqlR4("t.tw")} AS target_share,
         |  ${sqlR4("CASE WHEN COALESCE(sh.ash, 0.0) = 0 THEN 0.0 ELSE sh.ash * ln(sh.ash / t.tw) END")} AS kl_term,
         |  ${sqlR4("abs(COALESCE(sh.ash, 0.0) - COALESCE(t.tw, 0.0)) / 2.0")} AS tv_term
         |FROM sh FULL JOIN t ON sh.source = t.source
         |ORDER BY source""".stripMargin
    }),

    // extension: BPE merge-pair table — adjacent symbol-pair counts over
    // the distinct vocabulary weighted by term frequency (the first
    // iteration of byte-pair-encoding tokenizer training; work ∝ vocab,
    // never corpus tokens); top-50, ties by pair
    QueryDef("vocab_bpe_pairs", ((s, dir) =>
      graft.operators.TextOps.bpeMergePairs(
        docsSpread(s, dir), k = 50)),
      // vocab-weighted adjacent-pair counts; substr/len count characters in
      // both engines, and the ORDER BY ties break on binary collation in both
      """WITH tok AS (SELECT unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS t FROM documents),
        |v AS (SELECT t, count(*) AS tf FROM tok GROUP BY t),
        |p AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1), i -> substr(t, i, 2))) AS pair, tf
        |  FROM v WHERE len(t) >= 2),
        |g AS (SELECT pair, CAST(sum(tf) AS BIGINT) AS n FROM p GROUP BY pair)
        |SELECT pair, n FROM g ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin),

    // extension: per-source OOV rate against the global top-1000
    // vocabulary — the tokenizer-fit-by-domain diagnostic. The vocab is
    // a bounded TakeOrderedAndProject; the OOV test is a broadcast
    // semi-join-shaped left join on the token key
    QueryDef("vocab_oov_rate", ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("source"),
          explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
      val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("__tf"))
        .orderBy(col("__tf").desc, col("token").asc).limit(1000)
        .select(col("token"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("token"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("__in").isNull, 1)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          r4(col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
        .orderBy("source")
    }),
      // the 1000-word vocabulary cut is (tf DESC, token ASC) — fully
      // deterministic, so both engines cut the identical boundary
      s"""WITH toks AS (SELECT source, unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS token
         |  FROM documents),
         |tk AS (SELECT source, token FROM toks WHERE token <> ''),
         |v AS (SELECT token FROM (SELECT token, count(*) AS tf FROM tk
         |  GROUP BY token ORDER BY tf DESC, token ASC LIMIT 1000)),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(count(*) FILTER (token NOT IN (SELECT token FROM v)) AS BIGINT) AS n_oov
         |  FROM tk GROUP BY source)
         |SELECT source, n_tokens, n_oov,
         |  ${sqlR4("CAST(n_oov AS DOUBLE) / n_tokens")} AS oov_rate
         |FROM a ORDER BY source""".stripMargin),

    // extension: vocabulary COVERAGE — the fraction of all token
    // instances a top-k vocabulary covers (the curve that sizes a token
    // vocabulary / OOV budget). Each point is a bounded
    // TakeOrderedAndProject + one sum — no global rank window, no
    // Expand; ratios divide exact integers so r4 is boundary-safe.
    QueryDef("vocab_coverage", ((s, dir) => {
      val v = docs(s, dir)
        .select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      val totals = v.agg(sum(col("tf")).as("total"),
        count(lit(1)).as("vocab_size"))
      def top(k: Int) = v.orderBy(col("tf").desc, col("token").asc).limit(k)
        .agg(coalesce(sum(col("tf")), lit(0L)).as(s"__top$k"))
      totals.crossJoin(top(10)).crossJoin(top(100)).crossJoin(top(1000))
        .select(col("vocab_size"), col("total"),
          r4(col("__top10").cast("double") / col("total")).as("cov10"),
          r4(col("__top100").cast("double") / col("total")).as("cov100"),
          r4(col("__top1000").cast("double") / col("total")).as("cov1000"))
    }),
      // each coverage point is an ordered LIMIT + sum of exact integers
      """WITH tok AS (SELECT unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS token FROM documents),
        |v AS (SELECT token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY token),
        |t AS (SELECT CAST(sum(tf) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS vocab_size FROM v),
        |k10 AS (SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) AS s FROM (SELECT tf FROM v ORDER BY tf DESC, token ASC LIMIT 10)),
        |k100 AS (SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) AS s FROM (SELECT tf FROM v ORDER BY tf DESC, token ASC LIMIT 100)),
        |k1000 AS (SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) AS s FROM (SELECT tf FROM v ORDER BY tf DESC, token ASC LIMIT 1000))
        |SELECT vocab_size, total,
        |  floor((CAST(k10.s AS DOUBLE) / total) * 10000.0 + 0.5) / 10000.0 AS cov10,
        |  floor((CAST(k100.s AS DOUBLE) / total) * 10000.0 + 0.5) / 10000.0 AS cov100,
        |  floor((CAST(k1000.s AS DOUBLE) / total) * 10000.0 + 0.5) / 10000.0 AS cov1000
        |FROM t, k10, k100, k1000""".stripMargin),

    // extension: vocabulary building — top-k tokens by term frequency
    // with document frequency, deterministic tie-break; the two-stage
    // map-side-combinable wordcount (no Expand, no corpus-wide sort)
    QueryDef("vocab_top", ((s, dir) =>
      graft.operators.TextOps.vocabTop(
        docsSpread(s, dir), k = 100)),
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS token
        |  FROM documents),
        |pd AS (SELECT token, doc_id, count(*) AS c FROM tok GROUP BY token, doc_id),
        |g AS (SELECT token, CAST(sum(c) AS BIGINT) AS tf, CAST(count(*) AS BIGINT) AS df
        |  FROM pd GROUP BY token)
        |SELECT token, tf, df FROM g ORDER BY tf DESC, token ASC LIMIT 100""".stripMargin),

    // extension: BPE TRAINER — the full iterative merge-learning loop
    // (count pairs → argmax → merge everywhere, 8 rounds) over the
    // tf-weighted vocabulary. The corpus-proportional work is the one
    // two-stage wordcount; training state is the bounded word-frequency
    // table (rule 19a: model-bounded → collect and iterate exactly).
    // The oracle replays the SAME loop unrolled as generated SQL CTEs —
    // merge application via separator-framed replace() — so every
    // learned (pair, freq) row is hash-checked, not just invariants
    QueryDef("vocab_bpe_train", ((s, dir) =>
      graft.operators.TextOps.bpeTrain(
          docsSpread(s, dir), nMerges = 8, vocabCap = 500)
        .orderBy("step")),
      bpeTrainOracleSql(nMerges = 8, vocabCap = 500)),

    // extension: WEIGHTED dataset mixing — per-source quotas (the real
    // "2 parts web, 1 part code" shape): each listed source keeps its own
    // smallest-content-hash prefix sized by its quota; unlisted sources
    // and zero quotas drop out; a quota above the source's size keeps the
    // whole source. One bounded heap per source (max quota entries), no
    // per-source ranking window.
    QueryDef("mix_weighted", ((s, dir) =>
      graft.operators.Corpus.mixSampleWeighted(
          docsSpread(s, dir), col("source"), col("text"),
          quotas = Map("src0" -> 12, "src1" -> 5, "src2" -> 0, "src3" -> 30))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),
      """WITH h AS (SELECT doc_id, source, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn FROM h)
        |SELECT doc_id, source FROM r
        |WHERE rn <= CASE source WHEN 'src0' THEN 12 WHEN 'src1' THEN 5 WHEN 'src2' THEN 0 ELSE 30 END
        |ORDER BY doc_id""".stripMargin),

    // extension: pack MATERIALIZATION — the write path that turns pack
    // assignments into actual training sequences: gather each pack's
    // documents in doc_id order, concatenate texts. One shuffle keyed
    // (shard, pack_id); group size is bounded by the packing contract
    // (documents whose starts fall in one budget-token chunk).
    QueryDef("pack_sequences", ((s, dir) => {
      val d = docsSpread(s, dir)
      val packed = graft.operators.Corpus.pack(
        d, size(TextOps.tokens(col("text"))), budget = 512, nShards = 8)
      graft.operators.Corpus.packedSequences(d, packed, col("text"))
        .orderBy("shard", "pack_id")
    }),
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tp AS (SELECT * FROM t WHERE n_tokens >= 1),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS strt
        |  FROM tp),
        |p AS (SELECT doc_id, shard, n_tokens, strt // 512 AS pack_id FROM c)
        |SELECT p.shard, p.pack_id, string_agg(d.text, ' ' ORDER BY p.doc_id) AS text,
        |  count(*) AS n_docs, CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens
        |FROM p JOIN documents d USING (doc_id)
        |GROUP BY p.shard, p.pack_id ORDER BY p.shard, p.pack_id""".stripMargin)
  )
}
