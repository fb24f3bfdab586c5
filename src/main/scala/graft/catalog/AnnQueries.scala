package graft
package catalog

import graft.functions.FilterDsl
import graft.operators.Knn
import graft.types.Metric
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** The approximate-nearest-neighbor family: sign-LSH buckets, binary-code Hamming funnels,
  * batch top-k, MaxSim and the self-join over `embeddings`. */
object AnnQueries {
  /** The sign-packed binary-code store `recs + bcode`, memoized per
    * (session, dir) and persisted — session state for the whole binary
    * Hamming family (query/rerank/batch/filtered/curve/methods-report):
    * the codes are deterministic per record, so six queries re-deriving
    * them per materialization was pure recompute. At 100 TB this IS the
    * layout: binary codes live next to the vectors as a maintained
    * column (32× smaller), not as a per-query projection. */
  private val binStoreCache = new SessionMemo[String, DataFrame]
  private def binStore(s: SparkSession, dir: String): DataFrame =
    Caching.ensureCached(binStoreCache(s, dir)(
      recs(s, dir).withColumn("bcode", operators.VectorOps.binaryCodes(col("embedding")))))

  val all: Seq[QueryDef] = Seq(
    // extension: sign-LSH (random-hyperplane) bucketed ANN — the LSH
    // alternative to the IVF scale path: map-only bucketing (no index
    // build), multi-probe within Hamming 1 of the query's bucket.
    // Hyperplanes derive deterministically from dataset rows, so the
    // whole path is exact-oracle-checkable.
    QueryDef("ann_lsh_query", ((s, dir) => {
      val r = recs(s, dir)
      val planes = operators.SignLsh.planesFrom(r, nbits = 6)
      knnOut(operators.SignLsh.query(r, planes, qvec0(s, dir), k = 10,
        hamming = 1, Metric.Cosine))
    }),
      s"""WITH pr AS (
         |  SELECT a.vec_id AS i, list_transform(list_zip(a.embedding, b.embedding),
         |    p -> CAST(p[1] AS REAL) - CAST(p[2] AS REAL)) AS h
         |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 6
         |  WHERE a.vec_id < 6),
         |bk AS (
         |  SELECT e.vec_id, CAST(sum(CASE WHEN ${sqlDot("e.embedding", "pr.h")} > 0
         |    THEN (CAST(1 AS BIGINT) << CAST(pr.i AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e CROSS JOIN pr GROUP BY e.vec_id),
         |qb AS (SELECT bucket FROM bk WHERE vec_id = 0),
         |$sqlQ0,
         |cand AS (
         |  SELECT e.vec_id, e.embedding FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id, qb
         |  WHERE list_contains(list_transform([0, 1, 2, 4, 8, 16, 32],
         |    m -> xor(qb.bucket, CAST(m AS BIGINT))), bk.bucket))
         |SELECT c.vec_id AS vec_id, ${sqlR4(sqlCosDist("c.embedding", "q.qvec"))} AS distance
         |FROM cand c, q
         |ORDER BY ${sqlCosDist("c.embedding", "q.qvec")} ASC, c.vec_id ASC LIMIT 10""".stripMargin),

    // extension: sign-LSH with the full compositional surface — radius
    // gate + metadata filter on top of the multi-probe bucket pruning
    QueryDef("ann_lsh_filtered", ((s, dir) => {
      val r = recs(s, dir)
      val planes = operators.SignLsh.planesFrom(r, nbits = 6)
      knnOut(operators.SignLsh.query(r, planes, qvec0(s, dir), k = 10,
        hamming = 1, Metric.Cosine, radius = 0.72,
        filter = FilterDsl.predicate(col("metadata"), "label >= 3")))
    }),
      s"""WITH pr AS (
         |  SELECT a.vec_id AS i, list_transform(list_zip(a.embedding, b.embedding),
         |    p -> CAST(p[1] AS REAL) - CAST(p[2] AS REAL)) AS h
         |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 6
         |  WHERE a.vec_id < 6),
         |bk AS (
         |  SELECT e.vec_id, CAST(sum(CASE WHEN ${sqlDot("e.embedding", "pr.h")} > 0
         |    THEN (CAST(1 AS BIGINT) << CAST(pr.i AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e CROSS JOIN pr GROUP BY e.vec_id),
         |qb AS (SELECT bucket FROM bk WHERE vec_id = 0),
         |$sqlQ0,
         |cand AS (
         |  SELECT e.vec_id, e.embedding FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id, qb
         |  WHERE list_contains(list_transform([0, 1, 2, 4, 8, 16, 32],
         |    m -> xor(qb.bucket, CAST(m AS BIGINT))), bk.bucket)
         |    AND e.label >= 3)
         |SELECT c.vec_id AS vec_id, ${sqlR4(sqlCosDist("c.embedding", "q.qvec"))} AS distance
         |FROM cand c, q
         |WHERE ${sqlCosDist("c.embedding", "q.qvec")} <= 0.72
         |ORDER BY ${sqlCosDist("c.embedding", "q.qvec")} ASC, c.vec_id ASC LIMIT 10""".stripMargin),

    // extension: batch multi-probe sign-LSH — every query pruned to its
    // own Hamming-1 bucket neighborhood, per-query two-phase top-k
    QueryDef("ann_lsh_batch", ((s, dir) => {
      val r = recs(s, dir)
      val planes = operators.SignLsh.planesFrom(r, nbits = 6)
      val q = r.where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      operators.SignLsh.queryBatch(r, planes, q, k = 5, hamming = 1, Metric.Cosine)
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"), r4(col("distance")).as("distance"))
    }),
      s"""WITH pr AS (
         |  SELECT a.vec_id AS i, list_transform(list_zip(a.embedding, b.embedding),
         |    p -> CAST(p[1] AS REAL) - CAST(p[2] AS REAL)) AS h
         |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 6
         |  WHERE a.vec_id < 6),
         |bk AS (
         |  SELECT e.vec_id, CAST(sum(CASE WHEN ${sqlDot("e.embedding", "pr.h")} > 0
         |    THEN (CAST(1 AS BIGINT) << CAST(pr.i AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e CROSS JOIN pr GROUP BY e.vec_id),
         |$sqlQBatch,
         |qb AS (SELECT q.query_id, q.qvec, bk.bucket AS qbucket FROM q JOIN bk ON bk.vec_id = q.query_id),
         |cand AS (
         |  SELECT qb.query_id, e.vec_id, ${sqlCosDist("e.embedding", "qb.qvec")} AS dist
         |  FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id CROSS JOIN qb
         |  WHERE list_contains(list_transform([0, 1, 2, 4, 8, 16, 32],
         |    m -> xor(qb.qbucket, CAST(m AS BIGINT))), bk.bucket)),
         |r AS (SELECT query_id, vec_id, dist, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin),

    // extension: brute-force batch ANN — the EXACT baseline, pinned as
    // such: this row is the ground truth every ANN funnel's recall is
    // judged against, so its full scan over the store is the CONTRACT,
    // not a missed optimization (its ~2.4 s at sf0.1 is #3 on the bench
    // BY DESIGN). The scale/serving paths are ivf_batch_query /
    // ann_lsh_batch / ivf_adc_batch; do not "optimize" this one.
    QueryDef("ann_topk_batch", ((s, dir) => {
      val q = recs(s, dir).where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      Knn.searchBatch(recs(s, dir), q, 5, Metric.Cosine)
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"), r4(col("distance")).as("distance"))
    }),
      s"""WITH $sqlQBatch,
         |d AS (SELECT q.query_id, e.vec_id, ${sqlCosDist("e.embedding", "q.qvec")} AS dist FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, dist, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM d)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin),

    // extension: full-corpus Hamming scan over packed sign bits — one
    // integer XOR+POPCNT per 64 dims per record, no float math at all
    QueryDef("ann_hamming_query", ((s, dir) => {
      val store = binStore(s, dir)
      val q = qvec0(s, dir)
        .select(operators.VectorOps.binaryCodes(col("qvec")).as("__qc"))
      store.crossJoin(broadcast(q))
        .withColumn("hamming",
          operators.VectorOps.hammingDistance(col("bcode"), col("__qc")))
        .where(col("hamming").isNotNull) // nulls sort FIRST ascending
        .orderBy(col("hamming").asc, col("id").asc).limit(10)
        .select(col("id").as("vec_id"), col("hamming"))
    }),
      s"""WITH q AS (SELECT ${sqlBinCode("embedding")} AS qc FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id, ${sqlBinCode("embedding")} AS bc FROM embeddings)
         |SELECT c.vec_id AS vec_id, ${sqlHamming("c.bc", "q.qc")} AS hamming
         |FROM c, q
         |ORDER BY hamming ASC, c.vec_id ASC LIMIT 10""".stripMargin),

    // extension: the binary serving funnel — Hamming shortlist (50),
    // exact sq-L2 rerank (10); one scan, two chained bounded heaps
    QueryDef("ann_hamming_rerank", ((s, dir) => {
      val store = binStore(s, dir)
      val q = qvec0(s, dir)
        .withColumn("qcode", operators.VectorOps.binaryCodes(col("qvec")))
      knnOut(Knn.searchHammingRerank(store, q, k = 10, shortlist = 50))
    }),
      s"""WITH q AS (SELECT embedding AS qvec, ${sqlBinCode("embedding")} AS qc
         |  FROM embeddings WHERE vec_id = 0),
         |sl AS (SELECT e.vec_id, e.embedding,
         |    ${sqlHamming(sqlBinCode("e.embedding"), "q.qc")} AS h
         |  FROM embeddings e, q
         |  ORDER BY h ASC, e.vec_id ASC LIMIT 50)
         |SELECT sl.vec_id AS vec_id, ${sqlR4(sqlSq("sl.embedding", "q.qvec"))} AS distance
         |FROM sl, q
         |ORDER BY ${sqlSq("sl.embedding", "q.qvec")} ASC, sl.vec_id ASC LIMIT 10""".stripMargin),

    // extension: batch Hamming top-k — the bounded-heap two-stage
    // reduction (no ranking window) over packed sign codes
    QueryDef("ann_hamming_batch", ((s, dir) => {
      val store = binStore(s, dir)
      val q = recs(s, dir).where(col("id") < 5)
        .select(col("id").as("query_id"),
          operators.VectorOps.binaryCodes(col("embedding")).as("qcode"))
      Knn.searchHammingBatch(store, q, 5)
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"),
          col("distance").cast("long").as("hamming"))
    }),
      s"""WITH q AS (SELECT vec_id AS query_id, ${sqlBinCode("embedding")} AS qc
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id, ${sqlBinCode("embedding")} AS bc FROM embeddings),
         |d AS (SELECT q.query_id, c.vec_id, ${sqlHamming("c.bc", "q.qc")} AS h
         |  FROM c CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, h,
         |  row_number() OVER (PARTITION BY query_id ORDER BY h ASC, vec_id ASC) AS rn FROM d)
         |SELECT query_id, vec_id, h AS hamming FROM r WHERE rn <= 5
         |ORDER BY query_id, h, vec_id""".stripMargin),

    // extension: compression-tier recall report — which tier suffices?
    // int8 dequantized scan, binary Hamming funnel (50), and
    // Matryoshka prefix-16 funnel (50), each scored by overlap with
    // the exact top-10. Every method is deterministic, so the report
    // is exact integers — no sampling, no invariant oracle
    QueryDef("ann_recall_methods", ((s, dir) => {
      val r = recs(s, dir)
      val q = qvec0(s, dir)
      val exact = Knn.search(r, q, 10, Metric.Euclidean).select(col("id"))
      val deq = r
        .withColumn("__sc", operators.VectorOps.int8Scale(col("embedding")))
        .withColumn("embedding", operators.VectorOps.dequantizeInt8(
          operators.VectorOps.quantizeInt8(col("embedding"), col("__sc")),
          col("__sc")))
        .drop("__sc")
      val m8 = Knn.search(deq, q, 10, Metric.Euclidean).select(col("id"))
      val bin = Knn.searchHammingRerank(
        binStore(s, dir),
        q.withColumn("qcode", operators.VectorOps.binaryCodes(col("qvec"))),
        k = 10, shortlist = 50).select(col("id"))
      val pre = Knn.searchPrefixRerank(r, q, 10, prefixDim = 16,
        shortlist = 50).select(col("id"))
      Seq(("binary", bin), ("int8", m8), ("prefix16", pre))
        .map { case (n, df) => df.select(lit(n).as("method"), col("id")) }
        .reduce(_ union _)
        .join(broadcast(exact), Seq("id"), "left_semi")
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n_hit"))
        .select(col("method"), col("n_hit"),
          r4(col("n_hit").cast("double") / lit(10.0)).as("recall"))
        .orderBy("method")
    }),
      s"""WITH q AS (SELECT embedding AS qvec, ${sqlBinCode("embedding")} AS qc FROM embeddings WHERE vec_id = 0),
         |ex AS (SELECT e.vec_id FROM embeddings e, q ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10),
         |d0 AS (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc FROM embeddings),
         |dq AS (SELECT vec_id, list_transform(embedding, x -> CAST((CASE WHEN sc > 0 THEN CAST(floor(CAST(x AS DOUBLE) / sc + 0.5) AS INT) ELSE 0 END) AS DOUBLE) * sc) AS demb FROM d0),
         |m8 AS (SELECT dq.vec_id FROM dq, q ORDER BY ${sqlSq("dq.demb", "q.qvec")} ASC, dq.vec_id ASC LIMIT 10),
         |bsl AS (SELECT e.vec_id, e.embedding, q.qvec FROM embeddings e, q
         |  ORDER BY ${sqlHamming(sqlBinCode("e.embedding"), "q.qc")} ASC, e.vec_id ASC LIMIT 50),
         |bin AS (SELECT vec_id FROM bsl ORDER BY ${sqlSq("embedding", "qvec")} ASC, vec_id ASC LIMIT 10),
         |psl AS (SELECT e.vec_id, e.embedding, q.qvec FROM embeddings e, q
         |  ORDER BY ${sqlSq("e.embedding[1:16]", "q.qvec[1:16]")} ASC, e.vec_id ASC LIMIT 50),
         |pre AS (SELECT vec_id FROM psl ORDER BY ${sqlSq("embedding", "qvec")} ASC, vec_id ASC LIMIT 10),
         |u AS (SELECT 'binary' AS method, vec_id FROM bin
         |  UNION ALL SELECT 'int8', vec_id FROM m8
         |  UNION ALL SELECT 'prefix16', vec_id FROM pre)
         |SELECT u.method, CAST(count(*) AS BIGINT) AS n_hit,
         |  ${sqlR4("CAST(count(*) AS DOUBLE) / 10.0")} AS recall
         |FROM u JOIN ex ON u.vec_id = ex.vec_id
         |GROUP BY u.method ORDER BY u.method""".stripMargin),

    // extension: FILTERED binary funnel — the metadata predicate gates
    // candidates before both heaps (the knn_filtered contract composed
    // with the Hamming shortlist)
    QueryDef("ann_hamming_filtered", ((s, dir) => {
      // filter over the memoized code store: codes are per-record, so
      // filtering before or after coding yields identical rows, and the
      // predicate still gates candidates BEFORE the shortlist heap
      val store = binStore(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "label >= 5"))
      val q = qvec0(s, dir)
        .withColumn("qcode", operators.VectorOps.binaryCodes(col("qvec")))
      knnOut(Knn.searchHammingRerank(store, q, k = 10, shortlist = 50))
    }),
      s"""WITH q AS (SELECT embedding AS qvec, ${sqlBinCode("embedding")} AS qc
         |  FROM embeddings WHERE vec_id = 0),
         |f AS (SELECT vec_id, embedding FROM embeddings WHERE label >= 5),
         |sl AS (SELECT f.vec_id, f.embedding, q.qvec FROM f, q
         |  ORDER BY ${sqlHamming(sqlBinCode("f.embedding"), "q.qc")} ASC, f.vec_id ASC LIMIT 50)
         |SELECT sl.vec_id AS vec_id, ${sqlR4(sqlSq("sl.embedding", "sl.qvec"))} AS distance
         |FROM sl ORDER BY ${sqlSq("sl.embedding", "sl.qvec")} ASC, sl.vec_id ASC LIMIT 10""".stripMargin),

    // extension: binary-funnel TUNING curve — recall@10 of the Hamming
    // shortlist → exact rerank at shortlist ∈ {10, 20, 50, 100}; every
    // point is a deterministic funnel, so the curve is exact integers
    QueryDef("ann_hamming_recall_curve", ((s, dir) => {
      val store = binStore(s, dir)
      val q = qvec0(s, dir)
        .withColumn("qcode", operators.VectorOps.binaryCodes(col("qvec")))
      val exact = Knn.search(recs(s, dir), qvec0(s, dir), 10, Metric.Euclidean)
        .select(col("id"))
      // ONE Hamming scan for the whole budget sweep (the r10 form ran
      // the funnel per budget — 4 full scans); each budget is a prefix
      // of the same (hamming, id) total order, law-pinned in KnnSpec
      Knn.searchHammingRerankSweep(store, q, k = 10, Seq(10, 20, 50, 100))
        .select(col("shortlist"), col("id"))
        .join(broadcast(exact), Seq("id"), "left_semi")
        .groupBy(col("shortlist"))
        .agg(count(lit(1)).as("n_hit"))
        .select(col("shortlist"), col("n_hit"),
          r4(col("n_hit").cast("double") / lit(10.0)).as("recall"))
        .orderBy("shortlist")
    }),
      {
      val sls = Seq(10, 20, 50, 100)
      val ctes = sls.map { sl =>
        s"""bsl$sl AS (SELECT e.vec_id, e.embedding, q.qvec FROM embeddings e, q
           |  ORDER BY ${sqlHamming(sqlBinCode("e.embedding"), "q.qc")} ASC, e.vec_id ASC LIMIT $sl),
           |bin$sl AS (SELECT vec_id FROM bsl$sl ORDER BY ${sqlSq("embedding", "qvec")} ASC, vec_id ASC LIMIT 10)""".stripMargin
      }
      val uni = sls.map(sl => s"SELECT $sl AS shortlist, vec_id FROM bin$sl")
        .mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT embedding AS qvec, ${sqlBinCode("embedding")} AS qc FROM embeddings WHERE vec_id = 0),
         |ex AS (SELECT e.vec_id FROM embeddings e, q ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10),
         |${ctes.mkString(",\n")},
         |u AS ($uni)
         |SELECT CAST(u.shortlist AS INT) AS shortlist, CAST(count(*) AS BIGINT) AS n_hit,
         |  ${sqlR4("CAST(count(*) AS DOUBLE) / 10.0")} AS recall
         |FROM u JOIN ex ON u.vec_id = ex.vec_id
         |GROUP BY u.shortlist ORDER BY shortlist""".stripMargin
    }),

    // extension: late-interaction (MaxSim) scoring — ColBERT-style
    // multi-vector relevance: each query token contributes its best
    // match within the candidate group, summed in a FIXED order via
    // per-token max columns (a bare sum over the shuffle would be
    // partial-aggregation-order-dependent). Query tokens broadcast;
    // per-group state is one max per token
    QueryDef("ann_maxsim_label", ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val dot = (a: Column, b: Column) => graft.functions.NativeExprs.dot(a, b)
      val sim = dot(col("embedding"), col("qvec")) /
        (sqrt(dot(col("embedding"), col("embedding")))
          * sqrt(dot(col("qvec"), col("qvec"))))
      val aggs = (0 until 4).map(i =>
        max(when(col("qid") === i, col("__s"))).as(s"__m$i"))
      // zero-norm exclusion on both sides (the embeddingNearDup gate):
      // a zero token embedding has no direction and contributes nothing
      // to MaxSim; unguarded it ANSI-fails the job on one row
      e.where(dot(col("embedding"), col("embedding")) > 0)
        .crossJoin(broadcast(
          q.where(dot(col("qvec"), col("qvec")) > 0)))
        .select(col("label"), col("qid"), sim.as("__s"))
        .groupBy(col("label"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("label"),
          r4(col("__m0") + col("__m1") + col("__m2") + col("__m3"))
            .as("maxsim"))
        .orderBy("label")
    }),
      {
      val ms = (0 until 4)
        .map(i => s"max(CASE WHEN qid = $i THEN s END) AS m$i").mkString(", ")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
         |  WHERE vec_id < 4 AND ${sqlNormPos("embedding")}),
         |s AS (SELECT e.label, q.qid, ${sqlCosSim("e.embedding", "q.qvec")} AS s
         |  FROM embeddings e CROSS JOIN q WHERE ${sqlNormPos("e.embedding")}),
         |m AS (SELECT label, $ms FROM s GROUP BY label)
         |SELECT label, ${sqlR4("m0 + m1 + m2 + m3")} AS maxsim
         |FROM m ORDER BY label""".stripMargin
    }),

    // extension: per-row nearest neighbor (kNN-graph degree 1) via the
    // same top-2-cluster blocking — the all-rows analog of ann_topk_batch
    // where EVERY row is a query; the reduction is a map-side-combinable
    // min(struct) per id, never a ranking window over candidates.
    QueryDef("ann_self_join", ((s, dir) =>
      Knn.nnFromPairs(blockedSqPairs(s, dir))
        .select(col("id").as("vec_id"), col("nn_id"),
          r4(col("distance")).as("distance"))
        .orderBy("vec_id")),
      s"""WITH $sqlTop2Blocks,
         |cand AS (SELECT a.vec_id AS id, b.vec_id AS nn_id, ${sqlSq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a JOIN asg aa ON a.vec_id = aa.vec_id
         |  JOIN asg ab ON aa.cid = ab.cid
         |  JOIN embeddings b ON b.vec_id = ab.vec_id AND a.vec_id <> b.vec_id)
         |SELECT id AS vec_id, nn_id, ${sqlR4("d")} AS distance FROM (
         |  SELECT id, nn_id, d, row_number() OVER (PARTITION BY id ORDER BY d ASC, nn_id ASC) AS rn FROM cand)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin)
  )
}
