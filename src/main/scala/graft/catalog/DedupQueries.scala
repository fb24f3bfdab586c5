package graft
package catalog

import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** The dedup family: exact, MinHash-LSH, SimHash, semantic and incremental duplicate
  * detection over `documents` and `embeddings`. */
object DedupQueries {
  /** SimHash band layout shared with [[Dedup.simhashPairs]] (maxHamming=8
    * → 9 bands): the oracle derives its banding from the SAME layout, so
    * Spark and DuckDB generate identical candidate sets. */
  private val simhashLayout = Dedup.simhashBandLayout(9)
  private val simhashBandCount = simhashLayout.size
  private val simhashOffsetsSql = simhashLayout.map(_._1).mkString("[", ",", "]")
  private val simhashMasksSql =
    simhashLayout.map { case (_, w) => (1L << w) - 1 }.mkString("[", ",", "]")

  /** Band layouts of the 16-permutation MinHash signature the LSH
    * planner evaluates: (bands, rows-per-band) with bands·rows = 16. */
  private val lshPlanLayouts = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  /** The S-curve candidate probability `1 − (1 − j^r)^b` as ONE SQL
    * expression string shared verbatim by engine and oracle: powers are
    * UNROLLED as left-associated multiplication chains (IEEE `*` is
    * correctly rounded, so the same chain is bit-identical on both
    * engines — `pow()` is libm and is not), and every literal is CAST
    * to DOUBLE (DuckDB parses bare decimals as DECIMAL). */
  private def sqlLshCandidateP(bands: Int, rows: Int): String = {
    val jr = List.fill(rows)("jaccard").mkString(" * ")
    val q = List.fill(bands)(s"(CAST(1.0 AS DOUBLE) - ($jr))").mkString(" * ")
    s"CAST(1.0 AS DOUBLE) - ($q)"
  }

  /** The dedup_pagerank oracle: [[operators.Graph.pageRank]]'s integer
    * fixed-point iteration UNROLLED as chained CTEs over the same
    * verified-pair graph ([[sqlMinhashPairsCtes]]). Every step is exact
    * BIGINT arithmetic (DuckDB `//` = Spark `DIV` on the non-negative
    * operands involved), so all `iters` rounds replay bit-identically. */
  private def pageRankIterCtes(iters: Int): String = {
    val scale = operators.Graph.RankScale
    val steps = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (SELECT dg.node AS node,
         |    CAST((SELECT t FROM tp) + coalesce(s.c, 0) AS BIGINT) AS rq
         |  FROM deg dg LEFT JOIN (
         |    SELECT e.b AS node, sum((r.rq * ${operators.Graph.DampNum}) // (${operators.Graph.DampDen} * d2.deg)) AS c
         |    FROM e JOIN r${k - 1} r ON r.node = e.a JOIN deg d2 ON d2.node = e.a
         |    GROUP BY e.b) s ON s.node = dg.node)""".stripMargin
    }.mkString(",\n")
    s"""deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY a),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |tp AS (SELECT (15 * $scale) // (100 * n) AS t FROM nn),
       |r0 AS MATERIALIZED (SELECT node, CAST($scale // (SELECT n FROM nn) AS BIGINT) AS rq FROM deg),
       |$steps""".stripMargin
  }

  private def pageRankOracleSql(iters: Int, topN: Int): String =
    s"""WITH $sqlMinhashPairsCtes,
       |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM j UNION SELECT doc_id_b, doc_id_a FROM j),
       |${pageRankIterCtes(iters)}
       |SELECT node AS doc_id, rq AS rank_q FROM r$iters
       |ORDER BY rq DESC, node ASC LIMIT $topN""".stripMargin

  /** The seeded variant: per-node teleport column (seeds only), seeded
    * init; requires an `sd(node)` seed CTE beside `e`. */
  private def personalizedPageRankOracleSql(iters: Int, topN: Int,
      seedSql: String): String = {
    val scale = operators.Graph.RankScale
    val steps = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (SELECT nt.node AS node,
         |    CAST(nt.t + coalesce(s.c, 0) AS BIGINT) AS rq
         |  FROM nt LEFT JOIN (
         |    SELECT e.b AS node, sum((r.rq * ${operators.Graph.DampNum}) // (${operators.Graph.DampDen} * d2.deg)) AS c
         |    FROM e JOIN r${k - 1} r ON r.node = e.a JOIN deg d2 ON d2.node = e.a
         |    GROUP BY e.b) s ON s.node = nt.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $sqlMinhashPairsCtes,
       |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM j UNION SELECT doc_id_b, doc_id_a FROM j),
       |sd AS ($seedSql),
       |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY a),
       |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg dg JOIN sd ON sd.node = dg.node),
       |nt AS (SELECT dg.node AS node, (sd.node IS NOT NULL) AS is_seed,
       |    CASE WHEN sd.node IS NOT NULL THEN (15 * $scale) // (100 * (SELECT n FROM ns)) ELSE 0 END AS t
       |  FROM deg dg LEFT JOIN sd ON sd.node = dg.node),
       |-- init keyed on actual seed MEMBERSHIP (is_seed), not t > 0: if the
       |-- integer teleport ever truncated to 0 the engine would still seed
       |-- the init, and an oracle keyed on t would silently diverge
       |r0 AS MATERIALIZED (SELECT node,
       |    CAST(CASE WHEN is_seed THEN $scale // (SELECT n FROM ns) ELSE 0 END AS BIGINT) AS rq
       |  FROM nt),
       |$steps
       |SELECT node AS doc_id, rq AS rank_q FROM r$iters
       |ORDER BY rq DESC, node ASC LIMIT $topN""".stripMargin
  }

  /** The incremental near-dup gate oracle — banded join of the arriving
    * `doc_id >= 400` slice against the `< 400` corpus. `capped = true`
    * (the on-disk-store twin, which reads through the CAPPED
    * `corpusIndexFromStore` entry point) additionally drops corpus-side
    * LSH buckets larger than [[graft.operators.Dedup
    * .DefaultPipelineMaxBucket]] before the join — the oracle models the
    * production viral-bucket cap instead of assuming it is vacuous. */
  private def sqlDedupIncrementalVariant(capped: Boolean): String = {
    val corpusLeg =
      if (!capped) "bands"
      else s"""(SELECT cb.* FROM cb ANTI JOIN
         | (SELECT band_idx, band_hash FROM cb GROUP BY 1, 2
         |  HAVING count(*) > ${graft.operators.Dedup.DefaultPipelineMaxBucket}) hot
         | USING (band_idx, band_hash))""".stripMargin
    val cbCte =
      if (!capped) ""
      else
        """,
          |cb AS MATERIALIZED (SELECT doc_id, h1, band_idx, band_hash FROM bands WHERE doc_id < 400)""".stripMargin
    sqlDedupIncrementalBody(cbCte, corpusLeg)
  }

  private val sqlDedupIncremental: String = sqlDedupIncrementalVariant(capped = false)

  /** The MinHash banding pipeline through `bands(doc_id, h1, band_idx,
    * band_hash)` as DuckDB CTEs — the (3, 16, 4) geometry every banded
    * consumer replays. Shared by the incremental-gate oracles and the
    * store-census oracle. LAZY: `sqlDedupIncremental` (a plain val
    * declared above) evaluates at object init, before a later plain val
    * here would initialize. */
  private lazy val sqlBandsCtes: String =
      s"""toks AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents)),
         |ne AS (SELECT doc_id, sh FROM toks WHERE len(sh) > 0),
         |hh AS (SELECT doc_id, sh,
         |  list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)) AS h1,
         |  list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 17, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)) AS h2
         |  FROM ne),
         |sig AS (SELECT doc_id, h1, list_transform(generate_series(0, 15), i ->
         |  list_min(list_transform(list_zip(h1, h2), p -> p[1] + i * p[2]))) AS sg FROM hh),
         |bands AS MATERIALIZED (SELECT doc_id, h1, u.b AS band_idx,
         |  md5(array_to_string(list_slice(sg, u.b * 4 + 1, u.b * 4 + 4), '|')) AS band_hash
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) u)""".stripMargin

  private def sqlDedupIncrementalBody(cbCte: String, corpusLeg: String): String =
      s"""WITH $sqlBandsCtes$cbCte,
         |j AS (SELECT DISTINCT n.doc_id AS doc_id, c.doc_id AS dup_of,
         |  CAST(len(list_intersect(n.h1, c.h1)) AS DOUBLE) / len(list_distinct(n.h1 || c.h1)) AS jaccard
         |  FROM bands n JOIN $corpusLeg c ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash
         |    AND n.doc_id >= 400 AND c.doc_id < 400)
         |SELECT doc_id, dup_of, ${sqlR4("jaccard")} AS jaccard FROM j WHERE jaccard >= 0.5 ORDER BY doc_id, dup_of""".stripMargin

  /** The `doc_id < 400` corpus-side MinHash index of `dedup_incremental`
    * (banded keys + shingle hashes), memoized per (session, dir) — the
    * static leg of the stream-static join is a maintained table in
    * production; rebuilding it per materialization measured ~0.7 s of
    * the query's ~1.4 s. Both frames persist via the `ensureCached`
    * inside [[graft.streaming.DocIngest.corpusIndex]] plus the banded
    * leg here. */
  private val corpusIndexCache = new SessionMemo[String, (DataFrame, DataFrame)]
  private def corpusIndexMemo(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (banded, hashes) = corpusIndexCache(s, dir) {
      // same cap-symmetry contract as [[minhashPairs]]: the index is
      // built with the production viral-bucket cap while the
      // dedup_incremental oracle replays the UNCAPPED join — assert at
      // build that no corpus-side bucket is hot, so the assumption
      // fails loudly on a corpus where it stops holding
      val slice = docs(s, dir).where(col("doc_id") < 400)
      val idx = graft.streaming.DocIngest.corpusIndex(
        slice, shingleN = 3, perms = 16, bands = 4)
      // count the RAW banded view (the capped idx._1 would be vacuously
      // under the cap); the signature plan below is the one corpusIndex
      // cached, so this is one extra count agg, not a second digest pass
      val hottest = Dedup.bandedSignature(
          Caching.ensureCached(Dedup.minhashSignature(slice, 3, 16)), 16, 4)
        .groupBy(col("band_idx"), col("band_hash"))
        .agg(count(lit(1)).as("__bn")).agg(max(col("__bn"))).head()
      val maxBucket = if (hottest.isNullAt(0)) 0L else hottest.getLong(0)
      require(maxBucket <= Dedup.DefaultPipelineMaxBucket,
        s"corpus-index LSH bucket of $maxBucket docs exceeds the pipeline " +
          s"cap (${Dedup.DefaultPipelineMaxBucket}): capped gate join no " +
          "longer equals the uncapped oracle — cap the oracle too")
      idx
    }
    (Caching.ensureCached(banded), Caching.ensureCached(hashes))
  }

  /** The on-disk near-dup index store (`dedup_incremental_store`,
    * `dedup_store_stats`): banded LSH view partitioned by band_idx +
    * per-doc shingle identities, written ONCE per (session, dir) — the
    * refresh a corpus-maintenance job runs per corpus version. The store
    * holds the UNCAPPED banded view — the [[graft.streaming.DocIngest
    * .startCorpusIndexMaintenance]] contract: the viral-bucket cap is a
    * whole-bucket property, so readers apply it at open
    * ([[graft.streaming.DocIngest.corpusIndexFromStore]]) while the
    * census ([[graft.operators.Dedup.bandingCensus]]) audits the raw
    * stored rows. Derived from the memoized signature cache, so writing
    * costs one cached-frame dump, not a second signature pass. */
  private val dedupStoreCache = new SessionMemo[String, String]
  private def dedupStorePath(s: SparkSession, dir: String): String =
    dedupStoreCache(s, dir) {
      // sanitized dir (not a hash — hashes can collide across dirs, and a
      // collision would silently serve one corpus's index to the other)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_dedup_store_" +
        s.sparkContext.applicationId + "_" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val (_, hashes) = corpusIndexMemo(s, dir)
      // the UNCAPPED banded rides the signature frame corpusIndexMemo
      // already cached (identical plan → cache hit, no second digest)
      val banded = Dedup.bandedSignature(
          Caching.ensureCached(Dedup.minhashSignature(
            docs(s, dir).where(col("doc_id") < 400), 3, 16)), 16, 4)
        .select(col("doc_id").as("dup_of"), col("band_idx"), col("band_hash"))
      banded.write.mode("overwrite").partitionBy("band_idx").parquet(s"$path/banded")
      hashes.write.mode("overwrite").parquet(s"$path/hashes")
      path
    }

  /** Memoized converged PageRank frame over [[minhashPairs]] — the
    * memoize-RESULTS rule applied to the rank fixed point: two
    * consumers (`dedup_pagerank` top-N, `dedup_canonical` per-group
    * argmax) reduce over the identical 8-iteration result, so the
    * iteration loop runs once per (session, corpus). Checkpoint-backed
    * (bounded by the duplicate subset). */
  private val pageRankCache = new SessionMemo[String, DataFrame]
  private def pageRankFrame(s: SparkSession, dir: String): DataFrame =
    pageRankCache(s, dir)(Caching.truncate(
      operators.Graph.pageRank(minhashPairs(s, dir), iters = 8), eager = true))

  /** Memoized converged PERSONALIZED rank frame (even-id trust list) —
    * same session-state argument as [[pageRankFrame]]; a distinct fixed
    * point (seeded teleport), so a distinct memo. */
  private val pprCache = new SessionMemo[String, DataFrame]
  private def pprFrame(s: SparkSession, dir: String): DataFrame =
    pprCache(s, dir)(Caching.truncate(
      operators.Graph.personalizedPageRank(minhashPairs(s, dir),
        docs(s, dir).select(col("doc_id").as("node")).where(col("doc_id") % 2 === 0),
        iters = 8), eager = true))

  val all: Seq[QueryDef] = Seq(
    // extension: shingle document-frequency histogram — the blocking
    // profile behind every MinHash/containment tuning decision ("is the
    // df mass where the rare-shingle blocker assumes?"). Exact counts
    // into fixed df bands
    QueryDef("dedup_df_histogram", ((s, dir) => {
      val sh = docs(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(TextOps.shingles(col("text"), 3))).as("__sh"))
        // count df per md5 digest: the shuffle carries 32-byte keys,
        // never shingle text (the same rule the dedup pipelines follow)
        .groupBy(md5(col("__sh")).as("__k")).agg(count(lit(1)).as("__df"))
      sh.select(
          when(col("__df") === 1, "1").when(col("__df") === 2, "2")
            .when(col("__df") <= 5, "3-5").when(col("__df") <= 10, "6-10")
            .otherwise("11+").as("df_band"))
        .groupBy(col("df_band")).agg(count(lit(1)).as("n_shingles"))
        .orderBy("df_band")
    }),
      s"""WITH toks AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents)),
         |df AS (SELECT md5(u.s) AS k, CAST(count(*) AS BIGINT) AS df
         |  FROM toks, unnest(sh) AS u(s) GROUP BY md5(u.s))
         |SELECT CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2'
         |  WHEN df <= 5 THEN '3-5' WHEN df <= 10 THEN '6-10' ELSE '11+' END AS df_band,
         |  CAST(count(*) AS BIGINT) AS n_shingles
         |FROM df GROUP BY 1 ORDER BY df_band""".stripMargin),

    // extension: exact dedup (hash groupBy) — rides the memoized
    // content-hash projection ([[hashedDocsMemo]]; sha-256 is a
    // maintained column at scale, shared with corpus_checksum/funnel)
    QueryDef("dedup_exact", ((s, dir) =>
      Dedup.exactFromHashed(hashedDocsMemo(s, dir), col("__sha"))
        .orderBy("keep_id")),
      "SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY sha256(text) ORDER BY keep_id"),

    // extension: NORMALIZED exact dedup — case-folded, whitespace-
    // collapsed content key catches the trivial variants byte-exact
    // dedup misses (trailing spaces, casing, reflowed lines) while
    // still shuffling only the 64-byte digest
    QueryDef("dedup_exact_normalized", ((s, dir) =>
      docs(s, dir)
        .groupBy(sha2(regexp_replace(TextOps.asciiLower(trim(col("text"))), "\\s+", " "), 256)
          .as("__k"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select(col("keep_id"), col("n_dups"))
        .orderBy("keep_id")),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents
        |GROUP BY sha256(regexp_replace(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))
        |ORDER BY keep_id""".stripMargin),

    // extension: exact dedup over NFC-canonicalized text — merges the
    // composed/decomposed spellings of the same rendered text that
    // byte-exact dedup keeps apart (both engines implement UAX #15)
    QueryDef("dedup_exact_nfc", ((s, dir) =>
      Dedup.exactNfc(docs(s, dir)).orderBy("keep_id")),
      // utf8proc's nfc_normalize and java.text.Normalizer both implement
      // UAX #15 — canonical composition is engine-portable (unlike case
      // folding, see the asciiLower convention)
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents
        |GROUP BY sha256(nfc_normalize(text)) ORDER BY keep_id""".stripMargin),

    // extension: MinHash(16 perms) + LSH(4 bands) near-dup join, 3-gram shingles
    QueryDef("dedup_minhash", ((s, dir) =>
      Dedup.minhashLsh(docs(s, dir), shingleN = 3, perms = 16, bands = 4, threshold = 0.5)
        .select(col("doc_id_a"), col("doc_id_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_id_a", "doc_id_b")),
      s"""WITH toks AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents)),
         |ne AS (SELECT doc_id, sh FROM toks WHERE len(sh) > 0),
         |hh AS (SELECT doc_id, sh,
         |  list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)) AS h1,
         |  list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 17, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)) AS h2
         |  FROM ne),
         |sig AS (SELECT doc_id, h1, list_transform(generate_series(0, 15), i ->
         |  list_min(list_transform(list_zip(h1, h2), p -> p[1] + i * p[2]))) AS sg FROM hh),
         |bands AS (SELECT doc_id, h1, u.b AS band_idx,
         |  md5(array_to_string(list_slice(sg, u.b * 4 + 1, u.b * 4 + 4), '|')) AS band_hash
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) u),
         |j AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(len(list_intersect(a.h1, b.h1)) AS DOUBLE) / len(list_distinct(a.h1 || b.h1)) AS jaccard
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
         |SELECT doc_id_a, doc_id_b, ${sqlR4("jaccard")} AS jaccard FROM j WHERE jaccard >= 0.5 ORDER BY doc_id_a, doc_id_b""".stripMargin),

    // extension: CONTAINMENT near-dup pairs — the asymmetric detector
    // (A quoted inside a larger B: high containment, low Jaccard, no
    // band agreement); candidates from the rare-shingle posting-list
    // join (df ∈ [2, 10] as the bucket bound, >= 2 shared rare shingles
    // as the collision-noise gate), exact set verification over the
    // same cached digest pass dedup_minhash uses
    QueryDef("dedup_containment", ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), shingleN = 3, perms = 16,
          maxDf = 10, threshold = 0.8)
        .select(col("doc_id_a"), col("doc_id_b"),
          r4(col("containment")).as("containment"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_id_a", "doc_id_b")),
      // rare-shingle postings (df BETWEEN 2 AND 10) → pair join → exact
      // containment/jaccard over the distinct 56-bit shingle hashes; both
      // ratios are exact small-integer rationals, so the 0.8 gate and r4
      // are boundary-identical across engines
      s"""WITH toks AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents)),
         |ne AS (SELECT doc_id, sh FROM toks WHERE len(sh) > 0),
         |hh AS (SELECT doc_id,
         |  list_distinct(list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b))) AS hs
         |  FROM ne),
         |p AS (SELECT doc_id, unnest(hs) AS h FROM hh),
         |df AS (SELECT h, count(*) AS df FROM p GROUP BY h),
         |r AS (SELECT h FROM df WHERE df BETWEEN 2 AND 10),
         |rp AS (SELECT p.doc_id, p.h FROM p JOIN r USING (h)),
         |cand AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM rp a JOIN rp b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |v AS (SELECT doc_id_a, doc_id_b,
         |   CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) / least(len(x.hs), len(y.hs)) AS containment,
         |   CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) / len(list_distinct(x.hs || y.hs)) AS jaccard
         | FROM cand JOIN hh x ON cand.doc_id_a = x.doc_id JOIN hh y ON cand.doc_id_b = y.doc_id)
         |SELECT doc_id_a, doc_id_b, ${sqlR4("containment")} AS containment, ${sqlR4("jaccard")} AS jaccard
         |FROM v WHERE containment >= 0.8 ORDER BY doc_id_a, doc_id_b""".stripMargin),

    // extension: incremental (streaming-shaped) near-dup gate — docs
    // arriving after the split point are checked against the banded
    // MinHash index of the existing corpus. Same transform the streaming
    // ingest runs per micro-batch (stream==batch pinned in
    // StreamingSpec); batch context allows the cross-band distinct.
    QueryDef("dedup_incremental", ((s, dir) => {
      val d = docs(s, dir)
      // the corpus-side index is MAINTAINED state in production (the
      // stream-static join's static leg) — memoized per session like
      // the group maps; only the arriving slice is transformed per run
      val (banded, hashes) = corpusIndexMemo(s, dir)
      graft.streaming.DocIngest.matches(
          d.where(col("doc_id") >= 400), banded, hashes,
          shingleN = 3, perms = 16, bands = 4, threshold = 0.5)
        .select(col("doc_id"), col("dup_of"), r4(col("jaccard")).as("jaccard"))
        .distinct()
        .orderBy("doc_id", "dup_of")
    }),
      sqlDedupIncremental),

    // extension: the near-dup gate served from the MAINTAINED ON-DISK
    // index — the warehouse shape [[graft.streaming.DocIngest
    // .corpusIndex]]'s scaladoc promises ("at warehouse scale both are
    // stored tables"): the banded LSH view lands as parquet partitioned
    // by band_idx (the posting-list layout) with the per-doc shingle
    // identities beside it, and the arriving slice joins the REOPENED
    // store. The corpus side of the plan is a PURE SCAN — zero
    // re-tokenize/re-hash/re-signature (plan-pinned: exactly one
    // signature kernel, on the stream side) — so per-batch gate cost is
    // independent of corpus size. Read through [[graft.streaming
    // .DocIngest.corpusIndexFromStore]] — the CAPPED open every serving
    // consumer must copy (the viral-bucket cap is a whole-bucket
    // property, so it applies at read over the full stored population,
    // not batch-locally at write) — and the oracle models the same cap
    // (corpus-side buckets > [[graft.operators.Dedup
    // .DefaultPipelineMaxBucket]] dropped before the band join), so the
    // capped reader is what the green row actually certifies. Same
    // fixed (3,16,4,0.5) geometry as dedup_incremental.
    QueryDef("dedup_incremental_store", ((s, dir) => {
      val path = dedupStorePath(s, dir)
      val (banded, hashes) =
        graft.streaming.DocIngest.corpusIndexFromStore(s, path)
      graft.streaming.DocIngest.matches(
          docs(s, dir).where(col("doc_id") >= 400), banded, hashes,
          shingleN = 3, perms = 16, bands = 4, threshold = 0.5)
        .select(col("doc_id"), col("dup_of"), r4(col("jaccard")).as("jaccard"))
        .distinct()
        .orderBy("doc_id", "dup_of")
    }),
      // the SAME contract served from the on-disk maintained index —
      // identical fixed geometry, identical result set
      sqlDedupIncrementalVariant(capped = true)),

    // extension: near-dup STORE census — the banding/cap dashboard (the
    // dedup twin of ivf_probe_cost): per band of the MAINTAINED ON-DISK
    // index, the exact row count, bucket count, hottest bucket,
    // colliding buckets, candidate-pair fanout Σ n·(n−1)/2 (the quantity
    // the viral-bucket cap bounds — the band join's cost is THIS, not
    // the row count), and the number of buckets the capped reader
    // ([[graft.streaming.DocIngest.corpusIndexFromStore]]) would drop at
    // open. An operator alarms on n_over_cap > 0 (exact-dedup upstream
    // is behind) and watches cand_pairs vs n_rows for banding geometry
    // drift. The input is the store's `banded` table itself — a PURE
    // columnar scan of the narrow hash columns (plan-pinned: ZERO
    // signature kernels), never a re-run of the signature pipeline over
    // the corpus: at 100 TB re-deriving the banding costs the same as
    // rebuilding the index the store exists to avoid, while this census
    // costs two bounded aggregations. Store-census == rebuild-census is
    // law-pinned in MaintainedLifecycleSpec; the oracle replays the
    // banding over the stored population (the streamed slice,
    // doc_id < 400 — the same rows dedup_incremental_store serves from)
    QueryDef("dedup_store_stats", ((s, dir) =>
      Dedup.bandingCensus(
          s.read.parquet(s"${dedupStorePath(s, dir)}/banded"))
        .orderBy("band_idx")),
      // the store census: the oracle replays the banding pipeline over the
      // STORED population (the streamed corpus slice, doc_id < 400 — what
      // startCorpusIndexMaintenance indexed and dedup_incremental_store
      // serves from) and aggregates the bucket histogram per band — every
      // cell an exact integer. The engine side is a pure scan of the
      // store's banded table; equality here certifies the store holds
      // exactly the uncapped banding of its population
      s"""WITH $sqlBandsCtes,
         |bk AS (SELECT band_idx, band_hash, CAST(count(*) AS BIGINT) AS bn
         |  FROM bands WHERE doc_id < 400 GROUP BY 1, 2)
         |SELECT CAST(band_idx AS INT) AS band_idx,
         |  CAST(sum(bn) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(bn) AS BIGINT) AS max_bucket,
         |  CAST(sum(CASE WHEN bn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_colliding,
         |  CAST(sum(bn * (bn - 1) // 2) AS BIGINT) AS cand_pairs,
         |  CAST(sum(CASE WHEN bn > ${graft.operators.Dedup.DefaultPipelineMaxBucket} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap
         |FROM bk GROUP BY band_idx ORDER BY band_idx""".stripMargin),

    // extension: cross-SOURCE duplication matrix — the verified near-dup
    // pair set rolled up by unordered source pair: which feeds duplicate
    // each other (within-source boilerplate vs cross-source scrapes are
    // different curation actions). Rides the MEMOIZED session pair frame
    // ([[minhashPairs]] — same (3,16,4,0.5) layout; the viral-bucket cap
    // is far above any bucket at gate SFs, the dedup_groups argument, so
    // the pair set equals the oracle's uncapped join); the rollup
    // shuffles one row per pair, output ∝ |sources|²
    QueryDef("dedup_source_matrix", ((s, dir) => {
      val src = docs(s, dir).select(col("doc_id"), col("source"))
      minhashPairs(s, dir)
        .join(src.select(col("doc_id").as("doc_id_a"), col("source").as("__sa")), Seq("doc_id_a"))
        .join(src.select(col("doc_id").as("doc_id_b"), col("source").as("__sb")), Seq("doc_id_b"))
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),
      // the verified pair set joined to both docs' sources, unordered pair
      // normalized via least/greatest — exact integer counts
      s"""WITH $sqlMinhashPairsCtes,
         |sm AS (SELECT least(da.source, db.source) AS source_a, greatest(da.source, db.source) AS source_b
         |  FROM j JOIN documents da ON j.doc_id_a = da.doc_id JOIN documents db ON j.doc_id_b = db.doc_id)
         |SELECT source_a, source_b, count(*) AS n_pairs FROM sm
         |GROUP BY source_a, source_b ORDER BY source_a, source_b""".stripMargin),

    // extension: duplicate GROUPS — connected components over the
    // verified MinHash pair graph (min-label propagation), the keep/drop
    // map a dedup pipeline actually applies. The COMPOSED pipeline runs
    // with the finite viral-duplicate bucket cap (the production default;
    // far above any bucket size at verify/bench SF, so the oracle — which
    // models the uncapped join — is unaffected). Memoized per (session,
    // dir) — see [[cappedGroups]].
    QueryDef("dedup_groups", ((s, dir) => cappedGroups(s, dir).orderBy("doc_id")),
      s"""$sqlCcCte
         |SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node ORDER BY doc_id""".stripMargin),

    // extension: dedup token-SAVINGS — the business metric of the whole
    // dedup stack: training tokens removed by the keep-map (drop
    // non-representative group members). Exact integer token sums
    QueryDef("dedup_savings", ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("__nt"))
      val dropped = cappedGroups(s, dir).where(col("doc_id") =!= col("rep_id"))
        .select(col("doc_id"))
      val total = toks.agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"))
      val drop = toks.join(dropped, Seq("doc_id"))
        .agg(count(lit(1)).as("n_dropped"),
          coalesce(sum(col("__nt")), lit(0L)).as("dropped_tokens"))
      total.crossJoin(broadcast(drop))
        .select(col("n_docs"), col("total_tokens"), col("n_dropped"),
          col("dropped_tokens"),
          r4(col("dropped_tokens").cast("double") / col("total_tokens")).as("savings_frac"))
    }),
      // the CC map's non-representative members joined to token counts
      s"""$sqlCcCte,
         |g AS (SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node),
         |tk AS (SELECT doc_id, CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS BIGINT) AS nt
         |  FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens FROM tk),
         |dr AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped,
         |    CAST(coalesce(sum(tk.nt), 0) AS BIGINT) AS dropped_tokens
         |  FROM g JOIN tk ON g.doc_id = tk.doc_id WHERE g.doc_id <> g.rep_id)
         |SELECT tot.n_docs, tot.total_tokens, dr.n_dropped, dr.dropped_tokens,
         |  ${sqlR4("CAST(dr.dropped_tokens AS DOUBLE) / tot.total_tokens")} AS savings_frac
         |FROM tot, dr""".stripMargin),

    // extension: LSH layout EXPECTED RECALL over the corpus's OBSERVED
    // verified pair set — the third leg of the banding toolkit:
    // dedup_banding_planner gives the analytic S-curve, the accuracy
    // meter gives estimator error, and THIS answers the question a
    // tuner actually asks: "of the near-dup pairs this corpus really
    // contains, what fraction would each band layout surface as
    // candidates?" Per layout (b·r = 16): Σ (1 − (1 − j^r)^b) over
    // verified pairs' exact Jaccards, r4-quantized to ints BEFORE the
    // sum (shuffle-order-independent), powers unrolled as shared
    // multiplication chains ([[sqlLshCandidateP]] — the identical
    // expression text runs on both engines)
    QueryDef("dedup_lsh_expected_recall", ((s, dir) => {
      val pairs = minhashPairs(s, dir)
      lshPlanLayouts.map { case (b, r) =>
        pairs.select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            expr(s"CAST(floor((${sqlLshCandidateP(b, r)}) * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
              .as("__q"))
          .groupBy(col("bands"), col("rows_per_band"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("__q")).as("__sq"))
      }.reduce(_ unionByName _)
        .select(col("bands"), col("rows_per_band"), col("n_pairs"),
          r4(expr("CAST(__sq AS DOUBLE) / CAST(10000.0 AS DOUBLE) / CAST(n_pairs AS DOUBLE)"))
            .as("expected_recall"))
        .orderBy("bands")
    }),
      // the verified pair list with RAW jaccard (a ratio of exact ints —
      // bit-identical across engines), then each band layout's unrolled
      // S-curve chain summed over r4-quantized per-pair probabilities
      s"""WITH toks AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents)),
         |ne AS (SELECT doc_id, sh FROM toks WHERE len(sh) > 0),
         |hh AS (SELECT doc_id, sh,
         |  list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)) AS h1,
         |  list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 17, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)) AS h2
         |  FROM ne),
         |sig AS (SELECT doc_id, h1, list_transform(generate_series(0, 15), i ->
         |  list_min(list_transform(list_zip(h1, h2), p -> p[1] + i * p[2]))) AS sg FROM hh),
         |bands AS (SELECT doc_id, h1, u.b AS band_idx,
         |  md5(array_to_string(list_slice(sg, u.b * 4 + 1, u.b * 4 + 4), '|')) AS band_hash
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) u),
         |j AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(len(list_intersect(a.h1, b.h1)) AS DOUBLE) / len(list_distinct(a.h1 || b.h1)) AS jaccard
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |jf AS (SELECT jaccard FROM j WHERE jaccard >= 0.5)
         |${lshPlanLayouts.map { case (b, r) =>
             s"""SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
                |  CAST(count(*) AS BIGINT) AS n_pairs,
                |  ${sqlR4(s"CAST(sum(CAST(floor((${sqlLshCandidateP(b, r)}) * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE) / CAST(10000.0 AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS expected_recall
                |FROM jf GROUP BY 1, 2""".stripMargin
           }.mkString("\nUNION ALL\n")}
         |ORDER BY bands""".stripMargin),

    // extension: MinHash estimation-ACCURACY meter — the empirical
    // companion to dedup_banding_planner: over the verified pair set,
    // |sig-estimated Jaccard − exact Jaccard| summarized with exact
    // arithmetic (errors r4-quantized to ints before the mean). At
    // 16 perms the estimator's σ ≈ 0.125 — this is the dashboard that
    // says whether the perm budget fits the threshold
    QueryDef("dedup_minhash_accuracy", ((s, dir) => {
      val sigs = docs(s, dir).select(col("doc_id"),
        graft.functions.NativeExprs.minhashSigHashes(
          TextOps.shinglesFromTokens(TextOps.tokens(col("text")), 3), 16).as("__s"))
        .select(col("doc_id"), col("__s.sig").as("sig"), col("__s.shh").as("hh"))
      val pe = minhashPairs(s, dir)
        .join(sigs.select(col("doc_id").as("doc_id_a"), col("sig").as("__sa"),
          col("hh").as("__ha")), Seq("doc_id_a"))
        .join(sigs.select(col("doc_id").as("doc_id_b"), col("sig").as("__sb"),
          col("hh").as("__hb")), Seq("doc_id_b"))
        .select(
          size(filter(zip_with(col("__sa"), col("__sb"), (x, y) => x === y),
            b => b)).cast("long").as("__m"),
          (size(array_intersect(col("__ha"), col("__hb"))).cast("double") /
            size(array_distinct(concat(col("__ha"), col("__hb"))))).as("__exj"))
        .select(floor(abs(col("__m").cast("double") / lit(16) - col("__exj"))
          * lit(10000.0) + lit(0.5)).cast("long").as("__q"))
      pe.agg(count(lit(1)).as("n_pairs"), sum(col("__q")).as("__s"),
          max(col("__q")).as("__mx"))
        .select(col("n_pairs"),
          r4(col("__s").cast("double") / col("n_pairs") / lit(10000.0)).as("mean_abs_err"),
          (col("__mx").cast("double") / lit(10000.0)).as("max_abs_err"))
    }),
      // the pair CTEs expose sig (sg) and distinct shingle hashes (h1);
      // the same r4-quantize-before-mean discipline
      s"""WITH $sqlMinhashPairsCtes,
         |pe AS (SELECT
         |    CAST(len(list_filter(list_zip(sa.sg, sb.sg), p -> p[1] = p[2])) AS BIGINT) AS m,
         |    CAST(len(list_intersect(sa.h1, sb.h1)) AS DOUBLE) / len(list_distinct(sa.h1 || sb.h1)) AS exj
         |  FROM j JOIN sig sa ON j.doc_id_a = sa.doc_id
         |         JOIN sig sb ON j.doc_id_b = sb.doc_id),
         |e2 AS (SELECT CAST(floor(abs(CAST(m AS DOUBLE) / 16 - exj) * 10000.0 + 0.5) AS BIGINT) AS q FROM pe)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  ${sqlR4("(CAST(sum(q) AS DOUBLE) / count(*)) / 10000.0")} AS mean_abs_err,
         |  CAST(max(q) AS DOUBLE) / 10000.0 AS max_abs_err
         |FROM e2""".stripMargin),

    // extension: duplicate-GRAPH observability — edge/node/degree and
    // component-size stats over the verified pair graph: the dashboard
    // that catches viral-duplicate blowups (max_degree, largest_group)
    // before they hit the CC loop. All exact integer aggregates off the
    // memoized pair list + group map
    QueryDef("dedup_graph_stats", ((s, dir) => {
      val pairs = minhashPairs(s, dir)
      val deg = pairs.select(col("doc_id_a").as("node"))
        .unionByName(pairs.select(col("doc_id_b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val gsz = cappedGroups(s, dir)
        .groupBy(col("rep_id")).agg(count(lit(1)).as("sz"))
      pairs.agg(count(lit(1)).as("n_edges"))
        .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
          max(col("d")).as("max_degree")))
        .crossJoin(gsz.agg(count(lit(1)).as("n_groups"),
          max(col("sz")).as("largest_group")))
    }),
      s"""$sqlCcCte,
         |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
         |g AS (SELECT node, min(lab) AS rep FROM reach GROUP BY node),
         |gs AS (SELECT rep, CAST(count(*) AS BIGINT) AS sz FROM g GROUP BY rep)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM j) AS n_edges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
         |  (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_degree,
         |  (SELECT CAST(count(*) AS BIGINT) FROM gs) AS n_groups,
         |  (SELECT CAST(max(sz) AS BIGINT) FROM gs) AS largest_group""".stripMargin),

    // extension: PageRank over the verified near-duplicate graph — the
    // canonical-document selector a min-id representative rule can't
    // express: inside a duplicate family the highly-connected hub is
    // the original, the satellites are the scrapes. Exact integer
    // fixed-point arithmetic (10⁻¹² quanta, truncating div) so every
    // iteration is order-independent and the oracle replays all 8
    // steps as chained integer CTEs. Same memoized pair list as the
    // rest of the dedup-graph family
    QueryDef("dedup_pagerank", ((s, dir) =>
      pageRankFrame(s, dir)
        .orderBy(col("rank_q").desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("rank_q"))),
      // same pair list (j), symmetric edge list (e), and reach map; all
      // stats are scalar subqueries over exact integer aggregates
      pageRankOracleSql(iters = 8, topN = 20)),

    // extension: triangle census of the near-duplicate graph — the LSH
    // integrity meter: genuine duplicate families are near-cliques
    // (clustering coefficient → 1); a low coefficient means chains of
    // borderline pairs are BRIDGING unrelated documents and the
    // threshold needs raising. Exact integer triangle/wedge counts via
    // the ordered-triple join (each edge stored once as a < b, so
    // a < b < c counts every triangle exactly once), bounded by the
    // verified-pair graph
    QueryDef("dedup_triangles", ((s, dir) =>
      operators.Graph.triangleCensus(minhashPairs(s, dir))
        .select(col("n_triangles"), col("n_wedges"),
          r4(col("global_cc")).as("global_cc"))),
      // ordered-triple join over the a<b pair list; wedges from the
      // symmetric degree table — all exact integers
      s"""WITH $sqlMinhashPairsCtes,
         |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM j UNION SELECT doc_id_b, doc_id_a FROM j),
         |tri AS (SELECT CAST(count(*) AS BIGINT) AS t
         |  FROM j x JOIN j y ON x.doc_id_b = y.doc_id_a
         |    JOIN j z ON z.doc_id_a = x.doc_id_a AND z.doc_id_b = y.doc_id_b),
         |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
         |w AS (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS w FROM deg)
         |SELECT t AS n_triangles, w AS n_wedges,
         |  CASE WHEN w > 0 THEN ${sqlR4("CAST(3 * t AS DOUBLE) / w")} ELSE NULL END AS global_cc
         |FROM tri, w""".stripMargin),

    // extension: the CANONICAL document per duplicate family — the
    // selector [[Graph.pageRank]] exists for: within each connected
    // component, keep the member with the highest centrality (the hub
    // every scrape links near; tie → lowest id). Composes the memoized
    // group map with the exact-integer rank frame, so the whole
    // pipeline stays hash-comparable
    QueryDef("dedup_canonical", ((s, dir) =>
      Dedup.bestRepresentatives(cappedGroups(s, dir), pageRankFrame(s, dir),
          "rank_q")
        .orderBy("rep_id")),
      // PageRank iterations + min-label reachability in ONE statement:
      // per component, the max-rank member (tie → lowest id)
      s"""WITH RECURSIVE $sqlMinhashPairsCtes,
         |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM j UNION SELECT doc_id_b, doc_id_a FROM j),
         |${pageRankIterCtes(8)},
         |$sqlCcReach,
         |g AS (SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node)
         |SELECT rep_id, doc_id AS keep_id, n_docs FROM (
         |  SELECT g.rep_id, g.doc_id,
         |    count(*) OVER (PARTITION BY g.rep_id) AS n_docs,
         |    row_number() OVER (PARTITION BY g.rep_id ORDER BY r.rq DESC, g.doc_id ASC) AS rn
         |  FROM g JOIN r8 r ON g.doc_id = r.node)
         |WHERE rn = 1 ORDER BY rep_id""".stripMargin),

    // extension: PERSONALIZED PageRank — teleport pinned to a trust
    // list (here the even-id half, standing in for any external curated
    // set): rank measures proximity-to-trusted through the duplicate
    // graph, the provenance selector for scraped families. Same integer
    // fixed point; mass is zero outside seed-reachable components
    QueryDef("dedup_pagerank_seeded", ((s, dir) =>
      pprFrame(s, dir)
        .orderBy(col("rank_q").desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("rank_q"))),
      personalizedPageRankOracleSql(iters = 8,
      topN = 20,
      seedSql = "SELECT DISTINCT doc_id AS node FROM documents WHERE doc_id % 2 = 0")),

    // extension: the keep/drop map APPLIED — the step after dedup_groups
    // that a pipeline actually ships: drop every group member except its
    // representative, keep all unpaired docs. Anti-join against the
    // (tiny) drop list; same capped LSH pipeline as dedup_groups, so the
    // session cache serves both.
    QueryDef("dedup_apply", ((s, dir) =>
      docs(s, dir)
        .join(cappedGroups(s, dir).where(col("doc_id") =!= col("rep_id")),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy("doc_id")),
      s"""$sqlCcCte,
         |drops AS (SELECT node FROM (SELECT node, min(lab) AS rep FROM reach GROUP BY node) WHERE node <> rep)
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM drops) ORDER BY doc_id""".stripMargin),

    // extension: quality-aware representative per duplicate group —
    // longest copy wins, ties to lowest id (one max_by per group, no
    // window over the corpus)
    QueryDef("dedup_best", ((s, dir) =>
      Dedup.bestRepresentatives(cappedGroups(s, dir),
          docs(s, dir).select(col("doc_id"), col("n_chars")), "n_chars")
        .orderBy("rep_id")),
      s"""$sqlCcCte,
         |g AS (SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node)
         |SELECT rep_id, doc_id AS keep_id, n_docs FROM (
         |  SELECT g.rep_id, g.doc_id,
         |    count(*) OVER (PARTITION BY g.rep_id) AS n_docs,
         |    row_number() OVER (PARTITION BY g.rep_id ORDER BY d.n_chars DESC, g.doc_id ASC) AS rn
         |  FROM g JOIN documents d ON g.doc_id = d.doc_id)
         |WHERE rn = 1 ORDER BY rep_id""".stripMargin),

    // extension: multi-signal dedup — MinHash ∪ SimHash pair sets into
    // one component map (each signal alone has blind spots)
    QueryDef("dedup_multi", ((s, dir) =>
      multiGroups(s, dir).orderBy("doc_id")),
      // minhash pairs (j) reused verbatim; simhash chain renamed s* to
      // avoid CTE collisions; both pair sets union into one edge list
      s"""WITH RECURSIVE $sqlMinhashPairsCtes,
         |stoks AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS t FROM documents),
         |sh0 AS (SELECT doc_id, list_transform(t, tk -> list_reduce(
         |  list_transform(string_split_regex(substr(md5(tk), 1, 15), ''), c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |  (a, b) -> a * 16 + b)) AS hs FROM stoks),
         |ss AS (SELECT doc_id, list_reduce(list_transform(generate_series(0, 59), b ->
         |  CASE WHEN list_sum(list_transform(hs, v -> CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |  THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END), (a, b) -> a | b) AS sh FROM sh0),
         |sbanded AS (SELECT doc_id, sh, u.b AS band_idx,
         |  (sh >> ($simhashOffsetsSql)[u.b + 1]) & ($simhashMasksSql)[u.b + 1] AS band_key
         |  FROM ss, (SELECT unnest(generate_series(0, ${simhashBandCount - 1})) AS b) u),
         |spairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM sbanded a JOIN sbanded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 8),
         |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM j UNION SELECT doc_id_b, doc_id_a FROM j
         |  UNION SELECT doc_id_a, doc_id_b FROM spairs UNION SELECT doc_id_b, doc_id_a FROM spairs),
         |$sqlCcReach
         |SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node ORDER BY doc_id""".stripMargin),

    // extension: SimHash(60-bit) near-dup pairs, hamming <= 8
    QueryDef("dedup_simhash", ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 8)
        .select(col("doc_id_a"), col("doc_id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_id_a", "doc_id_b")),
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS t FROM documents),
         |h AS (SELECT doc_id, list_transform(t, tk -> list_reduce(
         |  list_transform(string_split_regex(substr(md5(tk), 1, 15), ''), c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |  (a, b) -> a * 16 + b)) AS hs FROM toks),
         |s AS (SELECT doc_id, list_reduce(list_transform(generate_series(0, 59), b ->
         |  CASE WHEN list_sum(list_transform(hs, v -> CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |  THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END), (a, b) -> a | b) AS sh FROM h),
         |banded AS (SELECT doc_id, sh, u.b AS band_idx,
         |  (sh >> ($simhashOffsetsSql)[u.b + 1]) & ($simhashMasksSql)[u.b + 1] AS band_key
         |  FROM s, (SELECT unnest(generate_series(0, ${simhashBandCount - 1})) AS b) u),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         |  FROM banded a JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
         |SELECT doc_id_a, doc_id_b, hamming FROM pairs WHERE hamming <= 8 ORDER BY doc_id_a, doc_id_b""".stripMargin),

    // extension: SEMANTIC dedup (SemDeDup-shaped) — the embedding-cosine
    // pair emitter composed with connected components into the keep/drop
    // map, the same consumer step dedup_groups provides for MinHash
    // pairs. Fixed centroids + deterministic pair set keep the whole
    // composition oracle-exact (recursive CTE on the DuckDB side).
    QueryDef("dedup_semantic", ((s, dir) => semanticGroups(s, dir).orderBy("doc_id")),
      s"""WITH RECURSIVE c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn <= 2),
         |j AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM embeddings a JOIN asg aa ON a.vec_id = aa.vec_id
         |  JOIN asg ab ON aa.cid = ab.cid
         |  JOIN embeddings b ON b.vec_id = ab.vec_id AND a.vec_id < b.vec_id
         |  WHERE ${sqlNormPos("a.embedding")} AND ${sqlNormPos("b.embedding")}
         |    AND ${sqlCosSim("a.embedding", "b.embedding")} >= 0.2),
         |e AS (SELECT id_a AS a, id_b AS b FROM j UNION SELECT id_b, id_a FROM j),
         |reach(node, lab) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.b, r.lab FROM reach r JOIN e ON e.a = r.node)
         |SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node ORDER BY doc_id""".stripMargin),

    // extension: dedup-group PURITY — the fraction of each duplicate
    // group whose source matches its representative's: the audit that
    // distinguishes intra-source boilerplate from cross-source
    // syndication (and sanity-checks the keep-map before applying it).
    // Exact counts off the memoized group map
    QueryDef("dedup_group_purity", ((s, dir) => {
      val src = docs(s, dir).select(col("doc_id"), col("source"))
      val g = cappedGroups(s, dir).join(src, Seq("doc_id"))
        .join(src.select(col("doc_id").as("rep_id"), col("source").as("__rs")),
          Seq("rep_id"))
      g.groupBy(col("rep_id"))
        .agg(count(lit(1)).as("group_size"),
          count(when(col("source") === col("__rs"), 1)).as("n_same_source"))
        .select(col("rep_id"), col("group_size"), col("n_same_source"),
          r4(col("n_same_source").cast("double") / col("group_size")).as("purity"))
        .orderBy("rep_id")
    }),
      // the CC group map joined to sources on both member and rep
      s"""$sqlCcCte,
         |g AS (SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node),
         |w AS (SELECT g.rep_id, dm.source AS s_member, dr.source AS s_rep
         |  FROM g JOIN documents dm ON g.doc_id = dm.doc_id
         |         JOIN documents dr ON g.rep_id = dr.doc_id)
         |SELECT rep_id, CAST(count(*) AS BIGINT) AS group_size,
         |  CAST(count(*) FILTER (s_member = s_rep) AS BIGINT) AS n_same_source,
         |  ${sqlR4("CAST(count(*) FILTER (s_member = s_rep) AS DOUBLE) / count(*)")} AS purity
         |FROM w GROUP BY rep_id ORDER BY rep_id""".stripMargin),

    // extension: dedup THRESHOLD curve — verified-pair counts at a
    // ladder of Jaccard thresholds over one LSH candidate pass (the
    // tuning table for picking a near-dup threshold: how aggressive
    // does each setting get on THIS corpus). Exact-rational jaccards
    // make every count oracle-exact; monotone non-increasing by
    // construction (spec-pinned)
    QueryDef("dedup_threshold_curve", ((s, dir) =>
      // the identical (params-and-all) pipeline the session memo holds —
      // a reduction over the checkpointed pair list, not a rebuild
      minhashPairs(s, dir)
        .select(col("jaccard"),
          explode(array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)).as("threshold"))
        .groupBy(col("threshold"))
        .agg(sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
          .as("n_pairs"))
        .orderBy("threshold")),
      // the dedup_minhash pipeline with a threshold-ladder rollup tail;
      // jaccards are exact rationals so the >= comparisons are
      // engine-independent
      s"""WITH toks AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents)),
         |ne AS (SELECT doc_id, sh FROM toks WHERE len(sh) > 0),
         |hh AS (SELECT doc_id, sh,
         |  list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)) AS h1,
         |  list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 17, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)) AS h2
         |  FROM ne),
         |sig AS (SELECT doc_id, h1, list_transform(generate_series(0, 15), i ->
         |  list_min(list_transform(list_zip(h1, h2), p -> p[1] + i * p[2]))) AS sg FROM hh),
         |bands AS (SELECT doc_id, h1, u.b AS band_idx,
         |  md5(array_to_string(list_slice(sg, u.b * 4 + 1, u.b * 4 + 4), '|')) AS band_hash
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) u),
         |j AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(len(list_intersect(a.h1, b.h1)) AS DOUBLE) / len(list_distinct(a.h1 || b.h1)) AS jaccard
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |jf AS (SELECT jaccard FROM j WHERE jaccard >= 0.5)
         |SELECT t.threshold, CAST(sum(CASE WHEN jf.jaccard >= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
         |FROM jf CROSS JOIN (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold) t
         |GROUP BY t.threshold ORDER BY t.threshold""".stripMargin),

    // extension: LSH banding planner — the closed-form candidate curve
    // P(candidate) = 1 − (1 − s^r)^b over the 16-perm band layouts and
    // a similarity grid: the tuning table behind minhashLsh's
    // (bands, rows) choice. No corpus scan at all; powers are
    // SEQUENTIAL-left-fold multiplication chains (no libm pow), so
    // every double is engine-identical
    QueryDef("dedup_banding_planner", ((s, dir) => {
      import s.implicits._
      def powChain(x: Column, n: Column): Column =
        aggregate(sequence(lit(1), n), lit(1.0), (acc, _) => acc * x)
      val grid = for {
        (b, r) <- Seq((2, 8), (4, 4), (8, 2), (16, 1))
        i <- 1 to 19
      } yield (b, r, i)
      grid.toDF("bands", "rows_per_band", "i")
        .withColumn("s", col("i") * lit(0.05))
        .withColumn("__pband", powChain(col("s"), col("rows_per_band")))
        .withColumn("__pcand",
          lit(1.0) - powChain(lit(1.0) - col("__pband"), col("bands")))
        .select(col("bands"), col("rows_per_band"), r4(col("s")).as("s"),
          r4(col("__pband")).as("p_band"), r4(col("__pcand")).as("p_candidate"))
        .orderBy("bands", "s")
    }),
      // the same sequential left-fold power chains (list_reduce's first
      // element is the init, = Spark's 1.0·x first step)
      s"""WITH g AS (SELECT b, r, u.i AS i
         |  FROM (VALUES (2, 8), (4, 4), (8, 2), (16, 1)) AS t(b, r),
         |       unnest(generate_series(1, 19)) AS u(i)),
         |c AS (SELECT b, r, i, i * CAST(0.05 AS DOUBLE) AS s,
         |    list_reduce(list_transform(generate_series(1, r), x -> i * CAST(0.05 AS DOUBLE)),
         |      (acc, el) -> acc * el) AS pband
         |  FROM g),
         |p AS (SELECT b, r, i, s, pband,
         |    CAST(1.0 AS DOUBLE) - list_reduce(
         |      list_transform(generate_series(1, b), x -> CAST(1.0 AS DOUBLE) - pband),
         |      (acc, el) -> acc * el) AS pcand
         |  FROM c)
         |SELECT CAST(b AS INT) AS bands, CAST(r AS INT) AS rows_per_band,
         |  ${sqlR4("s")} AS s, ${sqlR4("pband")} AS p_band,
         |  ${sqlR4("pcand")} AS p_candidate
         |FROM p ORDER BY bands, i""".stripMargin)
  )
}
