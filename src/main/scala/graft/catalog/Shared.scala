package graft
package catalog

import graft.operators.{Dedup, IvfIndex, Knn, TextOps}
import graft.sources.Records
import graft.types.Metric
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What more than one query family uses: the DuckDB SQL fragments, the table
  * readers and the session fixtures ([[SessionMemo]]) that two or more families
  * share. A family file imports this object; nothing here refers to a family.
  * An oracle restates a shared engine decision by interpolating its one
  * fragment, which sits next to its engine twin: here when two or more
  * families use it, else in the one family file that does. */
private[graft] object Shared {
  private[catalog] val Dim = 64 // embeddings.parquet vector width (all SFs)

  // ---------- shared SQL fragments (DuckDB dialect) ----------

  private[catalog] def sqlSq(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      s"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"

  private[catalog] def sqlSub(a: String, b: String): String =
    s"list_transform(list_zip($a, $b), " +
      s"p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"

  private[catalog] def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  private[catalog] def sqlCosDist(a: String, b: String): String =
    s"(1.0 - ${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  private[catalog] def sqlCosSim(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  /** Zero-norm exclusion for raw-cosine candidate oracles — the twin of
    * [[operators.Dedup.embeddingNearDup]]'s `__norm > 0` gate (a zero
    * vector has no direction; under ANSI its 0/0 similarity would kill
    * the Spark job, so the engine excludes it from angular candidates
    * and the oracles must too — adversarial-data finding, r8). */
  private[catalog] def sqlNormPos(x: String): String =
    s"${sqlDot(x, x)} > 0"

  /** Round to 4 decimals as `floor(x·10⁴ + 0.5)/10⁴` — the SAME double
    * operations the oracle runs (see [[sqlR4]]), so results are
    * bit-identical even on `.xxxx5` ties, where Spark's BigDecimal
    * HALF_UP and DuckDB's double-arithmetic `round` disagree. Also never
    * produces −0.0. */
  private[catalog] def r4(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  private[catalog] def sqlR4(e: String): String = s"floor(($e) * 10000.0 + 0.5) / 10000.0"

  // ---------- oracle twins of the engine's shared decisions ----------
  // Each fragment below restates, in DuckDB SQL built from constants, one
  // decision the engine makes in one place; every oracle that replays the
  // decision interpolates its fragment. None is derived from an engine code
  // path, so the oracle stays an independent restatement.

  /** Twin of [[fixedCentroids]]: records 0..7 as the IVF centroids
    * `(cid, cvec)`. */
  private[catalog] val sqlFixedCentroids: String =
    "SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8"

  /** Every embedding's centroids in a CTE `c` ranked by the metric's
    * distance `dist`, the lower cid winning a tie — the twin of
    * [[IvfIndex.assign]]'s nearest-centroid rule. */
  private def sqlCentroidRank(dist: (String, String) => String): String =
    s"""SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${dist("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
       |  FROM embeddings e CROSS JOIN c""".stripMargin

  /** Twin of [[fixedModel]]'s assignment: each embedding's nearest
    * centroid `(vec_id, cid)` in `c` under `dist`. */
  private[catalog] def sqlAssign(dist: (String, String) => String): String =
    s"SELECT vec_id, cid FROM (\n  ${sqlCentroidRank(dist)}) WHERE rn = 1"

  /** Twin of [[top2Blocked]]: the centroids `c` and each embedding's two
    * nearest of them, `asg(vec_id, cid)`. */
  private[catalog] val sqlTop2Blocks: String =
    s"""c AS ($sqlFixedCentroids),
       |asg AS (SELECT vec_id, cid FROM (
       |  ${sqlCentroidRank(sqlSq)}) WHERE rn <= 2)""".stripMargin

  /** Twin of [[qvec0]]: the query row `q(qvec)`. */
  private[catalog] val sqlQ0: String =
    "q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)"

  /** The batch query rows `q(query_id, qvec)`: records 0..4. */
  private[catalog] val sqlQBatch: String =
    "q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5)"

  /** The 3 centroids in `c` nearest the query `q` under `dist`, ties to
    * the lower cid — the probe list of `IvfIndex.query` at probes = 3. */
  private[catalog] def sqlProbed3(dist: (String, String) => String): String =
    s"probed AS (SELECT c.cid FROM c, q ORDER BY ${dist("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3)"

  /** The fixed IVF model probed for the query row at probes = 3 under
    * `dist` — `c`, `q`, `asg` and `probed`: the twin of
    * `IvfIndex.query(fixedModel(…), qvec0(…), probes = 3)` up to its
    * rerank. */
  private[catalog] def sqlProbedFixed(dist: (String, String) => String): String =
    s"""c AS ($sqlFixedCentroids),
       |$sqlQ0,
       |asg AS (${sqlAssign(dist)}),
       |${sqlProbed3(dist)}""".stripMargin

  /** Sub-vector `sub` (0..3, 16 wide) of the vector `v`. */
  private[catalog] def sqlPqSlice(v: String, sub: String): String =
    s"list_slice($v, CAST($sub * 16 + 1 AS INT), CAST($sub * 16 + 16 AS INT))"

  /** The 4 × 16-wide sub-codebooks `books(sub_idx, code, cvec)` cut from a
    * CTE `cb(code, embedding)`. */
  private[catalog] val sqlPqSubBooks: String =
    s"""books AS (SELECT u.s AS sub_idx, code,
       |  ${sqlPqSlice("embedding", "u.s")} AS cvec
       |  FROM cb, unnest(generate_series(0, 3)) AS u(s))""".stripMargin

  /** Twin of [[pqFixedBooks]]: records 0..15 as `cb(code, embedding)` and
    * their sub-codebooks `books`. */
  private[catalog] val sqlPqBooks: String =
    s"""cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
       |$sqlPqSubBooks""".stripMargin

  /** Twin of [[operators.VectorOps.pqCodes]]: every sub-vector of the
    * rows of `from` ranked against its sub-codebook, the lower code
    * winning a tie; `enc(vec_id, sub_idx, cvec, rn)`, the code at rn = 1. */
  private[catalog] def sqlPqEncode(from: String): String =
    s"""enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
       |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq(sqlPqSlice("e.embedding", "b.sub_idx"), "b.cvec")} ASC, b.code ASC) AS rn
       |  FROM $from e CROSS JOIN books b)""".stripMargin

  /** Twin of [[TextOps.tokens]]: ASCII-lowercase, trim, split on
    * whitespace runs. */
  private[catalog] def sqlTokens(x: String): String =
    s"regexp_split_to_array(translate(trim($x), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')"

  /** The hex digits of the string `hex` as a list of BIGINT nibbles. */
  private[catalog] def sqlHexNibbles(hex: String): String =
    s"list_transform(string_split_regex($hex, ''),\n  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))"

  private def sqlHexValue(hex: String): String =
    s"list_reduce(${sqlHexNibbles(hex)}, (a, b) -> a * 16 + b)"

  /** Twin of [[operators.Corpus.contentHash32]]'s reduction: the first
    * `width` hex digits of `md5(x)` as a BIGINT. */
  private[catalog] def sqlMd5Hex(x: String, width: Int): String =
    sqlHexValue(s"substr(md5($x), 1, $width)")

  /** Twin of [[TextOps.langVotes]]: the stopword hits of each language in
    * the token list `tk`, as columns `e, sp, f, d, z`. */
  private[catalog] val sqlLangVotes: String =
    """len(list_filter(tk, x -> list_contains(['the','a','of','to','and','is','in','it'], x))) AS e,
      |  len(list_filter(tk, x -> list_contains(['el','la','de','que','y','en','un','es'], x))) AS sp,
      |  len(list_filter(tk, x -> list_contains(['le','la','de','et','un','que','les','des'], x))) AS f,
      |  len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','ein','zu','den'], x))) AS d,
      |  len(list_filter(tk, x -> list_contains(['de','shi','bu','le','zai','ren','you','wo'], x))) AS z""".stripMargin

  /** Twin of [[TextOps.langFromVotes]]: the language with the most votes
    * in `e, sp, f, d, z`, the earlier one on a tie, 'und' with none. */
  private[catalog] val sqlLangPick: String =
    """CASE WHEN coalesce(greatest(e, sp, f, d, z), 0) = 0 THEN 'und'
      |    WHEN e >= sp AND e >= f AND e >= d AND e >= z THEN 'en'
      |    WHEN sp >= f AND sp >= d AND sp >= z THEN 'es'
      |    WHEN f >= d AND f >= z THEN 'fr'
      |    WHEN d >= z THEN 'de' ELSE 'zh' END""".stripMargin

  /** Twin of [[TextOps.gopherFlags]]'s counters over the token list `tk`,
    * the raw-text line list `ls` and `text`. */
  private[catalog] val sqlGopherCounts: String =
    """CAST(len(tk) AS BIGINT) AS n_words,
      |  CAST(coalesce(list_sum(list_transform(tk, x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS len_sum,
      |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
      |  CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
      |  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
      |  CAST(len(ls) AS BIGINT) AS n_lines,
      |  CAST(len(list_filter(ls, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS BIGINT) AS n_bullet,
      |  CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS BIGINT) AS n_ellend,
      |  CAST(len(list_intersect(tk, ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits""".stripMargin

  /** Twin of [[TextOps.gopherFlags]]'s ratios over [[sqlGopherCounts]],
    * 0.0 for a doc without words or lines. */
  private[catalog] val sqlGopherFracs: String =
    """CASE WHEN n_words > 0 THEN CAST(len_sum AS DOUBLE) / n_words ELSE 0.0 END AS mean_word_len,
      |  CASE WHEN n_words > 0 THEN CAST(n_hash + n_ell AS DOUBLE) / n_words ELSE 0.0 END AS symbol_ratio,
      |  CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS alpha_frac,
      |  CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE) / n_lines ELSE 0.0 END AS bullet_frac,
      |  CASE WHEN n_lines > 0 THEN CAST(n_ellend AS DOUBLE) / n_lines ELSE 0.0 END AS ellipsis_frac""".stripMargin

  /** Twin of [[Dedup]]'s shingling: each doc's distinct token 3-grams,
    * `toks(doc_id, sh)`. */
  private[catalog] val sqlShingles3: String =
    s"""toks AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
       |  FROM (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents))""".stripMargin

  /** Twin of [[Dedup.minhashSignature]] at (3-gram shingles, 16 perms):
    * `toks` → `ne` → `hh(doc_id, sh, h1, h2)` → `sig(doc_id, h1, sg)`. */
  private[catalog] val sqlMinhashSig: String =
    s"""$sqlShingles3,
       |ne AS (SELECT doc_id, sh FROM toks WHERE len(sh) > 0),
       |hh AS (SELECT doc_id, sh,
       |  list_transform(sh, s -> ${sqlMd5Hex("s", 14)}) AS h1,
       |  list_transform(sh, s -> ${sqlHexValue("substr(md5(s), 17, 14)")}) AS h2
       |  FROM ne),
       |sig AS (SELECT doc_id, h1, list_transform(generate_series(0, 15), i ->
       |  list_min(list_transform(list_zip(h1, h2), p -> p[1] + i * p[2]))) AS sg FROM hh)""".stripMargin

  /** Twin of [[Dedup.bandedSignature]] at 4 bands of 4 rows over `sig`:
    * `(doc_id, h1, band_idx, band_hash)`. */
  private[catalog] val sqlMinhashBands: String =
    """SELECT doc_id, h1, u.b AS band_idx,
      |  md5(array_to_string(list_slice(sg, u.b * 4 + 1, u.b * 4 + 4), '|')) AS band_hash
      |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) u""".stripMargin

  /** The 64 bit values of [[operators.VectorOps.BinaryBitValues]] as a
    * DuckDB BIGINT list literal — shared with the Spark side from ONE
    * Scala definition (DuckDB's checked `<<` rejects `1::BIGINT << 63`,
    * so the sign bit must arrive as data in both engines). */
  private val sqlBinBits: String =
    operators.VectorOps.BinaryBitValues
      .map(b => s"CAST($b AS BIGINT)").mkString("[", ",", "]")

  /** DuckDB twin of [[operators.VectorOps.binaryCodes]]: sign-pack `v`
    * into `ceil(len/64)` BIGINT words (bit set iff component strictly
    * positive). */
  private[catalog] def sqlBinCode(v: String): String =
    s"list_transform(generate_series(0, CAST(floor((len($v) + 63) / 64.0) AS INT) - 1), w -> " +
      s"list_reduce(list_transform(generate_series(0, 63), i -> " +
      s"CASE WHEN w * 64 + i < len($v) AND CAST($v[w * 64 + i + 1] AS DOUBLE) > 0.0 " +
      s"THEN $sqlBinBits[i + 1] ELSE 0::BIGINT END), (a, b) -> a | b))"

  /** DuckDB twin of [[operators.VectorOps.hammingDistance]] — exact
    * integer XOR+popcount, cast back to BIGINT (DuckDB's `list_sum`
    * over BIGINT widens to HUGEINT). The length guard mirrors the
    * Spark side's ragged-input semantics: mixed-width codes yield NULL
    * (Spark's `zip_with` pads with null and the fold propagates it),
    * whereas an unguarded `list_sum` would SKIP the padded nulls and
    * return a partial sum — a silent cross-engine divergence on any
    * store with mixed dimensions. */
  private[catalog] def sqlHamming(a: String, b: String): String =
    s"CASE WHEN len($a) = len($b) THEN " +
      s"CAST(list_sum(list_transform(list_zip($a, $b), " +
      s"p -> CAST(bit_count(xor(p[1], p[2])) AS BIGINT))) AS BIGINT) " +
      s"ELSE NULL END"

  /** The vocab_bpe_train oracle: the BPE training loop UNROLLED as
    * generated CTEs — per merge step, pair counts from the current
    * segmentation, the argmax (count desc, pair ascending in binary
    * collation — the engine-portable tie-break bpeTrain mirrors in
    * code-point order), and the merge applied via `replace()` on a
    * U+001F-framed segmentation string (replace's left-to-right
    * non-overlapping semantics ARE BPE's merge semantics).
    * `AS MATERIALIZED` is load-bearing: each step references the
    * previous chain several times, and DuckDB's default inlining makes
    * the expansion exponential in nMerges. */
  private[catalog] def bpeTrainOracleSql(nMerges: Int, vocabCap: Int,
      finalSql: Option[String] = None): String = {
    val sep = "chr(31)"
    val steps = (1 to nMerges).map { k =>
      s"""p$k AS MATERIALIZED (SELECT l AS lft, r AS rgt, CAST(sum(tf) AS BIGINT) AS c FROM (
         |    SELECT tf, ss[i] AS l, ss[i + 1] AS r
         |    FROM (SELECT tf, string_split(seg, $sep) AS ss FROM w${k - 1}),
         |         unnest(generate_series(2, len(ss) - 2)) AS u(i))
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT lft, rgt, c FROM p$k ORDER BY c DESC, lft ASC, rgt ASC LIMIT 1),
         |w$k AS MATERIALIZED (SELECT token, tf, replace(seg,
         |    $sep || (SELECT lft FROM b$k) || $sep || (SELECT rgt FROM b$k) || $sep,
         |    $sep || (SELECT lft FROM b$k) || (SELECT rgt FROM b$k) || $sep) AS seg
         |  FROM w${k - 1})""".stripMargin
    }.mkString(",\n")
    val union = (1 to nMerges)
      .map(k => s"SELECT $k AS step, lft, rgt, c FROM b$k")
      .mkString("\n UNION ALL ")
    val fin = finalSql.getOrElse(
      s"""SELECT step, lft AS left_sym, rgt AS right_sym, c AS freq FROM (
         | $union)
         |ORDER BY step""".stripMargin)
    s"""WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS token FROM documents),
       |tv AS MATERIALIZED (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY token
       |  ORDER BY tf DESC, token ASC LIMIT $vocabCap),
       |w0 AS MATERIALIZED (SELECT token, tf,
       |    $sep || array_to_string(string_split_regex(token, ''), $sep) || $sep AS seg
       |  FROM tv WHERE token <> '' AND strpos(token, $sep) = 0),
       |$steps
       |$fin""".stripMargin
  }

  private val stopAllScala: Seq[String] = TextOps.StopwordsByLang.flatMap(_._2).distinct
  private[catalog] val stopAllSql: String = stopAllScala.map(w => s"'$w'").mkString("[", ",", "]")

  /** Shared DuckDB CTE for the connected-component family: MinHash-LSH
    * verified pairs → symmetric edge list → recursive min-label
    * reachability (`reach(node, lab)`) — the oracle twin of
    * [[Dedup.minhashLsh]] + [[Dedup.duplicateGroups]]. Each consumer
    * (`dedup_groups` / `dedup_apply` / `dedup_best`) appends its own
    * final SELECT (and extra CTEs after a comma). */
  /** MinHash-LSH verified-pair CTEs (`toks` → `j`) — the oracle twin of
    * [[Dedup.minhashLsh]]; consumers append their own edge/reach CTEs. */
  private[catalog] val sqlMinhashPairsCtes: String =
    s"""$sqlMinhashSig,
      |bands AS ($sqlMinhashBands),
      |j AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.h1, b.h1)) AS DOUBLE) / len(list_distinct(a.h1 || b.h1)) >= 0.5)""".stripMargin

  /** Min-label reachability over a symmetric edge CTE `e` (consumer
    * supplies `e`); yields `reach(node, lab)`. */
  private[catalog] val sqlCcReach: String =
    """reach(node, lab) AS (
      |  SELECT DISTINCT a, a FROM e
      |  UNION
      |  SELECT e.b, r.lab FROM reach r JOIN e ON e.a = r.node)""".stripMargin

  private[catalog] val sqlCcCteBody: String =
    sqlMinhashPairsCtes + ",\n" +
      "e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM j UNION SELECT doc_id_b, doc_id_a FROM j),\n" +
      sqlCcReach

  private[catalog] val sqlCcCte: String = "WITH RECURSIVE " + sqlCcCteBody

  /** BPE-apply oracle fragment — [[graft.operators.TextOps.BpeMerges]]
    * as literal VALUES plus the per-rank replace-to-fixpoint recursion
    * over the space-delimited symbol string (the `BpeApplyExpr` contract
    * over DuckDB's identical leftmost non-overlapping `replace`; ranks
    * advance only when a pass changes nothing, and every step either
    * advances the rank or strictly shortens the string, so the recursion
    * terminates). Yields `btok(source, token)` (raw token instances) and
    * `bseg(token, seg, n_sym)` (one row per distinct token). */
  private[catalog] val sqlBpeSegCtes: String =
    s"""btok AS (SELECT source, unnest(${sqlTokens("text")}) AS token FROM documents),
       |bv AS (SELECT DISTINCT token FROM btok WHERE token <> ''),
       |bm(mr, pat, rep) AS (VALUES
       |  (1, ' t h ', ' th '), (2, ' th e ', ' the '), (3, ' i n ', ' in '),
       |  (4, ' a n ', ' an '), (5, ' an d ', ' and '), (6, ' e r ', ' er '),
       |  (7, ' o n ', ' on '), (8, ' r e ', ' re '), (9, ' in g ', ' ing '),
       |  (10, ' o u ', ' ou '), (11, ' s t ', ' st '), (12, ' e d ', ' ed ')),
       |bit AS (
       |  SELECT token, ' ' || array_to_string(string_split_regex(token, ''), ' ') || ' ' AS s, 1 AS r FROM bv
       |  UNION ALL
       |  SELECT token,
       |    CASE WHEN replace(s, pat, rep) <> s THEN replace(s, pat, rep) ELSE s END,
       |    CASE WHEN replace(s, pat, rep) <> s THEN bit.r ELSE bit.r + 1 END
       |  FROM bit JOIN bm ON bm.mr = bit.r),
       |bseg AS (SELECT token, trim(s) AS seg, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sym
       |  FROM bit WHERE r = 13)""".stripMargin

  // ---------- Spark-side helpers ----------

  private[catalog] def emb(s: SparkSession, dir: String): DataFrame = Records.table(s, dir, "embeddings")
  private[catalog] def docs(s: SparkSession, dir: String): DataFrame = Records.table(s, dir, "documents")
  /** The documents table, spread across the parallelism floor ONLY when
    * the scan itself is narrow ([[Caching.spreadIfNarrow]]) — the
    * CPU-heavy text queries' input. At gate SFs the table is one parquet
    * file (one split), so the spread fires and every core tokenizes; at
    * warehouse scale the scan arrives in thousands of splits and this is
    * the IDENTITY — no Exchange, text never shuffles (pinned in
    * PlanShapeSpec: chunkText over an already-parallel input plans zero
    * hash-partition exchanges). */
  private[catalog] def docsSpread(s: SparkSession, dir: String): DataFrame =
    Caching.spreadIfNarrow(docs(s, dir), col("doc_id"))
  private[catalog] def recs(s: SparkSession, dir: String): DataFrame = Records.fromEmbeddings(s, dir)
  private[catalog] def qvec0(s: SparkSession, dir: String): DataFrame =
    recs(s, dir).where(col("id") === 0).select(col("embedding").as("qvec"))

  private[catalog] def knnOut(res: DataFrame): DataFrame =
    res.select(col("id").as("vec_id"), r4(col("distance")).as("distance"))

  /** Fixed, fully deterministic centroids (records 0..7) for the
    * oracle-checked IVF queries; the seeded-kmeans build path is exercised
    * in ScalaTest (approximate results are not hash-comparable). */
  private[catalog] def fixedCentroids(s: SparkSession, dir: String): DataFrame =
    recs(s, dir).where(col("id") < 8)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))

  /** The fixed-centroid index model, memoized per (session, dir, metric)
    * with the assignment persisted — the same argument that justifies
    * [[IvfIndex.buildCached]]: the reference holds ONE index and serves
    * every query from it (`src/cores/database.rs:70-76`); re-deriving the
    * assignment per query is a batch-harness artifact, and the assignment
    * is deterministic, so results are identical either way. */
  // `ensureCached` on every access re-persists a frame whose blocks were
  // dropped by an intervening `clearCache()` (the family-boundary clear
  // in [[Catalog.run]]).
  private val fixedModelCache = new SessionMemo[(String, String), DataFrame]
  private[catalog] def fixedModel(s: SparkSession, dir: String, metric: Metric): IvfIndex.Model = {
    val c = fixedCentroids(s, dir)
    val assigned = fixedModelCache(s, (dir, metric.name))(
      IvfIndex.assign(recs(s, dir), c, metric))
    // NOTE (r15, measured): checkpoint-backing this fixture (the r14
    // Batch-A discipline) was tried and REVERTED — the whole ivf family
    // ran ~2× SLOWER (probe_cost 0.62 → 1.67 s, tuning_curve 1.38 →
    // 2.59 s paired). Unlike the drained/merged/NB fixtures, (a) the
    // assign lineage is a cheap map-only pass, so the planning saved per
    // reference is small, and (b) most consumers read a NARROW slice
    // (cluster_id, id) — the columnar ensureCached serves pruned
    // columns, while a LogicalRDD leaf deserializes full rows
    // (embedding + metadata map) at every scan. Checkpoint converged
    // fixtures when the lineage is join/fit-heavy; keep plan-matched
    // caching when the lineage is map-only and consumers prune columns.
    IvfIndex.Model(c, Caching.ensureCached(assigned))
  }

  /** Trained NB language model (char-trigram multinomial,
    * [[TextOps.nbCharGramModel]]) fit ONCE per (session, dir) on the
    * content-hash train split — the same fit-once-score-many lifecycle
    * as [[lmModel]]; both model frames are charset³×|langs|-bounded and
    * persist because the scorer broadcasts them per materialization. */
  private val nbModelCache = new SessionMemo[(String, String), TextOps.NbModel]
  private[catalog] def nbModelOf(s: SparkSession, dir: String, tag: String)(
      train: => DataFrame): TextOps.NbModel = {
    // checkpoint-backed (r14): the fitted model is a converged RESULT the
    // scorer broadcasts per materialization; keeping the fit lineage
    // behind a plan-matched persist made every consumer re-analyze the
    // whole train-split tokenize/count tree per pass (corpus_nb_quality's
    // physical plan was ~1k lines). Both frames are charset³×|langs|-
    // bounded, so the checkpoint is tiny.
    nbModelCache(s, (dir, tag)) {
      val m = TextOps.nbCharGramModel(train, col("text"), col("label"))
      TextOps.NbModel(Caching.truncate(m.grams, eager = true),
        Caching.truncate(m.labels, eager = true))
    }
  }
  private def nbLangModel(s: SparkSession, dir: String): TextOps.NbModel =
    nbModelOf(s, dir, "lang")(
      graft.operators.Corpus.assignSplit(
          docs(s, dir).withColumn("label", col("lang")), col("text"))
        .where(col("split") === "train"))

  /** Held-out per-(doc, label) NB score frame, memoized per (session,
    * dir) and persisted — scoring the held-out split is the shared
    * prefix of `text_nb_langid`, `text_nb_confusion`, AND
    * `text_nb_margin` (argmax, rollup, and top-2 are all cheap derived
    * aggregations over it); re-scoring per query was pure recompute. */
  private val nbHeldScoresCache = new SessionMemo[(String, String), DataFrame]
  private[catalog] def nbHeldScoresOf(s: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame = {
    // checkpoint-backed (r14), same argument as [[nbModelOf]]: the score
    // frame is the converged shared prefix of three consumers; the frame
    // is |held docs|×|labels| rows of (long, string, long) — bounded.
    nbHeldScoresCache(s, (dir, tag))(Caching.truncate(build, eager = true))
  }
  private[catalog] def nbHeldScores(s: SparkSession, dir: String): DataFrame =
    nbHeldScoresOf(s, dir, "lang")(
      TextOps.nbScoreAll(
        graft.operators.Corpus.assignSplit(docs(s, dir), col("text"))
          .where(col("split") =!= "train"),
        col("text"), nbLangModel(s, dir)))

  /** Memoized `(id, cand_id, d)` squared-L2 pair distances over the
    * blocked frame — the converged RESULT three consumers reduce over
    * (`ann_self_join`, `embed_triplets`, `embed_knn_accuracy`), so per
    * the memoize-results-never-pipelines rule it is checkpoint-backed
    * and computed once per (session, corpus): each consumer then pays
    * only its own reduction, not the candidate distance pass. */
  private val blockedPairsCache = new SessionMemo[String, DataFrame]
  private[catalog] def blockedSqPairs(s: SparkSession, dir: String): DataFrame =
    blockedPairsCache(s, dir)(Caching.truncate(
      Knn.pairDistances(top2Blocked(s, dir), Metric.Euclidean), eager = true))

  /** Embeddings blocked on their TWO nearest fixed clusters (each vector
    * appears under cluster_id and, when present, cluster_id2) — the
    * shared candidate-generation layout for [[Dedup.embeddingNearDup]],
    * [[Knn.selfJoinNN]], and the semantic-dedup composition. */
  private val top2BlockedCache = new SessionMemo[String, DataFrame]
  private[catalog] def top2Blocked(s: SparkSession, dir: String): DataFrame = {
    val blocked = top2BlockedCache(s, dir) {
      val a2 = IvfIndex
        .assignTop2(recs(s, dir), fixedCentroids(s, dir), Metric.Euclidean)
      a2.select(col("cluster_id").as("block"), col("id"), col("embedding"))
        .unionByName(a2.where(col("cluster_id2") >= 0)
          .select(col("cluster_id2").as("block"), col("id"), col("embedding")))
    }
    // Persisted (not just memoized): every consumer self-joins the frame,
    // so without materialization the assignment kernel runs twice per
    // query — and three query families (embed/ann/dedup) share it, the
    // same ONE-index-serves-every-query argument as [[fixedModel]].
    Caching.ensureCached(blocked)
  }

  /** Fixed product-quantization codebooks (records 0..15's subvectors,
    * m=4 × dsub=16 over the 64-dim embeddings), packed for broadcast —
    * deterministic, so encode and ADC search are oracle-exact. */
  private[catalog] def pqFixedBooks(s: SparkSession, dir: String): DataFrame =
    operators.VectorOps.pqPack(
      recs(s, dir).where(col("id") < 16)
        .select(col("id").cast("int").as("code"), col("embedding"))
        .select(explode(sequence(lit(0), lit(3))).as("sub_idx"),
          col("code"), col("embedding"))
        .select(col("sub_idx"), col("code"),
          slice(col("embedding"), col("sub_idx") * 16 + 1, lit(16)).as("cvec")))

  /** [[pqFixedBooks]] with the pinned OPQ-lite reflection applied to the
    * codebook sources — the rotated-space codebooks for
    * `pq_rotated_codes`. Rotation happens BEFORE the float cast so both
    * engines round the same doubles. */
  private[catalog] def pqRotatedBooks(s: SparkSession, dir: String): DataFrame =
    operators.VectorOps.pqPack(
      recs(s, dir).where(col("id") < 16)
        .select(col("id").cast("int").as("code"),
          operators.VectorOps.householderReflect(col("embedding"))
            .cast("array<float>").as("embedding"))
        .select(explode(sequence(lit(0), lit(3))).as("sub_idx"),
          col("code"), col("embedding"))
        .select(col("sub_idx"), col("code"),
          slice(col("embedding"), col("sub_idx") * 16 + 1, lit(16)).as("cvec")))

  /** The pinned OPQ direction / its squared norm as SQL literals —
    * interpolated from [[operators.VectorOps.OpqDirection]] so the
    * oracle restates the exact integers the kernel folds. */
  private[catalog] val sqlOpqW: String =
    operators.VectorOps.OpqDirection.map(_.toInt).mkString("[", ", ", "]")
  private[catalog] val sqlOpqWw: String =
    s"${operators.VectorOps.OpqDirection.map(x => x * x).sum.toInt}.0"

  /** One CONTENT-HASH projection per (session, corpus) — `(doc_id,
    * source, __nc, __h56 DECIMAL(20,0), __sha)` — shared by every
    * whole-corpus digest consumer: `corpus_checksum` (56-bit md5 sum),
    * `corpus_funnel` (sha-256 distinct + raw count), `dedup_exact`
    * (sha-256 groupBy). At 100 TB the content hashes are MAINTAINED
    * columns written once at ingest; three queries each re-digesting
    * the full text column was pure recompute (r11: checksum 3.0 s +
    * funnel 1.4 s both paid the md5/sha scan the dedup lanes had
    * already paid). Checkpoint-backed so the family-boundary clear in
    * [[Catalog.run]] can't force a re-digest. */
  private val hashedDocsCache = new SessionMemo[String, DataFrame]
  private[catalog] def hashedDocsMemo(s: SparkSession, dir: String): DataFrame =
    hashedDocsCache(s, dir)(Caching.truncate(
      docsSpread(s, dir)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("__nc"),
          conv(substr(md5(col("text")), lit(1), lit(14)), 16, 10)
            .cast("decimal(20,0)").as("__h56"),
          sha2(col("text"), 256).as("__sha")), eager = true))

  /** The verified MinHash pair list, memoized per (session, dir) and
    * checkpoint-backed: the group maps ([[cappedGroups]], and through it
    * the multi-signal map) and both rank frames consume the identical
    * signal, and a cache clear between two of those builds would
    * otherwise force the next one to re-run the whole LSH pipeline (~3 s
    * at sf0.1). The materialized frame is bounded by the duplicate subset,
    * not the corpus, so holding it for the session is cheap at any SF. */
  private val minhashPairsCache = new SessionMemo[String, DataFrame]
  private[catalog] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsCache(s, dir) {
      // CONTRACT ENFORCEMENT, not an operator limit: every consumer's
      // DuckDB oracle replays the UNCAPPED banded join, while this
      // composed pipeline runs with the production viral-bucket cap.
      // Equality of the two is an assumption about the gate data (no
      // LSH bucket exceeds the cap) that previously lived only in a
      // comment — assert it AT MEMO BUILD, so a future corpus with a
      // viral family fails loudly here instead of silently dropping
      // pairs the oracle keeps. One count-only agg over the narrow
      // banded frame, paid once per session. Production callers use
      // the [[Dedup]] operators directly and keep the cap semantics.
      // the cached signature plan is IDENTICAL to the one minhashLsh
      // registers below, so the assert rides the same one digest pass
      val banded = Dedup.bandedSignature(
        Caching.ensureCached(Dedup.minhashSignature(docs(s, dir), 3, 16)
          .select(col("doc_id"), col("__sig"), col("__shh"))), 16, 4)
      val hottest = banded.groupBy(col("band_idx"), col("band_hash"))
        .agg(count(lit(1)).as("__bn")).agg(max(col("__bn"))).head()
      val maxBucket = if (hottest.isNullAt(0)) 0L else hottest.getLong(0)
      require(maxBucket <= Dedup.DefaultPipelineMaxBucket,
        s"LSH bucket of $maxBucket docs exceeds the pipeline cap " +
          s"(${Dedup.DefaultPipelineMaxBucket}): the capped pair set no " +
          "longer equals the uncapped oracle join — cap the oracle too")
      Caching.truncate(
        Dedup.minhashLsh(docs(s, dir), shingleN = 3, perms = 16, bands = 4,
          threshold = 0.5, maxBucket = Dedup.DefaultPipelineMaxBucket)
          .select(col("doc_id_a"), col("doc_id_b"), col("jaccard")), eager = true)
    }

  /** Linear-counting oracle tail (twin of [[operators.Events.lcCell]] +
    * [[operators.Events.lcEstimates]]): consumers supply a `kk(grp, key)`
    * CTE; this appends the affine→xor-fold→affine cell hash, the
    * occupied-cell census, the exact distinct, and the estimate
    * `−k·ln(z/k)` on the RAW double (r4 at the surface only) — ONE
    * restatement of the estimator arithmetic for all LC queries. */
  private[catalog] def sqlLcCtes(k: Int): String = {
    val (a1, b1) = operators.Events.CmHashes.head
    val (a2, b2) = operators.Events.CmHashes(1)
    val p = operators.Events.CmPrime
    s"""hh AS (SELECT grp, key,
       |    ((($a1 * (((key % $p) + $p) % $p) + $b1) % $p) + $p) % $p AS h FROM kk),
       |mm AS (SELECT grp, key, xor(h, h // 65536) AS m FROM hh),
       |c AS (SELECT DISTINCT grp, (((($a2 * m + $b2) % $p) + $p) % $p) % $k AS cell
       |  FROM mm),
       |o AS (SELECT grp, CAST(count(*) AS BIGINT) AS occupied FROM c GROUP BY grp),
       |x AS (SELECT grp, CAST(count(DISTINCT key) AS BIGINT) AS n_exact FROM kk GROUP BY grp),
       |j AS (SELECT x.grp, x.n_exact, o.occupied,
       |    CASE WHEN o.occupied < $k THEN
       |      -$k.0 * ln(($k.0 - CAST(o.occupied AS DOUBLE)) / $k.0)
       |    ELSE NULL END AS est
       |  FROM x JOIN o USING (grp))""".stripMargin
  }

  /** The shared delete + vector-perturbation legs of the deterministic
    * store evolution (id ≡ 3 (mod 97) deleted; surviving id ≡ 7
    * (mod 101) gets +1 on component 0) — ONE definition for
    * [[diffNewStore]] and the drift monitors, restated in SQL by their
    * oracles. `idCol` differs per frame (id vs vec_id). */
  private[catalog] def perturbStore(df: DataFrame, idCol: String): DataFrame =
    df.where(!(col(idCol) % 97 === 3))
      .withColumn("embedding",
        when(col(idCol) % 101 === 7,
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(1.0f)).otherwise(x)))
          .otherwise(col("embedding")))

  /** The deterministically-transformed "next version" of a record store
    * shared by `snapshot_diff` and `ivf_apply_diff`: id ≡ 3 (mod 97)
    * deleted, surviving id ≡ 5 (mod 89) metadata-rewritten, surviving
    * id ≡ 7 (mod 101) vector-perturbed (+1 on component 0), plus one
    * fresh insert at max(id)+1 — all four change classes, recomputable
    * in SQL at any scale factor. */
  private[catalog] def diffNewStore(s: SparkSession, old: DataFrame): DataFrame = {
    import s.implicits._
    val maxId = old.agg(max(col("id"))).head.getLong(0)
    val fresh = Seq((maxId + 1L, Seq.fill(Dim)(0.9f), Map("label" -> "777")))
      .toDF("id", "embedding", "metadata")
    perturbStore(old, "id")
      .withColumn("metadata",
        when(col("id") % 89 === 5,
          map(lit("label"),
            concat(try_element_at(col("metadata"), lit("label")), lit("_v2"))))
          .otherwise(col("metadata")))
      .unionByName(fresh)
  }

  /** The capped-LSH duplicate-group map, memoized per (session, dir) —
    * the dedup twin of [[fixedModel]]: a pipeline computes the keep/drop
    * map ONCE per corpus version and every consumer (the group listing,
    * the applied filter) reads the same map. [[Dedup.duplicateGroups]]
    * is eager, so the memo holds an already-converged label table backed
    * by a checkpointed RDD; recomputing it per query is a batch-harness
    * artifact — results are identical (deterministic pipeline). The LSH
    * pipeline's persisted intermediates stay registered until the
    * caller's next cache clear ([[Catalog.run]] clears at each family
    * boundary); the checkpoint-backed map survives that clear. */
  private val dedupGroupsCache = new SessionMemo[String, DataFrame]
  private[catalog] def cappedGroups(s: SparkSession, dir: String): DataFrame =
    dedupGroupsCache(s, dir)(Dedup.duplicateGroups(minhashPairs(s, dir)))

  /** The session fixtures defined here, for [[Catalog.fixtures]]. */
  private[catalog] val fixtures: Seq[Fixture] = Seq(
    Fixture("cappedGroups", cappedGroups),
    Fixture("blockedSqPairs", blockedSqPairs),
    Fixture("hashedDocsMemo", hashedDocsMemo))

  /** NB classifier replay over a labeled CTE `lbl(doc_id, label, text)` —
    * shared by `text_nb_langid`/`text_nb_confusion` (label = declared
    * lang) and `corpus_nb_quality` (label = the Gopher teacher verdict):
    * md5-bucket split, train-split char trigram counts, the fixed-point
    * add-one model (gram log-likelihood, per-label prior and unseen-gram
    * floor, each ⌊ln·10⁶+½⌋), exact BIGINT per-(doc,label) scores,
    * argmax with label-asc tie-break. Ends in
    * `pred(doc_id, true_label, pred_label, score)`; callers prepend
    * `WITH lbl AS (...)` and select from `pred`. */
  private[catalog] lazy val nbPredSql: String =
    s"""sp AS (SELECT doc_id, label AS lang, text,
      |    ${sqlMd5Hex("text", 8)} % 100 AS bucket
      |  FROM lbl),
      |tr AS (SELECT * FROM sp WHERE bucket < 80),
      |te AS (SELECT * FROM sp WHERE bucket >= 80),
      |g AS (SELECT lang AS label, substr(text, CAST(u.i AS INT), 3) AS tri
      |  FROM tr, unnest(generate_series(1, greatest(length(text) - 2, 0))) AS u(i)),
      |c AS (SELECT label, tri, count(*) AS c FROM g GROUP BY 1, 2),
      |nl AS (SELECT label, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
      |v AS (SELECT count(DISTINCT tri) AS v FROM c),
      |dl AS (SELECT lang AS label, count(*) AS d FROM tr GROUP BY 1),
      |dt AS (SELECT count(*) AS dt FROM tr),
      |lp AS (SELECT c.label, c.tri,
      |    CAST(floor(ln((CAST(c.c AS DOUBLE) + 1) / CAST(nl.n + v.v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lp
      |  FROM c JOIN nl USING (label), v),
      |lb AS (SELECT nl.label,
      |    CAST(floor(ln(CAST(dl.d AS DOUBLE) / CAST(dt.dt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS prior,
      |    CAST(floor(ln(1.0 / CAST(nl.n + v.v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS fl
      |  FROM nl JOIN dl USING (label), dt, v),
      |dg AS (SELECT doc_id, substr(text, CAST(u.i AS INT), 3) AS tri
      |  FROM te, unnest(generate_series(1, greatest(length(text) - 2, 0))) AS u(i)),
      |dm AS (SELECT doc_id, tri, count(*) AS m FROM dg GROUP BY 1, 2),
      |sc AS (SELECT dm.doc_id, lb.label,
      |    max(lb.prior) + CAST(sum(dm.m * coalesce(lp.lp, lb.fl)) AS BIGINT) AS score
      |  FROM dm CROSS JOIN lb LEFT JOIN lp ON lp.label = lb.label AND lp.tri = dm.tri
      |  GROUP BY 1, 2),
      |pr AS (SELECT doc_id, label, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn FROM sc),
      |pred AS (SELECT te.doc_id, te.lang, pr.label AS pred_lang, pr.score
      |  FROM te JOIN pr ON te.doc_id = pr.doc_id WHERE pr.rn = 1)""".stripMargin
}
