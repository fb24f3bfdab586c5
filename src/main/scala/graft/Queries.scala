package graft

import graft.functions.FilterDsl
import graft.operators.{Crud, Dedup, IvfIndex, Knn, Multimodal, Temporal, TextOps}
import graft.sources.Records
import graft.types.Metric
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The declared query inventory (SURVEY.md §2.3) plus the training-data
  * pipeline extensions, each paired with DuckDB oracle SQL.
  *
  * Conventions for oracle hash-parity:
  *   - every computed double is rounded to 4 decimals via the SAME double
  *     expression in both engines ([[r4]]/[[sqlR4]]); ordering is done on
  *     the UNROUNDED value plus an id tiebreak;
  *   - both engines cast float vector elements to double BEFORE arithmetic
  *     and accumulate sequentially, so sums are bit-identical;
  *   - counts/len are bigint in both engines (DuckDB `len`/`count` are
  *     BIGINT; Spark `size` is cast).
  */
object Queries {

  private val Dim = 64 // embeddings.parquet vector width (all SFs)

  // ---------- shared SQL fragments (DuckDB dialect) ----------

  private def sqlSq(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      s"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"

  private def sqlSub(a: String, b: String): String =
    s"list_transform(list_zip($a, $b), " +
      s"p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"

  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  private def sqlCosDist(a: String, b: String): String =
    s"(1.0 - ${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  private def sqlCosSim(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  /** Zero-norm exclusion for raw-cosine candidate oracles — the twin of
    * [[operators.Dedup.embeddingNearDup]]'s `__norm > 0` gate (a zero
    * vector has no direction; under ANSI its 0/0 similarity would kill
    * the Spark job, so the engine excludes it from angular candidates
    * and the oracles must too — adversarial-data finding, r8). */
  private def sqlNormPos(x: String): String =
    s"${sqlDot(x, x)} > 0"

  /** Round to 4 decimals as `floor(x·10⁴ + 0.5)/10⁴` — the SAME double
    * operations the oracle runs (see [[sqlR4]]), so results are
    * bit-identical even on `.xxxx5` ties, where Spark's BigDecimal
    * HALF_UP and DuckDB's double-arithmetic `round` disagree. Also never
    * produces −0.0. */
  private def r4(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  /** Declared target mix for the drift monitor — ONE definition shared by
    * the Spark query and its oracle's VALUES list, so both engines compare
    * the exact same doubles (Scala's shortest-round-trip toString parses
    * back to identical bits in DuckDB). */
  private val driftTargets: Seq[(String, Double)] =
    (0 until 20).map(i => s"src$i" -> (if (i < 2) 0.1 else 0.8 / 18))

  private def sqlR4(e: String): String = s"floor(($e) * 10000.0 + 0.5) / 10000.0"

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
  private def sqlBinCode(v: String): String =
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
  private def sqlHamming(a: String, b: String): String =
    s"CASE WHEN len($a) = len($b) THEN " +
      s"CAST(list_sum(list_transform(list_zip($a, $b), " +
      s"p -> CAST(bit_count(xor(p[1], p[2])) AS BIGINT))) AS BIGINT) " +
      s"ELSE NULL END"

  /** Seeded ±1 JL-projection matrix (8 × 64) shared by `embed_project`
    * and its oracle — ONE Scala definition feeds both engines (the
    * literal-model rule), so every sign and the scale double are
    * identical bit-for-bit. */
  private val rpSignMatrix: Seq[Seq[Int]] =
    operators.VectorOps.rpSigns(seed = 7L, dIn = Dim, dOut = 8)
  private val rpScaleSql: String = (1.0 / math.sqrt(8.0)).toString

  /** MMR parameters shared by `knn_mmr` and its oracle. `MmrOneMinusLam`
    * is its own literal (not derived as `1 − lam` at use sites): the
    * greedy argmin compares doubles, so both engines must multiply by
    * the identical constant. */
  private val MmrLam = 0.5
  private val MmrOneMinusLam = 0.5

  /** The MMR greedy loop UNROLLED as generated SQL (the BPE-oracle
    * technique): a ≤`shortlist`-row candidate CTE, its pairwise
    * distance matrix, then one MATERIALIZED one-row CTE per selection
    * step — each step excludes the previous picks and orders by the
    * same `lam·dq − (1−lam)·min-dist-to-selected` objective the
    * expression evaluates, with the identical id tiebreak. */
  /** Tertile boundaries for `events_rfm` — ONE Scala definition feeds
    * both engines' percentile calls (shortest-round-trip toString
    * parses back to identical double bits in DuckDB). */
  private val RfmP1: Double = 1.0 / 3
  private val RfmP2: Double = 2.0 / 3

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

  /** The `events_markov` oracle: the power iteration UNROLLED as
    * `iters` chained MATERIALIZED CTE list folds (the BPE-oracle
    * technique). Every double op restates the Spark driver loop in
    * [[operators.Events.stationaryDistribution]] verbatim: exact-long
    * count/rowsum casts, `CAST(1.0 AS DOUBLE)/n` uniform fill (a bare
    * `1.0` would be DECIMAL — the literal-typing trap), and
    * `list_sum` over an ascending-i product list == the ascending fold
    * from 0.0 (0.0 + a == a for the non-negative terms here). */
  private def markovOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""x$k AS MATERIALIZED (SELECT list_transform(generate_series(1, len(x)), j ->
         |  list_sum(list_transform(generate_series(1, len(x)), i -> x[i] * p[i][j]))) AS x, p
         |  FROM x${k - 1})""".stripMargin
    }
    s"""WITH tr AS MATERIALIZED (SELECT event_type AS f,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
       |  FROM events WHERE user_id IS NOT NULL),
       |c AS MATERIALIZED (SELECT f, t, CAST(count(*) AS BIGINT) AS n
       |  FROM tr WHERE t IS NOT NULL GROUP BY f, t),
       |ty AS MATERIALIZED (SELECT t, CAST(row_number() OVER (ORDER BY t) AS INT) AS idx
       |  FROM (SELECT f AS t FROM c UNION SELECT t FROM c)),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS INT) AS n FROM ty),
       |rs AS MATERIALIZED (SELECT ti.idx AS i, CAST(coalesce(sum(c.n), 0) AS BIGINT) AS s
       |  FROM ty ti LEFT JOIN c ON c.f = ti.t GROUP BY ti.idx),
       |cell AS MATERIALIZED (SELECT ti.idx AS i, tj.idx AS j,
       |    CASE WHEN rs.s = 0 THEN CAST(1.0 AS DOUBLE) / CAST(nn.n AS DOUBLE)
       |         ELSE CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(rs.s AS DOUBLE) END AS v
       |  FROM ty ti CROSS JOIN ty tj CROSS JOIN nn
       |  JOIN rs ON rs.i = ti.idx
       |  LEFT JOIN c ON c.f = ti.t AND c.t = tj.t),
       |pm AS MATERIALIZED (SELECT list(rw ORDER BY i) AS p FROM
       |  (SELECT i, list(v ORDER BY j) AS rw FROM cell GROUP BY i)),
       |x0 AS MATERIALIZED (SELECT list_transform(generate_series(1, nn.n), i ->
       |    CAST(1.0 AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS x, pm.p AS p FROM nn, pm),
       |${steps.mkString(",\n")}
       |SELECT ty.t AS event_type, ${sqlR4(s"x[ty.idx]")} AS prob
       |FROM x$iters, ty ORDER BY event_type""".stripMargin
  }

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
  private def bpeTrainOracleSql(nMerges: Int, vocabCap: Int,
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
    s"""WITH tok AS (SELECT unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS token FROM documents),
       |tv AS MATERIALIZED (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY token
       |  ORDER BY tf DESC, token ASC LIMIT $vocabCap),
       |w0 AS MATERIALIZED (SELECT token, tf,
       |    $sep || array_to_string(string_split_regex(token, ''), $sep) || $sep AS seg
       |  FROM tv WHERE token <> '' AND strpos(token, $sep) = 0),
       |$steps
       |$fin""".stripMargin
  }

  private val stopAllScala: Seq[String] = TextOps.StopwordsByLang.flatMap(_._2).distinct
  private val stopAllSql: String = stopAllScala.map(w => s"'$w'").mkString("[", ",", "]")

  /** SimHash band layout shared with [[Dedup.simhashPairs]] (maxHamming=8
    * → 9 bands): the oracle derives its banding from the SAME layout, so
    * Spark and DuckDB generate identical candidate sets. */
  private val simhashLayout = Dedup.simhashBandLayout(9)
  private val simhashBandCount = simhashLayout.size
  private val simhashOffsetsSql = simhashLayout.map(_._1).mkString("[", ",", "]")
  private val simhashMasksSql =
    simhashLayout.map { case (_, w) => (1L << w) - 1 }.mkString("[", ",", "]")

  /** The perceptual-hash banding layout (64-bit grid-8 aHash, hamming
    * ≤ 2 → 3 bands), interpolated into the oracle like the simhash
    * arrays so both engines band identically. */
  private val phashLayout = Dedup.fingerprintBandLayout(64, 3)
  private val phashOffsetsSql = phashLayout.map(_._1).mkString("[", ",", "]")
  private val phashMasksSql =
    phashLayout.map { case (_, w) => (1L << w) - 1 }.mkString("[", ",", "]")

  /** Shared DuckDB CTE for the connected-component family: MinHash-LSH
    * verified pairs → symmetric edge list → recursive min-label
    * reachability (`reach(node, lab)`) — the oracle twin of
    * [[Dedup.minhashLsh]] + [[Dedup.duplicateGroups]]. Each consumer
    * (`dedup_groups` / `dedup_apply` / `dedup_best`) appends its own
    * final SELECT (and extra CTEs after a comma). */
  /** MinHash-LSH verified-pair CTEs (`toks` → `j`) — the oracle twin of
    * [[Dedup.minhashLsh]]; consumers append their own edge/reach CTEs. */
  private val sqlMinhashPairsCtes: String =
    """toks AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+') AS tk FROM documents)),
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
      |j AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.h1, b.h1)) AS DOUBLE) / len(list_distinct(a.h1 || b.h1)) >= 0.5)""".stripMargin

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

  /** The events_attribution_markov oracle: journey extraction with the
    * same window passes, then the removal dimension as a fanned matrix
    * frame — one (removal × state × state) dense probability grid,
    * `iters` matrix-vector steps as nested ascending list folds
    * (the [[operators.Events.markovRemovalEffects]] operand order). */
  private def markovRemovalOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""x$t AS MATERIALIZED (SELECT r, list_transform(generate_series(1, len(x)), j ->
         |    list_sum(list_transform(generate_series(1, len(x)), i -> x[i] * m[i][j]))) AS x, m
         |  FROM x${t - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN event_type = 'view' AND props IS NOT NULL AND json_valid(props)
       |         THEN CAST(json_extract(props, '$$.k') AS BIGINT) END AS camp
       |  FROM events WHERE user_id IS NOT NULL),
       |cum AS (SELECT user_id, ts, event_id, event_type, camp,
       |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_p
       |  FROM ev),
       |kept AS (SELECT user_id, ts, event_id,
       |    CASE WHEN event_type = 'purchase' THEN 'conv' ELSE 'c' || CAST(camp AS VARCHAR) END AS state
       |  FROM cum WHERE prior_p = 0 AND (event_type = 'purchase' OR (event_type = 'view' AND camp IS NOT NULL))),
       |sq AS (SELECT user_id, state,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ord,
       |    lead(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM kept),
       |tr AS (SELECT f, t FROM (
       |    SELECT state AS f, coalesce(nxt, CASE WHEN state = 'conv' THEN NULL ELSE 'drop' END) AS t FROM sq
       |    UNION ALL SELECT 'start', state FROM sq WHERE ord = 1)
       |  WHERE t IS NOT NULL),
       |cb AS (SELECT f, t, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY f, t),
       |sts AS (SELECT DISTINCT s FROM (SELECT f AS s FROM cb UNION ALL SELECT t FROM cb
       |  UNION ALL SELECT unnest(['start', 'conv', 'drop']))),
       |sl AS (SELECT list(s ORDER BY s) AS ss FROM sts),
       |rs AS (SELECT f, CAST(sum(c) AS BIGINT) AS rs FROM cb GROUP BY f),
       |rml AS (SELECT s AS r FROM sts WHERE s NOT IN ('start', 'conv', 'drop')
       |  UNION ALL SELECT '<none>'),
       |cr AS (SELECT rml.r AS r, cb.f AS f,
       |    CASE WHEN cb.t = rml.r THEN 'drop' ELSE cb.t END AS t,
       |    CAST(sum(cb.c) AS BIGINT) AS c
       |  FROM rml, cb GROUP BY 1, 2, 3),
       |grid AS (SELECT rml.r AS r, u.i AS i, v.j AS j, sl.ss AS ss
       |  FROM rml CROSS JOIN sl
       |  CROSS JOIN unnest(generate_series(1, len(sl.ss))) AS u(i)
       |  CROSS JOIN unnest(generate_series(1, len(sl.ss))) AS v(j)),
       |dn AS (SELECT g.r, g.i, g.j,
       |    CASE WHEN g.ss[g.i] IN ('conv', 'drop') OR rs.rs IS NULL
       |         THEN CASE WHEN g.i = g.j THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
       |         ELSE coalesce(CAST(cr.c AS DOUBLE), CAST(0.0 AS DOUBLE)) / CAST(rs.rs AS DOUBLE) END AS p
       |  FROM grid g
       |  LEFT JOIN rs ON rs.f = g.ss[g.i]
       |  LEFT JOIN cr ON cr.r = g.r AND cr.f = g.ss[g.i] AND cr.t = g.ss[g.j]),
       |rowl AS (SELECT r, i, list(p ORDER BY j) AS pr FROM dn GROUP BY r, i),
       |mat AS MATERIALIZED (SELECT r, list(pr ORDER BY i) AS m FROM rowl GROUP BY r),
       |x0 AS MATERIALIZED (SELECT mat.r AS r,
       |    list_transform(generate_series(1, len(sl.ss)), j ->
       |      CASE WHEN sl.ss[j] = 'start' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS x,
       |    mat.m AS m
       |  FROM mat, sl),
       |$steps,
       |cv AS (SELECT r, x[(SELECT list_position(ss, 'conv') FROM sl)] AS cp FROM x$iters),
       |bs AS (SELECT cp AS b FROM cv WHERE r = '<none>')
       |SELECT cv.r AS channel, ${sqlR4("bs.b")} AS conv_base,
       |  ${sqlR4("cv.cp")} AS conv_without,
       |  CASE WHEN bs.b > 0 THEN ${sqlR4("(bs.b - cv.cp) / bs.b")} ELSE NULL END AS removal_effect
       |FROM cv, bs WHERE cv.r <> '<none>' ORDER BY channel""".stripMargin
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

  /** Min-label reachability over a symmetric edge CTE `e` (consumer
    * supplies `e`); yields `reach(node, lab)`. */
  private val sqlCcReach: String =
    """reach(node, lab) AS (
      |  SELECT DISTINCT a, a FROM e
      |  UNION
      |  SELECT e.b, r.lab FROM reach r JOIN e ON e.a = r.node)""".stripMargin

  private val sqlCcCteBody: String =
    sqlMinhashPairsCtes + ",\n" +
      "e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM j UNION SELECT doc_id_b, doc_id_a FROM j),\n" +
      sqlCcReach

  private val sqlCcCte: String = "WITH RECURSIVE " + sqlCcCteBody

  /** BPE-apply oracle fragment — [[graft.operators.TextOps.BpeMerges]]
    * as literal VALUES plus the per-rank replace-to-fixpoint recursion
    * over the space-delimited symbol string (the `BpeApplyExpr` contract
    * over DuckDB's identical leftmost non-overlapping `replace`; ranks
    * advance only when a pass changes nothing, and every step either
    * advances the rank or strictly shortens the string, so the recursion
    * terminates). Yields `btok(source, token)` (raw token instances) and
    * `bseg(token, seg, n_sym)` (one row per distinct token). */
  private val sqlBpeSegCtes: String =
    s"""btok AS (SELECT source, unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS token FROM documents),
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

  /** Corpus-assembly oracle, front half (mirror of [[assembleFiltered]]):
    * exact-dedup keep set, tokenization, language vote, quality score,
    * and the `kept` gate. Shared by `corpus_assemble` and
    * `corpus_assemble_dedup` (which splices the CC drop set after it). */
  private val sqlAssembleKeptCtes: String =
    s"""keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
       |t AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents),
       |lang AS (SELECT doc_id, CASE WHEN coalesce(greatest(e, sp, f, d, z), 0) = 0 THEN 'und'
       |    WHEN e >= sp AND e >= f AND e >= d AND e >= z THEN 'en'
       |    WHEN sp >= f AND sp >= d AND sp >= z THEN 'es'
       |    WHEN f >= d AND f >= z THEN 'fr'
       |    WHEN d >= z THEN 'de' ELSE 'zh' END AS lang_pred
       |  FROM (SELECT doc_id,
       |    len(list_filter(tk, x -> list_contains(['the','a','of','to','and','is','in','it'], x))) AS e,
       |    len(list_filter(tk, x -> list_contains(['el','la','de','que','y','en','un','es'], x))) AS sp,
       |    len(list_filter(tk, x -> list_contains(['le','la','de','et','un','que','les','des'], x))) AS f,
       |    len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','ein','zu','den'], x))) AS d,
       |    len(list_filter(tk, x -> list_contains(['de','shi','bu','le','zai','ren','you','wo'], x))) AS z
       |    FROM t)),
       |qb AS (SELECT doc_id, tk, CAST(length(text) AS DOUBLE) AS nc,
       |    CAST(length(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct
       |  FROM documents JOIN t USING (doc_id)),
       |q AS (SELECT doc_id,
       |  least(1.0, greatest(0.0, 0.2
       |    + 0.5 * (CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, x -> list_contains($stopAllSql, x))) AS DOUBLE) / len(tk) ELSE 0.0 END)
       |    + 0.05 * (CASE WHEN len(tk) > 0 THEN list_sum(list_transform(tk, x -> CAST(length(x) AS DOUBLE))) / len(tk) ELSE 0.0 END)
       |    - (CASE WHEN nc > 0 THEN punct / nc ELSE 0.0 END))) AS quality
       |  FROM qb),
       |kept AS (SELECT k.doc_id FROM keep k
       |  JOIN lang l ON l.doc_id = k.doc_id
       |  JOIN q ON q.doc_id = k.doc_id
       |  WHERE l.lang_pred = 'en' AND q.quality >= 0.45)""".stripMargin

  /** DSIR oracle CTEs (mirror of [[graft.operators.Corpus.dsirWeights]]
    * with target = the 'src0' slice, 64 buckets): hashed-token bucket
    * models with add-1 smoothing, per-doc `w(doc_id, n_tokens, logw)`
    * with the r4-rounded importance log-weight. Shared by `corpus_dsir`
    * (global top-100) and `corpus_dsir_mix` (per-source quota). */
  private val sqlDsirCtes: String =
    s"""tok AS (SELECT doc_id, source, unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS t
       |  FROM documents),
       |hb AS (SELECT doc_id, source, list_reduce(list_transform(string_split_regex(substr(md5(t), 1, 14), ''),
       |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 64 AS b
       |  FROM tok),
       |rawc AS (SELECT b, count(*) AS cr FROM hb GROUP BY b),
       |tgtc AS (SELECT b, count(*) AS ct FROM hb WHERE source = 'src0' GROUP BY b),
       |tr AS (SELECT CAST(sum(cr) AS DOUBLE) AS t FROM rawc),
       |tt AS (SELECT CAST(sum(ct) AS DOUBLE) AS t FROM tgtc),
       |lam AS (SELECT rawc.b AS b,
       |    ln(((COALESCE(tgtc.ct, 0) + 1.0) / (tt.t + 64.0)) / ((rawc.cr + 1.0) / (tr.t + 64.0))) AS lw
       |  FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b, tr, tt),
       |db AS (SELECT doc_id, b, count(*) AS c FROM hb GROUP BY doc_id, b),
       |w AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    ${sqlR4("sum(c * lw)")} AS logw
       |  FROM db JOIN lam USING (b) GROUP BY doc_id)""".stripMargin

  /** Corpus-assembly oracle, back half (mirror of [[assemblePacked]]),
    * parameterized by the keep-set CTE it packs. */
  private def sqlAssembleTail(kept: String): String =
    s"""m AS (SELECT d.doc_id,
       |    list_reduce(list_transform(string_split_regex(substr(md5(d.text), 1, 8), ''),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS b,
       |    CAST(len(regexp_split_to_array(translate(trim(d.text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents d JOIN $kept USING (doc_id)),
       |s AS (SELECT doc_id, CASE WHEN b < 90 THEN 'train' ELSE 'val' END AS split,
       |    doc_id % 4 AS shard, n_tokens FROM m),
       |c AS (SELECT doc_id, split, shard,
       |    CAST(sum(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS strt
       |  FROM s)
       |SELECT doc_id, split, shard, strt // 512 AS pack_id, strt % 512 AS tok_offset
       |FROM c ORDER BY doc_id""".stripMargin

  /** Per-kept-doc TRAINED-BPE token counts — `adn(doc_id, n_tokens)`,
    * pack_bpe's per-token segmentation replay summed per doc. Requires
    * `bseg` ([[sqlBpeSegCtes]]) in scope; consumers LEFT JOIN and
    * coalesce to 0 (see [[sqlAssembleBpeTail]]'s reachability note).
    * Shared by the two BPE assemble tails and the release manifest. */
  private def sqlBpeDocCounts(kept: String): String =
    s"""abdoc AS (SELECT d.doc_id, unnest(regexp_split_to_array(translate(trim(d.text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS token
       |  FROM documents d JOIN $kept USING (doc_id)),
       |adn AS (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tokens
       |  FROM abdoc JOIN bseg USING (token) WHERE token <> '' GROUP BY doc_id)""".stripMargin

  /** Corpus-assembly oracle, BPE back half (mirror of [[assemblePacked]]
    * on `n_tokens_bpe`), parameterized by the keep-set CTE it packs —
    * shared by `corpus_assemble_bpe` (keep = `kept`) and
    * `corpus_assemble_dedup_bpe` (keep = `kept2`, the near-dup drop
    * spliced in). Requires `bseg` ([[sqlBpeSegCtes]]) in scope: pack
    * budgets are pack_bpe's per-token segmentation replay summed per
    * kept doc. The `adn` leg is a LEFT JOIN with coalesce-to-0 so a
    * kept doc whose tokens are ALL empty keeps its Spark-side
    * `n_tokens_bpe = 0` instead of dropping out of the pack — currently
    * unreachable (the lang/quality gate requires real tokens), but the
    * oracle must not encode that reachability argument. */
  private def sqlAssembleBpeTail(kept: String): String =
    s"""${sqlBpeDocCounts(kept)},
       |m AS (SELECT d.doc_id,
       |    list_reduce(list_transform(string_split_regex(substr(md5(d.text), 1, 8), ''),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS b,
       |    coalesce(adn.n_tokens, 0) AS n_tokens
       |  FROM documents d JOIN $kept USING (doc_id) LEFT JOIN adn ON adn.doc_id = d.doc_id),
       |s AS (SELECT doc_id, CASE WHEN b < 90 THEN 'train' ELSE 'val' END AS split,
       |    doc_id % 4 AS shard, n_tokens FROM m),
       |c AS (SELECT doc_id, split, shard,
       |    CAST(sum(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS strt
       |  FROM s)
       |SELECT doc_id, split, shard, strt // 512 AS pack_id, strt % 512 AS tok_offset
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------- Spark-side helpers ----------

  private def emb(s: SparkSession, dir: String): DataFrame = Records.table(s, dir, "embeddings")
  private def docs(s: SparkSession, dir: String): DataFrame = Records.table(s, dir, "documents")
  /** The documents table, spread across the parallelism floor ONLY when
    * the scan itself is narrow ([[Caching.spreadIfNarrow]]) — the
    * CPU-heavy text queries' input. At gate SFs the table is one parquet
    * file (one split), so the spread fires and every core tokenizes; at
    * warehouse scale the scan arrives in thousands of splits and this is
    * the IDENTITY — no Exchange, text never shuffles (pinned in
    * PlanShapeSpec: chunkText over an already-parallel input plans zero
    * hash-partition exchanges). */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    Caching.spreadIfNarrow(docs(s, dir), col("doc_id"))
  /** events.parquet's physical `ts` encoding has varied across testdata
    * generations (raw int64 nanos vs native TIMESTAMP micros);
    * [[graft.streaming.EventStream.loadEvents]] is the single
    * footer-driven decoder both batch and stream readers share. */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.loadEvents(s, dir)
  private def recs(s: SparkSession, dir: String): DataFrame = Records.fromEmbeddings(s, dir)

  /** The event-type TRANSITION-COUNT matrix `(from_type, to_type, n)` —
    * the fitted Markov model of the event log, memoized per
    * (session, dir) with the [[lmModel]]/[[nbModelOf]] checkpoint
    * discipline (r15, granted by the r14 verdict): a production session
    * fits the chain ONCE per log version, and the matrix is
    * vocabulary²-bounded (tiny), so each of its THREE consumers —
    * `events_conversion_matrix` (shares), `events_markov` (stationary
    * distribution) and `events_markov_acc` (argmax predictor + scoring)
    * — re-running the full per-user lead window + aggregation per pass
    * was pure recompute of a converged result. Counting stays
    * distributed (one window + one map-side-combinable aggregate, here
    * once per session); consumers do driver math or tiny-frame joins.
    * Session-scoped only: every bench/verify JVM recomputes from
    * parquet. */
  private val typeTransitionsCache = new SessionMemo[String, DataFrame]
  private def typeTransitions(s: SparkSession, dir: String): DataFrame =
    typeTransitionsCache(s, dir)(Caching.truncate(
      operators.Events.transitionCounts(events(s, dir)), eager = true))

  /** DSIR importance weights over the corpus vs the src0 target,
    * memoized per (session, dir) — the fit-once lifecycle: production
    * fits the hashed-ngram ratio model once per (corpus, target) pair
    * and every sampling/mixing pass reads the weights. Shared by
    * `corpus_dsir` (global top-k) and `corpus_dsir_mix` (per-source
    * quota), which previously each paid the token explode. */
  private val dsirWeightsCache = new SessionMemo[String, DataFrame]
  private def dsirWeightsMemo(s: SparkSession, dir: String): DataFrame =
    Caching.ensureCached(dsirWeightsCache(s, dir) {
      val d = docsSpread(s, dir)
      graft.operators.Corpus.dsirWeights(
        d, d.where(col("source") === "src0").select(col("text")), nBuckets = 64)
    })

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
  private def qvec0(s: SparkSession, dir: String): DataFrame =
    recs(s, dir).where(col("id") === 0).select(col("embedding").as("qvec"))

  private def knnOut(res: DataFrame): DataFrame =
    res.select(col("id").as("vec_id"), r4(col("distance")).as("distance"))

  /** Fixed, fully deterministic centroids (records 0..7) for the
    * oracle-checked IVF queries; the seeded-kmeans build path is exercised
    * in ScalaTest (approximate results are not hash-comparable). */
  private def fixedCentroids(s: SparkSession, dir: String): DataFrame =
    recs(s, dir).where(col("id") < 8)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))

  /** The fixed-centroid index model, memoized per (session, dir, metric)
    * with the assignment persisted — the same argument that justifies
    * [[IvfIndex.buildCached]]: the reference holds ONE index and serves
    * every query from it (`src/cores/database.rs:70-76`); re-deriving the
    * assignment per query is a batch-harness artifact, and the assignment
    * is deterministic, so results are identical either way. */
  // `ensureCached` on every access re-persists a frame whose blocks were
  // dropped by an intervening `clearCache()` (the bench's between-family
  // hygiene).
  private val fixedModelCache = new SessionMemo[(String, String), DataFrame]
  private def fixedModel(s: SparkSession, dir: String, metric: Metric): IvfIndex.Model = {
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
    * are identical either way; checkpoint backing survives the bench's
    * between-family clearCache. */
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
        density = 64, Metric.Euclidean, maxRounds = 12)
      IvfIndex.Model(Caching.truncate(m.centroids, eager = true),
        Caching.truncate(m.assigned, eager = true))
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
    * refined assignment eagerly checkpoint-backed — the same
    * memoize-converged-results argument as [[balancedModel]]: refine is
    * a deterministic build step a production session runs once per
    * corpus version, and `ivf_refine_stats` only AGGREGATES its result.
    * History of this query's cost: r10 regressed 1.5 → 3.9 s when a
    * warmup-lane rebalance exposed refine()'s eager members-cache
    * unpersist (the after-stats legs recomputed the oversized-members
    * semi-join); routing through refineKeepCache cut it to 1.4 s, and
    * memoizing the converged model removes the per-pass Lloyd-chain
    * re-execution entirely. The members cache is unpersisted here —
    * the checkpoint holds the materialized result. */
  private val refinedFixedModelCache =
    new SessionMemo[String, (IvfIndex.Model, IvfIndex.Model)]
  private def refinedFixedModel(
      s: SparkSession, dir: String): (IvfIndex.Model, IvfIndex.Model) =
    refinedFixedModelCache(s, dir) {
      val c = fixedCentroids(s, dir).where(col("cluster_id") < 4)
      val model = IvfIndex.Model(c,
        Caching.ensureCached(IvfIndex.assign(recs(s, dir), c, Metric.Euclidean)))
      val refined = IvfIndex.refineKeepCache(model, density = 100,
          Metric.Euclidean) match {
        case None => model
        case Some((m, members)) =>
          val checkpointed = IvfIndex.Model(Caching.truncate(m.centroids, eager = true),
            Caching.truncate(m.assigned, eager = true))
          members.unpersist()
          checkpointed
      }
      (model, refined)
    }

  /** Corpus char-trigram LM model, memoized per (session, dir) — the
    * session-lifecycle-state pattern of [[fixedModel]]: a production
    * pipeline fits the quality model ONCE per corpus version and every
    * scoring pass reads it; rebuilding the (charset³-bounded) count
    * table per query is a batch-harness artifact. Persisted because the
    * scorer broadcasts it on every materialization. */
  private val lmModelCache = new SessionMemo[String, DataFrame]
  private def lmModel(s: SparkSession, dir: String): DataFrame = {
    // checkpoint-backed (r14), same argument as [[nbModelOf]]: fitted
    // charset³-bounded model, explicitly broadcast by the scorer
    lmModelCache(s, dir)(
      Caching.truncate(TextOps.charLmModel(docs(s, dir), col("text")), eager = true))
  }

  /** Trained NB language model (char-trigram multinomial,
    * [[TextOps.nbCharGramModel]]) fit ONCE per (session, dir) on the
    * content-hash train split — the same fit-once-score-many lifecycle
    * as [[lmModel]]; both model frames are charset³×|langs|-bounded and
    * persist because the scorer broadcasts them per materialization. */
  private val nbModelCache = new SessionMemo[(String, String), TextOps.NbModel]
  private def nbModelOf(s: SparkSession, dir: String, tag: String)(
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
  private def nbHeldScoresOf(s: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame = {
    // checkpoint-backed (r14), same argument as [[nbModelOf]]: the score
    // frame is the converged shared prefix of three consumers; the frame
    // is |held docs|×|labels| rows of (long, string, long) — bounded.
    nbHeldScoresCache(s, (dir, tag))(Caching.truncate(build, eager = true))
  }
  private def nbHeldScores(s: SparkSession, dir: String): DataFrame =
    nbHeldScoresOf(s, dir, "lang")(
      TextOps.nbScoreAll(
        graft.operators.Corpus.assignSplit(docs(s, dir), col("text"))
          .where(col("split") =!= "train"),
        col("text"), nbLangModel(s, dir)))

  /** Held-out NB predictions joined with declared labels — shared by
    * `text_nb_langid` (per-doc) and `text_nb_confusion` (rollup). */
  private def nbScored(s: SparkSession, dir: String): DataFrame = {
    val held = graft.operators.Corpus.assignSplit(docs(s, dir), col("text"))
      .where(col("split") =!= "train")
    TextOps.nbClassifyFromScores(nbHeldScores(s, dir))
      .join(held.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        col("pred_label").as("pred_lang"), col("score"))
  }

  /** The STANDING word-8-gram index over the split-assigned corpus,
    * memoized per (session, dir) and checkpoint-backed — one row per
    * distinct (split, doc_id, gram hash), plus an `h IS NULL` row for
    * docs shorter than 8 tokens (so the frame still enumerates every
    * document). All four decontamination-family queries
    * (`corpus_decontaminate`, `_bloom`, `corpus_contamination_report`,
    * `corpus_novelty`) slice it by split instead of each re-running the
    * tokenize + shingle + hash + distinct over ~90% of the corpus —
    * the memoize-converged-results rule applied to the gram frame. At
    * 100 TB this IS the design, not a harness shortcut: the deduplicated
    * gram table is built once per corpus version, written next to the
    * corpus, and semi-joined by every batch
    * ([[operators.Corpus.gramIndex]]). */
  private val splitGramsCache = new SessionMemo[(String, Int), DataFrame]
  private def splitGrams(s: SparkSession, dir: String, n: Int): DataFrame =
    splitGramsCache(s, (dir, n))(Caching.truncate(
      graft.operators.Corpus.assignSplit(docsSpread(s, dir), col("text"))
        .select(col("split"), col("doc_id"), explode_outer(
          TextOps.shingleHashes(
            TextOps.shinglesFromTokens(TextOps.tokens(col("text")), n))).as("h"))
        .distinct(), eager = true))
  private def splitGrams8(s: SparkSession, dir: String): DataFrame =
    splitGrams(s, dir, 8)
  /** One split's gram rows from [[splitGrams]] (gram-less docs' null
    * rows dropped — the FromGrams consumers count gram rows). */
  private def splitGramRows(s: SparkSession, dir: String, split: String,
      n: Int = 8): DataFrame =
    splitGrams(s, dir, n)
      .where(col("split") === split && col("h").isNotNull)
      .select(col("doc_id"), col("h"))

  /** Memoized `(id, cand_id, d)` squared-L2 pair distances over the
    * blocked frame — the converged RESULT three consumers reduce over
    * (`ann_self_join`, `embed_triplets`, `embed_knn_accuracy`), so per
    * the memoize-results-never-pipelines rule it is checkpoint-backed
    * and computed once per (session, corpus): each consumer then pays
    * only its own reduction, not the candidate distance pass. */
  private val blockedPairsCache = new SessionMemo[String, DataFrame]
  private def blockedSqPairs(s: SparkSession, dir: String): DataFrame =
    blockedPairsCache(s, dir)(Caching.truncate(
      Knn.pairDistances(top2Blocked(s, dir), Metric.Euclidean), eager = true))

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

  /** Embeddings blocked on their TWO nearest fixed clusters (each vector
    * appears under cluster_id and, when present, cluster_id2) — the
    * shared candidate-generation layout for [[Dedup.embeddingNearDup]],
    * [[Knn.selfJoinNN]], and the semantic-dedup composition. */
  private val top2BlockedCache = new SessionMemo[String, DataFrame]
  private def top2Blocked(s: SparkSession, dir: String): DataFrame = {
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

  /** Fixed product-quantization codebooks (records 0..15's subvectors,
    * m=4 × dsub=16 over the 64-dim embeddings), packed for broadcast —
    * deterministic, so encode and ADC search are oracle-exact. */
  private def pqFixedBooks(s: SparkSession, dir: String): DataFrame =
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
  private def pqRotatedBooks(s: SparkSession, dir: String): DataFrame =
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
  private val sqlOpqW: String =
    operators.VectorOps.OpqDirection.map(_.toInt).mkString("[", ", ", "]")
  private val sqlOpqWw: String =
    s"${operators.VectorOps.OpqDirection.map(x => x * x).sum.toInt}.0"

  /** One CONTENT-HASH projection per (session, corpus) — `(doc_id,
    * source, __nc, __h56 DECIMAL(20,0), __sha)` — shared by every
    * whole-corpus digest consumer: `corpus_checksum` (56-bit md5 sum),
    * `corpus_funnel` (sha-256 distinct + raw count), `dedup_exact`
    * (sha-256 groupBy). At 100 TB the content hashes are MAINTAINED
    * columns written once at ingest; three queries each re-digesting
    * the full text column was pure recompute (r11: checksum 3.0 s +
    * funnel 1.4 s both paid the md5/sha scan the dedup lanes had
    * already paid). Checkpoint-backed so the bench's family-boundary
    * clearCache can't force a re-digest. */
  private val hashedDocsCache = new SessionMemo[String, DataFrame]
  private def hashedDocsMemo(s: SparkSession, dir: String): DataFrame =
    hashedDocsCache(s, dir)(Caching.truncate(
      docsSpread(s, dir)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("__nc"),
          conv(substr(md5(col("text")), lit(1), lit(14)), 16, 10)
            .cast("decimal(20,0)").as("__h56"),
          sha2(col("text"), 256).as("__sha")), eager = true))

  /** The corpus-assembly front half: one tokenize pass computing hash /
    * split bucket / token count / language / quality, exact dedup
    * collapsed into the groupBy, then the lang+quality gate. Memoized
    * per (session, dir) and checkpoint-backed — THREE queries consume it
    * (`corpus_assemble`, `corpus_assemble_dedup`, `corpus_funnel`), and
    * in production the verdict columns are maintained table state
    * (written by the ingest gate), not a per-query tokenize. */
  private val assembleFilteredCache = new SessionMemo[String, DataFrame]
  private[graft] def assembleFiltered(s: SparkSession, dir: String): DataFrame =
    assembleFilteredCache(s, dir)(Caching.truncate(assembleFilteredDag(s, dir), eager = true))

  /** The assemble front half as a PLAN (un-memoized — [[assembleFiltered]]
    * checkpoints it once per (session, dir)): ONE tokenize pass computes
    * every verdict column — hash, split bucket, whitespace token count,
    * TRAINED-BPE token count (`n_tokens_bpe`, the [[TextOps
    * .bpeTokenCountFromTokens]] map-only kernel riding the same pass),
    * language, quality — then dedup collapses into the groupBy.
    * `private[graft]` so PlanShapeSpec can pin the un-checkpointed shape
    * (no joins; the budget kernel fused into the scan-side projection). */
  private[graft] def assembleFilteredDag(s: SparkSession, dir: String): DataFrame =
    docsSpread(s, dir)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__stats", TextOps.tokenStats(col("__toks")))
      .select(col("doc_id"), sha2(col("text"), 256).as("__h"),
        pmod(graft.operators.Corpus.contentHash32(col("text")), lit(100L)).as("__b"),
        size(col("__toks")).cast("long").as("n_tokens"),
        TextOps.bpeTokenCountFromTokens(col("__toks")).as("n_tokens_bpe"),
        TextOps.langFromVotes(col("__stats.votes")).as("__lang"),
        TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats")).as("__q"))
      .groupBy(col("__h"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("__b")).as("__b"),
        min(col("n_tokens")).as("n_tokens"),
        min(col("n_tokens_bpe")).as("n_tokens_bpe"),
        min(col("__lang")).as("__lang"), min(col("__q")).as("__q"))
      .where(col("__lang") === "en" && col("__q") >= 0.45)

  /** The corpus-assembly back half: deterministic split, shard-parallel
    * running-total packing windows, final (pack_id, tok_offset) layout.
    * `tokCol` picks the packing budget column — whitespace `n_tokens`
    * (`corpus_assemble`) or the trained-tokenizer `n_tokens_bpe`
    * (`corpus_assemble_bpe`); the window arithmetic is identical.
    *
    * `shards` sets the packing parallelism, and it is the SCALE knob:
    * each (split, shard) running-sum window is one sequential pass (a
    * sort bounded by that shard's rows), so the shard count is the pack
    * stage's maximum parallelism AND its per-task memory bound — size
    * it so corpus_rows / shards fits one task, exactly like
    * [[graft.operators.Corpus.pack]]'s `nShards` (a 100 TB pack job
    * wants thousands; the gate fixture keeps the default 4 because the
    * oracles replay `doc_id % 4` literally). Packing is deterministic
    * at ANY shard count and the kept-doc set is shard-invariant; only
    * which pack a doc lands in differs (shards pack independently) —
    * spec-pinned in CorpusSpec at shards=8. */
  private[graft] def assemblePacked(
      base: DataFrame, tokCol: String = "n_tokens", shards: Long = 4L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("split"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    base
      .withColumn("split", when(col("__b") < 90, lit("train")).otherwise(lit("val")))
      .withColumn("shard", pmod(col("doc_id"), lit(shards)))
      .withColumn("__start", sum(col(tokCol)).over(w) - col(tokCol))
      .select(col("doc_id"), col("split"), col("shard"),
        expr("__start div 512").as("pack_id"), (col("__start") % 512).as("tok_offset"))
      .orderBy("doc_id")
  }

  /** The verified MinHash pair list, memoized per (session, dir) and
    * checkpoint-backed: BOTH group maps ([[cappedGroups]] single-signal,
    * [[multiGroups]] multi-signal) consume the identical signal, and the
    * catalog clear at the end of each group-map build would otherwise
    * force the second build to re-run the whole LSH pipeline (~3 s at
    * sf0.1). The materialized frame is bounded by the duplicate subset,
    * not the corpus, so holding it for the session is cheap at any SF. */
  private val minhashPairsCache = new SessionMemo[String, DataFrame]
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
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

  /** The keyed count frame the Count-Min queries sketch: events per
    * non-NULL user (a NULL key has no hashable identity — excluded on
    * both engines, the null-keys-out-of-content-keyed-paths convention). */
  private def cmUserCounts(s: SparkSession, dir: String): DataFrame =
    events(s, dir).where(col("user_id").isNotNull)
      .groupBy(col("user_id").cast("long").as("key"))
      .agg(count(lit(1)).as("n"))

  /** Oracle twin of [[cmUserCounts]] + [[operators.Events.cmSketch]] /
    * [[operators.Events.cmEstimates]]: the hash-row coefficients arrive
    * as a VALUES list from the SAME Scala constants
    * ([[operators.Events.CmHashes]], the literal-model rule), and the
    * cell index spells out pmod explicitly (`%` keeps the dividend's
    * sign on both engines, so the double-mod must be parenthesized
    * identically). */
  private val sqlCmHashRows: String = operators.Events.CmHashes.zipWithIndex
    .map { case ((a, b), r) => s"($r, ${a}::BIGINT, ${b}::BIGINT)" }
    .mkString(", ")

  private val sqlCmCtes: String = {
    val hashRows = sqlCmHashRows
    val p = operators.Events.CmPrime
    s"""u AS (SELECT CAST(user_id AS BIGINT) AS key, CAST(count(*) AS BIGINT) AS n
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |h(r, a, b) AS (SELECT * FROM (VALUES $hashRows) v(r, a, b)),
       |cells AS (SELECT u.key, u.n, h.r,
       |    ((((h.a * (((u.key % $p) + $p) % $p) + h.b) % $p) + $p) % $p) % 64 AS cell
       |  FROM u CROSS JOIN h),
       |sk AS (SELECT r, cell, CAST(sum(n) AS BIGINT) AS cell_n
       |  FROM cells GROUP BY r, cell),
       |est AS (SELECT c.key, CAST(max(c.n) AS BIGINT) AS n_true,
       |    CAST(min(sk.cell_n) AS BIGINT) AS n_est
       |  FROM cells c JOIN sk ON c.r = sk.r AND c.cell = sk.cell
       |  GROUP BY c.key)""".stripMargin
  }

  /** Linear-counting oracle tail (twin of [[operators.Events.lcCell]] +
    * [[operators.Events.lcEstimates]]): consumers supply a `kk(grp, key)`
    * CTE; this appends the affine→xor-fold→affine cell hash, the
    * occupied-cell census, the exact distinct, and the estimate
    * `−k·ln(z/k)` on the RAW double (r4 at the surface only) — ONE
    * restatement of the estimator arithmetic for all LC queries. */
  private def sqlLcCtes(k: Int): String = {
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
  private def perturbStore(df: DataFrame, idCol: String): DataFrame =
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
  private def diffNewStore(s: SparkSession, old: DataFrame): DataFrame = {
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

  /** The ExactSubstr window-hash census at the library's pinned
    * 10-token window, memoized per (session, dir) and checkpoint-backed
    * — the same once-per-corpus-version argument as [[minhashPairs]]:
    * the span REPORT and the scrub APPLY both consume this frame, and
    * it is bounded by the flagged-doc subset, not the corpus. */
  private val substringSpansCache = new SessionMemo[String, DataFrame]
  private def substringSpans10(s: SparkSession, dir: String): DataFrame =
    substringSpansCache(s, dir)(
      Caching.truncate(Dedup.substringSpans(docs(s, dir), windowTokens = 10), eager = true))

  /** Bench-lane coordination: the group-map builders end with a global
    * `clearCache()` (the LSH pipeline's dead persisted intermediates
    * measurably slow the NEXT query via cache/GC pressure). During the
    * bench's PARALLEL warmup lanes that global clear would evict a
    * concurrent lane's live frames mid-job — bounded and correctness-
    * neutral (ensureCached re-persists) but it jitters the per-lane
    * timings — so the bench sets this flag around the lanes and issues
    * ONE clear after they join. Sequential callers (Verify, the driver)
    * keep the per-builder clear. */
  private[graft] val deferBuilderCacheClear =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private def builderCacheClear(s: SparkSession): Unit =
    if (!deferBuilderCacheClear.get()) s.catalog.clearCache()

  /** The capped-LSH duplicate-group map, memoized per (session, dir) —
    * the dedup twin of [[fixedModel]]: a pipeline computes the keep/drop
    * map ONCE per corpus version and every consumer (the group listing,
    * the applied filter) reads the same map. [[Dedup.duplicateGroups]]
    * is eager, so the memo holds an already-converged label table backed
    * by a checkpointed RDD; recomputing it per query is a batch-harness
    * artifact — results are identical (deterministic pipeline). */
  private val dedupGroupsCache = new SessionMemo[String, DataFrame]
  private def cappedGroups(s: SparkSession, dir: String): DataFrame =
    dedupGroupsCache(s, dir) {
      val groups = Dedup.duplicateGroups(minhashPairs(s, dir))
      // the converged label table is checkpoint-backed; the LSH
      // pipeline's persisted intermediates are dead weight once the
      // fixed point is reached (measured: their residency slowed the
      // NEXT unrelated query 4× via cache/GC pressure). Catalog-level
      // clear only touches CacheManager entries — consumers re-persist
      // on demand (Caching.ensureCached), the memoized frame survives.
      builderCacheClear(s)
      groups
    }

  /** MULTI-SIGNAL duplicate-group map: MinHash-LSH ∪ SimHash pair sets
    * fed into one connected-component pass — production dedup runs
    * several cheap signals and unions their verdicts (each signal has
    * blind spots: MinHash misses low-Jaccard paraphrase, SimHash misses
    * long-doc partial overlap). Same memoized lifecycle as
    * [[cappedGroups]]. */
  private val multiGroupsCache = new SessionMemo[String, DataFrame]
  private def multiGroups(s: SparkSession, dir: String): DataFrame =
    multiGroupsCache(s, dir) {
      val sh = Dedup.simhashPairs(docs(s, dir), maxHamming = 8,
        maxBucket = Dedup.DefaultPipelineMaxBucket)
        .select(col("doc_id_a"), col("doc_id_b"))
      // INCREMENTAL over the memoized MinHash map: contract the SimHash
      // pairs through [[cappedGroups]] and converge only the rep-graph
      // (law: equals duplicateGroups(mh ∪ sh) — DedupSpec) instead of
      // re-running label propagation over the MinHash edge set the
      // session already converged.
      val groups = Caching.truncate(
        Dedup.extendGroups(cappedGroups(s, dir), sh), eager = true)
      builderCacheClear(s) // same lifecycle as [[cappedGroups]]
      groups
    }

  /** The SEMANTIC duplicate-group map, memoized per (session, dir) — the
    * embedding-space twin of [[cappedGroups]], with the same lifecycle
    * argument: a pipeline computes the keep/drop map ONCE per corpus
    * version and every consumer reads that map. [[Dedup.duplicateGroups]]
    * is eager, so the memo holds the converged label table. */
  private val semanticGroupsCache = new SessionMemo[String, DataFrame]
  private def semanticGroups(s: SparkSession, dir: String): DataFrame =
    semanticGroupsCache(s, dir) {
      val groups = Dedup.duplicateGroups(
        Dedup.embeddingNearDup(top2Blocked(s, dir), threshold = 0.2)
          .select(col("id_a"), col("id_b")).distinct(),
        srcCol = "id_a", dstCol = "id_b")
      builderCacheClear(s) // same lifecycle as [[cappedGroups]]
      groups
    }

  /** The perceptual-hash duplicate-group map (media_id, rep_id),
    * memoized per (session, dir) with the converged label table
    * checkpoint-backed — the image-space twin of [[cappedGroups]], same
    * lifecycle: decode + grid-8 aHash + banded pairs + CC is a build a
    * pipeline runs once per corpus version. [[Dedup.duplicateGroups]]
    * materializes eagerly, so the memo holds the fixed point. */
  private val mediaGroupsCache = new SessionMemo[String, DataFrame]
  private def mediaPhashGroups(s: SparkSession, dir: String): DataFrame =
    mediaGroupsCache(s, dir) {
      val hashed = Multimodal.perceptualHash(
        Multimodal.codecMedia(docs(s, dir)).where(col("kind") === "image"),
        grid = 8)
      val pairs = graft.operators.Dedup.fingerprintPairs(hashed,
        "media_id", "ahash", bits = 64, maxHamming = 2,
        maxBucket = graft.operators.Dedup.DefaultPipelineMaxBucket)
      val groups = graft.operators.Dedup.duplicateGroups(pairs,
          srcCol = "id_a", dstCol = "id_b")
        .select(col("doc_id").as("media_id"), col("rep_id"))
      builderCacheClear(s) // same lifecycle as [[cappedGroups]]
      groups
    }

  /** The derived SCD2 change log shared by `snapshot_scd2` and
    * `snapshot_time_travel` (and mirrored verbatim in their oracles):
    * for every store id < 60 — a v1 upsert at seq 1; a delete at seq 2
    * for id%3=0; a v2 rewrite at seq 2 for id%3=1; a v3 upsert at seq 3
    * for id%4=0 (reviving the id%12=0 deletes). Derived from the store's
    * own ids, so it exists at every scale factor; upserts carry the
    * record's real embedding (vector immutability is [[Crud.merge]]'s
    * caller contract, not re-checked here). */
  private def scd2Log(s: SparkSession, dir: String): DataFrame = {
    val b = recs(s, dir).where(col("id") < 60)
    def up(pred: Column, seqv: Long, lab: String) = b.where(pred)
      .select(col("id"), lit("upsert").as("op"), lit(seqv).as("seq"),
        col("embedding"), lit(lab).as("lab"))
    def del(pred: Column, seqv: Long) = b.where(pred)
      .select(col("id"), lit("delete").as("op"), lit(seqv).as("seq"),
        lit(null).cast("array<float>").as("embedding"),
        lit(null).cast("string").as("lab"))
    up(lit(true), 1L, "v1")
      .unionByName(del(col("id") % 3 === 0, 2L))
      .unionByName(up(col("id") % 3 === 1, 2L, "v2"))
      .unionByName(up(col("id") % 4 === 0, 3L, "v3"))
  }

  /** Epoch-plan mix declaration shared by `corpus_epoch_plan` and its
    * oracle — one Scala literal feeds both engines (the literal-model
    * rule), so `budget · weight` multiplies identical doubles on both
    * sides. src2/src4 etc. are deliberately unlisted: present-but-
    * unweighted sources must surface with weight 0, not vanish. */
  private val epochPlanWeights: Map[String, Double] =
    Map("src0" -> 0.3, "src1" -> 0.25, "src3" -> 0.2, "src5" -> 0.15,
      "src7" -> 0.1)
  private val epochPlanBudget: Long = 100000L

  /** The scd2Log replayed in DuckDB — ONE definition string shared by
    * both snapshot_scd2 and snapshot_time_travel oracles. */
  private val scd2LogSql: String =
    """log AS (
      |  SELECT vec_id AS id, 'upsert' AS op, 1 AS seq, 'v1' AS lab
      |    FROM embeddings WHERE vec_id < 60
      |  UNION ALL SELECT vec_id, 'delete', 2, NULL
      |    FROM embeddings WHERE vec_id < 60 AND vec_id % 3 = 0
      |  UNION ALL SELECT vec_id, 'upsert', 2, 'v2'
      |    FROM embeddings WHERE vec_id < 60 AND vec_id % 3 = 1
      |  UNION ALL SELECT vec_id, 'upsert', 3, 'v3'
      |    FROM embeddings WHERE vec_id < 60 AND vec_id % 4 = 0)""".stripMargin

  // ---------- query implementations ----------

  /** Quality-score + Gopher-flag CTE block (`b` → `m` → `d`, with
    * `d(source, qq, gp)`) shared by the `corpus_source_quality` and
    * `corpus_quality_calibration` oracles — ONE restatement of the
    * scoring arithmetic, two consumers. */
  private def sqlQualityGopherCtes: String =
    s"""b AS (SELECT source, text, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk,
         |    string_split(text, chr(10)) AS ls,
         |    CAST(length(text) AS DOUBLE) AS nc,
         |    CAST(length(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct
         |  FROM documents),
         |m AS (SELECT source,
         |  CASE WHEN nc > 0 THEN punct / nc ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, x -> list_contains($stopAllSql, x))) AS DOUBLE) / len(tk) ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN len(tk) > 0 THEN list_sum(list_transform(tk, x -> CAST(length(x) AS DOUBLE))) / len(tk) ELSE 0.0 END AS avg_len,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CAST(coalesce(list_sum(list_transform(tk, x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS len_sum,
         |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
         |  CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
         |  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
         |  CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len(list_filter(ls, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS BIGINT) AS n_bullet,
         |  CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS BIGINT) AS n_ellend,
         |  CAST(len(list_intersect(tk, ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
         |  FROM b),
         |d AS (SELECT source,
         |  CAST(floor(least(1.0, greatest(0.0, 0.2 + 0.5 * stop_ratio + 0.05 * avg_len - punct_ratio)) * 10000.0 + 0.5) AS BIGINT) AS qq,
         |  (n_words >= 50 AND n_words <= 100000
         |    AND (CASE WHEN n_words > 0 THEN CAST(len_sum AS DOUBLE) / n_words ELSE 0.0 END) >= 3.0
         |    AND (CASE WHEN n_words > 0 THEN CAST(len_sum AS DOUBLE) / n_words ELSE 0.0 END) <= 10.0
         |    AND (CASE WHEN n_words > 0 THEN CAST(n_hash + n_ell AS DOUBLE) / n_words ELSE 0.0 END) <= 0.1
         |    AND (CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE) / n_lines ELSE 0.0 END) <= 0.9
         |    AND (CASE WHEN n_lines > 0 THEN CAST(n_ellend AS DOUBLE) / n_lines ELSE 0.0 END) <= 0.3
         |    AND (CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END) >= 0.8
         |    AND stop_hits >= 2) AS gp
         |  FROM m)""".stripMargin

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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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
    "label_centroids" -> ((s, dir) => {
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

    "knn_euclidean" -> ((s, dir) =>
      knnOut(Knn.search(recs(s, dir), qvec0(s, dir), 10, Metric.Euclidean))),

    // O1,O2,O21 — exact top-k, cosine distance (reference metric.rs:30-31)
    "knn_cosine" -> ((s, dir) =>
      knnOut(Knn.search(recs(s, dir), qvec0(s, dir), 10, Metric.Cosine))),

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
    "knn_mips" -> ((s, dir) =>
      recs(s, dir).crossJoin(broadcast(qvec0(s, dir)))
        .where(!isnan(
          graft.functions.NativeExprs.dot(col("embedding"), col("embedding"))))
        .withColumn("__s",
          graft.functions.NativeExprs.dot(col("embedding"), col("qvec")))
        .orderBy(col("__s").desc, col("id").asc).limit(10)
        .select(col("id").as("vec_id"), r4(col("__s")).as("score"))),

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
    "ivf_mips_query" -> ((s, dir) => mipsAnswer(s, dir)(m =>
      IvfIndex.queryMips(m, qvec0(s, dir), k = 10, probes = 3))),

    // extension: METADATA-FILTERED MIPS — the O4 × O6 composition on the
    // dot-product order, completing the MIPS family's symmetry with the
    // L2/cosine serving paths (knn_filtered / ivf_batch_filtered): the
    // predicate evaluates on the probed candidates BEFORE the top-k
    // (predicate precedes ranking, reference index.rs:197-199), so a
    // selective filter never widens the probe. Same fixed augmented
    // geometry and oracle-replayed probe as ivf_mips_query.
    "ivf_mips_filtered" -> ((s, dir) => mipsAnswer(s, dir)(m =>
      IvfIndex.queryMips(m, qvec0(s, dir), k = 10, probes = 3,
        filter = FilterDsl.predicate(col("metadata"), "label >= 5")))),

    // extension: the MIPS 100 TB LAYOUT — the norm-augmented assignment
    // written as cluster_id-partitioned parquet (posting lists on disk,
    // ivf_store_query's shape applied to dot order) and probed from the
    // reopened store: the 3-centroid probe list must prune partitions at
    // the scan (static pruning, pinned in PlanShapeSpec), and the pruned
    // store answers exactly like the in-memory ivf_mips_query — same oracle.
    // Augmented centroids stay in memory (the model side); only the
    // data-proportional posting lists live on disk.
    "ivf_mips_store_query" -> ((s, dir) => mipsAnswer(s, dir) { m =>
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_mips_store_" +
        s"${s.sparkContext.applicationId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        IvfIndex.writePartitioned(m, path)
      IvfIndex.queryMips(IvfIndex.Model(m.centroids, s.read.parquet(path)),
        qvec0(s, dir), k = 10, probes = 3)
    }),

    // extension: BATCH MIPS serving — the r10 single-query norm-augmented
    // probe generalized to many queries ([[IvfIndex.queryMipsBatch]]):
    // the augmented index is built once (map-only assign), each of the 5
    // queries probes its own 3 nearest augmented centroids through the
    // bounded centroids×queries window, and the exact dot rerank runs
    // per query through the two-phase bounded heap on the negated score.
    // Same guarded M² scalar as the single-query form; the oracle
    // replays augmentation, assignment, per-query probe, and rerank.
    "ivf_mips_batch" -> ((s, dir) =>
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
    "ivf_mips_recall_curve" -> ((s, dir) => {
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

    // O3 — radius gate, <= inclusive (reference index.rs:197)
    "knn_radius" -> ((s, dir) =>
      knnOut(Knn.search(recs(s, dir), qvec0(s, dir), 50, Metric.Euclidean, radius = 1.7))),

    // O1-O5 — the flagship filtered ANN composition (reference index.rs:197-199)
    "knn_filtered" -> ((s, dir) =>
      knnOut(Knn.search(recs(s, dir), qvec0(s, dir), 10, Metric.Euclidean,
        filter = FilterDsl.predicate(col("metadata"), "label >= 5")))),

    // O4,O5 — AND-joined numeric clauses
    "filter_and" -> ((s, dir) =>
      recs(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "label >= 3 AND label <= 6"))
        .select(col("id").as("vec_id")).orderBy("vec_id")),

    // O4,O5 — OR join, text + numeric coercion
    "filter_or" -> ((s, dir) =>
      Records.fromDocuments(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "lang = en OR n_chars < 200"))
        .select(col("id").as("doc_id")).orderBy("doc_id")),

    // O4 — text CONTAINS, value containing a space (splitn(3) semantics)
    "filter_contains" -> ((s, dir) =>
      Records.fromDocuments(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "text CONTAINS spark window"))
        .select(col("id").as("doc_id")).orderBy("doc_id")),

    // O5 — quote-stripping coercion (reference record.rs:67-75)
    "filter_quoted" -> ((s, dir) =>
      Records.fromDocuments(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "lang = 'fr'"))
        .select(col("id").as("doc_id")).orderBy("doc_id")),

    // O4,O5 — the §1.3 coercion traps IN the oracle gate (previously
    // ScalaTest-only): a numeric filter vs text metadata is false (never
    // an error); a QUOTED numeric value is text-typed, so it mismatches
    // numeric metadata; a boolean filter vs text is false; a missing key
    // under OR leaves the other clause to decide. Spark evaluates through
    // FilterDsl; the oracle re-derives each count with TRY_CAST/IN type
    // gates — the independent formulation of same-type-only comparison.
    "filter_mismatch" -> ((s, dir) => {
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

    // O7 — point lookup
    "get_by_id" -> ((s, dir) =>
      Crud.getById(recs(s, dir), 42)
        .select(col("id").as("vec_id"),
          try_element_at(col("metadata"), lit("label")).as("label"))),

    // O7 over the id-bucketed point-lookup layout (the reference's O(1)
    // hashmap get as a file-system layout): the store is written once
    // per (session, sf) — session-lifecycle state like fixedModel — and
    // the lookup statically prunes to one bucket file (plan pinned in
    // PlanShapeSpec)
    "get_by_id_store" -> ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_idstore_" +
        s"${s.sparkContext.applicationId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      if (!new java.io.File(s"$path/_graft_layout").exists())
        Records.snapshotById(recs(s, dir), path, buckets = 64)
      Records.getById(s, path, 42L)
        .select(col("id").as("vec_id"),
          try_element_at(col("metadata"), lit("label")).as("label"))
    }),

    // O16 — count
    "count_records" -> ((s, dir) =>
      recs(s, dir).agg(count(lit(1)).as("n_records"))),

    // O19 — heartbeat: liveness + library version (reference
    // database.rs:204-213 returns CARGO_PKG_VERSION). The one operator
    // that deliberately touches no data: a session that can answer it
    // has a live driver, which is exactly the RPC's contract.
    "heartbeat" -> ((s, dir) => {
      import s.implicits._
      Seq(graft.BuildInfo.version).toDF("version")
    }),

    // O8 — batch insert, verified by post-state aggregate
    "insert_batch" -> ((s, dir) => {
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

    // O8,O20 — validated insert: the wrong-width row is rejected
    // (reference database.rs:189-199 errors per record; batch-wise the
    // invalid rows are dropped and observable via Crud.invalidDim)
    "insert_invalid_dim" -> ((s, dir) => {
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

    // O17,O18 — snapshot round-trip: write the record store to Parquet,
    // re-open it, and aggregate over the re-opened copy; any loss or
    // corruption in the sink/source path breaks the oracle match.
    // NOTE: Records.snapshot is EAGER — invoking this query function
    // performs the parquet write before the (lazy) re-open aggregate is
    // returned; that is the operator's semantics (a snapshot RPC), not a
    // harness shortcut.
    // extension: the co-partitioned store — both tables written bucketed
    // on the join key, so the recurring docs ⋈ embeddings join runs with
    // ZERO exchanges (plan-pinned in PlanShapeSpec; this row gates the
    // data). At 100 TB this is the pipeline's largest shuffle, deleted
    // at write time.
    "snapshot_bucketed_join" -> ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_" +
        s.sparkContext.applicationId
      Records.writeBucketed(
        docs(s, dir).select(col("doc_id").as("id"), col("source"), col("n_chars")),
        "graft_bucketed_docs", s"$base/docs", "id", 8)
      Records.writeBucketed(
        emb(s, dir).select(col("vec_id").as("id"), col("label"),
          size(col("embedding")).as("dim")),
        "graft_bucketed_vecs", s"$base/vecs", "id", 8)
      s.table("graft_bucketed_docs")
        .join(s.table("graft_bucketed_vecs"), Seq("id"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars_sum"),
          sum(col("label").cast("long")).as("label_sum"),
          sum(col("dim")).as("dim_sum"))
    }),

    "snapshot_roundtrip" -> ((s, dir) => {
      // per-session path: two concurrent sessions must not collide on the
      // snapshot directory (the write happens eagerly at plan construction)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_snapshot_roundtrip_" +
        s.sparkContext.applicationId
      Records.snapshot(recs(s, dir), path)
      Records.open(s, path)
        .agg(count(lit(1)).as("n"),
          sum(col("id")).as("id_sum"),
          sum(size(col("embedding")).cast("long")).as("dim_sum"),
          sum(try_element_at(col("metadata"), lit("label")).cast("double")).as("label_sum"))
    }),

    // the SAME round-trip through the ORC sink/source twin — the interop
    // format for ORC-standardized warehouses; identical content contract,
    // so it shares snapshot_roundtrip's oracle shape
    "snapshot_orc_roundtrip" -> ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_snapshot_orc_" +
        s.sparkContext.applicationId
      Records.snapshotOrc(recs(s, dir), path)
      Records.openOrc(s, path)
        .agg(count(lit(1)).as("n"),
          sum(col("id")).as("id_sum"),
          sum(size(col("embedding")).cast("long")).as("dim_sum"),
          sum(try_element_at(col("metadata"), lit("label")).cast("double")).as("label_sum"))
    }),

    // extension: small-file compaction — fragment the store into many
    // tiny files (the streaming-ingest end state), compact to the target
    // size, and prove the rewritten store is byte-for-byte the same data.
    // The file-count contract (fragmented 32 → compacted 1 here) is
    // pinned in CrudSpec; this row gates the data integrity.
    "snapshot_compact" -> ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact_" +
        s.sparkContext.applicationId
      recs(s, dir).repartition(32)
        .write.mode("overwrite").parquet(s"$base/fragmented")
      Records.compactTo(s, s"$base/fragmented", s"$base/compacted")
      Records.open(s, s"$base/compacted")
        .agg(count(lit(1)).as("n"),
          sum(col("id")).as("id_sum"),
          sum(size(col("embedding")).cast("long")).as("dim_sum"),
          sum(try_element_at(col("metadata"), lit("label")).cast("double")).as("label_sum"))
    }),

    // O12,O15 — batch delete (broadcast anti-join)
    "delete_batch" -> ((s, dir) => {
      val r = recs(s, dir)
      val ids = r.where(col("id") % 10 === 0).select("id")
      Crud.delete(r, ids).agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
    }),

    // O14 — metadata replace (vector immutable, storage.rs:52-54)
    // O8/O12/O14 composed — batch MERGE with last-write-wins: deletes,
    // conflicting upserts (last seq wins), delete-then-upsert (revives),
    // upsert-then-delete (stays dead), and a fresh insert, in one batch
    "merge_batch" -> ((s, dir) => {
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

    "update_metadata" -> ((s, dir) => {
      val r = recs(s, dir)
      val updates = r.where(col("id") < 10)
        .select(col("id"), map(lit("label"), lit("99")).as("metadata"))
      Crud.updateMetadata(r, updates)
        .where(col("id") < 20)
        .select(col("id").as("vec_id"),
          try_element_at(col("metadata"), lit("label")).as("label"))
        .orderBy("vec_id")
    }),

    // extension: snapshot DIFF — derive the change log between two store
    // versions (the inverse of merge_batch). The new version is a
    // deterministic transform of the base: every id ≡ 3 (mod 97) deleted,
    // every surviving id ≡ 5 (mod 89) metadata-rewritten, every surviving
    // id ≡ 7 (mod 101) vector-perturbed, plus one fresh insert at
    // max(id)+1 — so the expected log covers all four change classes and
    // is recomputable in SQL at any scale factor.
    "snapshot_diff" -> ((s, dir) => {
      val old = recs(s, dir)
      Crud.diff(old, diffNewStore(s, old))
        .select(col("id").as("vec_id"), col("op"),
          try_element_at(col("metadata"), lit("label")).as("label"))
        .orderBy("vec_id")
    }),

    // extension: SCD2 version HISTORY — the change log unfolded into
    // slowly-changing-dimension intervals (seq_from, seq_to, is_current),
    // deletes kept as interval-closing tombstones so revivals
    // reconstruct. The log is DERIVED from the store's own ids (v1
    // upsert for every id < 60, delete at seq 2 for id%3=0, v2 rewrite
    // at seq 2 for id%3=1, v3 upsert at seq 3 for id%4=0 — covering
    // update, delete, revive, and untouched-tail lifecycles), so the
    // query replays identically at any scale factor
    "snapshot_scd2" -> ((s, dir) =>
      Crud.history(scd2Log(s, dir).drop("embedding", "metadata")
          .withColumnRenamed("lab", "label"))
        .select(col("id").as("vec_id"), col("seq_from"), col("seq_to"),
          col("op"), col("label"), col("is_current"))
        .orderBy("vec_id", "seq_from")),

    // extension: TIME TRAVEL — the store replayed as of log positions
    // 1, 2, 3 (merge over the seq-truncated log); each version profiled
    // by row count, id checksum, and per-label-state counts, so a wrong
    // cutoff (a row leaking from the future or a delete applied early)
    // flips at least one cell. Three bounded merges over one shared log
    "snapshot_time_travel" -> ((s, dir) => {
      val r = recs(s, dir)
      val log = scd2Log(s, dir)
        .select(col("id"), col("op"), col("seq"), col("embedding"),
          when(col("op") === "upsert", map(lit("label"), col("lab")))
            .otherwise(lit(null).cast("map<string,string>")).as("metadata"))
      Seq(1L, 2L, 3L).map { v =>
        Crud.snapshotAt(r, log, v)
          .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
            count(when(try_element_at(col("metadata"), lit("label")) === "v1", 1))
              .as("n_v1"),
            count(when(try_element_at(col("metadata"), lit("label")) === "v2", 1))
              .as("n_v2"),
            count(when(try_element_at(col("metadata"), lit("label")) === "v3", 1))
              .as("n_v3"))
          .select(lit(v).as("version"), col("n"), col("id_sum"),
            col("n_v1"), col("n_v2"), col("n_v3"))
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // extension: version RETENTION — the lifecycle step the staged
    // publishes make necessary (every refine/compact/restore lands a
    // NEW version; nothing ever ages out): four versions written (three
    // scd2 replay points + the current store), vacuum keepLast=2, then
    // the per-version census of what survived — doomed versions as
    // explicit kept=false rows, survivors re-read FROM THE STORE (the
    // row proves the bytes vacuum spared are the right bytes, not just
    // that the right names were deleted). The store builds ONCE per
    // application (v4's presence is the marker; a crashed partial build
    // self-heals by rebuilding) and vacuum is idempotent, so the row
    // set is identical at any pass count — survival is read from the
    // version listing, never from the first pass's removal list
    "snapshot_vacuum" -> ((s, dir) => {
      import s.implicits._
      val base = "/tmp/graft_vacstore_" +
        s.sparkContext.applicationId.replace(':', '-') + "_" +
        dir.replace('/', '_').replace('.', '_')
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$base/v4"))) {
        val r = recs(s, dir)
        val log = scd2Log(s, dir)
          .select(col("id"), col("op"), col("seq"), col("embedding"),
            when(col("op") === "upsert", map(lit("label"), col("lab")))
              .otherwise(lit(null).cast("map<string,string>")).as("metadata"))
        (1 to 3).foreach { v =>
          Crud.snapshotAt(r, log, v.toLong)
            .write.mode("overwrite").parquet(s"$base/v$v")
        }
        recs(s, dir).write.mode("overwrite").parquet(s"$base/v4")
      }
      Records.vacuumVersions(s, base, keepLast = 2)
      (1 to 4).map { v =>
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$base/v$v")))
          Seq((v.toLong, false)).toDF("version", "kept")
            .select(col("version"), col("kept"),
              lit(null).cast("long").as("n"), lit(null).cast("long").as("id_sum"))
        else
          s.read.parquet(s"$base/v$v")
            .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
            .select(lit(v.toLong).as("version"), lit(true).as("kept"),
              col("n"), col("id_sum"))
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // extension: incremental index maintenance — apply the change log
    // derived by snapshot_diff to the fixed-centroid index WITHOUT
    // re-assigning the unchanged rows; verified by the per-cluster
    // (count, id-sum) profile of the updated index, which the oracle
    // recomputes by assigning the transformed store from scratch
    "ivf_apply_diff" -> ((s, dir) => {
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
    "ivf_merge_stats" -> ((s, dir) =>
      mergedModel(s, dir).assigned
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
        .orderBy("cluster_id")),

    // extension: the maintenance PLANNER — the read-only census run
    // before scheduling split/merge work: per centroid, the fill and
    // the action the two maintenance ops would take at these knobs
    // (density 64 = the split ceiling, floor = ceil(n/16) = the merge
    // gate), with split_way stating splitKWay's own 1.3x-over-split
    // target arithmetic. Over the churned fixture all three actions
    // appear at every gate SF; every cell an exact integer/string the
    // oracle re-derives
    "ivf_maintenance_plan" -> ((s, dir) => {
      val da = drainedAssigned(s, dir)
      val floor = (da.count() + 15L) / 16L
      IvfIndex.maintenancePlan(
          IvfIndex.Model(fixedCentroids(s, dir), da),
          density = 64, minSize = floor)
        .orderBy("cluster_id")
    }),

    // extension: the compaction PAYOFF dashboard — ivf_tuning_curve's
    // cost-beside-recall join evaluated on the churned store BEFORE and
    // AFTER [[IvfIndex.mergeSmall]], per probe budget, against the same
    // exact top-10 over the same live rows (only the cluster geometry
    // differs): the number that justifies scheduling a compaction. Both
    // curves ride the shared churn memo and the one-pass sweep/cost
    // machinery; every cell oracle-replayed
    "ivf_compaction_gain" -> ((s, dir) => {
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

    // O6,O9 — nearest-centroid assignment over fixed centroids
    "ivf_assignments" -> ((s, dir) =>
      fixedModel(s, dir, Metric.Euclidean).assigned
        .select(col("id").as("vec_id"), col("cluster_id")).orderBy("vec_id")),

    // O6,O13 — probe-pruned ANN query over fixed centroids
    "ivf_probe_query" -> ((s, dir) =>
      knnOut(IvfIndex.query(fixedModel(s, dir, Metric.Euclidean),
        qvec0(s, dir), k = 10, probes = 3, Metric.Euclidean))),

    // extension: probe-cost OBSERVABILITY — per probe budget, the exact
    // clusters-probed / rows-scanned census vs store totals off the
    // assignment frame ([[IvfIndex.probeCost]] — the dashboard that
    // says probes/density are mis-tuned; see its scaladoc for the
    // reference defaults, density=256 records/cluster and probes=32,
    // that size the 100 TB per-query scan at ~probes×density rows).
    // Every cell is an exact integer the oracle derives by replaying
    // the deterministic fixed-centroid probe ranking and assignment
    "ivf_probe_cost" -> ((s, dir) =>
      IvfIndex.probeCost(fixedModel(s, dir, Metric.Euclidean),
          qvec0(s, dir), probesList = Seq(1, 2, 3, 4, 8), Metric.Euclidean)
        .orderBy("probes")),

    // extension: ASSIGNMENT drift between snapshot versions — how many
    // surviving vectors change their nearest cluster under the same
    // fixed centroids after the version perturbation: the metric that
    // sizes the incremental-refresh work (ivf_apply_diff) and triggers
    // re-clustering when geometry shifts. Exact counts
    "ivf_assignment_drift" -> ((s, dir) => {
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

    // extension: per-label centroid DRIFT between snapshot versions —
    // the embedding-space monitoring dual of the change-log algebra:
    // deletes + perturbations move each label's mean, and this is the
    // re-index/re-embed trigger metric. Per-(label, dim) means from
    // quantized-int sums (exact); the 64 per-dim squared deltas fold in
    // EXPLICIT pos order (collect→sort→fold), because a plain sum of
    // doubles would be partial-aggregation-order-dependent
    "embed_centroid_drift" -> ((s, dir) => {
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

    // extension: contrastive TRIPLET mining — per anchor, the nearest
    // same-label vector (positive) and nearest different-label vector
    // (hard negative) among its top-2-cluster block candidates, plus
    // the margin: the training-pair construction step of metric
    // learning. Candidates stay block-bounded (never all-pairs); both
    // arg-mins are O(1)-state min(struct) reductions
    "embed_triplets" -> ((s, dir) => {
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
    "embed_dim_stats" -> ((s, dir) => {
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

    // extension: kNN-distance OUTLIER detection — each vector scored by
    // its 3rd-nearest-neighbor distance over the shared blocked
    // candidate frame (the classic kNN outlier score: isolated points
    // have FAR third neighbors; duplicates/dense clusters have near
    // ones), then the global top-10. Two bounded heaps (per-id 3-NN,
    // global top-10) — no ranking window, no all-pairs; the blocked
    // candidate set IS the operating regime at 100 TB (a vector's
    // outlier-ness is judged against its own probe neighborhood, the
    // same blocks the ANN serving path reads)
    "embed_outliers" -> ((s, dir) => {
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

    "embed_knn_accuracy" -> ((s, dir) => {
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

    // extension: simplified (centroid-based) silhouette — the cluster-
    // quality dashboard over the fixed-centroid model: s = (d2−d1)/d2
    // with (d1, d2) the two nearest centroid distances (0 when d2 = 0,
    // i.e. the vector coincides with both centroids). O(n·k) map-side
    // distances + a k-key rollup; the textbook O(n²) pairwise
    // silhouette does not exist at 100 TB. s is quantized to exact
    // 1e-4 ints BEFORE summing (the checksum trick), so the per-cluster
    // mean is partition-order-independent; rows whose distances are all
    // NaN/null (no assignment) are excluded on both engines.
    "embed_silhouette" -> ((s, dir) => {
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

    // extension: index-HEALTH dashboard — per-cluster population and
    // distance-to-centroid stats (the density/drift monitor that decides
    // refine). Distances r4-quantized to exact ints BEFORE aggregation
    // (the checksum trick), so mean/max are partition-order-independent
    "ivf_cluster_stats" -> ((s, dir) => {
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

    // extension: rendezvous (highest-random-weight) shard assignment —
    // the deterministic distributed-writer primitive: each doc goes to
    // the shard with the greatest md5-derived weight, and growing the
    // ring 8 → 9 moves only the docs the NEW shard wins (~1/9, the
    // minimal-disruption property, visible in the `moved` column).
    // Map-only fold over a literal shard list; argmax via lexicographic
    // struct max, ties impossible in practice (56-bit weights)
    "corpus_shard_assign" -> ((s, dir) => {
      def shardOf(n: Int): Column = {
        val scores = (0 until n).map { sh =>
          struct(conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), lit(sh.toString))), 1, 14), 16, 10).cast("long").as("w"),
            lit(sh).as("shard"))
        }
        array_max(array(scores: _*)).getField("shard")
      }
      docs(s, dir)
        .select(col("doc_id"), shardOf(8).as("shard8"), shardOf(9).as("shard9"))
        .withColumn("moved", col("shard8") =!= col("shard9"))
        .orderBy("doc_id")
    }),

    // extension: the three-level serving funnel — IVF probes prune
    // clusters, prefix-dim (16 of 64) distance prunes within them,
    // full-dim reranks the 50-row shortlist. One cluster-pruned scan,
    // two chained bounded heaps; every stage id-tiebroken, so the
    // whole funnel replays in the oracle
    "ivf_matryoshka_query" -> ((s, dir) =>
      knnOut(IvfIndex.queryPrefixRerank(fixedModel(s, dir, Metric.Euclidean),
        qvec0(s, dir), k = 10, probes = 3, prefixDim = 16, shortlist = 50))),

    // extension: the three-level BINARY funnel — IVF probe pruning,
    // then an integer Hamming shortlist over packed sign codes, then
    // exact rerank of the shortlist only
    "ivf_hamming_query" -> ((s, dir) =>
      knnOut(IvfIndex.queryHammingRerank(fixedModel(s, dir, Metric.Euclidean),
        qvec0(s, dir), k = 10, probes = 3, shortlist = 50))),

    // O17/O18 × O6 — the 100 TB index LAYOUT in the correctness gate:
    // write the assignment partitionBy(cluster_id) (posting lists as
    // parquet partitions), reopen, probe — the pruned-scan store must
    // answer exactly like the in-memory frame (same fixed centroids, so
    // the ivf_probe_query oracle applies verbatim). Partition pruning
    // itself is pinned by PlanShapeSpec.
    "ivf_store_query" -> ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_store_" +
        s.sparkContext.applicationId
      IvfIndex.writePartitioned(fixedModel(s, dir, Metric.Euclidean), path)
      val disk = IvfIndex.Model(fixedCentroids(s, dir), s.read.parquet(path))
      knnOut(IvfIndex.query(disk, qvec0(s, dir), k = 10, probes = 3, Metric.Euclidean))
    }),

    // O6,O9 under the COSINE metric — assignment, probe ranking, and
    // re-rank all run cosine distance (reference metric.rs:30-31)
    "ivf_probe_cosine" -> ((s, dir) =>
      knnOut(IvfIndex.query(fixedModel(s, dir, Metric.Cosine),
        qvec0(s, dir), k = 10, probes = 3, Metric.Cosine))),

    // extension: batch ANN through the IVF index — per-query probe
    // pruning (each record meets only the queries probing its cluster),
    // the scale path that replaces the brute-force record × query cross
    "ivf_batch_query" -> ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val q = recs(s, dir).where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      IvfIndex.queryBatch(model, q, k = 5, probes = 3, Metric.Euclidean)
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"), r4(col("distance")).as("distance"))
    }),

    // extension: the full stack in one query — filter-DSL predicate ×
    // IVF probe pruning × batch two-phase top-k
    "ivf_batch_filtered" -> ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val q = recs(s, dir).where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      IvfIndex.queryBatch(model, q, k = 5, probes = 4, Metric.Euclidean,
          filter = FilterDsl.predicate(col("metadata"), "label >= 3"))
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"), r4(col("distance")).as("distance"))
    }),

    // extension: sign-LSH (random-hyperplane) bucketed ANN — the LSH
    // alternative to the IVF scale path: map-only bucketing (no index
    // build), multi-probe within Hamming 1 of the query's bucket.
    // Hyperplanes derive deterministically from dataset rows, so the
    // whole path is exact-oracle-checkable.
    "ann_lsh_query" -> ((s, dir) => {
      val r = recs(s, dir)
      val planes = operators.SignLsh.planesFrom(r, nbits = 6)
      knnOut(operators.SignLsh.query(r, planes, qvec0(s, dir), k = 10,
        hamming = 1, Metric.Cosine))
    }),

    // extension: sign-LSH with the full compositional surface — radius
    // gate + metadata filter on top of the multi-probe bucket pruning
    "ann_lsh_filtered" -> ((s, dir) => {
      val r = recs(s, dir)
      val planes = operators.SignLsh.planesFrom(r, nbits = 6)
      knnOut(operators.SignLsh.query(r, planes, qvec0(s, dir), k = 10,
        hamming = 1, Metric.Cosine, radius = 0.72,
        filter = FilterDsl.predicate(col("metadata"), "label >= 3")))
    }),

    // extension: batch multi-probe sign-LSH — every query pruned to its
    // own Hamming-1 bucket neighborhood, per-query two-phase top-k
    "ann_lsh_batch" -> ((s, dir) => {
      val r = recs(s, dir)
      val planes = operators.SignLsh.planesFrom(r, nbits = 6)
      val q = r.where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      operators.SignLsh.queryBatch(r, planes, q, k = 5, hamming = 1, Metric.Cosine)
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"), r4(col("distance")).as("distance"))
    }),

    // extension: brute-force batch ANN — the EXACT baseline, pinned as
    // such: this row is the ground truth every ANN funnel's recall is
    // judged against, so its full scan over the store is the CONTRACT,
    // not a missed optimization (its ~2.4 s at sf0.1 is #3 on the bench
    // BY DESIGN). The scale/serving paths are ivf_batch_query /
    // ann_lsh_batch / ivf_adc_batch; do not "optimize" this one.
    "ann_topk_batch" -> ((s, dir) => {
      val q = recs(s, dir).where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      Knn.searchBatch(recs(s, dir), q, 5, Metric.Cosine)
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"), r4(col("distance")).as("distance"))
    }),

    // extension: top principal component + explained-variance share
    // from exact integer moments — ONE distributed GramSumAgg pass
    // (d+d² longs per partition through the shuffle), 24 power
    // iterations on the collected model; oracle replays both halves
    "embed_pca" -> ((s, dir) => {
      val (loadings, share) =
        operators.VectorOps.pcaTop(emb(s, dir), "embedding", iters = 24)
      import s.implicits._
      loadings.zipWithIndex.map { case (v, i) => (i, v, share) }
        .toDF("pos", "loading", "share")
        .select(col("pos").cast("int").as("pos"),
          r4(col("loading")).as("loading"), r4(col("share")).as("share"))
        .orderBy("pos")
    }),

    // extension: PCA scree — top-3 components by Hotelling deflation,
    // shares against the original trace: the anisotropy/spectrum-decay
    // dashboard. Same one-pass moment aggregate, k·iters driver math
    "embed_pca_scree" -> ((s, dir) => {
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

    // extension: materialized PCA projection — per-vector scores on the
    // top-3 components; the fitted mean/loadings ride the plan as
    // literals, so the projection is map-only at any corpus size
    "embed_pca_project" -> ((s, dir) =>
      operators.VectorOps.pcaProject(emb(s, dir), "embedding", k = 3, iters = 24)
        .select(col("vec_id"), r4(col("pc0")).as("pc0"),
          r4(col("pc1")).as("pc1"), r4(col("pc2")).as("pc2"))
        .orderBy("vec_id")),

    // extension: exact per-label centroid distance matrix — q4 integer
    // moment sums per (label, dim) make the centroids order-independent
    // doubles, so inter-label geometry ("which classes collide") is
    // hash-exact; the pairwise stage runs on the label-bounded frame
    "embed_label_dist" -> ((s, dir) => {
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

    // extension: 1-bit binary quantization — sign-pack each embedding
    // into ceil(d/64) longs (32× smaller than f32; the most aggressive
    // point on the int8→PQ→binary compression ladder)
    "embed_binary_codes" -> ((s, dir) =>
      emb(s, dir)
        .select(col("vec_id"),
          posexplode(operators.VectorOps.binaryCodes(col("embedding"))))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
          col("col").as("code"))
        .orderBy("vec_id", "pos")),

    // extension: full-corpus Hamming scan over packed sign bits — one
    // integer XOR+POPCNT per 64 dims per record, no float math at all
    "ann_hamming_query" -> ((s, dir) => {
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

    // extension: the binary serving funnel — Hamming shortlist (50),
    // exact sq-L2 rerank (10); one scan, two chained bounded heaps
    "ann_hamming_rerank" -> ((s, dir) => {
      val store = binStore(s, dir)
      val q = qvec0(s, dir)
        .withColumn("qcode", operators.VectorOps.binaryCodes(col("qvec")))
      knnOut(Knn.searchHammingRerank(store, q, k = 10, shortlist = 50))
    }),

    // extension: ANALYZE-style table profile — per column: row count,
    // nulls, exact distinct count, and min/max rendered as strings
    // (full text omits min/max; its length profile is in corpus_stats).
    // The planner-stats report every engine ships; one pass per column,
    // all exact counts
    "corpus_profile" -> ((s, dir) => {
      val d = docs(s, dir)
      def prof(c: String, withMinMax: Boolean) = {
        // the TEXT column's ndv counts distinct md5 digests, not raw
        // strings — same answer, but the distinct shuffle carries
        // 32-byte keys instead of documents (the never-shuffle-text rule)
        val key = if (c == "text") md5(col(c)) else col(c)
        val base = d.agg(
          count(lit(1)).as("n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("nulls"),
          count_distinct(key).as("n_distinct"),
          (if (withMinMax) min(col(c)).cast("string") else lit(null).cast("string")).as("min_v"),
          (if (withMinMax) max(col(c)).cast("string") else lit(null).cast("string")).as("max_v"))
        base.select(lit(c).as("column"), col("n"), col("nulls"),
          col("n_distinct"), col("min_v"), col("max_v"))
      }
      prof("doc_id", withMinMax = true)
        .union(prof("lang", withMinMax = true))
        .union(prof("source", withMinMax = true))
        .union(prof("n_chars", withMinMax = true))
        .union(prof("text", withMinMax = false))
        .orderBy("column")
    }),

    // extension: Unicode-script mix per document — exact code-point
    // counts by explicit range table (shared with the oracle as data):
    // the mixed-script / wrong-script curation signal. One fused scan
    "text_scripts" -> ((s, dir) => {
      val m = graft.functions.NativeExprs.scriptMix(col("text"))
      docs(s, dir).select(col("doc_id"), m.as("__m"))
        .select(col("doc_id") +: ("n_cp" +:
          graft.functions.NativeExprs.ScriptOrder :+ "other")
          .map(f => col(s"__m.$f").as(f)): _*)
        .orderBy("doc_id")
    }),

    // extension: PMI-lift collocation mining — top adjacent token pairs
    // by p(ab)/(p(a)p(b)) from exact corpus counts; min-count gate,
    // quantize-then-rank bounded heap
    "text_pmi" -> ((s, dir) =>
      graft.operators.TextOps.collocations(docs(s, dir), minCount = 5L, k = 20)),

    // extension: batch Hamming top-k — the bounded-heap two-stage
    // reduction (no ranking window) over packed sign codes
    "ann_hamming_batch" -> ((s, dir) => {
      val store = binStore(s, dir)
      val q = recs(s, dir).where(col("id") < 5)
        .select(col("id").as("query_id"),
          operators.VectorOps.binaryCodes(col("embedding")).as("qcode"))
      Knn.searchHammingBatch(store, q, 5)
        .orderBy(col("query_id"), col("distance"), col("id"))
        .select(col("query_id"), col("id").as("vec_id"),
          col("distance").cast("long").as("hamming"))
    }),

    // extension: relational analytics over the TPC-H-ish tables —
    // revenue per nation through a 4-way join (lineitem ⋈ orders ⋈
    // customer ⋈ broadcast nation). Revenue is quantized per row
    // (q4 of extprice·(1−disc), fixed operand order) then summed as
    // exact longs, so the multi-way shuffle sum is order-independent
    "sales_by_nation" -> ((s, dir) => {
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

    // extension: revenue + order stats per market segment (broadcast
    // dim join, exact q4 sums; the order count is a plain count over
    // the one-row-per-order pre-aggregate)
    "sales_by_segment" -> ((s, dir) => {
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

    // extension: top-10 customers by exact revenue — quantize-then-rank
    // with the custkey tiebreak, bounded heap
    "top_customers" -> ((s, dir) => {
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

    // extension: compression-tier recall report — which tier suffices?
    // int8 dequantized scan, binary Hamming funnel (50), and
    // Matryoshka prefix-16 funnel (50), each scored by overlap with
    // the exact top-10. Every method is deterministic, so the report
    // is exact integers — no sampling, no invariant oracle
    "ann_recall_methods" -> ((s, dir) => {
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

    // extension: FILTERED binary funnel — the metadata predicate gates
    // candidates before both heaps (the knn_filtered contract composed
    // with the Hamming shortlist)
    "ann_hamming_filtered" -> ((s, dir) => {
      // filter over the memoized code store: codes are per-record, so
      // filtering before or after coding yields identical rows, and the
      // predicate still gates candidates BEFORE the shortlist heap
      val store = binStore(s, dir)
        .where(FilterDsl.predicate(col("metadata"), "label >= 5"))
      val q = qvec0(s, dir)
        .withColumn("qcode", operators.VectorOps.binaryCodes(col("qvec")))
      knnOut(Knn.searchHammingRerank(store, q, k = 10, shortlist = 50))
    }),

    // extension: shingle document-frequency histogram — the blocking
    // profile behind every MinHash/containment tuning decision ("is the
    // df mass where the rare-shingle blocker assumes?"). Exact counts
    // into fixed df bands
    "dedup_df_histogram" -> ((s, dir) => {
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

    // extension: binary-funnel TUNING curve — recall@10 of the Hamming
    // shortlist → exact rerank at shortlist ∈ {10, 20, 50, 100}; every
    // point is a deterministic funnel, so the curve is exact integers
    "ann_hamming_recall_curve" -> ((s, dir) => {
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

    // extension: late-interaction (MaxSim) scoring — ColBERT-style
    // multi-vector relevance: each query token contributes its best
    // match within the candidate group, summed in a FIXED order via
    // per-token max columns (a bare sum over the shuffle would be
    // partial-aggregation-order-dependent). Query tokens broadcast;
    // per-group state is one max per token
    "ann_maxsim_label" -> ((s, dir) => {
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

    // extension: supplier census through the region→nation→supplier
    // dimension chain (both joins broadcast; q4-exact balance sums)
    "supplier_by_region" -> ((s, dir) => {
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

    // extension: part catalog stats per brand — exact count/min/max and
    // a q4-exact mean retail price
    "parts_price_stats" -> ((s, dir) =>
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

    // extension: fuzzy entity resolution — SymSpell deletion-neighborhood
    // blocking + banded byte edit distance (operators.Fuzzy), rolled up
    // per distance with a same-nation split. The nation lookup joins the
    // BOUNDED (< 2500) customer slice, broadcast — at 100 TB the pair
    // frame and the slice are both small sides; nothing corpus-sized
    // shuffles. NULL nationkeys fall into the "not same" count on both
    // engines (CASE WHEN null-cond → ELSE).
    "fuzzy_match_stats" -> ((s, dir) => {
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

    // extension: the verified pair listing itself — first 100 by
    // (dist, id_a, id_b), a unique deterministic order
    "fuzzy_match_pairs" -> ((s, dir) =>
      fuzzyNamePairs(s, dir)
        .orderBy(col("dist"), col("id_a"), col("id_b"))
        .limit(100)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"),
          col("s_a").as("name_a"), col("s_b").as("name_b"))),

    // extension: best-match resolve (the entity-resolution serve shape):
    // for each probe id < 100, the nearest OTHER name within distance 2 —
    // min dist, min id tiebreak. The probe filter lands BEFORE the
    // window, so the ranked frame is bounded by the probe set's matches.
    "fuzzy_resolve_best" -> ((s, dir) => {
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

    // extension: exact dedup (hash groupBy) — rides the memoized
    // content-hash projection ([[hashedDocsMemo]]; sha-256 is a
    // maintained column at scale, shared with corpus_checksum/funnel)
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactFromHashed(hashedDocsMemo(s, dir), col("__sha"))
        .orderBy("keep_id")),

    // extension: NORMALIZED exact dedup — case-folded, whitespace-
    // collapsed content key catches the trivial variants byte-exact
    // dedup misses (trailing spaces, casing, reflowed lines) while
    // still shuffling only the 64-byte digest
    "dedup_exact_normalized" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(sha2(regexp_replace(TextOps.asciiLower(trim(col("text"))), "\\s+", " "), 256)
          .as("__k"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select(col("keep_id"), col("n_dups"))
        .orderBy("keep_id")),

    // extension: exact dedup over NFC-canonicalized text — merges the
    // composed/decomposed spellings of the same rendered text that
    // byte-exact dedup keeps apart (both engines implement UAX #15)
    "dedup_exact_nfc" -> ((s, dir) =>
      Dedup.exactNfc(docs(s, dir)).orderBy("keep_id")),

    // extension: per-document Unicode shape profile — codepoints vs
    // UTF-8 bytes (the storage-bloat factor), astral count (UTF-16
    // surrogate load), and an is-NFC flag (how much of the corpus the
    // NFC dedup pass would actually rewrite). Map-only; null text
    // keeps NULL metrics (the null-in/NULL-out convention)
    "text_unicode_profile" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_cp"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        regexp_count(col("text"), lit("[\\x{10000}-\\x{10FFFF}]"))
          .cast("long").as("n_astral"),
        (TextOps.nfc(col("text")) === col("text")).cast("long").as("is_nfc"))
        .orderBy("doc_id")),

    // extension: code-vs-prose routing signals — exact-integer
    // structural counters and an integer-arithmetic verdict (no float
    // thresholds), so the report is bit-portable cross-engine
    "text_code_detect" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("__c", TextOps.codeSignals(col("text")))
        .select(col("doc_id"), col("__c.n_lines").as("n_lines"),
          col("__c.n_sym").as("n_sym"), col("__c.n_indent").as("n_indent"),
          col("__c.n_stmt").as("n_stmt"), col("__c.is_code").as("is_code"))
        .orderBy("doc_id")),

    // extension: MinHash(16 perms) + LSH(4 bands) near-dup join, 3-gram shingles
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(docs(s, dir), shingleN = 3, perms = 16, bands = 4, threshold = 0.5)
        .select(col("doc_id_a"), col("doc_id_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_id_a", "doc_id_b")),

    // extension: CONTAINMENT near-dup pairs — the asymmetric detector
    // (A quoted inside a larger B: high containment, low Jaccard, no
    // band agreement); candidates from the rare-shingle posting-list
    // join (df ∈ [2, 10] as the bucket bound, >= 2 shared rare shingles
    // as the collision-noise gate), exact set verification over the
    // same cached digest pass dedup_minhash uses
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), shingleN = 3, perms = 16,
          maxDf = 10, threshold = 0.8)
        .select(col("doc_id_a"), col("doc_id_b"),
          r4(col("containment")).as("containment"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_id_a", "doc_id_b")),

    // extension: incremental (streaming-shaped) near-dup gate — docs
    // arriving after the split point are checked against the banded
    // MinHash index of the existing corpus. Same transform the streaming
    // ingest runs per micro-batch (stream==batch pinned in
    // StreamingSpec); batch context allows the cross-band distinct.
    "dedup_incremental" -> ((s, dir) => {
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
    "dedup_incremental_store" -> ((s, dir) => {
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
    "dedup_store_stats" -> ((s, dir) =>
      Dedup.bandingCensus(
          s.read.parquet(s"${dedupStorePath(s, dir)}/banded"))
        .orderBy("band_idx")),

    // extension: cross-SOURCE duplication matrix — the verified near-dup
    // pair set rolled up by unordered source pair: which feeds duplicate
    // each other (within-source boilerplate vs cross-source scrapes are
    // different curation actions). Rides the MEMOIZED session pair frame
    // ([[minhashPairs]] — same (3,16,4,0.5) layout; the viral-bucket cap
    // is far above any bucket at gate SFs, the dedup_groups argument, so
    // the pair set equals the oracle's uncapped join); the rollup
    // shuffles one row per pair, output ∝ |sources|²
    "dedup_source_matrix" -> ((s, dir) => {
      val src = docs(s, dir).select(col("doc_id"), col("source"))
      minhashPairs(s, dir)
        .join(src.select(col("doc_id").as("doc_id_a"), col("source").as("__sa")), Seq("doc_id_a"))
        .join(src.select(col("doc_id").as("doc_id_b"), col("source").as("__sb")), Seq("doc_id_b"))
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),

    // extension: duplicate GROUPS — connected components over the
    // verified MinHash pair graph (min-label propagation), the keep/drop
    // map a dedup pipeline actually applies. The COMPOSED pipeline runs
    // with the finite viral-duplicate bucket cap (the production default;
    // far above any bucket size at verify/bench SF, so the oracle — which
    // models the uncapped join — is unaffected). Memoized per (session,
    // dir) — see [[cappedGroups]].
    "dedup_groups" -> ((s, dir) => cappedGroups(s, dir).orderBy("doc_id")),

    // extension: dedup token-SAVINGS — the business metric of the whole
    // dedup stack: training tokens removed by the keep-map (drop
    // non-representative group members). Exact integer token sums
    "dedup_savings" -> ((s, dir) => {
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
    "dedup_lsh_expected_recall" -> ((s, dir) => {
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

    // extension: MinHash estimation-ACCURACY meter — the empirical
    // companion to dedup_banding_planner: over the verified pair set,
    // |sig-estimated Jaccard − exact Jaccard| summarized with exact
    // arithmetic (errors r4-quantized to ints before the mean). At
    // 16 perms the estimator's σ ≈ 0.125 — this is the dashboard that
    // says whether the perm budget fits the threshold
    "dedup_minhash_accuracy" -> ((s, dir) => {
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

    // extension: duplicate-GRAPH observability — edge/node/degree and
    // component-size stats over the verified pair graph: the dashboard
    // that catches viral-duplicate blowups (max_degree, largest_group)
    // before they hit the CC loop. All exact integer aggregates off the
    // memoized pair list + group map
    "dedup_graph_stats" -> ((s, dir) => {
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

    // extension: PageRank over the verified near-duplicate graph — the
    // canonical-document selector a min-id representative rule can't
    // express: inside a duplicate family the highly-connected hub is
    // the original, the satellites are the scrapes. Exact integer
    // fixed-point arithmetic (10⁻¹² quanta, truncating div) so every
    // iteration is order-independent and the oracle replays all 8
    // steps as chained integer CTEs. Same memoized pair list as the
    // rest of the dedup-graph family
    "dedup_pagerank" -> ((s, dir) =>
      pageRankFrame(s, dir)
        .orderBy(col("rank_q").desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("rank_q"))),

    // extension: triangle census of the near-duplicate graph — the LSH
    // integrity meter: genuine duplicate families are near-cliques
    // (clustering coefficient → 1); a low coefficient means chains of
    // borderline pairs are BRIDGING unrelated documents and the
    // threshold needs raising. Exact integer triangle/wedge counts via
    // the ordered-triple join (each edge stored once as a < b, so
    // a < b < c counts every triangle exactly once), bounded by the
    // verified-pair graph
    "dedup_triangles" -> ((s, dir) =>
      operators.Graph.triangleCensus(minhashPairs(s, dir))
        .select(col("n_triangles"), col("n_wedges"),
          r4(col("global_cc")).as("global_cc"))),

    // extension: the CANONICAL document per duplicate family — the
    // selector [[Graph.pageRank]] exists for: within each connected
    // component, keep the member with the highest centrality (the hub
    // every scrape links near; tie → lowest id). Composes the memoized
    // group map with the exact-integer rank frame, so the whole
    // pipeline stays hash-comparable
    "dedup_canonical" -> ((s, dir) =>
      Dedup.bestRepresentatives(cappedGroups(s, dir), pageRankFrame(s, dir),
          "rank_q")
        .orderBy("rep_id")),

    // extension: PERSONALIZED PageRank — teleport pinned to a trust
    // list (here the even-id half, standing in for any external curated
    // set): rank measures proximity-to-trusted through the duplicate
    // graph, the provenance selector for scraped families. Same integer
    // fixed point; mass is zero outside seed-reachable components
    "dedup_pagerank_seeded" -> ((s, dir) =>
      pprFrame(s, dir)
        .orderBy(col("rank_q").desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("rank_q"))),

    // extension: the keep/drop map APPLIED — the step after dedup_groups
    // that a pipeline actually ships: drop every group member except its
    // representative, keep all unpaired docs. Anti-join against the
    // (tiny) drop list; same capped LSH pipeline as dedup_groups, so the
    // session cache serves both.
    "dedup_apply" -> ((s, dir) =>
      docs(s, dir)
        .join(cappedGroups(s, dir).where(col("doc_id") =!= col("rep_id")),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy("doc_id")),

    // extension: quality-aware representative per duplicate group —
    // longest copy wins, ties to lowest id (one max_by per group, no
    // window over the corpus)
    "dedup_best" -> ((s, dir) =>
      Dedup.bestRepresentatives(cappedGroups(s, dir),
          docs(s, dir).select(col("doc_id"), col("n_chars")), "n_chars")
        .orderBy("rep_id")),

    // extension: multi-signal dedup — MinHash ∪ SimHash pair sets into
    // one component map (each signal alone has blind spots)
    "dedup_multi" -> ((s, dir) =>
      multiGroups(s, dir).orderBy("doc_id")),

    // extension: SimHash(60-bit) near-dup pairs, hamming <= 8
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 8)
        .select(col("doc_id_a"), col("doc_id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_id_a", "doc_id_b")),

    // extension: n-gram Jaccard similarity against a fixed document —
    // set ops run on 56-bit long shingle hashes (primitive fast path;
    // string-array intersect is an O(n²) fallback)
    "ngram_jaccard" -> ((s, dir) => {
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

    // extension: embedding-cosine near-dup blocked on the TWO nearest IVF
    // cluster ids (multi-probe): block cardinality grows with n (bounded
    // bucket size under the density contract), and carrying each vector's
    // runner-up cluster closes the single-block recall gap for pairs
    // straddling a Voronoi boundary — at the cost of 2× join input and a
    // distinct over the (candidate-only) matched pairs. Fixed centroids
    // keep it oracle-able.
    "embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDup(top2Blocked(s, dir), threshold = 0.2)
        .select(col("id_a"), col("id_b"), r4(col("cos_sim")).as("cos_sim"))
        .distinct() // a pair sharing both blocks matches twice, identically
        .orderBy("id_a", "id_b")),

    // extension: per-row nearest neighbor (kNN-graph degree 1) via the
    // same top-2-cluster blocking — the all-rows analog of ann_topk_batch
    // where EVERY row is a query; the reduction is a map-side-combinable
    // min(struct) per id, never a ranking window over candidates.
    "ann_self_join" -> ((s, dir) =>
      Knn.nnFromPairs(blockedSqPairs(s, dir))
        .select(col("id").as("vec_id"), col("nn_id"),
          r4(col("distance")).as("distance"))
        .orderBy("vec_id")),

    // extension: SEMANTIC dedup (SemDeDup-shaped) — the embedding-cosine
    // pair emitter composed with connected components into the keep/drop
    // map, the same consumer step dedup_groups provides for MinHash
    // pairs. Fixed centroids + deterministic pair set keep the whole
    // composition oracle-exact (recursive CTE on the DuckDB side).
    "dedup_semantic" -> ((s, dir) => semanticGroups(s, dir).orderBy("doc_id")),

    // extension: SEMANTIC decontamination — the embedding-space
    // complement of corpus_decontaminate's n-gram gate: corpus vectors
    // too close (cosine) to a benchmark set are flagged, candidates
    // generated by the same top-2-cluster blocking as embed_neardup
    // (never all-pairs; a paraphrased benchmark item that shares no
    // 8-gram still lands in the same cluster). Benchmark = vec_id < 50,
    // a stand-in for a held-out eval set
    "corpus_decon_semantic" -> ((s, dir) => {
      val blocked = top2Blocked(s, dir)
      def side(f: Column => Column, idAs: String, eAs: String) =
        blocked.where(f(col("id")))
          .select(col("block"), col("id").as(idAs), col("embedding").as(eAs))
      val bench = side(_ < 50, "bench_id", "__be")
      val corpus = side(_ >= 50, "vec_id", "__ce")
      val dot = (a: Column, b: Column) => graft.functions.NativeExprs.dot(a, b)
      corpus.join(bench, Seq("block"))
        // zero-norm exclusion (the embeddingNearDup gate): a zero
        // vector's 0/0 similarity would ANSI-fail the job on one row
        .where(dot(col("__ce"), col("__ce")) > 0 &&
          dot(col("__be"), col("__be")) > 0)
        .withColumn("cos_sim", dot(col("__ce"), col("__be")) /
          (sqrt(dot(col("__ce"), col("__ce"))) * sqrt(dot(col("__be"), col("__be")))))
        .where(col("cos_sim") >= 0.2)
        .select(col("vec_id"), col("bench_id"), col("cos_sim"))
        .distinct() // a pair sharing both blocks matches twice, identically
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_bench"), r4(max(col("cos_sim"))).as("max_sim"))
        .orderBy("vec_id")
    }),

    // extension: the IVF probe served from QUANTIZED vectors — the memory-
    // optimized posting-list layout end-to-end: store int8 codes + scale,
    // reconstruct at scan time, probe + top-k over the reconstruction.
    // Assignment/probing run on full-precision centroids (codes only
    // replace the stored record vectors, as in scalar-quantized IVF).
    // Full SQL oracle: DuckDB replays quantize→dequantize→distance→top-k.
    "ivf_quantized_query" -> ((s, dir) => {
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

    // extension: symmetric per-vector int8 quantization — the 4× memory
    // lever for posting lists at 100 TB (scalar-quantization member of
    // the PQ family). Map-only; one row per (vec_id, pos) so every
    // output column is a sortable primitive for the gate.
    "embed_quantize" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
        .withColumn("__scale", operators.VectorOps.int8Scale(col("embedding")))
      e.select(col("vec_id"), col("__scale"),
          posexplode(operators.VectorOps.quantizeInt8(col("embedding"), col("__scale"))))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
          col("col").as("qval"), r4(col("__scale")).as("scale"))
        .orderBy("vec_id", "pos")
    }),

    // extension: per-label embedding-NORM statistics — the vector-space
    // health dashboard (collapsed or exploding norms are the classic
    // embedding-pipeline regression). The per-row norm is a sequential
    // fold + IEEE sqrt (engine-identical double); aggregation happens on
    // r4-QUANTIZED norms summed as exact integers (the checksum trick),
    // so mean/min/max are partition-order-independent and oracle-exact
    "embed_norm_stats" -> ((s, dir) =>
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

    // extension: JL random projection (Achlioptas ±1 scheme, seeded
    // splitmix64 signs) 64 → 8 dims — the dimensionality-reduction
    // lever for cheap pre-filtering and sketching. The sign matrix is
    // model-bounded, so it rides the plan as literals (both engines
    // restate the identical ints); map-only, one fold per output dim.
    "embed_project" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"),
          posexplode(operators.VectorOps.randomProject(
            col("embedding"), rpSignMatrix)))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
          r4(col("col")).as("pval"))
        .orderBy("vec_id", "pos")),

    // extension: Matryoshka two-stage search — prefix-dim (16 of 64)
    // shortlist of 50, exact full-dim rerank to top-10. ONE scan, two
    // chained bounded heaps (TakeOrderedAndProject), no join: the
    // cheap-funnel serving shape. Deterministic end to end (id
    // tiebreaks at both stages), so the oracle replays both stages.
    "knn_matryoshka" -> ((s, dir) =>
      knnOut(Knn.searchPrefixRerank(recs(s, dir), qvec0(s, dir),
        k = 10, prefixDim = 16, shortlist = 50, Metric.Euclidean))),

    // extension: MMR diversity rerank — relevance shortlist of 30, then
    // greedy maximal-marginal-relevance selection of 10 (lam = 0.5).
    // One scan → one bounded heap → one model-bounded expression; the
    // oracle replays the greedy loop as 10 unrolled one-row CTE steps.
    "knn_mmr" -> ((s, dir) =>
      Knn.mmrRerank(recs(s, dir), qvec0(s, dir), k = 10, shortlist = 30,
          lam = MmrLam, oneMinusLam = MmrOneMinusLam)
        .select(col("rank"), col("id").as("vec_id"), r4(col("mmr")).as("mmr"))
        .orderBy("rank")),

    // extension: PRODUCT-quantization codes — m=4 subspaces × 16 codes
    // over 64 dims = 2 bytes a vector (vs 256 raw): the compression
    // lever past int8. Fixed codebooks (records 0..15's subvectors)
    // keep the argmin encode oracle-exact; trained codebooks are the
    // VectorOpsSpec path. Map-only: books ride a broadcast.
    "pq_codes" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(pqFixedBooks(s, dir)))
        .select(col("vec_id"),
          posexplode(operators.VectorOps.pqCodes(col("embedding"), col("books"))))
        .select(col("vec_id"), col("pos").cast("int").as("sub_idx"),
          col("col").as("code"))
        .orderBy("vec_id", "sub_idx")),

    // extension: ROTATED product quantization (OPQ-lite) — the pinned
    // Householder reflection applied to vectors and codebook sources
    // before encoding: OPQ's plumbing (rotate → encode; a query side
    // would rotate q once and probe unchanged) with the trained rotation
    // replaced by a pinned one. Distances are preserved exactly, so all
    // downstream ADC algebra is unchanged; rotation is one native
    // map-only kernel per row.
    "pq_rotated_codes" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"),
          operators.VectorOps.householderReflect(col("embedding"))
            .cast("array<float>").as("__rv"))
        .crossJoin(broadcast(pqRotatedBooks(s, dir)))
        .select(col("vec_id"),
          posexplode(operators.VectorOps.pqCodes(col("__rv"), col("books"))))
        .select(col("vec_id"), col("pos").cast("int").as("sub_idx"),
          col("col").as("code"))
        .orderBy("vec_id", "sub_idx")),

    // extension: the quantization-ERROR dashboard — per-vector squared
    // reconstruction error for int8, plain PQ, and residual PQ on a
    // fixed sample: the comparison one actually tunes m/bits/layout
    // with (expected ordering: residual < plain PQ; int8 smallest —
    // it keeps 8 bits per DIM, the PQ rows 2 bits). Row-exact (no
    // corpus-wide float mean), every path the same pinned codebooks.
    "pq_error_sample" -> ((s, dir) => {
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

    // extension: the IVF probe served from PQ codes end-to-end (the
    // IVF-PQ layout): store codes, reconstruct at scan time (= ADC for
    // squared L2), probe + top-k over the reconstruction. Assignment
    // and probing stay full-precision, as in ivf_quantized_query.
    "ivf_pq_query" -> ((s, dir) => {
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

    // extension: TRUE ADC — the probe served from the code store and a
    // per-query lookup table (luts[sub][code] = per-subspace distance,
    // broadcast): per record the scan is m=4 array lookups + 3 adds, and
    // no d-dim vector is reconstructed or scanned. ivf_pq_query above
    // keeps the reconstruct-then-distance formulation (bit-exact against
    // the flat oracle); this row pins the per-subspace-sum serving shape
    // with its own grouped-sum oracle
    "ivf_adc_query" -> ((s, dir) => {
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

    // extension: the OPQ serving story end-to-end — the WHOLE index in
    // rotated space: rotated centroids (membership is unchanged since
    // the reflection preserves distances), codes over rotated vectors
    // against the rotated codebooks, the query reflected ONCE per query,
    // then the unchanged ADC scan. Rotation cost at serving time is one
    // kernel call per query row, zero per stored code.
    "ivf_adc_rotated_query" -> ((s, dir) => {
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

    // extension: metadata-filtered ADC serving — the filter-DSL predicate
    // composes PRE-top-k with the compressed code scan (the code store
    // carries no metadata; admissible ids semi-join in from the record
    // store), completing the filtered-query matrix: brute force
    // (knn_filtered), LSH (ann_lsh_filtered), IVF (ivf_batch_filtered),
    // and now the PQ/ADC path
    "ivf_adc_filtered" -> ((s, dir) => {
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

    // extension: the compressed store ON DISK — codes written as
    // cluster_id-partitioned parquet (the 100 TB layout: 2-byte codes in
    // posting-list partitions) and probed from the reopened store; the
    // probe must prune partitions exactly like the full-precision
    // ivf_store_query (pinned in PlanShapeSpec)
    "ivf_adc_store_query" -> ((s, dir) => {
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

    // extension: incremental CODE-STORE maintenance — the snapshot_diff
    // change log applied to the compressed store (deletes out, upserts
    // re-assigned + re-encoded, unchanged rows untouched); the oracle
    // re-derives the updated store's per-cluster (count, code-sum)
    // profile by assigning AND encoding the transformed store from
    // scratch in SQL
    "ivf_adc_apply_diff" -> ((s, dir) => {
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

    // extension: the BATCH ADC probe — many queries against the code
    // store, per-query LUTs on one broadcast, bounded-heap two-phase
    // top-k (no ranking window over candidates)
    "ivf_adc_batch" -> ((s, dir) => {
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

    // extension: RESIDUAL-encoded ADC — the IVFADC layout (codes encode
    // v − centroid[cluster], per-probed-cluster LUTs on the query side),
    // the design that makes PQ accurate at 100 TB because codes spend
    // their resolution on within-cluster displacement. Same fixed demo
    // books as the raw path so every step stays oracle-exact; production
    // trains the books on residuals (VectorOps.pqTrain over
    // VectorOps.residual inputs)
    "ivf_adc_residual_query" -> ((s, dir) => {
      val model = fixedModel(s, dir, Metric.Euclidean)
      val books = pqFixedBooks(s, dir)
      val codeStore = IvfIndex.encodeResidual(model.assigned, model.centroids, books)
      knnOut(IvfIndex.queryAdcResidual(model.centroids, codeStore, books,
        qvec0(s, dir), k = 10, probes = 3))
    }),

    // extension: COSINE on the compressed path — no cosine ADC kernel
    // exists or is needed: on an L2-normalized store, cosine distance is
    // exactly half the squared L2 distance, so the whole L2 ADC stack
    // (encode, LUTs, code scan) serves cosine with a final /2. Store,
    // centroids, books, and query all normalize once at build time
    "ivf_adc_cosine_query" -> ((s, dir) => {
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

    // extension: batch twin of the residual probe — LUTs per
    // (query, probed cluster), two-phase bounded-heap top-k per query
    "ivf_adc_residual_batch" -> ((s, dir) => {
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

    // extension: ADC-shortlist + exact re-rank with a FULL-SQL oracle —
    // the deterministic twin of ivf_pq_rerank's invariant contract:
    // full-probe ADC top-50 from the code store, exact top-10 re-rank on
    // original vectors, every step replayed row-exactly in DuckDB
    "ivf_adc_rerank" -> ((s, dir) => {
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

    // extension: the production PQ serving shape — ADC shortlist from
    // the compressed store, exact re-rank of the shortlist on original
    // vectors (50 rows, broadcast). Invariant oracle: re-ranking the
    // top-50 shortlist on true distances can only IMPROVE recall@10
    // over the raw PQ top-10 (a fixed recall threshold would encode the
    // fixed demo codebooks' distortion, not the operator's contract)
    "ivf_pq_rerank" -> ((s, dir) => {
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

    // extension: stopword-heuristic language ID. Tokens and the fused
    // stats are materialized as attributes so each kernel runs once per
    // row; spreadIfNarrow spreads the CPU only when the scan is narrow.
    "lang_id" -> ((s, dir) =>
      docsSpread(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(col("doc_id"),
          TextOps.langFromVotes(col("__stats.votes")).as("lang_pred"))
        .orderBy("doc_id")),

    // extension: language-ID CONFUSION matrix — predicted × declared
    // label counts plus per-declared-language accuracy: the detector's
    // eval report, exact integers end to end
    "lang_confusion" -> ((s, dir) =>
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

    // extension: token counting + quality scoring (tokens + fused stats
    // materialized once)
    // extension: Gopher-style intra-document repetition filters —
    // top-token share + duplicate 2-/3-gram occurrence fractions,
    // one map-only HOF pass per doc (no shuffle; TextOps.repetitionStats)
    "text_repetition" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("__rep", TextOps.repetitionStats(TextOps.tokens(col("text"))))
        .select(col("doc_id") +:
          Seq("top_token_frac", "dup_2gram_frac", "dup_3gram_frac").map(f =>
            // null text → NULL fractions (null-in-null-out, the
            // text_scripts convention) — the unguarded kernel output
            // would surface a 0/0 NaN here (adversarial-data finding, r8)
            when(col("text").isNotNull, r4(col(s"__rep.$f"))).as(f)): _*)
        .orderBy("doc_id")),

    // extension: PII scrubbing over synthetically-dirtied docs (the
    // corpus itself is PII-free, so each doc gets a deterministic
    // email/phone/IP suffix derived from its id, then the scrub must
    // remove every one of them). Output is the full scrubbed text —
    // the strongest possible equality
    "corpus_scrub" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), concat(
          substring(col("text"), 1, 40),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or +1 (415) 555-01"),
          lpad(pmod(col("doc_id"), lit(100L)).cast("string"), 2, "0"),
          lit(" at 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
          lit(".7 end")).as("dirty"))
        .select(col("doc_id"), TextOps.scrubPii(col("dirty")).as("clean"))
        .orderBy("doc_id")),

    // extension: CCNet-style LM quality filter (perplexity proxy) — a
    // corpus char-trigram model with add-one smoothing, each doc scored
    // by its mean trigram log-probability (higher = more corpus-typical;
    // mojibake and wrong-language text sink). Model bounded by charset³,
    // rides a broadcast; scoring is explode + map-side partial mean
    "text_lm_score" -> ((s, dir) => {
      val d = docsSpread(s, dir)
      TextOps.charLmScoreFused(d, lmModel(s, dir), col("text"))
        .select(col("doc_id"), col("n_trigrams"), r4(col("lm_score")).as("lm_score"))
        .orderBy("doc_id")
    }),

    // extension: TRAINED language classifier — multinomial Naive Bayes
    // over char trigrams (the fasttext-langid shape: learn evidence from
    // labeled data instead of shipping stopword lists) fit on the
    // content-hash train split, scored on the held-out 20%. Scores are
    // fixed-point integers (⌊ln·10⁶+½⌋ per model entry, summed exactly),
    // so the argmax is bit-portable cross-engine; ties break label-asc
    "text_nb_langid" -> ((s, dir) =>
      nbScored(s, dir).orderBy("doc_id")),

    // extension: the classifier's confusion matrix + per-declared-lang
    // share — the report a pipeline owner reads before trusting the
    // filter (which languages bleed into which). Same model, one rollup
    "text_nb_confusion" -> ((s, dir) => {
      val cm = nbScored(s, dir)
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
      val tot = cm.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
      cm.join(tot, Seq("lang"))
        .select(col("lang"), col("pred_lang"), col("n"),
          r4(col("n").cast("double") / col("__t").cast("double")).as("share"))
        .orderBy("lang", "pred_lang")
    }),

    // extension: classifier CALIBRATION — held-out accuracy by
    // confidence-margin band (margin = exact fixed-point gap between
    // best and second-best label scores). The operational question a
    // cheap filter answers with this: above which margin can its
    // verdict be auto-applied, and how much coverage does that leave?
    // Bands are integer thresholds on the ⌊ln·10⁶⌋ scale (0.01/0.1/1
    // nat), so banding is exact on both engines
    "text_nb_margin" -> ((s, dir) => {
      val held = graft.operators.Corpus.assignSplit(docs(s, dir), col("text"))
        .where(col("split") =!= "train")
      TextOps.nbTop2FromScores(nbHeldScores(s, dir))
        .join(held.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("band",
          when(col("margin").isNull, "solo")
            .when(col("margin") < 10000L, "<0.01")
            .when(col("margin") < 100000L, "<0.1")
            .when(col("margin") < 1000000L, "<1")
            .otherwise(">=1"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang") === col("pred_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("band"), col("n"), col("n_correct"),
          r4(col("n_correct").cast("double") / col("n").cast("double"))
            .as("accuracy"))
        .orderBy("band")
    }),

    // extension: METHODS-AGREEMENT report for language ID — the
    // ann_recall_methods symmetry applied to classifiers: the fixed
    // stopword-vote heuristic vs the trained NB student on the SAME
    // held-out docs, as an agreement matrix with per-cell correctness
    // against the declared label. The report a curator reads to decide
    // which detector to trust where (and when the two disagree, which
    // one is right more often). Gramless docs take 'und' on the NB side
    // (the routing-door convention) so the matrix stays total
    "corpus_langid_agreement" -> ((s, dir) => {
      // bucket >= 80, not split != 'train': a null-text doc has a NULL
      // content bucket and belongs to NO held-out split (the oracle's
      // te convention) — `split != train` would sweep it into 'test'
      // via the otherwise() arm. The NB-side queries never see the
      // difference (gramless docs drop at the inner join); this report
      // keeps every held doc on the heuristic side, so it must cut the
      // split exactly like the oracle does
      val held = graft.operators.Corpus.assignSplit(docs(s, dir), col("text"))
        .where(col("bucket") >= 80)
      val hx = held
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(col("doc_id"), col("lang"),
          TextOps.langFromVotes(col("__stats.votes")).as("hx_pred"))
      val nb = TextOps.nbClassifyFromScores(nbHeldScores(s, dir))
        .select(col("doc_id"), col("pred_label").as("__nb"))
      val j = hx.join(nb, Seq("doc_id"), "left_outer")
        .withColumn("nb_pred", coalesce(col("__nb"), lit("und")))
      val cm = j.groupBy(col("hx_pred"), col("nb_pred"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang") === col("hx_pred"), 1L).otherwise(0L))
            .as("n_hx_correct"),
          sum(when(col("lang") === col("nb_pred"), 1L).otherwise(0L))
            .as("n_nb_correct"))
      val tot = j.agg(count(lit(1)).as("__t"))
      cm.crossJoin(broadcast(tot))
        .select(col("hx_pred"), col("nb_pred"), col("n"),
          col("n_hx_correct"), col("n_nb_correct"),
          r4(col("n").cast("double") / col("__t").cast("double")).as("share"))
        .orderBy("hx_pred", "nb_pred")
    }),

    // extension: DISTILLED quality filter — the production two-tier
    // shape (CCNet/RedPajama): an expensive teacher (the Gopher rule
    // battery) labels the train split, a cheap student (the NB
    // char-trigram classifier — one broadcast-join score pass, no line
    // parsing) learns it, and THIS report is the go/no-go: the
    // teacher×student agreement matrix on held-out docs. The teacher is
    // the LANGUAGE-AGNOSTIC subset of the battery (ok_stop excluded:
    // it is anchored to an English stopword list that this synthetic
    // vocabulary never hits, which would make the teacher all-fail and
    // the distillation vacuous; production uses per-language lists).
    // Same fit-once lifecycle (model memoized under the "gopher" tag)
    "corpus_nb_quality" -> ((s, dir) => {
      val labeled = docs(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__g", TextOps.gopherFlags(col("text"), col("__toks")))
        .select(col("doc_id"), col("text"),
          when(col("__g.ok_words") && col("__g.ok_mean_len")
              && col("__g.ok_symbol") && col("__g.ok_bullet")
              && col("__g.ok_ellipsis") && col("__g.ok_alpha"),
            lit("pass")).otherwise(lit("fail")).as("label"))
      val sp = graft.operators.Corpus.assignSplit(labeled, col("text"))
      val model = nbModelOf(s, dir, "gopher")(sp.where(col("split") === "train"))
      val held = sp.where(col("split") =!= "train")
      val scores = nbHeldScoresOf(s, dir, "gopher")(
        TextOps.nbScoreAll(held, col("text"), model))
      val cm = TextOps.nbClassifyFromScores(scores)
        .join(held.select(col("doc_id"), col("label").as("teacher")), Seq("doc_id"))
        .select(col("teacher"), col("pred_label").as("student"))
        .groupBy(col("teacher"), col("student")).agg(count(lit(1)).as("n"))
      val tot = cm.groupBy(col("teacher")).agg(sum(col("n")).as("__t"))
      cm.join(tot, Seq("teacher"))
        .select(col("teacher"), col("student"), col("n"),
          r4(col("n").cast("double") / col("__t").cast("double")).as("share"))
        .orderBy("teacher", "student")
    }),

    // extension: C4-style cross-document LINE dedup (boilerplate scrub).
    // The synthetic docs are single-line, so the query synthesizes the
    // boilerplate the way corpus_scrub synthesizes PII: every doc gains
    // an "all rights reserved" footer (dropped — in every doc), a third
    // gain a shared newsletter line (dropped), and each keeps a
    // doc-unique suffix line (kept, order preserved)
    "corpus_line_dedup" -> ((s, dir) =>
      graft.operators.Corpus.lineDedup(
          docs(s, dir).select(col("doc_id"), concat(
            col("text"), lit("\n"),
            when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter"))
              .otherwise(concat(lit("unique suffix "), col("doc_id").cast("string"))),
            lit("\nall rights reserved")).as("text")))
        .orderBy("doc_id")),

    // extension: EXACT-SUBSTRING dedup (Lee et al. 2022 ExactSubstr,
    // sub-document granularity): 10-token windows repeated anywhere in
    // the corpus flag a span; per-doc output = flagged-window count and
    // the interval-union token coverage. Catches boilerplate embedded in
    // otherwise-unique documents that doc-level dedup cannot see.
    "corpus_substring_dedup" -> ((s, dir) =>
      substringSpans10(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("n_flagged"),
          col("covered_tokens"))
        .orderBy("doc_id")),

    // the APPLY step, verified by full-text equality: every doc re-emitted
    // with repeated regions cut and survivors space-joined — consuming
    // the same memoized census frame as the span report
    "corpus_substring_scrub" -> ((s, dir) =>
      Dedup.substringScrubWith(docs(s, dir),
          substringSpans10(s, dir), windowTokens = 10)
        .orderBy("doc_id")),

    "text_stats" -> ((s, dir) =>
      docsSpread(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(
          col("doc_id"),
          size(col("__toks")).cast("long").as("n_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
          r4(TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats"))).as("quality"))
        .orderBy("doc_id")),

    // extension: BM25 keyword scoring against a fixed term list — the
    // lexical half of hybrid corpus search. Only the constant-width
    // df/avgdl reduction shuffles; the score pass is map-only over a
    // one-row broadcast of idfs.
    "text_bm25" -> ((s, dir) =>
      TextOps.bm25(docsSpread(s, dir), col("text"),
          Seq("key", "table", "scan"))
        .select(col("doc_id"), r4(col("score")).as("score"))
        .orderBy("doc_id")),

    // extension: BM25 RETRIEVAL — top-k docs per keyword query: one
    // shared scoring pass over the union of query terms, per-query fold
    // of its own term contributions, bounded-heap top-k (no ranking
    // window — pinned in PlanShapeSpec)
    "text_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(docsSpread(s, dir), col("text"),
          Seq("q_key_table" -> Seq("key", "table"), "q_scan" -> Seq("scan", "key")),
          k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          r4(col("score")).as("score"))
        .orderBy("query_id", "rank")),

    // extension: HYBRID retrieval — the BM25 lexical shortlist fused
    // with the IVF semantic shortlist by reciprocal-rank fusion (no
    // score calibration across incomparable scales). The 100 TB serving
    // shape: two bounded shortlists, fusion cost independent of corpus
    // size; vec_id ≡ doc_id in the demo tables
    "hybrid_rrf_query" -> ((s, dir) => {
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

    // extension: per-(source, language) corpus rollup — docs, exact
    // uniques (two-stage agg on the content hash, no Expand), token
    // volume, mean quality; the observability table a pipeline run
    // publishes.
    "corpus_stats" -> ((s, dir) =>
      graft.operators.Corpus.stats(
          docsSpread(s, dir), col("source"), col("text"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_unique"),
          col("total_tokens"), r4(col("avg_quality")).as("avg_quality"))
        .orderBy("source", "lang")),

    // extension: hierarchical ROLLUP — (source, lang), per-source, and
    // grand-total rows from ONE pass (Catalyst's Expand; fine here
    // because the aggregates are ADDITIVE — the repo's no-Expand rule
    // targets count_distinct, where Expand multiplies the shuffle by
    // the grouping-set count for non-combinable state). Subtotals are
    // labeled via grouping() — NOT a bare coalesce, which would
    // conflate a genuine NULL-lang data row with its source's
    // subtotal row (two identically-keyed rows with different
    // counts; the hostile fixture carries such a doc)
    "corpus_rollup" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("__nt", size(TextOps.tokens(col("text"))).cast("long"))
        .rollup(col("source"), col("lang"))
        // grouping() must live INSIDE the agg — in a later projection
        // it has no Aggregate to resolve against
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens"),
          grouping(col("source")).as("__gs"), grouping(col("lang")).as("__gl"))
        .select(
          when(col("__gs") === 1, lit("ALL"))
            .otherwise(coalesce(col("source"), lit("(null)"))).as("source"),
          when(col("__gl") === 1, lit("ALL"))
            .otherwise(coalesce(col("lang"), lit("(null)"))).as("lang"),
          col("n_docs"), col("total_tokens"))
        .orderBy("source", "lang")),

    // extension: EXACT per-source median document length — the
    // two-level rank layout per group (no per-source sort of raw rows);
    // lower median = value at rank ceil(n/2), interpolation-free so the
    // oracle can replay it row-exactly
    "corpus_median_length" -> ((s, dir) =>
      graft.operators.Corpus.groupMedian(
          docsSpread(s, dir),
          col("source"), col("n_chars"), col("doc_id"), hi = 4096L)
        .select(col("group").as("source"), col("median").as("median_chars"))
        .orderBy("source")),

    // extension: the SKETCH twin of corpus_median_length — the 100 TB
    // swap-in, completing the set (corpus_quality_band_sketch,
    // events_gini_sketch): per-source approx_percentile(0.5) (mergeable
    // GK sketch, O(1) state per source) instead of the exact two-level
    // rank layout. Invariant oracle: the returned median satisfies the
    // sketch's RANK contract stated directly — the count of lengths
    // strictly below / at-or-below it lands within ±(0.08·n + 2 ranks)
    // of the target rank n/2 (tie-robust and tiny-group-robust where a
    // value-band check is not), and the median lies inside the group's
    // [min, max]. Booleans coalesce TRUE on a degenerate (all-null)
    // population; n_docs is the exact oracle-derivable cell
    "corpus_median_length_sketch" -> ((s, dir) => {
      val scored = docsSpread(s, dir)
        .select(coalesce(col("source"), lit("(null)")).as("source"),
          col("n_chars"))
      val sk = scored.groupBy(col("source"))
        .agg(percentile_approx(col("n_chars"), lit(0.5), lit(5000)).as("__md"))
      val n = col("__n").cast("double")
      scored.join(broadcast(sk), Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("n_chars") < col("__md"), 1L).otherwise(0L)).as("__md_lt"),
          sum(when(col("n_chars") <= col("__md"), 1L).otherwise(0L)).as("__md_le"),
          min(col("n_chars")).as("__mn"), max(col("n_chars")).as("__mx"),
          first(col("__md")).as("__mdv"))
        .select(col("source"), col("__n").as("n_docs"),
          coalesce(col("__md_lt") <= n * 0.58 + 2
            && col("__md_le") >= n * 0.42 - 2, lit(true)).as("med_ok"),
          coalesce(col("__mdv") >= col("__mn")
            && col("__mdv") <= col("__mx"), lit(true)).as("range_ok"))
        .orderBy("source")
    }),

    // extension: percentile-BAND quality trim — keep the middle 80% of
    // the r4-quantized quality distribution (drop the bottom tail as junk
    // AND the top tail as templated text). Exact ranks via the two-level
    // prefix-sum layout — no single-partition global window
    "corpus_quality_band" -> ((s, dir) => {
      // caller-level persist (r15, verdict item 6): qualityBand consumes
      // its input twice (bucket histogram + ranked pass), so the
      // tokenize+quality kernel ran twice per materialization. The r14
      // OPERATOR-level persist was reverted because it cached the frame
      // one projection too late (score + bucket over the full row);
      // caching the narrow (doc_id, quality) projection is the same
      // granularity that paid for quality_band_sketch / calibration.
      val scored = Caching.ensureCached(docsSpread(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(col("doc_id"),
          r4(TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats")))
            .as("quality")))
      graft.operators.Corpus.qualityBand(scored, col("quality"), col("doc_id"),
          loPct = 0.1, hiPct = 0.9)
        .select(col("doc_id"), col("quality"), r4(col("pct_rank")).as("pct_rank"))
        .orderBy("doc_id")
    }),

    // extension: the SKETCH twin of corpus_quality_band — the 100 TB
    // swap-in (the events_sketch_check pattern): per-source [p10, p90]
    // quality trim thresholds from approx_percentile (mergeable GK
    // sketch, O(1) state per source) instead of exact distributed
    // ranks. Invariant oracle: each returned threshold must satisfy the
    // sketch's RANK contract stated directly — the count of values
    // strictly below / at-or-below it lands within ±(0.08·n + 2 ranks)
    // of the target rank (tie-robust and tiny-group-robust where
    // interpolated value bands are not), and the trimmed band keeps
    // ≥ 0.6·n − 2 docs. n_docs is the exact oracle-derivable cell.
    "corpus_quality_band_sketch" -> ((s, dir) => {
      // persisted (r14): consumed by the sketch aggregate AND the
      // rank-contract check — uncached, the tokenize+quality kernels ran
      // twice per pass. Narrow (source, double) rows.
      val scored = Caching.ensureCached(docsSpread(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(coalesce(col("source"), lit("(null)")).as("source"),
          r4(TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats")))
            .as("__q")))
      val sk = scored.groupBy(col("source"))
        .agg(percentile_approx(col("__q"), lit(0.1), lit(5000)).as("__lo"),
          percentile_approx(col("__q"), lit(0.9), lit(5000)).as("__hi"))
      val n = col("__n").cast("double")
      scored.join(broadcast(sk), Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("__q") < col("__lo"), 1L).otherwise(0L)).as("__lo_lt"),
          sum(when(col("__q") <= col("__lo"), 1L).otherwise(0L)).as("__lo_le"),
          sum(when(col("__q") < col("__hi"), 1L).otherwise(0L)).as("__hi_lt"),
          sum(when(col("__q") <= col("__hi"), 1L).otherwise(0L)).as("__hi_le"),
          sum(when(col("__q") >= col("__lo") && col("__q") <= col("__hi"), 1L)
            .otherwise(0L)).as("__kept"))
        .select(col("source"), col("__n").as("n_docs"),
          (col("__lo_lt") <= n * 0.18 + 2 && col("__lo_le") >= n * 0.02 - 2)
            .as("lo_ok"),
          (col("__hi_lt") <= n * 0.98 + 2 && col("__hi_le") >= n * 0.82 - 2)
            .as("hi_ok"),
          (col("__kept") >= n * 0.6 - 2).as("band_ok"))
        .orderBy("source")
    }),

    // extension: md5 + rolling-window document fingerprints
    "doc_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        md5(col("text")).as("md5_full"),
        TextOps.fingerprint(col("text"), 8).as("min_window_md5"))
        .orderBy("doc_id")),

    // extension: REAL index build (seeded MLlib k-means) + probed query.
    // probes=64 ≥ k at verify scale, so every cluster is probed and the
    // result MUST equal the exact top-10 — a full SQL oracle over the
    // whole build→assign→probe→rerank machinery (any dropped/duplicated
    // record or broken probe plumbing breaks the match). Pruned-probe
    // recall is checked by `ivf_build_stats` and ScalaTest.
    "ivf_build_query" -> ((s, dir) => {
      val model = IvfIndex.buildCached(recs(s, dir), dir, density = 64, Metric.Euclidean, seed = 42L)
      knnOut(IvfIndex.query(model, qvec0(s, dir), k = 10, probes = 64, Metric.Euclidean))
    }),

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
    "ivf_build_stats" -> ((s, dir) => {
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
    "ivf_recall_curve" -> ((s, dir) => {
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
    "ivf_tuning_curve" -> ((s, dir) => {
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
    "ivf_refine_stats" -> ((s, dir) => {
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

    // extension: two-level build — a forced-tiny coarse partition (4
    // fixed centroids, so the initial clusters all violate density),
    // then the adaptive-split loop restores the max-records-per-cluster
    // contract. EXACT census (r12, like ivf_refine_stats): the oracle
    // replays the whole deterministic build — up to 6 binary-split
    // rounds, each an unrolled refine — and states n_clusters/max_size
    // as values; booleans are derived, not pinned.
    "ivf_balanced_stats" -> ((s, dir) => {
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

    // extension: corpus-cleaning pipeline composition — exact dedup
    // (keep min id per identical text) ∩ quality threshold ∩ language:
    // the end-to-end shape these operators exist for. ONE tokenize pass
    // AND one shuffle: the per-doc verdict columns (dedup key, language,
    // quality) are computed in a single projection, and because identical
    // texts have identical verdicts, the keep-min-id rule collapses INTO
    // the dedup groupBy (min over (doc_id, lang, q) per hash) — no
    // keep-set semi-join, no second scan, no cache to manage (round 2
    // scanned documents twice; round 3 persisted a narrow frame for two
    // consumers). Shuffled rows are narrow: hash + id + lang + score.
    "corpus_clean" -> ((s, dir) =>
      docsSpread(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        // stats MUST be its own projection level: langFromVotes reads its
        // argument once per language, so inlining the stats kernel would
        // re-run it several times per row (TextOps.langId note)
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(col("doc_id"), sha2(col("text"), 256).as("__h"),
          TextOps.langFromVotes(col("__stats.votes")).as("__lang"),
          TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats")).as("__q"))
        .groupBy(col("__h"))
        .agg(min(col("doc_id")).as("doc_id"),
          min(col("__lang")).as("__lang"), min(col("__q")).as("__q"))
        .where(col("__lang") === "en" && col("__q") >= 0.45)
        .select(col("doc_id")).orderBy("doc_id")),

    // extension: the FULL assembly pipeline in one DAG — clean (exact
    // dedup ∩ language ∩ quality) → content-keyed split → sequence
    // packing — the end-to-end shape a training-data user runs. ONE
    // tokenize pass computes every verdict column (hash, split bucket,
    // token count, lang, quality); identical texts have identical
    // verdicts so dedup collapses into the groupBy (narrow shuffle:
    // never text or token arrays); packing is the per-(split, shard)
    // running sum. Two pipeline shuffles (dedup groupBy + packing
    // window) for five logical stages; the only other exchanges are the
    // input CPU-spread and the output sort.
    "corpus_assemble" -> ((s, dir) =>
      assemblePacked(assembleFiltered(s, dir))),

    // extension: the SAME end-to-end assembly DAG budgeted in TRAINED
    // BPE tokens — the composed pipeline a real pretraining user runs:
    // whitespace-budgeted packs overflow a real context window by
    // whatever the tokenizer splits, so the production packer must
    // budget in tokenizer tokens. The budget kernel ([[TextOps
    // .bpeTokenCountFromTokens]]) rides the assemble front half's ONE
    // shared tokenize pass as a fused map-only expression (no
    // vocabulary join, no extra pass — plan-pinned in PlanShapeSpec on
    // the un-checkpointed DAG) and its verdict collapses into the same
    // dedup groupBy; the back half is pack_bpe's running-sum window on
    // `n_tokens_bpe`. Oracle = assemble's kept CTEs + pack_bpe's
    // per-token segmentation replay + the shared pack arithmetic.
    "corpus_assemble_bpe" -> ((s, dir) =>
      assemblePacked(assembleFiltered(s, dir), tokCol = "n_tokens_bpe")),

    // extension: the FULL ingestion pipeline in one DAG — quality/lang
    // filters + exact dedup (assembleFiltered) + NEAR-dup drop (the CC
    // keep map, non-representatives anti-joined out) + deterministic
    // split + sequence packing. What a training-data job actually runs
    "corpus_assemble_dedup" -> ((s, dir) =>
      assemblePacked(
        assembleFiltered(s, dir).join(
          cappedGroups(s, dir).where(col("doc_id") =!= col("rep_id"))
            .select(col("doc_id")),
          Seq("doc_id"), "left_anti"))),

    // extension: the FULL pipeline budgeted in TRAINED tokens — the row
    // a pretraining user actually ships: clean → exact dedup → NEAR-dup
    // drop → split → pack, with the pack budget in trained-BPE tokens
    // (whitespace budgets overflow a real context window by whatever
    // the tokenizer splits). Same DAG as corpus_assemble_dedup; the
    // budget kernel rides the one shared tokenize pass as a fused
    // map-only expression (plan-pinned on the front half) and the CC
    // anti-join sees only narrow columns
    "corpus_assemble_dedup_bpe" -> ((s, dir) =>
      assemblePacked(
        assembleFiltered(s, dir).join(
          cappedGroups(s, dir).where(col("doc_id") =!= col("rep_id"))
            .select(col("doc_id")),
          Seq("doc_id"), "left_anti"),
        tokCol = "n_tokens_bpe")),

    // extension: the RELEASE MANIFEST — the artifact of record shipped
    // beside a packed pretraining corpus: per (split, source), doc
    // count, whitespace AND trained-BPE token budgets, the exact
    // order-invariant content checksum (56-bit md5 sum in
    // corpus_checksum's hash-robust two-BIGINT halves), and char mass —
    // over the FULL pipeline output (clean -> exact dedup -> lang/
    // quality gate -> near-dup drop -> content-keyed split). Pure
    // narrow-column aggregation: the verdict columns ride the memoized
    // assemble front half, source/hash/chars ride the memoized
    // content-hash projection — zero new text scans, text never
    // shuffles, and every aggregate is a commutative monoid (two
    // manifests over disjoint slices fold by summing per cell)
    "corpus_release_manifest" -> ((s, dir) =>
      assembleFiltered(s, dir)
        .join(
          cappedGroups(s, dir).where(col("doc_id") =!= col("rep_id"))
            .select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        .withColumn("split",
          when(col("__b") < 90, lit("train")).otherwise(lit("val")))
        .join(hashedDocsMemo(s, dir)
            .select(col("doc_id"), col("source"), col("__h56"), col("__nc")),
          Seq("doc_id"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_tokens_bpe")).as("n_tokens_bpe"),
          sum(col("__h56")).cast("decimal(38,0)").as("__cs"),
          sum(col("__nc")).as("total_chars"))
        .select(col("split"), col("source"), col("n_docs"),
          col("n_tokens"), col("n_tokens_bpe"),
          expr("__cs div 4611686018427387904").as("checksum_hi"),
          (col("__cs") % lit(4611686018427387904L)).cast("long")
            .as("checksum_lo"),
          col("total_chars"))
        .orderBy("split", "source")),

    // extension: the pipeline's own attrition funnel — corpus size and
    // token budget surviving each stage (raw → exact dedup → lang/
    // quality gate → near-dup drop) as ONE summary row; the number a
    // data-curation run reports. Single-row aggregates cross-joined
    // (1×1 — no data-sized join anywhere)
    "corpus_funnel" -> ((s, dir) => {
      // raw-count and exact-distinct legs ride the memoized content-hash
      // projection (shared with corpus_checksum/dedup_exact) — no
      // re-digest of the text column
      val h = hashedDocsMemo(s, dir)
      val filtered = assembleFiltered(s, dir)
      val kept2 = filtered.join(
        cappedGroups(s, dir).where(col("doc_id") =!= col("rep_id"))
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      h.agg(count(lit(1)).as("n_raw"))
        // distinct-then-count, NOT count(DISTINCT …) in a shared agg —
        // the latter plans an Expand that doubles every row pre-shuffle
        .crossJoin(h.select(col("__sha")).distinct()
          .agg(count(lit(1)).as("n_exact")))
        .crossJoin(filtered.agg(count(lit(1)).as("n_filtered"),
          sum(col("n_tokens")).as("tokens_filtered")))
        .crossJoin(kept2.agg(count(lit(1)).as("n_final"),
          sum(col("n_tokens")).as("tokens_final")))
    }),

    // extension: deterministic content-keyed train/val/test split —
    // map-only, stable under corpus changes (no cross-split migration on
    // append/rerun)
    "corpus_split" -> ((s, dir) =>
      graft.operators.Corpus.assignSplit(docs(s, dir), col("text"))
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy("doc_id")),

    // extension: leakage-safe split — near-dup groups move as one unit
    // (split keyed on the group rep's content; plain content-keyed
    // splitting lets paraphrases straddle train/test)
    "corpus_split_safe" -> ((s, dir) =>
      graft.operators.Corpus.assignSplitGroupSafe(docs(s, dir), cappedGroups(s, dir))
        .select(col("doc_id"), col("rep_id"), col("bucket"), col("split"))
        .orderBy("doc_id")),

    // extension: greedy concat-and-chunk sequence packing into
    // 512-token training chunks, shard-parallel running totals
    "seq_pack" -> ((s, dir) =>
      graft.operators.Corpus.pack(
          docsSpread(s, dir),
          size(TextOps.tokens(col("text"))), budget = 512, nShards = 8)
        .orderBy("doc_id")),

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
    "pack_bpe" -> ((s, dir) =>
      graft.operators.Corpus.pack(
          docsSpread(s, dir),
          TextOps.bpeTokenCountTrained(col("text")), budget = 512, nShards = 8)
        .orderBy("doc_id")),

    // extension: PACKING-efficiency report — per-shard document/token
    // counts, pack counts, and fill ratio: the dashboard that says
    // whether the packing budget wastes context-window tokens. Exact
    // ints until the final fill division
    "pack_efficiency" -> ((s, dir) =>
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

    // extension: dedup-group PURITY — the fraction of each duplicate
    // group whose source matches its representative's: the audit that
    // distinguishes intra-source boilerplate from cross-source
    // syndication (and sanity-checks the keep-map before applying it).
    // Exact counts off the memoized group map
    "dedup_group_purity" -> ((s, dir) => {
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

    // extension: per-source quota sampling (dataset mixing) — smallest
    // content hash per source via the bounded-heap aggregate, no
    // per-source ranking window
    "mix_sample" -> ((s, dir) =>
      graft.operators.Corpus.mixSample(
          docsSpread(s, dir), col("source"), col("text"), quota = 10)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // extension: overlapping token-window CHUNKING — long documents split
    // into context-window chunks (budget 32, overlap 8 → starts advance
    // by 24); the long-doc half of sequence assembly, map-only
    "corpus_chunk" -> ((s, dir) =>
      graft.operators.Corpus.chunk(
          docsSpread(s, dir),
          size(TextOps.tokens(col("text"))), budget = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),

    // extension: the chunks MATERIALIZED — each window's token slice as
    // text, the export that actually feeds a trainer/RAG store. Same
    // budget/overlap as corpus_chunk; map-only, text never shuffles
    "corpus_chunk_text" -> ((s, dir) =>
      graft.operators.Corpus.chunkText(
          docsSpread(s, dir),
          TextOps.tokens(col("text")), budget = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),

    // extension: benchmark DECONTAMINATION — train-split documents
    // sharing any 8-gram with the val split (the leakage gate before a
    // corpus ships). Hash-only join; the benchmark side is the small
    // distinct-gram set.
    "corpus_decontaminate" -> ((s, dir) =>
      graft.operators.Corpus.decontaminateFromGrams(
          splitGramRows(s, dir, "train"), splitGramRows(s, dir, "val"))
        .orderBy("doc_id")),

    // extension: contamination BY SOURCE — the acquisition-side view of
    // the leak: for each ingestion source, how many of its train-split
    // docs share a val 8-gram and how many leaked gram incidences it
    // carries. This is the report that decides which CRAWL to fix (a
    // benchmark leaking through one scraped mirror is one source row
    // here). Composes the standing index with one narrow (doc_id,
    // source) join; sources with no leak report zeros (the full source
    // roster enumerates — auditability over brevity)
    "corpus_contamination_by_source" -> ((s, dir) => {
      // '(null)' sentinel for a null source — the repo's established
      // convention (corpus_rollup): a raw null group key would hit the
      // NULLS FIRST/LAST sort divergence
      val d = docs(s, dir).select(col("doc_id"),
        coalesce(col("source"), lit("(null)")).as("source"))
      val flagged = graft.operators.Corpus.decontaminateFromGrams(
        splitGramRows(s, dir, "train"), splitGramRows(s, dir, "val"))
      d.join(flagged, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(sum(when(col("n_shared").isNotNull, 1L).otherwise(0L)).as("n_flagged_docs"),
          coalesce(sum(col("n_shared")), lit(0L)).as("n_leaked_grams"))
        .orderBy("source")
    }),

    // extension: 13-gram decontamination — the GPT-3 convention (Brown
    // et al. 2020 appendix C decontaminates on 13-gram overlap): longer
    // grams trade recall for precision, flagging only near-verbatim
    // leakage. Same standing-index machinery at n = 13 (its own memoized
    // frame — a 13-gram index shares nothing with the 8-gram one)
    "corpus_decontaminate_13" -> ((s, dir) =>
      graft.operators.Corpus.decontaminateFromGrams(
          splitGramRows(s, dir, "train", n = 13),
          splitGramRows(s, dir, "val", n = 13))
        .orderBy("doc_id")),

    // extension: Bloom-prefiltered decontamination — the scale shape for
    // a benchmark gram set too big to broadcast raw: the test split's
    // distinct gram hashes fold into ONE fixed-size Bloom filter
    // (Spark's runtime-filter aggregate), every train gram probes it
    // map-only, and only survivors reach the exact semi-join. No false
    // negatives → the result is EXACTLY the exact join's, which is what
    // the oracle replays (it knows nothing of the filter)
    "corpus_decontaminate_bloom" -> ((s, dir) =>
      graft.operators.Corpus.decontaminateBloomFromGrams(
          splitGramRows(s, dir, "train"), splitGramRows(s, dir, "test"),
          estimatedItems = 100000L, numBits = 800000L)
        .orderBy("doc_id")),

    // extension: k-fold cross-validation assignment — the CV analog of
    // corpus_split: fold = contentHash32 % k, a pure function of text
    // (same content → same fold in ANY corpus; no RNG, no state), so
    // folds survive re-runs and incremental appends. Map-only
    "corpus_folds" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          (graft.operators.Corpus.contentHash32(col("text")) % 5)
            .cast("int").as("fold"))
        .orderBy("doc_id")),

    // extension: data-quality EXPECTATIONS — the declared-constraint
    // gate (Deequ shape) a pipeline runs before promoting a corpus
    // version: five row-level checks from ONE scan + the uniqueness
    // set-check, each reported as (check, n_rows, n_violations, pass).
    // text_min_50_chars deliberately FAILS on this corpus — the report
    // must demonstrably report violations, not only zeros
    "corpus_expectations" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Corpus.expectations(d, Seq(
          "doc_id_not_null" -> col("doc_id").isNotNull,
          "lang_known" -> col("lang").isin("en", "de", "zh", "fr", "es"),
          "n_chars_consistent" -> (col("n_chars") === length(col("text"))),
          "text_min_50_chars" -> (length(col("text")) >= 50),
          "text_tokenizable" -> (size(TextOps.tokens(col("text"))) >= 1)))
        .unionByName(
          graft.operators.Corpus.expectUnique(d, col("doc_id"), "doc_id_unique"))
        .orderBy("check")
    }),

    // extension: contamination REPORT — decontaminate pivoted to the
    // benchmark axis: per val-split item, how many train docs share a
    // gram with it and how many of its grams leak; zero rows kept (the
    // full benchmark enumerates). The eval team's view of the same leak
    "corpus_contamination_report" -> ((s, dir) =>
      graft.operators.Corpus.contaminationReportFromGrams(
          splitGrams8(s, dir).where(col("split") === "val")
            .select(col("doc_id").as("bench_id")),
          splitGramRows(s, dir, "val").withColumnRenamed("doc_id", "bench_id"),
          splitGramRows(s, dir, "train"))
        .orderBy("bench_id")),

    // extension: TEMPERATURE-scaled mixing shares (mT5/XLM-R style,
    // T = 2 square-root smoothing): per-source natural share, flattened
    // share, and the boost factor the mixer applies. sqrt is IEEE
    // correctly-rounded in both engines and each root is quantized
    // before the integer-exact sum, so every share is bit-identical
    "corpus_temperature_mix" -> ((s, dir) =>
      graft.operators.Corpus.temperatureMix(
          docs(s, dir).withColumn("__nt", size(TextOps.tokens(col("text")))),
          col("source"), col("__nt"))
        .orderBy("source")),

    // extension: NOVELTY scoring — decontamination's complement: the
    // fraction of each val-split document's distinct 8-gram hashes never
    // seen in the train split (the acquisition-time "is this batch worth
    // its training tokens?" check); only 8-byte hashes shuffle
    // extension: the STANDING GRAM INDEX surfaced as a first-class
    // report — per split: document count, documents carrying ≥1 8-gram,
    // index rows (distinct (doc, gram) pairs), distinct grams. The
    // capacity/coverage dashboard of the decontamination family's
    // shared index (built once per corpus version; this query reads the
    // same memoized frame the other four consume). Single-distinct
    // rollups joined — never two distincts in one agg (no-Expand rule)
    "corpus_gram_index_stats" -> ((s, dir) => {
      // TWO aggregation chains instead of four (r14): the index frame is
      // distinct per (split, doc_id, h) with one h-IS-NULL row per
      // gramless doc, so a per-(split, doc_id) rollup (count(h) skips
      // nulls) yields n_docs, n_docs_with_grams AND n_gram_rows in one
      // exchange; only n_distinct_grams still needs its own
      // single-distinct chain (never two distincts in one agg — the
      // no-Expand rule). Was: 4 aggregate chains + 3 joins over the same
      // memoized frame; results row-identical.
      val g = splitGrams8(s, dir)
      val perDoc = g.groupBy(col("split"), col("doc_id"))
        .agg(count(col("h")).as("__ng"))
      val bySplit = perDoc.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__ng") > 0L, 1L).otherwise(0L)).as("n_docs_with_grams"),
          sum(col("__ng")).as("n_gram_rows"))
      val dg = g.where(col("h").isNotNull)
        .select(col("split"), col("h")).distinct()
        .groupBy(col("split")).agg(count(lit(1)).as("n_distinct_grams"))
      bySplit.join(dg, Seq("split"), "left")
        .select(col("split"), col("n_docs"),
          col("n_docs_with_grams"), col("n_gram_rows"),
          coalesce(col("n_distinct_grams"), lit(0L)).as("n_distinct_grams"))
        .orderBy("split")
    }),

    "corpus_novelty" -> ((s, dir) =>
      graft.operators.Corpus.noveltyFromGrams(
          splitGramRows(s, dir, "val"), splitGramRows(s, dir, "train"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          r4(col("novelty")).as("novelty"))
        .orderBy("doc_id")),

    // extension: TOKEN-BUDGET sampling — the maximal content-hash-order
    // prefix of the corpus whose cumulative token count fits the budget
    // ("carve a 10B-token subset"). Two-level prefix sum: per-bucket
    // totals (≤ nBuckets rows) find each bucket's offset; whole-fitting
    // buckets keep with no per-row ordering, only the one straddling
    // bucket pays a partition-local running sum.
    "corpus_sample_budget" -> ((s, dir) =>
      graft.operators.Corpus.sampleToBudget(
          docsSpread(s, dir), col("text"),
          size(TextOps.tokens(col("text"))), budget = 12000L)
        .orderBy("doc_id")),

    // extension: PER-SOURCE token budgets — dataset mixing denominated in
    // tokens ("20B of web, 5B of code") instead of document counts; each
    // listed source keeps its own content-hash-order prefix fitting its
    // budget (src1's budget exceeds its total → whole source kept;
    // unlisted sources drop). Stratified two-level prefix sum.
    "mix_token_budget" -> ((s, dir) =>
      graft.operators.Corpus.mixTokenBudget(
          docsSpread(s, dir), col("source"), col("text"),
          size(TextOps.tokens(col("text"))),
          budgets = Map("src0" -> 800L, "src1" -> 5000L, "src3" -> 300L))
        .orderBy("doc_id")),

    // extension: deterministic seeded SHUFFLE — every doc's (shard, pos)
    // training-read address as a pure function of (seed, doc_id): stable
    // across reruns, resumable mid-epoch, re-dealt by changing the seed.
    // No engine RNG anywhere; the oracle replays the same md5-derived
    // 56-bit permutation key
    "corpus_shuffle" -> ((s, dir) =>
      graft.operators.Corpus.deterministicShuffle(
          docs(s, dir).select("doc_id"), col("doc_id"), seed = 42L, nShards = 8)
        .orderBy("doc_id")),

    // extension: multi-EPOCH sampling plan — passes over each source to
    // hit a declared mix at a token budget (full epochs + the partial-
    // pass remainder + the oversampling ratio the repetition literature
    // caps). Integer arithmetic end-to-end except the advisory ratio;
    // the weight table is ONE Scala literal feeding both engines
    "corpus_epoch_plan" -> ((s, dir) =>
      graft.operators.Corpus.epochPlan(
          docs(s, dir).withColumn("__nt", size(TextOps.tokens(col("text")))),
          col("source"), col("__nt"), epochPlanWeights, epochPlanBudget)
        .orderBy("source")),

    // extension: dedup THRESHOLD curve — verified-pair counts at a
    // ladder of Jaccard thresholds over one LSH candidate pass (the
    // tuning table for picking a near-dup threshold: how aggressive
    // does each setting get on THIS corpus). Exact-rational jaccards
    // make every count oracle-exact; monotone non-increasing by
    // construction (spec-pinned)
    "dedup_threshold_curve" -> ((s, dir) =>
      // the identical (params-and-all) pipeline the session memo holds —
      // a reduction over the checkpointed pair list, not a rebuild
      minhashPairs(s, dir)
        .select(col("jaccard"),
          explode(array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)).as("threshold"))
        .groupBy(col("threshold"))
        .agg(sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
          .as("n_pairs"))
        .orderBy("threshold")),

    // extension: DIVERSITY-stratified sampling — at most k vectors per
    // IVF cluster in deterministic content-hash order: the sample keeps
    // the embedding space's topical spread where a uniform sample would
    // mirror its skew; growing k only extends each cluster's slice
    "ivf_sample_diverse" -> ((s, dir) =>
      graft.operators.Corpus.sampleDiverse(
          fixedModel(s, dir, Metric.Euclidean).assigned,
          col("cluster_id"), col("id").cast("string"), col("id"), k = 5)
        .select(col("cluster_id"), col("id").as("vec_id"))
        .orderBy("cluster_id", "vec_id")),

    // extension: greedy k-center coreset (farthest-point traversal) —
    // the diversity-maximizing exemplar selector (labeling seeds, eval
    // probes, codebook inits); selection per round on the r4-QUANTIZED
    // min-distance with id tiebreak, so the greedy path is engine-
    // independent and the oracle unrolls all 8 rounds as chained CTEs
    "embed_coreset" -> ((s, dir) =>
      operators.VectorOps.greedyKCenters(recs(s, dir), k = 8, Metric.Euclidean)
        .select(col("step"), col("id").as("vec_id"), r4(col("radius")).as("radius"))
        .orderBy("step")),

    // extension: mix-DRIFT monitoring — actual vs declared per-source
    // composition (char mass) with per-source KL and total-variation
    // terms; the post-assembly check a production mixer runs after every
    // wave — drift above threshold is the re-balance trigger
    "mix_drift" -> ((s, dir) =>
      graft.operators.Corpus.mixDrift(
          docs(s, dir), col("source"), col("n_chars"), driftTargets.toMap)
        .select(col("source"), r4(col("actual_share")).as("actual_share"),
          r4(col("target_share")).as("target_share"),
          r4(col("kl_term")).as("kl_term"), r4(col("tv_term")).as("tv_term"))
        .orderBy("source")),

    // extension: DSIR importance resampling — rank the raw pool by how
    // target-like each document's hashed-token distribution is (add-1-
    // smoothed bucket models, logw = Σ ln(p_tgt/p_raw)); target = the
    // curated 'src0' slice. Top-100 in (rounded-weight desc, doc_id)
    // order — the selection step of data selection via importance
    // resampling (Xie et al. 2023)
    "corpus_dsir" -> ((s, dir) =>
      dsirWeightsMemo(s, dir)
        .select(col("doc_id"), col("n_tokens"), r4(col("logw")).as("logw"))
        .orderBy(desc("logw"), col("doc_id")).limit(100)),

    // extension: corpus CHECKSUM manifest — per-source row count,
    // distinct-content count, exact decimal sum of 56-bit content
    // hashes, char mass: the order/partitioning-independent fingerprint
    // that proves two corpus versions (or two engines) hold identical
    // content — this project's own oracle gate, productized
    "corpus_checksum" -> ((s, dir) =>
      // rides the memoized content-hash projection (one digest pass per
      // session, shared with corpus_funnel/dedup_exact) instead of
      // re-hashing the corpus; Corpus.checksum(docs, ...) is the
      // from-scratch form the operator keeps for one-shot callers
      graft.operators.Corpus.checksumFromProjected(
          hashedDocsMemo(s, dir)
            .select(col("source"), col("__h56").as("__h"), col("__nc")))
        .orderBy("source")),

    // extension: corpus VERSION DIFF — the checksum manifest productized
    // into change detection: per source, the manifest DELTA between an
    // ancestor version (the `doc_id < 400` slice — a prior snapshot) and
    // the current corpus, which is ITSELF a manifest (counts, the exact
    // 56-bit hash-sum delta — any flipped character moves it — and char
    // mass, surfaced as the hash-robust two-BIGINT halves). Both sides
    // aggregate the ONE memoized content-hash projection: zero extra
    // digest passes, map-side-combinable aggregates only. The cross-run
    // form diffs two stored manifests without touching either corpus.
    "corpus_version_diff" -> ((s, dir) => {
      val h = hashedDocsMemo(s, dir)
      def manifest(df: DataFrame): DataFrame = df.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("__h56")).cast("decimal(38,0)").as("hs"),
          sum(col("__nc")).as("tc"))
      val o = manifest(h.where(col("doc_id") < 400))
        .select(col("source"), col("n").as("__no"), col("hs").as("__ho"),
          col("tc").as("__to"))
      graft.operators.Corpus.checksumSurface(
        manifest(h).join(o, Seq("source"), "left_outer")
          .select(col("source"),
            (col("n") - coalesce(col("__no"), lit(0L))).as("n_docs"),
            (col("hs") - coalesce(col("__ho"),
              lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
              .cast("decimal(38,0)").as("hash_sum"),
            (col("tc") - coalesce(col("__to"), lit(0L))).as("total_chars")))
        .orderBy("source")
    }),

    // extension: DSIR under per-source quotas — the deployment shape of
    // importance resampling: the 10 most target-like documents of EACH
    // source (bounded heap per source, never a ranking window; r4-
    // quantized weights so the rank boundary is engine-independent)
    "corpus_dsir_mix" -> ((s, dir) => {
      val w = dsirWeightsMemo(s, dir)
        .select(col("doc_id"), r4(col("logw")).as("logw"))
        .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      graft.operators.Corpus.topKPerGroup(
          w, col("source"), col("logw"), col("doc_id"), k = 10)
        .select(col("group").as("source"), col("id").as("doc_id"),
          col("score").as("logw"))
        .orderBy("source", "doc_id")
    }),

    // extension: BPE merge-pair table — adjacent symbol-pair counts over
    // the distinct vocabulary weighted by term frequency (the first
    // iteration of byte-pair-encoding tokenizer training; work ∝ vocab,
    // never corpus tokens); top-50, ties by pair
    "vocab_bpe_pairs" -> ((s, dir) =>
      graft.operators.TextOps.bpeMergePairs(
        docsSpread(s, dir), k = 50)),

    // extension: BPE merge APPLICATION — the pinned ranked merge list
    // ([[TextOps.BpeMerges]], literal-model rule) applied to the
    // vocabulary: top-200 tokens by tf with their segmentations and
    // subword counts. Kernel cost ∝ |vocab| · merges, never corpus
    // tokens; the oracle restates the per-rank replace-to-fixpoint
    // verbatim as a recursive CTE over the same `replace` primitive.
    "text_bpe_apply" -> ((s, dir) =>
      graft.operators.TextOps.bpeSegmentations(
        docsSpread(s, dir), k = 200)),

    // extension: per-source tokenizer FERTILITY (subwords per word)
    // under the pinned merges — the tokenizer-eval metric; segmentation
    // runs once per distinct token, the rollup is one row per source
    "text_bpe_fertility" -> ((s, dir) =>
      graft.operators.TextOps.bpeFertility(docsSpread(s, dir))
        .select(col("source"), col("n_words"), col("n_subwords"),
          r4(col("n_subwords").cast("double") / col("n_words")).as("fertility"))
        .orderBy("source")),

    // extension: referential-integrity audit — the data-quality
    // preflight every pipeline run starts with: row counts, key
    // uniqueness on both tables, orphans in both directions
    // (docs without an embedding / embeddings without a doc), and
    // degenerate text. One row of exact integers from 1×1 cross-joined
    // aggregates (the corpus_funnel shape); each leg is one anti-join
    // or one two-stage distinct, nothing quadratic.
    "corpus_integrity" -> ((s, dir) => {
      val d = docs(s, dir)
      val e = emb(s, dir)
      val dIds = d.select(col("doc_id"))
      val eIds = e.select(col("vec_id"))
      val totals = d.agg(count(lit(1)).as("docs_total"))
        .crossJoin(e.agg(count(lit(1)).as("vecs_total")))
      val distincts = dIds.distinct().agg(count(lit(1)).as("docs_distinct"))
        .crossJoin(eIds.distinct().agg(count(lit(1)).as("vecs_distinct")))
      val orphanDocs = dIds
        .join(eIds.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("docs_without_vec"))
      val orphanVecs = eIds
        .join(dIds.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("vecs_without_doc"))
      val degenerate = d
        .agg(count(when(col("text").isNull || length(col("text")) === 0, 1))
          .as("empty_text"))
      totals.crossJoin(distincts).crossJoin(orphanDocs)
        .crossJoin(orphanVecs).crossJoin(degenerate)
    }),

    // extension: character-diversity quality stats — Simpson collision
    // index + dominant-char ratio (the mojibake/char-flood detectors);
    // one map-only kernel pass per doc, exact integer sums so no
    // forced-order fold is needed anywhere
    "text_char_diversity" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.operators.TextOps.charDiversity(col("text")).as("__cd"))
        .where(col("__cd.n_cp") > 0)
        .select(col("doc_id"),
          col("__cd.n_cp").as("n_cp"),
          col("__cd.n_distinct").as("n_distinct"),
          r4(lit(1.0) - col("__cd.sum_sq").cast("double") /
            (col("__cd.n_cp") * col("__cd.n_cp")).cast("double")).as("simpson"),
          r4(col("__cd.max_n").cast("double") / col("__cd.n_cp")).as("dominance"))
        .orderBy("doc_id")),

    // extension: READABILITY — Flesch reading ease with the standard
    // vowel-group syllable proxy: every counter is an exact integer
    // (word/sentence/syllable counts from portable regex classes), so
    // the score divides identically in both engines. Map-only
    "text_readability" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("__toks", filter(TextOps.tokens(col("text")), t => t =!= ""))
        .select(col("doc_id"),
          size(col("__toks")).cast("long").as("n_words"),
          greatest(lit(1L),
            regexp_count(col("text"), lit("[.!?]+")).cast("long")).as("n_sentences"),
          aggregate(col("__toks"), lit(0L), (acc, w) =>
            acc + greatest(lit(1L),
              regexp_count(w, lit("[aeiouy]+")).cast("long"))).as("n_syllables"))
        .where(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
          r4(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
            .as("flesch"))
        .orderBy("doc_id")),

    // extension: event-type TRANSITION matrix — per user-timeline
    // (ts, event_id)-ordered next-event counts with per-from-type
    // shares: the Markov-chain view of user behavior. The lead window
    // partitions on the user key (fine-grained — never a global rank);
    // shares divide exact counts
    "events_conversion_matrix" -> ((s, dir) => {
      // rides the [[typeTransitions]] session fixture (r15): the counts
      // are identical to the old inline window+aggregate — only the
      // per-pass recompute of the converged matrix is gone
      val trans = typeTransitions(s, dir)
      val totals = trans.groupBy(col("from_type")).agg(sum(col("n")).as("__t"))
      trans.join(broadcast(totals), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          r4(col("n").cast("double") / col("__t")).as("share"))
        .orderBy("from_type", "to_type")
    }),

    // extension: user-journey Markov chain — stationary distribution
    // of the type-transition matrix via 12 power iterations; counting
    // is distributed, the vocabulary-bounded matrix iterates on the
    // driver (small-support-model rule), oracle unrolls the same steps
    "events_markov" -> ((s, dir) =>
      // the power iteration reads the [[typeTransitions]] session
      // fixture (r15) — identical matrix, identical driver math
      operators.Events.stationaryFromCounts(typeTransitions(s, dir), iters = 12)
        .select(col("event_type"), r4(col("prob")).as("prob"))
        .orderBy("event_type")),

    // extension: top session PATHS — the most common first-5-event type
    // sequences per 30-min session: the "how do users actually move"
    // product analytic. Session ids by the lag/cumsum shape (one
    // shuffle), per-session order fixed by (ts, event_id), exact counts,
    // bounded top-k heap. Whale contract: the per-session collect_list
    // is bounded by session length — a bot session with millions of
    // events should be pre-gated by the events_user_cap rate limiter
    // (the documented upstream), same skew contract as the as-of join
    "events_paths" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cum = w.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
      events(s, dir)
        .withColumn("__new", when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("__sid", sum(col("__new")).over(cum))
        .groupBy(col("user_id"), col("__sid"))
        .agg(array_sort(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))).as("__evs"))
        .select(concat_ws(" > ", slice(
          transform(col("__evs"), e => e.getField("event_type")),
          lit(1), lit(5))).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc).limit(20)
    }),

    // extension: cohort LTV matrix — users cohorted by first-event
    // epoch week, q4-exact revenue by weeks-since-cohort: the lifetime
    // value dual of events_retention. Two reductions + one narrow join,
    // week index by integer floor-division (no window function)
    "events_ltv" -> ((s, dir) => {
      val e2 = events(s, dir).where(col("user_id").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 604800000000").as("__wk"),
          floor(coalesce(col("value").cast("double"), lit(0.0))
            * lit(10000.0) + lit(0.5)).cast("long").as("__v4"))
      val coh = e2.groupBy(col("user_id")).agg(min(col("__wk")).as("__c"))
      e2.join(coh, Seq("user_id"))
        .groupBy(col("__c").as("cohort_week"),
          (col("__wk") - col("__c")).as("week_n"))
        .agg(count_distinct(col("user_id")).as("n_active"),
          r4(sum(col("__v4")).cast("double") / lit(10000.0)).as("revenue"))
        .orderBy("cohort_week", "week_n")
    }),

    // extension: next-event prediction accuracy — the argmax of the
    // transition matrix as a 1-gram Markov predictor, scored on the
    // log itself (vocabulary-bounded argmax map rides the plan as a
    // literal; counting stays distributed; tie → lexicographic type)
    "events_markov_acc" -> ((s, dir) => {
      // both the argmax predictor AND the scoring aggregate derive from
      // the [[typeTransitions]] fixture (r15): over exact longs,
      // n_trans(f) = Σ_t n(f,t) and n_correct(f) = n(f, pred(f)) are
      // identities of the old per-transition-row form — which re-ran
      // the per-user lead window TWICE per pass (once collecting the
      // matrix, once scoring)
      val trans = typeTransitions(s, dir)
      val cells = trans.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val predMap = cells.groupBy(_._1).map { case (f, cs) =>
        f -> cs.minBy(c => (-c._3, c._2))._2
      }
      val pred = typedLit(predMap)
      trans
        .groupBy(col("from_type"))
        .agg(sum(col("n")).as("n_trans"),
          sum(when(element_at(pred, col("from_type")) === col("to_type"),
            col("n")).otherwise(0L)).as("n_correct"))
        .select(col("from_type"),
          element_at(pred, col("from_type")).as("predicted"),
          col("n_trans"), col("n_correct"),
          r4(col("n_correct").cast("double") / col("n_trans").cast("double"))
            .as("accuracy"))
        .orderBy("from_type")
    }),

    // extension: RFM segmentation — per-user recency (micros since the
    // corpus-max ts), frequency, and q4-exact monetary sum bucketed
    // into tertiles by interpolated percentiles over exact longs; the
    // 27-cell segment census is the classic lifecycle-marketing rollup.
    // One per-user reduction, a 1-row threshold broadcast, exact counts
    "events_rfm" -> ((s, dir) => {
      val ev = events(s, dir).where(col("user_id").isNotNull)
      val mx = ev.agg(max(unix_micros(col("ts"))).as("__mx"))
      val per = ev.groupBy(col("user_id")).agg(
          max(unix_micros(col("ts"))).as("__last"),
          count(lit(1)).as("__f"),
          sum(floor(coalesce(col("value").cast("double"), lit(0.0))
            * lit(10000.0) + lit(0.5)).cast("long")).as("__m"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"), (col("__mx") - col("__last")).as("__r"),
          col("__f"), col("__m"))
      val th = per.agg(
        expr(s"percentile(__r, ${RfmP1}D)").as("r1"),
        expr(s"percentile(__r, ${RfmP2}D)").as("r2"),
        expr(s"percentile(__f, ${RfmP1}D)").as("f1"),
        expr(s"percentile(__f, ${RfmP2}D)").as("f2"),
        expr(s"percentile(__m, ${RfmP1}D)").as("m1"),
        expr(s"percentile(__m, ${RfmP2}D)").as("m2"))
      def b(v: Column, t1: Column, t2: Column) =
        when(v.cast("double") <= t1, 0).when(v.cast("double") <= t2, 1)
          .otherwise(2)
      per.crossJoin(broadcast(th))
        .select(b(col("__r"), col("r1"), col("r2")).as("r_bucket"),
          b(col("__f"), col("f1"), col("f2")).as("f_bucket"),
          b(col("__m"), col("m1"), col("m2")).as("m_bucket"))
        .groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("r_bucket", "f_bucket", "m_bucket")
    }),

    // extension: robust volume anomalies — median/MAD instead of
    // mean/σ (events_anomaly's dual: one outage day cannot drag the
    // threshold). Interpolated medians over exact hour-count longs;
    // the 1.4826 normal-consistency constant and the 3.0 gate are
    // shared literals; flagged hours are exact comparisons
    "events_anomaly_mad" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(window(col("ts"), "1 hour")("start").as("hour"))
        .agg(count(lit(1)).as("n"))
      val med = hourly.agg(expr("percentile(n, 0.5D)").as("med"))
      val mad = hourly.crossJoin(broadcast(med))
        .select(abs(col("n").cast("double") - col("med")).as("__d"), col("med"))
        .agg(expr("percentile(__d, 0.5D)").as("mad"), first(col("med")).as("med"))
      hourly.crossJoin(broadcast(mad))
        .where(col("n").cast("double") >
          col("med") + lit(3.0) * lit(1.4826) * col("mad"))
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n"),
          r4(col("med")).as("med"), r4(col("mad")).as("mad"))
        .orderBy("hour")
    }),

    // extension: Holt linear-trend forecast of daily volume — dyadic
    // smoothing coefficients (0.5/0.25) make the recursion exactly
    // replayable; day counting distributed, recursion on the driver
    "events_forecast" -> ((s, dir) =>
      operators.Events.holtForecast(events(s, dir), horizon = 7)
        .select(col("horizon").cast("int").as("horizon"),
          r4(col("forecast")).as("forecast"))
        .orderBy("horizon")),

    // extension: BOT-CADENCE detection — machine traffic beats human
    // traffic in REGULARITY: per-user coefficient of variation of the
    // inter-event gap (exact whole-second integer gaps; the 30-day
    // domain filter keeps epoch-apart sessions out of cadence math and
    // the squared sums in long headroom). Lowest-CV high-volume users
    // surface first (quantize-then-rank, id tiebreak) — the traffic-
    // cleaning dual of events_interarrival's global profile
    "events_bot_cadence" -> ((s, dir) => {
      // chunkSec = 1 day: bot traffic is exactly where one user can carry
      // 10⁷+ events, so the gap scan runs the segmented whale-safe path
      val gaps = operators.Events.userGaps(events(s, dir), chunkSec = 86400L)
        .where(col("gap_s") <= lit(2592000L))
      // s1 > 0 excludes the all-zero-gap burst user (CV undefined at
      // mean 0); such bursts surface via events_key_skew/user_cap, and
      // a NULL-cv row here would hit the NULLS FIRST/LAST divergence
      val a = gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("gap_s")).as("s1"),
          sum(col("gap_s") * col("gap_s")).as("s2"))
        .where(col("n") >= 20 && col("s1") > 0)
      val mean = col("s1").cast("double") / col("n")
      val sd = sqrt(greatest(lit(0.0),
        col("s2").cast("double") / col("n") - mean * mean))
      a.select(col("user_id"), col("n").as("n_gaps"),
          r4(mean).as("mean_gap_s"), r4(sd).as("std_gap_s"),
          r4(sd / mean).as("cv"))
        .orderBy(col("cv").asc, col("user_id").asc)
        .limit(20)
    }),

    // extension: Holt–Winters additive seasonal forecast — the
    // seasonality-aware upgrade of events_forecast that events_acf's
    // lag-7 spike calls for. Dyadic smoothing coefficients; rotating
    // seasonal state (consume head, append tail) keeps the recursion
    // index-free so the oracle replays it as one list fold
    "events_holt_winters" -> ((s, dir) =>
      operators.Events.holtWintersForecast(events(s, dir), horizon = 7)
        .select(col("horizon").cast("int").as("horizon"),
          r4(col("forecast")).as("forecast"))
        .orderBy("horizon")),

    // extension: data-driven MULTI-TOUCH attribution — Markov removal
    // effects (how much does 16-step conversion probability fall when a
    // channel's inbound transitions redirect to drop), the principled
    // complement to events_attribution's last-touch rule. Journey
    // extraction is one partitioned window pass; the chain model is
    // campaign-vocabulary-bounded driver math the oracle replays as
    // nested list folds
    "events_attribution_markov" -> ((s, dir) =>
      operators.Events.markovRemovalEffects(events(s, dir), iters = 16,
          chunkSec = 86400L)
        .select(col("channel"), r4(col("conv_base")).as("conv_base"),
          r4(col("conv_without")).as("conv_without"),
          r4(col("removal_effect")).as("removal_effect"))
        .orderBy("channel")),

    // extension: seasonality-ADJUSTED anomaly report — one-step-ahead
    // Holt–Winters forecast errors, centered and ranked: the detector
    // that doesn't flag every Sunday on weekly traffic. Top-3 days by
    // |error − μ| (quantized, day tiebreak) so calm corpora still
    // exercise the contract; is_anomaly pins the kσ gate
    "events_seasonal_anomaly" -> ((s, dir) =>
      operators.Events.holtWintersAnomalies(events(s, dir))
        .select(col("rank"), col("day_index"), col("n"),
          r4(col("expected")).as("expected"), r4(col("error")).as("error"),
          col("is_anomaly"))
        .orderBy("rank")),

    // extension: Kaplan–Meier retention survival — the censoring-aware
    // churn curve (a user first seen 3 days before the log ends hasn't
    // churned, they haven't had time to). Exact integer day durations,
    // exact at-risk/churned counts; the survival product folds in one
    // fixed ascending order on BOTH engines (driver fold here, list
    // fold in the oracle), so the doubles agree bit-for-bit pre-r4
    "events_survival" -> ((s, dir) =>
      operators.Events.survivalCurve(events(s, dir), churnDays = 1)
        .select(col("t_days"), col("n_risk"), col("n_churned"),
          r4(col("survival")).as("survival"))
        .orderBy("t_days")),

    // extension: cohort-STRATIFIED survival — the retention-curve
    // comparison across signup months ("is March churning faster than
    // January"), with one GLOBAL observation end so late cohorts don't
    // look artificially loyal. Same exact-integer KM machinery, risk
    // sets and product per cohort
    "events_survival_cohort" -> ((s, dir) =>
      operators.Events.survivalCurveByCohort(events(s, dir), churnDays = 1)
        .select(col("cohort"), col("t_days"), col("n_risk"), col("n_churned"),
          r4(col("survival")).as("survival"))
        .orderBy("cohort", "t_days")),

    // extension: daily-series autocorrelation at lags 1..7 — the
    // periodicity detector (weekly traffic shows the lag-7 spike) that
    // says whether a trend-only forecast is admissible. Five exact
    // BIGINT sums per lag; doubles only in the final 7-row select, in
    // one operand shape shared with the oracle. Degenerate variance →
    // NULL (a constant series has no correlation, not r = 1)
    "events_acf" -> ((s, dir) =>
      operators.Events.dailyAcf(events(s, dir), maxLag = 7)
        .select(col("lag"), col("n_pairs"), r4(col("acf")).as("acf"))
        .orderBy("lag")),

    // extension: CUSUM changepoint on the daily series — the regime-
    // shift locator ("traffic changed level on day X") complementing
    // the single-day spike detectors. The statistic is scaled by the
    // day count so it stays exact-integer (Σ(m·y − S) = m·CUSUM);
    // argmax |C| at the earliest tied day; before/after means divide
    // exact sums in the final 1-row select
    "events_cusum" -> ((s, dir) =>
      operators.Events.cusumChangepoint(events(s, dir))
        .select(col("day_index"), col("cusum_scaled"), col("n_days"),
          r4(col("mean_before")).as("mean_before"),
          r4(col("mean_after")).as("mean_after"))),

    // extension: per-source QUALITY rollup — mean quality score
    // (r4-quantized-int mean) and Gopher pass rate per source: the
    // one-look curation scoreboard. All exact-int aggregation
    "corpus_source_quality" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(col("source"),
          floor(TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats"))
            * lit(10000.0) + lit(0.5)).cast("long").as("__qq"),
          TextOps.gopherFlags(col("text"), col("__toks")).getField("pass").as("__gp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__qq")).as("__s"),
          count(when(col("__gp"), 1)).as("__np"))
        .select(col("source"), col("n_docs"),
          r4(col("__s").cast("double") / col("n_docs") / lit(10000.0)).as("mean_quality"),
          r4(col("__np").cast("double") / col("n_docs")).as("gopher_pass_rate"))
        .orderBy("source")),

    // extension: quality-score CALIBRATION — decile the corpus by the
    // heuristic quality score (interpolated percentile thresholds over
    // the quantized-long scores) and report the Gopher pass rate per
    // decile: does the cheap score actually order the rule battery?
    "corpus_quality_calibration" -> ((s, dir) => {
      // persisted (r14): consumed by the decile-threshold aggregate AND
      // the banded rollup — uncached, the tokenize+quality+gopher kernels
      // ran twice per pass. Narrow (long, boolean) rows.
      val base = Caching.ensureCached(docs(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(
          floor(TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats"))
            * lit(10000.0) + lit(0.5)).cast("long").as("__qq"),
          TextOps.gopherFlags(col("text"), col("__toks")).getField("pass").as("__gp")))
      val th = base.agg(expr(
        "percentile(__qq, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
        .as("t"))
      base.crossJoin(broadcast(th))
        .withColumn("decile", aggregate(col("t"), lit(0),
          (acc, x) => acc + when(col("__qq").cast("double") > x, 1).otherwise(0)))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          r4(sum(col("__qq")).cast("double") / count(lit(1)) / lit(10000.0))
            .as("mean_quality"),
          r4(count(when(col("__gp"), 1)).cast("double") / count(lit(1)))
            .as("gopher_pass_rate"))
        .orderBy("decile")
    }),

    // extension: TF-IDF keyword extraction — top-5 terms per doc by
    // tf·ln(N/df), quantized-then-ranked (engine-independent order,
    // token tiebreak). Vocabulary-bounded df aggregate + per-doc
    // bounded sort-slice: no ranking window, no global sort.
    "text_keywords" -> ((s, dir) =>
      TextOps.tfidfTopK(docs(s, dir), k = 5)
        .select(col("doc_id"), col("rank"), col("token"), col("tf"),
          r4(col("score")).as("score"))
        .orderBy("doc_id", "rank")),

    // extension: per-source PII AUDIT — occurrence counts and
    // affected-doc counts for each scrub class (emails, phone-shaped
    // runs, IPv4), the before/after evidence for the scrub pass. The
    // regex classes are the engine-portable scrubPii patterns; counts
    // are exact ints, map-side combinable.
    "corpus_pii_stats" -> ((s, dir) =>
      docs(s, dir)
        .select(col("source"),
          regexp_count(col("text"), lit(TextOps.EmailRe)).as("__e"),
          regexp_count(col("text"), lit(TextOps.PhoneRe)).as("__p"),
          regexp_count(col("text"), lit(TextOps.Ipv4Re)).as("__i"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__e")).cast("long").as("emails"),
          count(when(col("__e") > 0, 1)).as("docs_with_email"),
          sum(col("__p")).cast("long").as("phones"),
          count(when(col("__p") > 0, 1)).as("docs_with_phone"),
          sum(col("__i")).cast("long").as("ips"),
          count(when(col("__i") > 0, 1)).as("docs_with_ip"))
        .orderBy("source")),

    // extension: source × detected-language mix matrix — the curation
    // dashboard crossing the declared source with the n-gram language
    // ID; fractions divide exact counts. Totals ride a broadcast, so
    // no window and nothing after the count shuffle scales with docs.
    "corpus_lang_matrix" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(col("source"),
          TextOps.langFromVotes(col("__stats.votes")).as("lang_pred"))
      val counts = d.groupBy(col("source"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy(col("source")).agg(sum(col("n")).as("__t"))
      counts.join(broadcast(totals), Seq("source"))
        .select(col("source"), col("lang_pred"), col("n"),
          r4(col("n").cast("double") / col("__t")).as("frac"))
        .orderBy("source", "lang_pred")
    }),

    // extension: Gopher-funnel attrition — survivors after each rule
    // applied cumulatively in the published order, one row: the
    // attrition report that tells a curator WHICH rule eats the corpus.
    // One map pass + one 1-row aggregate
    "corpus_gopher_funnel" -> ((s, dir) => {
      val g = docs(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .select(TextOps.gopherFlags(col("text"), col("__toks")).as("g"))
      val c1 = col("g.ok_words")
      val c2 = c1 && col("g.ok_mean_len")
      val c3 = c2 && col("g.ok_symbol")
      val c4 = c3 && col("g.ok_bullet")
      val c5 = c4 && col("g.ok_ellipsis")
      val c6 = c5 && col("g.ok_alpha")
      val c7 = c6 && col("g.ok_stop")
      g.agg(count(lit(1)).as("n_docs"),
        count(when(c1, 1)).as("after_words"),
        count(when(c2, 1)).as("after_mean_len"),
        count(when(c3, 1)).as("after_symbol"),
        count(when(c4, 1)).as("after_bullet"),
        count(when(c5, 1)).as("after_ellipsis"),
        count(when(c6, 1)).as("after_alpha"),
        count(when(c7, 1)).as("after_stop"))
    }),

    // extension: LSH banding planner — the closed-form candidate curve
    // P(candidate) = 1 − (1 − s^r)^b over the 16-perm band layouts and
    // a similarity grid: the tuning table behind minhashLsh's
    // (bands, rows) choice. No corpus scan at all; powers are
    // SEQUENTIAL-left-fold multiplication chains (no libm pow), so
    // every double is engine-identical
    "dedup_banding_planner" -> ((s, dir) => {
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

    // extension: the Gopher rule battery (Rae et al. 2021 §A1.1) — the
    // published MassiveText heuristic filter set as one map-only struct
    // per doc; every ratio divides exact integers, so even the rule
    // BOUNDARY comparisons are oracle-safe (no float drift can flip a
    // flag between engines)
    "text_gopher" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__g", TextOps.gopherFlags(col("text"), col("__toks")))
        .select(col("doc_id"),
          col("__g.n_words").as("n_words"),
          r4(col("__g.mean_word_len")).as("mean_word_len"),
          r4(col("__g.symbol_ratio")).as("symbol_ratio"),
          r4(col("__g.alpha_frac")).as("alpha_frac"),
          col("__g.stop_hits").as("stop_hits"),
          col("__g.ok_words").as("ok_words"),
          col("__g.ok_mean_len").as("ok_mean_len"),
          col("__g.ok_symbol").as("ok_symbol"),
          col("__g.ok_bullet").as("ok_bullet"),
          col("__g.ok_ellipsis").as("ok_ellipsis"),
          col("__g.ok_alpha").as("ok_alpha"),
          col("__g.ok_stop").as("ok_stop"),
          col("__g.pass").as("pass"))
        .orderBy("doc_id")),

    // extension: per-source OOV rate against the global top-1000
    // vocabulary — the tokenizer-fit-by-domain diagnostic. The vocab is
    // a bounded TakeOrderedAndProject; the OOV test is a broadcast
    // semi-join-shaped left join on the token key
    "vocab_oov_rate" -> ((s, dir) => {
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

    // extension: corpus n-GRAM inventory — instance/type counts and
    // type-token ratio for n = 1..3: the vocabulary-growth diagnostic
    // behind shingle/BPE sizing. Three Expand-free two-stage distincts
    "corpus_ngram_stats" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(filter(TextOps.tokens(col("text")), t => t =!= "").as("__t"))
      def one(n: Int): DataFrame = {
        val grams =
          if (n == 1) toks.select(explode(col("__t")).as("g"))
          else toks.select(explode(
            TextOps.shinglesFromTokens(col("__t"), n)).as("g"))
        grams.groupBy(col("g")).agg(count(lit(1)).as("__c"))
          .agg(lit(n).as("n"), sum(col("__c")).cast("long").as("instances"),
            count(lit(1)).as("types"))
      }
      one(1).unionByName(one(2)).unionByName(one(3))
        .select(col("n"), col("instances"), col("types"),
          r4(col("types").cast("double") / col("instances")).as("type_token_ratio"))
        .orderBy("n")
    }),

    // extension: per-source vocabulary richness WITHOUT the distinct
    // shuffle — linear counting over the 56-bit shingle hashes (k = 16384
    // cells per source, load ≤ 0.7 at every SF): at 100 TB the exact
    // per-source distinct-shingle count shuffles the whole shingle
    // multiset, while the LC cells frame is map-side-deduplicated and
    // bounded; the exact column here is the verification twin.
    "corpus_vocab_lc" -> ((s, dir) => {
      // NOTE (r14): sh is consumed by BOTH the exact-distinct rollup and
      // the linear-counting estimate (two tokenize+shingle passes per
      // materialization); an ensureCached persist was tried and REVERTED
      // — paired A/B at quiet load showed no win (the exploded frame's
      // cache write costs what the recompute costs at bench scale).
      val sh = docs(s, dir)
        .select(col("source").as("grp"),
          explode(TextOps.shingleHashes(TextOps.shingles(col("text"), 3))).as("key"))
      val k = 16384
      val ex = sh.distinct()
        .groupBy(col("grp")).agg(count(lit(1)).as("n_exact"))
      val est = operators.Events.lcEstimates(operators.Events.lcCells(sh, k), k)
      ex.join(est, Seq("grp"))
        .select(col("grp").as("source"), col("n_exact"), col("occupied"),
          r4(col("est")).as("est"),
          r4(abs(col("est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double")).as("rel_err"))
        .orderBy("source")
    }),

    // extension: vocabulary COVERAGE — the fraction of all token
    // instances a top-k vocabulary covers (the curve that sizes a token
    // vocabulary / OOV budget). Each point is a bounded
    // TakeOrderedAndProject + one sum — no global rank window, no
    // Expand; ratios divide exact integers so r4 is boundary-safe.
    "vocab_coverage" -> ((s, dir) => {
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

    // extension: vocabulary building — top-k tokens by term frequency
    // with document frequency, deterministic tie-break; the two-stage
    // map-side-combinable wordcount (no Expand, no corpus-wide sort)
    "vocab_top" -> ((s, dir) =>
      graft.operators.TextOps.vocabTop(
        docsSpread(s, dir), k = 100)),

    // extension: BPE TRAINER — the full iterative merge-learning loop
    // (count pairs → argmax → merge everywhere, 8 rounds) over the
    // tf-weighted vocabulary. The corpus-proportional work is the one
    // two-stage wordcount; training state is the bounded word-frequency
    // table (rule 19a: model-bounded → collect and iterate exactly).
    // The oracle replays the SAME loop unrolled as generated SQL CTEs —
    // merge application via separator-framed replace() — so every
    // learned (pair, freq) row is hash-checked, not just invariants
    "vocab_bpe_train" -> ((s, dir) =>
      graft.operators.TextOps.bpeTrain(
          docsSpread(s, dir), nMerges = 8, vocabCap = 500)
        .orderBy("step")),

    // extension: train → apply end-to-end — the vocabulary segmented
    // under the JUST-TRAINED merge table, applied distributed via the
    // bpeApply kernel with the merges inlined as literals (rule 19a).
    // The oracle reuses the unrolled training replay and reads the
    // final segmentation state (w8) directly — so the kernel's
    // rank-order application is hash-checked against the trainer's own
    // end state
    "text_bpe_train_apply" -> ((s, dir) =>
      graft.operators.TextOps.bpeTrainSegmentations(
        docsSpread(s, dir), nMerges = 8, vocabCap = 500)),

    // extension: WEIGHTED dataset mixing — per-source quotas (the real
    // "2 parts web, 1 part code" shape): each listed source keeps its own
    // smallest-content-hash prefix sized by its quota; unlisted sources
    // and zero quotas drop out; a quota above the source's size keeps the
    // whole source. One bounded heap per source (max quota entries), no
    // per-source ranking window.
    "mix_weighted" -> ((s, dir) =>
      graft.operators.Corpus.mixSampleWeighted(
          docsSpread(s, dir), col("source"), col("text"),
          quotas = Map("src0" -> 12, "src1" -> 5, "src2" -> 0, "src3" -> 30))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // extension: importance sampling ∝ document length — the
    // Efraimidis-Spirakis weighted draw (Corpus.importanceSample) with
    // content-hash randomness: deterministic, stable under appends,
    // quantized-then-ranked. Weight = codepoint length (portable both
    // engines); null/empty texts have no mass and drop out.
    "corpus_importance_sample" -> ((s, dir) =>
      graft.operators.Corpus.importanceSample(
          docs(s, dir), col("text"), length(col("text")), k = 64)
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("weight"), col("es_key9"))),

    // extension: pack MATERIALIZATION — the write path that turns pack
    // assignments into actual training sequences: gather each pack's
    // documents in doc_id order, concatenate texts. One shuffle keyed
    // (shard, pack_id); group size is bounded by the packing contract
    // (documents whose starts fall in one budget-token chunk).
    "pack_sequences" -> ((s, dir) => {
      val d = docsSpread(s, dir)
      val packed = graft.operators.Corpus.pack(
        d, size(TextOps.tokens(col("text"))), budget = 512, nShards = 8)
      graft.operators.Corpus.packedSequences(d, packed, col("text"))
        .orderBy("shard", "pack_id")
    }),

    // extension: multimodal feature extraction (stub codec; real plumbing).
    // Binary payloads → fixed-width float features via mapPartitions,
    // exploded to one row per (media, feature_idx) so every output column
    // is a sortable primitive for the correctness gate.
    "media_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.syntheticMedia(docs(s, dir)))
        .select(col("media_id"), col("kind"), posexplode(col("features")))
        .select(col("media_id"), col("kind"),
          col("pos").cast("int").as("feature_idx"),
          r4(col("col").cast("double")).as("value"))
        .orderBy("media_id", "feature_idx")),

    // extension: image thumbnail-resize plumbing (nearest-neighbor over
    // the stub byte grid), one sortable row per thumbnail pixel
    "media_resize" -> ((s, dir) =>
      Multimodal.resizeGrid(Multimodal.syntheticMedia(docs(s, dir)), thumbW = 4, thumbH = 4)
        .orderBy("media_id", "y", "x")),

    // extension: REAL-codec roundtrip — encode each document's bytes
    // into a real container (P6 PPM for even ids, 16-bit PCM WAV for
    // odd), then decode with the pure-JVM codec and emit exact-integer
    // pixel/sample statistics. The oracle computes the same features
    // DIRECTLY from the text, so a broken encoder or decoder diverges.
    "media_codec_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.codecMedia(docs(s, dir)), Multimodal.Codec.Real)
        .select(col("media_id"), col("kind"), posexplode(col("features")))
        .select(col("media_id"), col("kind"),
          col("pos").cast("int").as("feature_idx"),
          r4(col("col").cast("double")).as("value"))
        .orderBy("media_id", "feature_idx")),

    // extension: video frame sampling plumbing (stride-2 over payload stripes)
    "media_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.syntheticMedia(docs(s, dir)), stride = 2)
        .select(col("media_id"), col("frame_idx"),
          length(col("frame_bytes")).as("frame_len"))
        .orderBy("media_id", "frame_idx")),

    // extension: PERCEPTUAL-hash image dedup — the pixel-level twin of
    // media_dedup's byte-level pass: aHash (grid-4, exact-integer block
    // means) over REAL PPM-decoded rasters, then the O(n) exact-hash
    // grouping. Byte-distinct re-encodes of the same raster collide
    // here; the summary row is never vacuous (group listings can be).
    // At real-raster scale the same hash feeds the banded-Hamming
    // near-dup pass (simhashPairs machinery on a 64-bit grid-8 hash)
    "media_phash_dedup" -> ((s, dir) => {
      val hashed = Multimodal.perceptualHash(
        Multimodal.codecMedia(docs(s, dir)).where(col("kind") === "image"),
        grid = 4)
      val groups = hashed.groupBy(col("ahash")).agg(count(lit(1)).as("__n"))
      groups.agg(
        sum(col("__n")).cast("long").as("n_images"),
        count(lit(1)).as("n_distinct_hashes"),
        sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("n_dup_groups"),
        (sum(col("__n")) - count(lit(1))).cast("long").as("n_dup_copies"),
        max(col("__n")).cast("long").as("max_group"))
    }),

    // extension: perceptual NEAR-dup image pairs — the full-width
    // (grid-8, 64-bit) aHash through the generic banded-Hamming
    // machinery (Dedup.fingerprintPairs — pigeonhole-complete 3 bands
    // for hamming ≤ 2, exact bit_count(xor) verify, finite maxBucket):
    // re-encoded or lightly-edited rasters pair up even when their
    // bytes differ. The oracle replays hash, banding (shared
    // offset/mask arrays), and verification
    "media_phash_pairs" -> ((s, dir) => {
      val hashed = Multimodal.perceptualHash(
        Multimodal.codecMedia(docs(s, dir)).where(col("kind") === "image"),
        grid = 8)
      graft.operators.Dedup.fingerprintPairs(hashed, "media_id", "ahash",
          bits = 64, maxHamming = 2,
          maxBucket = graft.operators.Dedup.DefaultPipelineMaxBucket)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // extension: perceptual near-dup GROUP map — the image pipeline's
    // missing third stage (hash → pairs → GROUPS), completing parity
    // with the text side's dedup_groups: connected components over the
    // verified hamming-≤2 pair graph (pointer-jumped label propagation,
    // Dedup.duplicateGroups), rep = min media_id per component — the
    // keep/drop map an image-dedup pass applies. Nodes are only media
    // that appear in some pair (singletons need no map row). The
    // converged map is memoized per (session, dir) like the text-side
    // group maps — decode + hash + CC is a build a session pays once
    // per corpus version, never per consuming query.
    "media_phash_groups" -> ((s, dir) =>
      mediaPhashGroups(s, dir).orderBy("media_id")),

    // extension: exact binary-content dedup stats per media kind —
    // md5 over the payload BYTES (identical hex semantics in both
    // engines), two-stage Expand-free distinct; the keeper rule and
    // copy accounting work at any duplication rate (this corpus: 0)
    "media_dedup" -> ((s, dir) => {
      val m = Multimodal.syntheticMedia(docs(s, dir))
        .select(col("kind"), md5(col("content")).as("digest"))
        .groupBy(col("kind"), col("digest")).agg(count(lit(1)).as("__n"))
      m.groupBy(col("kind"))
        .agg(sum(col("__n")).cast("long").as("n_media"),
          count(lit(1)).as("n_distinct"),
          (sum(col("__n")) - count(lit(1))).cast("long").as("dup_copies"))
        .orderBy("kind")
    }),

    // extension: doc-length histogram — token-count distribution in
    // 64-token buckets with exact shares: the curation dashboard that
    // sizes chunking/packing budgets. Map-only bucketing + one count
    "corpus_length_histogram" -> ((s, dir) => {
      val b = docs(s, dir)
        .select((TextOps.tokenCount(col("text")).cast("long") / lit(64))
          .cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      val t = b.agg(sum(col("n")).as("__t"))
      b.crossJoin(broadcast(t))
        .select(col("bucket"), (col("bucket") * 64).as("lo_tokens"), col("n"),
          r4(col("n").cast("double") / col("__t")).as("share"))
        .orderBy("bucket")
    }),

    // extension: per-user sessionization via the built-in session_window
    // operator (identical semantics batch/streaming; stream==batch is
    // asserted in StreamingSpec)
    "events_sessionize" -> ((s, dir) =>
      graft.streaming.EventStream.sessionAgg(events(s, dir))
        .select(
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("user_id"), col("n_events"), r4(col("value_sum")).as("value_sum"))
        .orderBy("user_id", "session_start")),

    // extension: session-DURATION statistics — the engagement rollup on
    // top of sessionization: session counts, singleton share, and exact
    // duration percentiles. Durations are exact micro diffs / 1e6, so
    // the interpolated percentiles are engine-identical (the
    // events_quantiles pattern); one sessionize pass, one 1-row agg
    "events_session_stats" -> ((s, dir) => {
      val sess = events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          unix_micros(min(col("ts"))).as("__t0"),
          unix_micros(max(col("ts"))).as("__t1"))
        .withColumn("__dur", (col("__t1") - col("__t0")) / lit(1000000.0))
      sess.agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("singleton_sessions"),
        sum(col("n_events")).as("n_events_total"),
        r4(expr("percentile(__dur, 0.5D)")).as("p50_dur_sec"),
        r4(expr("percentile(__dur, 0.9D)")).as("p90_dur_sec"))
    }),

    // extension: Z-ORDERED layout scan — the two-axis data-skipping
    // layout (Morton interleave of normalized (ts, user_id) ranks →
    // repartitionByRange): each file is a rectangle in (time, user)
    // space, so parquet footer min/max prune on EITHER predicate; a
    // ts-only sort cannot serve the user axis (locality pinned in
    // ZOrderSpec). Store written once per (session, sf), like the
    // id-bucketed store; layout can only prune, never change results —
    // which is exactly what the oracle (the same filter on the raw
    // table) checks
    "events_zorder_scan" -> ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_zstore_" +
        s"${s.sparkContext.applicationId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        graft.sources.ZOrder.writeZOrdered(
          events(s, dir).withColumn("ts_us", unix_micros(col("ts"))),
          path, "ts_us", "user_id", nFiles = 16)
      graft.sources.ZOrder.open(s, path)
        .where(col("user_id").between(40, 60) &&
          col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
          col("ts") < to_timestamp(lit("2024-01-20 00:00:00")))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("event_type"))
        .orderBy("event_id")
    }),

    // extension: INTERVAL-OVERLAP join (the batch form of Flink's
    // interval join) — user sessions × hourly error-incident windows:
    // for every incident hour with >= 5 errors, how many user sessions
    // were in flight during the incident's actual error span, how many
    // distinct users, and for how many total session-seconds. Executed
    // by Temporal.intervalJoinBinned — an equi-join on 15-min time
    // buckets with first-common-bucket dedup, never an inequality join
    // (which Catalyst would plan as a BroadcastNestedLoopJoin); the
    // rollup is the Expand-free two-stage distinct (per-user partials,
    // then per-incident)
    "events_incident_overlap" -> ((s, dir) => {
      val ev = events(s, dir)
      val inc = ev.where(col("event_type") === "error")
        .groupBy(window(col("ts"), "1 hour").as("__w"))
        .agg(count(lit(1)).as("n_errors"),
          min(col("ts")).as("__t0"), max(col("ts")).as("__t1"))
        .where(col("n_errors") >= 5)
        .select(col("n_errors"), col("__t0"), col("__t1"))
      val sess = ev
        .groupBy(session_window(col("ts"), "30 minutes").as("__sw"), col("user_id"))
        .agg(min(col("ts")).as("__s0"), max(col("ts")).as("__s1"))
        .select(col("user_id"), col("__s0"), col("__s1"))
        // the binned join's span contract, enforced as a DOMAIN filter:
        // a whale session outliving the incident scale (> 6 h) is its own
        // anomaly (events_session_stats reports it), not an overlap row —
        // and without this filter the join's raise_error guard fires
        // DATA-DEPENDENTLY (only when a long session meets a candidate
        // bucket; found by the sf0.01-based hostile gate, note 61)
        .where(unix_micros(col("__s1")) - unix_micros(col("__s0"))
          <= lit(6L * 3600 * 1000000))
      val pairs = Temporal.intervalJoinBinned(sess, inc, Seq.empty,
        ("__s0", "__s1"), ("__t0", "__t1"), bucketSec = 900L, maxSpanSec = 6L * 3600)
      pairs
        .select(
          col("interval_match.__t0").as("__i0"),
          col("interval_match.n_errors").as("n_errors"),
          col("user_id"),
          (unix_micros(least(col("__s1"), col("interval_match.__t1"))) -
            unix_micros(greatest(col("__s0"), col("interval_match.__t0")))).as("__ov"))
        .groupBy(col("__i0"), col("n_errors"), col("user_id"))
        .agg(count(lit(1)).as("__ns"), sum(col("__ov")).as("__ovs"))
        .groupBy(col("__i0"), col("n_errors"))
        .agg(sum(col("__ns")).as("n_sessions"), count(lit(1)).as("n_users"),
          r4(sum(col("__ovs")).cast("double") / lit(1000000.0)).as("overlap_sec"))
        .select(date_format(col("__i0"), "yyyy-MM-dd HH:mm:ss").as("incident_start"),
          col("n_errors"), col("n_sessions"), col("n_users"), col("overlap_sec"))
        .orderBy("incident_start")
    }),

    // extension: hourly user-activity rollup with EXACT distinct users —
    // two-stage aggregation (per (hour, user) partials, then per hour),
    // the Expand-free shape of count-distinct: a single agg with
    // count(DISTINCT user_id) would double every event row pre-shuffle
    // (same design as vocab_top)
    "events_user_activity" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("__n"), sum(col("value")).as("__v"))
        .groupBy(col("w"))
        .agg(sum(col("__n")).as("n_events"), count(lit(1)).as("n_users"),
          r4(sum(col("__v"))).as("value_sum"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n_events"), col("n_users"), col("value_sum"))
        .orderBy("hour")),

    // extension: hourly windowed aggregation over the events stream table
    // (same plan Structured Streaming produces for the streaming variant)
    "events_window_agg" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("value_sum"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("value_sum"))
        .orderBy("hour", "event_type")),

    // extension: INTER-ARRIVAL stats — mean gap between a user's
    // consecutive same-type events (the engagement-cadence metric). The
    // lag window is partitioned per (user, type) — parallel, bounded by
    // one user's one-type history; gaps are exact integer microseconds
    "events_interarrival" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("__prev", lag(unix_micros(col("ts")), 1).over(w))
        .where(col("__prev").isNotNull)
        .withColumn("__gap", unix_micros(col("ts")) - col("__prev"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          r4((sum(col("__gap")).cast("double") / count(lit(1))) / lit(1000000.0))
            .as("avg_gap_sec"))
        .orderBy("event_type")
    }),

    // extension: ROLLING trend — daily counts with the trailing-7-row
    // moving average per event type (ROWS semantics: the last 7 OBSERVED
    // days). The window runs over the daily rollup (days × types rows),
    // never the raw events; integer sums keep the averages oracle-exact
    "events_rolling" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(window(col("ts"), "1 day").as("__w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("__w.start").as("day"), col("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day")).rowsBetween(-6, 0)
      daily
        .withColumn("__s7", sum(col("n")).over(w))
        .withColumn("__c7", count(lit(1)).over(w))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
          r4(col("__s7").cast("double") / col("__c7")).as("avg7"))
        .orderBy("event_type", "day")
    }),

    // extension: DAU / trailing-7-day WAU / stickiness — the
    // active-user staple. No distinct-count window anywhere: one
    // two-stage (user, day) distinct, then each user-day feeds its 7
    // trailing anchor days by a BOUNDED ×7 explode and a second
    // two-stage distinct; ratios divide exact integers
    "events_dau_wau" -> ((s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), window(col("ts"), "1 day")("start").as("day"))
        .distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"), explode(sequence(col("day"),
          col("day") + expr("INTERVAL 6 DAYS"), expr("INTERVAL 1 DAY"))).as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"),
          r4(col("dau").cast("double") / col("wau")).as("stickiness"))
        .orderBy("day")
    }),

    // extension: per-type VALUE statistics — mean/std from moments of
    // r4-QUANTIZED values summed as exact integers (sum-of-squares in
    // DECIMAL(38,0), the checksum trick): the only way a double mean/
    // stddev can be partition-order-independent and hash-exact. The
    // variance expression is mirrored verbatim (same regrouping) in
    // both engines
    "events_value_stats" -> ((s, dir) =>
      events(s, dir)
        .where(col("value").isNotNull)
        .select(col("event_type"),
          floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("__q"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("__q").cast("decimal(38,0)")).as("__s1"),
          sum((col("__q") * col("__q")).cast("decimal(38,0)")).as("__s2"),
          min(col("__q")).as("__mn"), max(col("__q")).as("__mx"))
        .select({
          val mean = col("__s1").cast("double") / col("n")
          val varq = col("__s2").cast("double") / col("n") - mean * mean
          Seq(col("event_type"), col("n"),
            r4(mean / lit(10000.0)).as("mean_value"),
            r4(sqrt(greatest(lit(0.0), varq)) / lit(10000.0)).as("std_value"),
            (col("__mn").cast("double") / lit(10000.0)).as("min_value"),
            (col("__mx").cast("double") / lit(10000.0)).as("max_value"))
        }: _*)
        .orderBy("event_type")),

    // extension: traffic HEATMAP — day-of-week × hour counts with exact
    // shares: the ops-dashboard staple. One map-side-combinable count;
    // the total rides a 1-row broadcast
    "events_heatmap" -> ((s, dir) => {
      val b = events(s, dir)
        .groupBy(dayofweek(col("ts")).cast("int").as("dow"),
          hour(col("ts")).cast("int").as("hour"))
        .agg(count(lit(1)).as("n"))
      val t = b.agg(sum(col("n")).as("__t"))
      b.crossJoin(broadcast(t))
        .select(col("dow"), col("hour"), col("n"),
          r4(col("n").cast("double") / col("__t")).as("share"))
        .orderBy("dow", "hour")
    }),

    // extension: user-CONCENTRATION report — exact Gini coefficient and
    // top-10% share of events without ANY global sort or window: both
    // derive from the per-user-count VALUE frame (rows bounded by
    // distinct count values, not users). Gini uses the mean-absolute-
    // difference pairs formulation over that tiny frame (value-pair
    // cross products in DECIMAL, exact); the top-share boundary comes
    // from a ≥-join cumulative on the same frame. At 100 TB the only
    // data-sized operation is the first per-user count
    "events_gini" -> ((s, dir) => {
      val pu = events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val vf = pu.groupBy(col("c")).agg(count(lit(1)).as("u"))
      val tot = vf.agg(sum(col("u")).as("n"),
        sum((col("u") * col("c")).cast("decimal(38,0)")).as("s"))
      val a = vf.select(col("c").as("va"), col("u").as("ua"))
      val b = vf.select(col("c").as("vb"), col("u").as("ub"))
      val mad = a.crossJoin(b)
        .agg(sum((col("ua") * col("ub")).cast("decimal(38,0)") *
          abs(col("va") - col("vb")).cast("decimal(38,0)")).as("mad"))
      // cumulative-from-above via a >=-join on the tiny value frame
      val cum = a.join(b, col("vb") >= col("va"))
        .groupBy(col("va"), col("ua"))
        .agg(sum(col("ub")).as("cum_u"),
          sum((col("ub") * col("vb")).cast("decimal(38,0)")).as("cum_e"))
      tot.crossJoin(broadcast(mad)).crossJoin(broadcast(
        cum.crossJoin(tot.select(floor(col("n") / lit(10)).cast("long").as("__k")))
          .where(col("cum_u") >= col("__k") && col("__k") > 0)
          .orderBy(col("va").desc).limit(1)
          .select(col("va"), col("ua"), col("cum_u"), col("cum_e"), col("__k"))))
        .select(col("n").cast("long").as("n_users"),
          col("s").cast("long").as("total_events"),
          r4(col("mad").cast("double") /
            (lit(2.0) * col("n").cast("double") * col("s").cast("double"))).as("gini"),
          r4((col("cum_e").cast("double") - col("ua").cast("double") * col("va")
            + (col("__k") - (col("cum_u") - col("ua"))).cast("double") * col("va"))
            / col("s").cast("double")).as("top10_share"))
    }),

    // extension: the SKETCH twin of events_gini's rank-based cells —
    // the 100 TB swap-in: events_gini's exact machinery (the vf×vf
    // cross join for mean absolute difference, the exact cumulative
    // rank for top10_share) is value-frequency-bounded, which a 100 TB
    // activity distribution (millions of distinct per-user counts)
    // outgrows. The scale path keeps the per-user count reduction
    // (map-side combinable at any SF) and swaps the rank machinery for
    // ONE mergeable quantile sketch over the counts (p50/p90/p99 —
    // the activity deciles any rank-based share is then derived from).
    // Invariant oracle (events_sketch_check pattern): each sketch
    // quantile must satisfy its rank contract stated directly —
    // below-counts within ±(δ·n + 2 ranks) of the target rank
    // (δ = 0.08/0.05/0.04) — with exact n_users/total_events as the
    // oracle-derivable cells. Booleans are vacuously TRUE on an empty
    // population (coalesce), matching the oracle's constant row.
    "events_gini_sketch" -> ((s, dir) => {
      val pu = events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val sk = pu.agg(percentile_approx(col("c"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(5000)).as("__qs"))
      val n = col("__n").cast("double")
      pu.crossJoin(broadcast(sk))
        .agg(count(lit(1)).as("__n"),
          coalesce(sum(col("c")), lit(0L)).as("__tot"),
          sum(when(col("c") < col("__qs")(0), 1L).otherwise(0L)).as("__p50_lt"),
          sum(when(col("c") <= col("__qs")(0), 1L).otherwise(0L)).as("__p50_le"),
          sum(when(col("c") < col("__qs")(1), 1L).otherwise(0L)).as("__p90_lt"),
          sum(when(col("c") <= col("__qs")(1), 1L).otherwise(0L)).as("__p90_le"),
          sum(when(col("c") <= col("__qs")(2), 1L).otherwise(0L)).as("__p99_le"))
        .select(col("__n").as("n_users"), col("__tot").as("total_events"),
          coalesce(col("__p50_lt") <= n * 0.58 + 2 &&
            col("__p50_le") >= n * 0.42 - 2, lit(true)).as("p50_ok"),
          coalesce(col("__p90_lt") <= n * 0.95 + 2 &&
            col("__p90_le") >= n * 0.85 - 2, lit(true)).as("p90_ok"),
          coalesce(col("__p99_le") >= n * 0.95 - 2, lit(true)).as("p99_ok"))
    }),

    // extension: SALTED equi-join — the whale-key join shape the
    // events_key_skew diagnostic decides on: the per-user signup-month
    // dim (data-proportional — NOT broadcastable at 100 TB) joins back
    // onto the fact stream with each user's rows spread across 16 salt
    // lanes (dim replicated ×16, facts routed by pmod(event_id, 16)),
    // so the whale user's history occupies 16 tasks instead of one.
    // Result == the plain join row-for-row (law-pinned in EventsSpec);
    // the oracle replays the UNSALTED join — same rows by construction
    "events_salted_enrich" -> ((s, dir) => {
      val ev = events(s, dir).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      val dim = ev.groupBy(col("user_id")).agg(min(col("ts")).as("__f"))
        .select(col("user_id"),
          date_format(date_trunc("month", col("__f")), "yyyy-MM").as("cohort"))
      operators.Skew.saltedEquiJoin(ev, dim, "user_id", col("event_id"), salts = 16)
        .groupBy(col("cohort"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "event_type")
    }),

    // extension: key-SKEW diagnostic — the pre-join probe that decides
    // salting/AQE-skew handling: the 10 hottest join keys with their
    // share of all rows and the whale ratio vs a uniform spread. One
    // map-side-combinable count + a bounded heap + a 1-row broadcast:
    // nothing scales past the count shuffle
    "events_key_skew" -> ((s, dir) => {
      val counts = events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val totals = counts.agg(sum(col("n")).as("__t"),
        count(lit(1)).as("__k"))
      counts.orderBy(col("n").desc, col("user_id").asc_nulls_first).limit(10)
        .crossJoin(broadcast(totals))
        .select(col("user_id"), col("n"),
          r4(col("n").cast("double") / col("__t")).as("share"),
          r4(col("n").cast("double") * col("__k") / col("__t")).as("skew_ratio"))
        .orderBy(col("n").desc, col("user_id").asc_nulls_first)
    }),

    // extension: per-(user, day) event cap — keep the first 3 events of
    // each user-day by (ts, event_id): the deterministic rate-limit /
    // bot-throttle pass. The window partitions on the fine-grained cap
    // key, so a whale user-day costs one bounded sort, never a global
    // rank
    "events_user_cap" -> ((s, dir) =>
      graft.operators.Events.capPerKey(
          events(s, dir).where(col("user_id").isNotNull)
            .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
          keys = Seq(col("user_id"), col("day")),
          order = Seq(col("ts"), col("event_id")), k = 3)
        .select(col("user_id"), col("day"), col("rn"), col("event_id"))
        .orderBy("user_id", "day", "rn")),

    // extension: A/B conversion report — per-arm exposed/converted user
    // counts (arm = user_id % 2), conversion rates, lift, and the
    // two-proportion z statistic. One per-user max-reduction, then a
    // 2-row fold: past the first shuffle nothing scales with events.
    // Every double derives from exact integer counts in a fixed op
    // order, so even the z statistic is oracle-exact
    "events_ab_test" -> ((s, dir) =>
      graft.operators.Events.abTest(events(s, dir),
          variant = col("user_id") % 2,
          converted = col("event_type") === "purchase" && col("value") > 90)
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          r4(col("rate_a")).as("rate_a"), r4(col("rate_b")).as("rate_b"),
          r4(col("lift")).as("lift"), r4(col("z")).as("z"))),

    // extension: volume-ANOMALY detection — hourly windows whose count
    // sits > 2σ above their event type's mean (the traffic-spike /
    // ingest-stall monitor). Moments from exact integer sums, so the
    // double z-scores are partition-order-independent and oracle-exact
    "events_anomaly" -> ((s, dir) =>
      graft.operators.Events.anomalousWindows(
          events(s, dir), col("ts"), col("event_type"))
        .select(col("event_type"),
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n"), r4(col("z")).as("z"))
        .orderBy("event_type", "window_start")),

    // extension: pruned time-window analytics over the date-partitioned
    // event-log layout (EventLog.snapshotByDay): the store is written
    // once per (session, sf); the 3-day window read statically prunes to
    // 3 of 30 day directories (plan pinned in PlanShapeSpec) — layout,
    // not an index, is what makes the 100 TB time scan cheap
    "events_time_pruned" -> ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_eventlog_" +
        s"${s.sparkContext.applicationId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        graft.sources.EventLog.snapshotByDay(events(s, dir), path)
      graft.sources.EventLog
        .timeRange(s, path, "2024-01-10 00:00:00", "2024-01-13 00:00:00")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("value_sum"))
        .orderBy("event_type")
    }),

    // extension: cohort retention — users bucketed by first-seen week,
    // counted per activity week offset. Two map-side-combinable aggs +
    // one distinct; no window, no self-join over the event log
    "events_retention" -> ((s, dir) => {
      val ev = events(s, dir)
      val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("__first"))
      ev.join(first, Seq("user_id"))
        .select(col("user_id"),
          date_trunc("week", col("__first")).as("__cohort"),
          floor((col("ts").cast("long")
            - date_trunc("week", col("__first")).cast("long")) / lit(604800L))
            .cast("long").as("week_n"))
        .distinct()
        .groupBy(col("__cohort"), col("week_n"))
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("__cohort"), "yyyy-MM-dd").as("cohort"),
          col("week_n"), col("n_users"))
        .orderBy("cohort", "week_n")
    }),

    // extension: WINSORIZATION audit — cap each type's values at its
    // own exact p99 (the standard outlier treatment before value sums
    // feed dashboards/models) and report what the cap would change:
    // clipped-row count and the quantized-exact value mass removed.
    // One exact-percentile rollup (types × 1 rows) broadcast back over
    // the log — the same two-step shape as events_anomaly; nothing
    // after the first aggregate is data-proportional
    "events_winsorize" -> ((s, dir) => {
      val e = events(s, dir)
      val caps = e.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.99D)").as("__cap"))
      e.join(broadcast(caps), Seq("event_type"))
        .select(col("event_type"), col("__cap"),
          when(col("value") > col("__cap"), 1L).otherwise(0L).as("__clip"),
          when(col("value") > col("__cap"),
            floor((col("value") - col("__cap")) * lit(10000.0) + lit(0.5))
              .cast("long")).otherwise(lit(0L)).as("__qd"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("__clip")).as("n_clipped"),
          max(col("__cap")).as("__c"), sum(col("__qd")).as("__mass"))
        .select(col("event_type"), col("n"), col("n_clipped"),
          r4(col("__c")).as("p99"),
          r4(col("__mass").cast("double") / lit(10000.0)).as("mass_removed"))
        .orderBy("event_type")
    }),

    // extension: session AFFINITY (market-basket lift) — which event
    // types co-occur in the same session beyond chance: per unordered
    // type pair, co-occurring-session count and lift
    // n_both·N / (n_a·n_b). Session ids from the lag/cumsum sessionizer
    // (the sessionize oracle's own construction; tied timestamps land
    // in the same session under any tie order, so the (user, sid, type)
    // set is order-stable). Pair fan-out per session is bounded by the
    // TYPE VOCABULARY (≤ C(5,2) here), never by session length —
    // the self-join runs on the distinct (user, sid, type) frame
    "events_affinity" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      val cum = w.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
      // one session-keyed aggregate builds each session's distinct TYPE
      // SET (vocabulary-bounded state), reusing the window pass's
      // user_id partitioning (HashPartitioning(user) satisfies the
      // (user, sid) clustering) — the pair table then fans out of the
      // tiny per-session array map-side, replacing what was a distinct
      // + session self-join (three more shuffles of the event mass).
      // collect_set drops null types like the old pair/per joins did;
      // an all-null-type session still counts in __N (empty set row)
      // cached: three consumers (total, per-type, pairs) would otherwise
      // re-run the sessionization window over the event mass each — the
      // frame itself is tiny (one row per session, vocabulary-bounded set)
      val sess = Caching.ensureCached(events(s, dir)
        .withColumn("__new", when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("__sid", sum(col("__new")).over(cum))
        .groupBy(col("user_id"), col("__sid"))
        .agg(sort_array(collect_set(col("event_type"))).as("__ts")))
      val total = sess.agg(count(lit(1)).as("__N"))
      val per = sess.select(explode(col("__ts")).as("event_type"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("__c"))
      val pairs = sess.select(explode(col("__ts")).as("type_a"), col("__ts"))
        .select(col("type_a"),
          explode(filter(col("__ts"), t => t > col("type_a"))).as("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(per.select(col("event_type").as("type_a"), col("__c").as("__ca")),
          Seq("type_a"))
        .join(per.select(col("event_type").as("type_b"), col("__c").as("__cb")),
          Seq("type_b"))
        .crossJoin(broadcast(total))
        .select(col("type_a"), col("type_b"), col("n_both"),
          r4(col("n_both").cast("double") * col("__N").cast("double")
            / (col("__ca").cast("double") * col("__cb").cast("double")))
            .as("lift"))
        .orderBy("type_a", "type_b")
    }),

    // extension: semi-structured props — JSON field extraction
    // (codegen'd get_json_object, no UDF) rolled up per event type;
    // the "parse the payload" step every event pipeline has
    "events_props_stats" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("__k"))
        .groupBy(col("event_type"))
        .agg(count(col("__k")).as("n_parsed"),
          sum(col("__k")).as("k_sum"),
          min(col("__k")).as("k_min"), max(col("__k")).as("k_max"))
        .orderBy("event_type")),

    // extension: the events-side domain gate — the expectations report
    // a pipeline publishes BEFORE trusting the event stream. The value
    // domain is "finite or NULL" by convention: a NaN/Inf value would
    // fail both engines' quantize casts LOUDLY (ANSI), which is the
    // correct behavior for corrupt revenue — this report is how a run
    // pre-screens for it. The props contract is "NULL or a JSON
    // object"; the timestamp window is the operating epoch range
    // (pre-1970 and far-future rows are data errors at this pipeline's
    // domain — the hostile fixture carries both, so the report's
    // violation counts are pinned nonzero cross-engine)
    "events_expectations" -> ((s, dir) => {
      val e = events(s, dir)
      graft.operators.Corpus.expectations(e, Seq(
          "event_id_not_null" -> col("event_id").isNotNull,
          "user_known" -> col("user_id").isNotNull,
          // id magnitude domain: |user_id| < 2⁵³ keeps ids EXACT through
          // any float64-rendering lane (pandas/JSON render nullable
          // BIGINT result columns as float64) — the bound under which
          // cross-engine id comparison is loss-free. The CM/LC sketch
          // hashes need no domain (they pre-reduce mod p); this row
          // names the id-portability contract instead. No abs(): ANSI
          // abs(Long.MinValue) itself overflows
          "user_id_in_domain" -> (col("user_id").isNull ||
            (col("user_id") > lit(-9007199254740992L)
              && col("user_id") < lit(9007199254740992L))),
          "ts_in_epoch_range" -> (col("ts") >= lit("1970-01-01 00:00:00").cast("timestamp")
            && col("ts") < lit("2100-01-01 00:00:00").cast("timestamp")),
          "value_finite_or_null" -> (col("value").isNull ||
            (!isnan(col("value")) && abs(col("value")) < lit(Double.PositiveInfinity))),
          // quantization headroom (the Metric.validRecord discipline for
          // the value column): every exact-stats query quantizes
          // value·10⁴ into a checked BIGINT, so |value| ≥ ~9.2e14 would
          // fail loudly on both engines — the gate names the domain
          "value_in_domain" -> (col("value").isNull ||
            abs(col("value")) < lit(9.0e14)),
          "type_known" -> col("event_type").isin("view", "click", "purchase", "error"),
          "props_null_or_object" -> (col("props").isNull ||
            (get_json_object(col("props"), "$").isNotNull
              && trim(col("props")).startsWith("{")))))
        .unionByName(
          graft.operators.Corpus.expectUnique(e, col("event_id"), "event_id_unique"))
        .orderBy("check")
    }),

    // extension: STRING-valued props extraction — per-page event rollup
    // (the page-analytics twin of events_props_stats's numeric path).
    // Pins cross-engine JSON STRING decoding: a raw astral emoji in the
    // payload and its escaped-surrogate-pair spelling must decode to
    // the same page key. Missing key / empty / invalid props group
    // under NULL on both engines
    "events_props_pages" -> ((s, dir) =>
      events(s, dir)
        .select(get_json_object(col("props"), "$.page").as("page"),
          floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("__qv"))
        .groupBy(col("page"))
        .agg(count(lit(1)).as("n_events"),
          r4(sum(col("__qv")).cast("double") / lit(10000.0)).as("value_sum"))
        .orderBy("page")),

    // extension: LAST-TOUCH ATTRIBUTION — each purchase credited to the
    // campaign (props.k) of the user's most recent view at or before it,
    // via the zero-join as-of pass; revenue rolled up per campaign from
    // quantized-int sums (order-independent). Unattributed purchases
    // surface as campaign −1 — auditability over brevity
    "events_attribution" -> ((s, dir) => {
      val e = events(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("__qv"))
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          get_json_object(col("props"), "$.k").cast("long").as("campaign"))
      Temporal.asofJoin(purchases, views, "user_id", "ts",
          rightCols = Seq("campaign"), tieBreak = "view_id")
        .groupBy(coalesce(col("asof_campaign"), lit(-1L)).as("campaign"))
        .agg(count(lit(1)).as("n_conversions"),
          r4(sum(col("__qv")).cast("double") / lit(10000.0)).as("total_value"))
        .orderBy("campaign")
    }),

    // extension: WINDOWED funnel — view → click within 1 h of the first
    // view → purchase within 1 h of that click (the attribution-window
    // semantics product funnels actually use; the unwindowed funnel
    // counts any later event). Three chained per-user min-reductions
    // with the window constraint folded into each stage's filter —
    // whale-user safe, no window function, no event-log self-join
    "events_funnel_windowed" -> ((s, dir) => {
      val e = events(s, dir)
      val winUs = 3600L * 1000000L
      val tv = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("__tv"))
      val tc = e.where(col("event_type") === "click")
        .join(tv, Seq("user_id"))
        .where(unix_micros(col("ts")) >= col("__tv") &&
          unix_micros(col("ts")) <= col("__tv") + winUs)
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("__tc"))
      val tp = e.where(col("event_type") === "purchase")
        .join(tc, Seq("user_id"))
        .where(unix_micros(col("ts")) >= col("__tc") &&
          unix_micros(col("ts")) <= col("__tc") + winUs)
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("__tp"))
      tv.join(tc, Seq("user_id"), "left_outer")
        .join(tp, Seq("user_id"), "left_outer")
        .agg(count(col("__tv")).as("n_view"),
          count(col("__tc")).as("n_click_1h"),
          count(col("__tp")).as("n_purchase_1h"))
    }),

    // extension: the sketch path — HyperLogLog distinct + quantile
    // sketch, the mergeable O(1)-state operators the exact twins
    // (events_user_activity, events_quantiles) swap to at 100 TB.
    // Invariant oracle: the sketch must land within its contract
    // (±5% of exact distinct; approx-median inside the exact
    // [p49, p51] band), asserted Spark-side as booleans
    "events_sketch_check" -> ((s, dir) => {
      val ev = events(s, dir)
      // distinct-then-count (two-stage, Expand-free) joined with the
      // exact band; see events_user_activity for the same shape. The
      // exact leg drops null users so it measures the SAME population
      // approx_count_distinct does (HLL ignores nulls; an unfiltered
      // distinct() would count the null group and the two sides would
      // disagree by exactly the null-user presence — adversarial-data
      // finding, r8)
      val exact = ev.where(col("user_id").isNotNull)
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("__ed"))
        .join(ev.groupBy(col("event_type"))
          .agg(expr("percentile(value, array(0.49D, 0.51D))").as("__band")),
          Seq("event_type"))
      val approx = ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("__ad"),
          percentile_approx(col("value"), lit(0.5), lit(5000)).as("__ap"))
      exact.join(approx, Seq("event_type"))
        .select(col("event_type"),
          (abs(col("__ad") - col("__ed")) <= col("__ed") * 0.05).as("hll_ok"),
          (col("__ap") >= col("__band")(0) && col("__ap") <= col("__band")(1))
            .as("quantile_ok"))
        .orderBy("event_type")
    }),

    // extension: MERGEABLE sketch rollup — per-day HLL sketches
    // (DataSketches binaries) unioned into weekly distinct-user
    // estimates: the incremental-distinct architecture where a 100 TB
    // pipeline STORES the per-partition sketch column and answers any
    // coarser rollup by merging, never re-scanning raws. Two stateful
    // levels in one plan (day sketches → week union); the estimate is
    // checked against the exact two-stage distinct, so the oracle's
    // TRUE flag fails if the sketch path ever drifts past 5%
    "events_hll_rollup" -> ((s, dir) => {
      val ev = events(s, dir)
      val weekly = ev
        .groupBy(date_trunc("week", col("ts")).as("__wk"),
          date_trunc("day", col("ts")).as("__day"))
        .agg(hll_sketch_agg(col("user_id"), 14).as("__sk"))
        .groupBy(col("__wk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"))
      val exact = ev.select(date_trunc("week", col("ts")).as("__wk"), col("user_id"))
        .distinct()
        .groupBy(col("__wk")).agg(count(lit(1)).as("wau_exact"))
      exact.join(weekly, Seq("__wk"))
        .select(date_format(col("__wk"), "yyyy-MM-dd").as("week"),
          col("wau_exact"),
          (abs(col("__est").cast("double") - col("wau_exact").cast("double")) <=
            col("wau_exact").cast("double") * lit(0.05) + lit(1.0)).as("sketch_ok"))
        .orderBy("week")
    }),

    // extension: ordered funnel (view → click → purchase): stage k's
    // timestamp is the EARLIEST event of that type at-or-after stage
    // k−1. Per-stage per-user min-reductions chained by equi-joins (each
    // map-side combinable, per-user state O(1)) — not a per-user
    // collect_list, which a whale user would blow up at 100 TB. The
    // operator ([[operators.Events.funnel]]) takes any stage list; this
    // row pins the 3-stage instance
    "events_funnel" -> ((s, dir) =>
      operators.Events.funnel(events(s, dir), Seq("view", "click", "purchase"))
        .select(col("user_id"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("stage"))
        .orderBy("user_id")),

    // extension: the stage-list generality of [[operators.Events.funnel]]
    // exercised at FOUR stages (signup → view → click → purchase),
    // summarized as users-per-depth — the same chained min-reduction
    // shape at any funnel length (the 3-stage row pins per-user detail).
    // On this synthetic corpus every active user completes the chain
    // (events are dense over the month), so the row is a single
    // (stage=4, n) cell — the windowed funnel is where attrition shows
    "events_funnel4" -> ((s, dir) =>
      operators.Events.funnel(events(s, dir),
          Seq("signup", "view", "click", "purchase"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
        .orderBy("stage")),

    // extension: top-N per group without a ranking window — per-user
    // totals (map-side combinable), then the bounded heap (TopKPairsAgg,
    // O(k) memory per group) on negated totals; the corpus-scale
    // "top earners per segment" shape
    "events_top_users" -> ((s, dir) => {
      import graft.functions.TopKPairsAgg.topKPairs
      events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("value")).as("__total"))
        .groupBy(col("event_type"))
        .agg(topKPairs(-col("__total"), col("user_id"), 3).as("__top"))
        .select(col("event_type"), posexplode(col("__top")).as(Seq("rank", "p")))
        .select(col("event_type"), (col("rank") + 1).cast("long").as("rank"),
          col("p.id").as("user_id"), r4(-col("p.distance")).as("total_value"))
        .orderBy("event_type", "rank")
    }),

    // extension: Count-Min sketch point estimates for the top-10 true
    // heavy hitters — est ≥ true always (cells are sums of non-negative
    // counts), and every number is a deterministic exact integer (cells
    // are order-independent SUMS, unlike merge-order-sensitive
    // Misra-Gries summaries), so the oracle replays the full sketch.
    // NULL users are excluded on both engines (no hashable identity).
    // w = 64 is deliberately small so collisions actually occur and the
    // overestimates are a live code path, not structurally zero.
    "events_cm_topk" -> ((s, dir) =>
      operators.Events.cmEstimates(cmUserCounts(s, dir), w = 64)
        .orderBy(col("n_true").desc, col("key").asc)
        .limit(10)
        .select(col("key").as("user_id"), col("n_true"), col("n_est"),
          (col("n_est") - col("n_true")).as("n_over"))),

    // extension: the sketch's global error report — exact-integer
    // max/total overestimate and how many keys the depth-4 min already
    // resolves exactly at w = 64
    "events_cm_error" -> ((s, dir) =>
      operators.Events.cmEstimates(cmUserCounts(s, dir), w = 64)
        .agg(count(lit(1)).as("n_keys"),
          sum(col("n_true")).as("n_total"),
          max(col("n_est") - col("n_true")).as("max_over"),
          sum(col("n_est") - col("n_true")).as("sum_over"),
          sum(when(col("n_est") === col("n_true"), lit(1L)).otherwise(lit(0L)))
            .as("n_exact"))),

    // extension: sketch-based distribution drift — per-user activity on
    // even vs odd days summarized as two CM sketches, compared cell-wise.
    // Each row's L1 cell distance LOWER-bounds the true L1 distance
    // between the key distributions (a cell merges its keys' masses —
    // opposite-sign changes can cancel, never inflate), so max over the
    // 4 rows is the tightest certificate; the monitor holds d×w state
    // per window instead of a per-key frame. Exact integers throughout.
    "events_cm_drift" -> ((s, dir) => {
      val ev = events(s, dir).where(col("user_id").isNotNull)
        .withColumn("__day", expr("unix_micros(ts) DIV 86400000000"))
      def cnts(par: Int) = ev.where(pmod(col("__day"), lit(2L)) === par)
        .groupBy(col("user_id").cast("long").as("key"))
        .agg(count(lit(1)).as("n"))
      val a = operators.Events.cmSketch(cnts(0), w = 64)
        .withColumnRenamed("cell_n", "n_even")
      val b = operators.Events.cmSketch(cnts(1), w = 64)
        .withColumnRenamed("cell_n", "n_odd")
      a.join(b, Seq("row", "cell"), "full_outer")
        .select(col("row"),
          coalesce(col("n_even"), lit(0L)).as("n_even"),
          coalesce(col("n_odd"), lit(0L)).as("n_odd"))
        .groupBy(col("row"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("n_even")).as("mass_even"), sum(col("n_odd")).as("mass_odd"),
          sum(abs(col("n_even") - col("n_odd"))).as("l1"))
        .orderBy("row")
    }),

    // extension: point-in-time ("as-of") join — each purchase attached to
    // the same user's most recent prior-or-simultaneous click, the
    // leakage-free feature-attachment join. Plan: zero joins — one
    // window pass over the union (Temporal.asofJoin), one shuffle on
    // user_id (pinned in TemporalSpec)
    "events_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value"))
      Temporal.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("click_id", "value"), tieBreak = "click_id")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("asof_click_id").as("click_id"),
          r4(col("asof_value")).as("click_value"))
        .orderBy("purchase_id")
    }),

    // the SAME join through the segmented-scan skew path (chunkSec > 0:
    // per-(key, day-chunk) windows + the cross-chunk carry aggregate —
    // the whale-key mitigation). The results contract says any chunk
    // width yields identical output, so this row shares
    // events_asof_join's oracle verbatim — the skew path is now
    // CORRECTNESS-gated, not only spec-pinned
    "events_asof_chunked" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value"))
      Temporal.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("click_id", "value"), tieBreak = "click_id", chunkSec = 86400L)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("asof_click_id").as("click_id"),
          r4(col("asof_value")).as("click_value"))
        .orderBy("purchase_id")
    }),

    // the SAME join under a 1-hour staleness bound (toleranceSec) — the
    // feature-store contract that a feature older than the bound must
    // NOT be attached: matches outside it become nulls, never dropped
    // rows (left-outer cardinality preserved). Exercises all three
    // branches at this SF: within-bound match, nulled stale match, and
    // never-matched purchase.
    "events_asof_tolerance" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value"))
      Temporal.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("click_id", "value"), tieBreak = "click_id",
          toleranceSec = 3600L)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("asof_click_id").as("click_id"),
          r4(col("asof_value")).as("click_value"))
        .orderBy("purchase_id")
    }),

    // extension: FORWARD as-of — each click attributed to the next
    // purchase by the same user (conversion latency), same zero-join
    // window pass with the time axis reversed
    "events_next_purchase" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      Temporal.asofJoin(clicks, purchases, "user_id", "ts",
          Seq("purchase_id", "ts"), tieBreak = "purchase_id", direction = "forward")
        .select(col("event_id").as("click_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("asof_purchase_id").as("purchase_id"),
          (col("asof_ts").cast("long") - col("ts").cast("long")).as("gap_sec"))
        .orderBy("click_id")
    }),

    // PAIR-LEVEL contract of the range join: count(*) does not skip
    // nulls, so a phantom null-extended row beside real matches (the
    // probe-side fan-out bug fixed in round 7) breaks this row even
    // though the aggregated events_range_join below would stay green
    "events_range_pairs" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value"))
      Temporal.rangeJoinBinned(purchases, errors, "user_id", "ts", windowSec = 600L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_rows"), count(col("range_match")).as("n_matches"))
        .select(col("event_id").as("purchase_id"), col("n_rows"), col("n_matches"))
        .orderBy("purchase_id")
    }),

    // extension: bounded look-back range join — errors in the 10 minutes
    // up to each purchase, executed as an equi-join on (user, time
    // bucket) with constant 2× probe fan-out instead of an inequality
    // join (which Spark plans as a per-key nested loop)
    "events_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value"))
      Temporal.rangeJoinBinned(purchases, errors, "user_id", "ts", windowSec = 600L)
        .groupBy(col("event_id"), col("user_id"), col("ts"))
        .agg(count(col("range_match")).as("n_errors"),
          r4(coalesce(sum(col("range_match.value")), lit(0.0))).as("err_value_sum"))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("n_errors"), col("err_value_sum"))
        .orderBy("purchase_id")
    }),

    // extension: exact interpolated per-type quantiles of the value
    // stream (Spark `percentile` == DuckDB `quantile_cont`, both
    // NIST-linear on pos = p·(n−1)). Exact is the oracle-comparable
    // variant; at 100 TB the same query swaps in approx_percentile
    // (a mergeable KLL-style sketch) with identical plan shape
    "events_quantiles" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.25D, 0.5D, 0.9D, 0.99D))").as("qs"))
        .select(col("event_type"),
          r4(col("qs")(0)).as("p25"), r4(col("qs")(1)).as("p50"),
          r4(col("qs")(2)).as("p90"), r4(col("qs")(3)).as("p99"))
        .orderBy("event_type")),

    // extension: deterministic DISTINCT sketch — linear probabilistic
    // counting per event type (Events.lcCells/lcEstimates): the occupied-
    // cell set is an OR-monoid bounded by k = 4096 cells per group, and
    // unlike HLL++ (engine-internal hashing) the whole sketch replays in
    // SQL, so estimate AND exact AND relative error are all oracle-gated.
    // NULL users are excluded (no hashable identity); saturation (every
    // cell occupied) surfaces as NULL est on both engines.
    "events_lc_distinct" -> ((s, dir) => {
      val tu = events(s, dir).where(col("user_id").isNotNull)
        .select(col("event_type").as("grp"), col("user_id").cast("long").as("key"))
        .distinct()
      val est = operators.Events.lcEstimates(
        operators.Events.lcCells(tu, k = 4096), k = 4096)
      val ex = tu.groupBy(col("grp")).agg(count(lit(1)).as("n_exact"))
      ex.join(est, Seq("grp"))
        .select(col("grp").as("event_type"), col("n_exact"), col("occupied"),
          r4(col("est")).as("est"),
          r4(abs(col("est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double")).as("rel_err"))
        .orderBy("event_type")
    }),

    // extension: MERGEABLE quantiles — the decimal-digit fixed-bucket
    // histogram (Events.ddHistogram: deterministic, merges by count
    // addition, ≤ ~1700 buckets of state) read at p50/90/95/99, each
    // estimate verified in-row against the exact interpolated percentile
    // of the SAME quantized population with the relative error as an
    // exact-arithmetic column. The exact legs are the verification twin
    // (a full sort at scale); the sketch legs are the 100 TB path.
    "events_value_sketch" -> ((s, dir) => {
      val vals = events(s, dir).select(col("value"))
      val qs = operators.Events.ddQuantiles(
        operators.Events.ddHistogram(vals), Seq(50, 90, 95, 99))
      val ex = operators.Events.ddQuantized(vals).agg(
        expr("percentile(q2, 0.50D)").as("__e50"),
        expr("percentile(q2, 0.90D)").as("__e90"),
        expr("percentile(q2, 0.95D)").as("__e95"),
        expr("percentile(q2, 0.99D)").as("__e99"))
      qs.crossJoin(broadcast(ex))
        .withColumn("__ex",
          when(col("p") === 50, col("__e50"))
            .when(col("p") === 90, col("__e90"))
            .when(col("p") === 95, col("__e95"))
            .otherwise(col("__e99")) / lit(100.0))
        .select(col("p"), col("n"), r4(col("est")).as("est"),
          r4(col("__ex")).as("exact"),
          r4(abs(col("est") - col("__ex")) / col("__ex")).as("rel_err"))
        .orderBy("p")
    }),

    // extension: the GROUPED sketch read — per-event-type p50/p95 from
    // per-group bucket frames (partitioned prefix-sum window, broadcast
    // group totals), the production monitoring shape; same in-row
    // exactness audit as the global sketch
    "events_value_sketch_by_type" -> ((s, dir) => {
      val vals = events(s, dir)
        .select(col("event_type").as("grp"), col("value"))
      val qs = operators.Events.ddQuantilesBy(
        operators.Events.ddHistogramBy(vals), Seq(50, 95))
      val ex = operators.Events.ddQuantizedBy(vals).groupBy(col("grp"))
        .agg(expr("percentile(q2, 0.50D)").as("__e50"),
          expr("percentile(q2, 0.95D)").as("__e95"))
      qs.join(broadcast(ex), Seq("grp"))
        .withColumn("__ex",
          (when(col("p") === 50, col("__e50")).otherwise(col("__e95")))
            / lit(100.0))
        .select(col("grp").as("event_type"), col("p"), col("n"),
          r4(col("est")).as("est"), r4(col("__ex")).as("exact"),
          r4(abs(col("est") - col("__ex")) / col("__ex")).as("rel_err"))
        .orderBy("event_type", "p")
    }),

    // extension: view→purchase CONVERSION-TIME distribution — per user,
    // the latency from first view to the first purchase at or after it;
    // summarized as exact interpolated quantiles + mean. Two per-user
    // reductions and one (broadcastable) join — no window, no event-log
    // self-join; deltas are exact micros longs so the mean is
    // order-independent
    "events_conversion_time" -> ((s, dir) => {
      val e = events(s, dir)
      val tv = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("__tv"))
      val d = e.where(col("event_type") === "purchase")
        .join(tv, Seq("user_id"))
        .where(unix_micros(col("ts")) >= col("__tv"))
        .groupBy(col("user_id"))
        .agg((min(unix_micros(col("ts"))) - min(col("__tv"))).as("__dus"))
      d.agg(count(lit(1)).as("n_users"),
        r4(expr("percentile(__dus, 0.5D)") / lit(1000000.0)).as("p50_sec"),
        r4(expr("percentile(__dus, 0.9D)") / lit(1000000.0)).as("p90_sec"),
        r4((sum(col("__dus")).cast("double") / count(lit(1))) / lit(1000000.0))
          .as("mean_sec"))
    }),

    // extension: fixed-width value HISTOGRAM per event type — the
    // observability staple exact quantiles don't give (shape, not just
    // points). Bin ids are exact floor(value / w) longs; the rollup is
    // the map-side-combinable two-stage count, shuffle ∝ |types × bins|
    "events_histogram" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"),
          floor(col("value") / lit(5.0)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bin"),
          r4(col("bin") * lit(5.0)).as("lo"), col("n"))
        .orderBy("event_type", "bin")))

  // ---------- oracle SQL (DuckDB) ----------

  /** NB classifier replay over a labeled CTE `lbl(doc_id, label, text)` —
    * shared by `text_nb_langid`/`text_nb_confusion` (label = declared
    * lang) and `corpus_nb_quality` (label = the Gopher teacher verdict):
    * md5-bucket split, train-split char trigram counts, the fixed-point
    * add-one model (gram log-likelihood, per-label prior and unseen-gram
    * floor, each ⌊ln·10⁶+½⌋), exact BIGINT per-(doc,label) scores,
    * argmax with label-asc tie-break. Ends in
    * `pred(doc_id, true_label, pred_label, score)`; callers prepend
    * `WITH lbl AS (...)` and select from `pred`. */
  private lazy val nbPredSql: String =
    """sp AS (SELECT doc_id, label AS lang, text,
      |    list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
      |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket
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

  /** The ivf_mips_query funnel replay (augmentation + assignment +
    * probe + dot rerank, list-for-list, NaN scores dropped as
    * [[IvfIndex.queryMips]] drops them) — shared VERBATIM by
    * `ivf_mips_store_query`: the on-disk posting-list roundtrip must
    * not change a single row, so the two queries carry one oracle. */
  private lazy val mipsQueryOracleSql: String =
    s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
       |n2 AS (SELECT vec_id, embedding, ${sqlDot("embedding", "embedding")} AS nn
       |  FROM embeddings WHERE NOT isnan(${sqlDot("embedding", "embedding")})),
       |m AS (SELECT max(nn) AS m2 FROM n2),
       |aug AS (SELECT vec_id, embedding,
       |  list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), sqrt(m.m2 - nn)) AS a
       |  FROM n2, m),
       |c AS (SELECT CAST(vec_id AS INT) AS cid, a AS ca FROM aug WHERE vec_id < 8),
       |qa AS (SELECT qvec, list_append(list_transform(qvec, v -> CAST(v AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS qaug FROM q),
       |asg AS (SELECT vec_id, cid FROM (
       |  SELECT aug.vec_id, c.cid, row_number() OVER (PARTITION BY aug.vec_id ORDER BY ${sqlSq("aug.a", "c.ca")} ASC, c.cid ASC) AS rn
       |  FROM aug CROSS JOIN c) WHERE rn = 1),
       |probed AS (SELECT c.cid FROM c, qa ORDER BY ${sqlSq("c.ca", "qa.qaug")} ASC, c.cid ASC LIMIT 3)
       |SELECT aug.vec_id AS vec_id, ${sqlR4(sqlDot("aug.embedding", "q.qvec"))} AS score
       |FROM aug JOIN asg ON aug.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q
       |WHERE NOT isnan(${sqlDot("aug.embedding", "q.qvec")})
       |ORDER BY ${sqlDot("aug.embedding", "q.qvec")} DESC, aug.vec_id ASC LIMIT 10""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "knn_euclidean" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e, q
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin,

    "knn_cosine" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlCosDist("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e, q
         |ORDER BY ${sqlCosDist("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin,

    "knn_mips" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlDot("e.embedding", "q.qvec"))} AS score
         |FROM embeddings e, q
         |WHERE NOT isnan(${sqlDot("e.embedding", "e.embedding")})
         |ORDER BY ${sqlDot("e.embedding", "q.qvec")} DESC, e.vec_id ASC LIMIT 10""".stripMargin,

    // augmentation + assignment + probe + dot rerank replayed list-for-list
    "ivf_mips_query" -> mipsQueryOracleSql,

    // the on-disk posting-list twin answers IDENTICALLY (same fixed
    // augmented geometry; only the storage layout differs)
    "ivf_mips_store_query" -> mipsQueryOracleSql,

    // batch twin: augmentation + assignment + PER-QUERY probe + dot
    // rerank replayed with window functions (the per-query top-5 of the
    // bounded-heap reduction == the rn<=5 slice of the ranked rerank)
    "ivf_mips_batch" ->
      s"""WITH n2 AS (SELECT vec_id, embedding, ${sqlDot("embedding", "embedding")} AS nn
         |  FROM embeddings WHERE NOT isnan(${sqlDot("embedding", "embedding")})),
         |m AS (SELECT max(nn) AS m2 FROM n2),
         |aug AS (SELECT vec_id, embedding,
         |  list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), sqrt(m.m2 - nn)) AS a
         |  FROM n2, m),
         |c AS (SELECT CAST(vec_id AS INT) AS cid, a AS ca FROM aug WHERE vec_id < 8),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec,
         |  list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS qaug
         |  FROM embeddings WHERE vec_id < 5),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT aug.vec_id, c.cid, row_number() OVER (PARTITION BY aug.vec_id ORDER BY ${sqlSq("aug.a", "c.ca")} ASC, c.cid ASC) AS rn
         |  FROM aug CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqlSq("c.ca", "q.qaug")} ASC, c.cid ASC) AS rn
         |  FROM c CROSS JOIN q) WHERE rn <= 3),
         |cand AS (SELECT q.query_id, aug.vec_id, ${sqlDot("aug.embedding", "q.qvec")} AS s
         |  FROM aug JOIN asg ON aug.vec_id = asg.vec_id
         |  JOIN probed p ON asg.cid = p.cid JOIN q ON q.query_id = p.query_id
         |  WHERE NOT isnan(${sqlDot("aug.embedding", "q.qvec")})),
         |r AS (SELECT query_id, vec_id, s, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("s")} AS score FROM r WHERE rn <= 5
         |ORDER BY query_id ASC, s DESC, vec_id ASC""".stripMargin,

    // the filtered twin: same augmented probe replay, predicate applied
    // to the probed candidates BEFORE the top-k (filter precedes ranking)
    "ivf_mips_filtered" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |n2 AS (SELECT vec_id, embedding, label, ${sqlDot("embedding", "embedding")} AS nn
         |  FROM embeddings WHERE NOT isnan(${sqlDot("embedding", "embedding")})),
         |m AS (SELECT max(nn) AS m2 FROM n2),
         |aug AS (SELECT vec_id, embedding, label,
         |  list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), sqrt(m.m2 - nn)) AS a
         |  FROM n2, m),
         |c AS (SELECT CAST(vec_id AS INT) AS cid, a AS ca FROM aug WHERE vec_id < 8),
         |qa AS (SELECT qvec, list_append(list_transform(qvec, v -> CAST(v AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS qaug FROM q),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT aug.vec_id, c.cid, row_number() OVER (PARTITION BY aug.vec_id ORDER BY ${sqlSq("aug.a", "c.ca")} ASC, c.cid ASC) AS rn
         |  FROM aug CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, qa ORDER BY ${sqlSq("c.ca", "qa.qaug")} ASC, c.cid ASC LIMIT 3)
         |SELECT aug.vec_id AS vec_id, ${sqlR4(sqlDot("aug.embedding", "q.qvec"))} AS score
         |FROM aug JOIN asg ON aug.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q
         |WHERE aug.label >= 5 AND NOT isnan(${sqlDot("aug.embedding", "q.qvec")})
         |ORDER BY ${sqlDot("aug.embedding", "q.qvec")} DESC, aug.vec_id ASC LIMIT 10""".stripMargin,

    // augmented probe funnel replayed at each probe count via the
    // centroid-rank derivation (rank <= p == ORDER BY … LIMIT p), recall
    // vs the exact dot top-10 — NaN scores excluded on both paths
    "ivf_mips_recall_curve" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |n2 AS (SELECT vec_id, embedding, ${sqlDot("embedding", "embedding")} AS nn
         |  FROM embeddings WHERE NOT isnan(${sqlDot("embedding", "embedding")})),
         |m AS (SELECT max(nn) AS m2 FROM n2),
         |aug AS (SELECT vec_id, embedding,
         |  list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), sqrt(m.m2 - nn)) AS a
         |  FROM n2, m),
         |c AS (SELECT CAST(vec_id AS INT) AS cid, a AS ca FROM aug WHERE vec_id < 8),
         |qa AS (SELECT qvec, list_append(list_transform(qvec, v -> CAST(v AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS qaug FROM q),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT aug.vec_id, c.cid, row_number() OVER (PARTITION BY aug.vec_id ORDER BY ${sqlSq("aug.a", "c.ca")} ASC, c.cid ASC) AS rn
         |  FROM aug CROSS JOIN c) WHERE rn = 1),
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
         |FROM p LEFT JOIN hits h ON p.probes = h.probes ORDER BY probes""".stripMargin,

    "knn_radius" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e, q
         |WHERE ${sqlSq("e.embedding", "q.qvec")} <= 1.7
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 50""".stripMargin,

    "knn_filtered" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e, q
         |WHERE e.label >= 5
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin,

    "filter_and" ->
      "SELECT vec_id FROM embeddings WHERE label >= 3 AND label <= 6 ORDER BY vec_id",

    "filter_or" ->
      "SELECT doc_id FROM documents WHERE lang = 'en' OR n_chars < 200 ORDER BY doc_id",

    "filter_contains" ->
      "SELECT doc_id FROM documents WHERE contains(text, 'spark window') ORDER BY doc_id",

    "filter_quoted" ->
      "SELECT doc_id FROM documents WHERE lang = 'fr' ORDER BY doc_id",

    "get_by_id" ->
      "SELECT vec_id, CAST(label AS VARCHAR) AS label FROM embeddings WHERE vec_id = 42",

    // the bucketed layout changes the files, never the rows
    "get_by_id_store" ->
      "SELECT vec_id, CAST(label AS VARCHAR) AS label FROM embeddings WHERE vec_id = 42",

    "count_records" -> "SELECT count(*) AS n_records FROM embeddings",

    "heartbeat" -> s"SELECT '${graft.BuildInfo.version}' AS version",

    "insert_batch" ->
      "SELECT count(*) + 3 AS n, CAST(sum(label) + 273 AS DOUBLE) AS label_sum FROM embeddings",

    "delete_batch" ->
      "SELECT count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum FROM embeddings WHERE vec_id % 10 <> 0",

    "update_metadata" ->
      """SELECT vec_id, CASE WHEN vec_id < 10 THEN '99' ELSE CAST(label AS VARCHAR) END AS label
        |FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""".stripMargin,

    // from-scratch recomputation of what the INCREMENTALLY-updated index
    // must hold: the transformed store (deletes out, vector perturbation
    // applied, fresh insert in) assigned to the fixed centroids; the
    // metadata rewrite keeps id and vector, so it cannot move a row
    "ivf_apply_diff" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
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
         |FROM asg GROUP BY cid ORDER BY cid""".stripMargin,

    // the drain + merge replayed end to end: assignment under the fixed
    // centroids, the delete rule, the ceil(n/16) floor, survivor
    // selection, and the survivor-only re-assignment of donor remnants
    "ivf_merge_stats" ->
      s"""WITH c AS MATERIALIZED (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
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
         |FROM fin GROUP BY cid ORDER BY cid""".stripMargin,

    // the planner re-derived over the same churned population: per
    // centroid (LEFT JOIN — empty clusters are listed, at fill 0), the
    // density-64 / ceil(n/16)-floor action and splitKWay's exact
    // 1.3x-over-split target arithmetic
    "ivf_maintenance_plan" ->
      s"""WITH c AS MATERIALIZED (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
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
         |FROM sz, fl, grd ORDER BY cluster_id""".stripMargin,

    // both tuning curves replayed over the same churned population: the
    // drain, the merge (floor / survivors / re-assignment), then per
    // probe budget the cost census and the probed top-10 vs the exact
    // top-10 over the SAME live rows, for each geometry
    "ivf_compaction_gain" ->
      s"""WITH c AS MATERIALIZED (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 2),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
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
         |ORDER BY costb.probes""".stripMargin,

    // retention replayed: versions 1 and 2 doomed by keepLast=2 (kept
    // false, null census); version 3 = the scd2 state at seq 3 (the
    // time-travel ver(3) derivation), version 4 = the current store
    "snapshot_vacuum" ->
      s"""WITH $scd2LogSql,
         |s3 AS (SELECT e.vec_id AS id FROM embeddings e
         |  WHERE e.vec_id NOT IN (SELECT id FROM log WHERE seq <= 3)
         |  UNION ALL
         |  SELECT id FROM (
         |    SELECT id, op, row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
         |    FROM log WHERE seq <= 3) WHERE rn = 1 AND op <> 'delete')
         |SELECT CAST(version AS BIGINT) AS version, kept,
         |  CAST(n AS BIGINT) AS n, CAST(id_sum AS BIGINT) AS id_sum
         |FROM (
         |  SELECT 1 AS version, false AS kept, NULL AS n, NULL AS id_sum
         |  UNION ALL SELECT 2, false, NULL, NULL
         |  UNION ALL SELECT 3, true,
         |    (SELECT count(*) FROM s3), (SELECT sum(id) FROM s3)
         |  UNION ALL SELECT 4, true,
         |    (SELECT count(*) FROM embeddings), (SELECT sum(vec_id) FROM embeddings))
         |ORDER BY version""".stripMargin,

    // the expected change log recomputed from the same deterministic
    // transform: upserts carry the NEW label, deletes a null label; an
    // id hit by both the metadata and the vector rule appears once
    "snapshot_diff" ->
      """SELECT vec_id, op, label FROM (
        |  SELECT vec_id, 'upsert' AS op,
        |    CASE WHEN vec_id % 89 = 5 THEN CAST(label AS VARCHAR) || '_v2'
        |         ELSE CAST(label AS VARCHAR) END AS label
        |  FROM embeddings
        |  WHERE vec_id % 97 <> 3 AND (vec_id % 89 = 5 OR vec_id % 101 = 7)
        |  UNION ALL
        |  SELECT vec_id, 'delete' AS op, CAST(NULL AS VARCHAR) AS label
        |  FROM embeddings WHERE vec_id % 97 = 3
        |  UNION ALL
        |  SELECT (SELECT max(vec_id) + 1 FROM embeddings), 'upsert', '777')
        |ORDER BY vec_id""".stripMargin,

    // the same derived log unfolded by the same lead() window — the SCD2
    // interval semantics replayed verbatim
    "snapshot_scd2" ->
      s"""WITH $scd2LogSql,
         |h AS (SELECT id, op, lab, seq AS seq_from,
         |  lead(seq) OVER (PARTITION BY id ORDER BY seq) AS seq_to FROM log)
         |SELECT id AS vec_id, CAST(seq_from AS BIGINT) AS seq_from,
         |  CAST(seq_to AS BIGINT) AS seq_to, op, lab AS label,
         |  (seq_to IS NULL AND op <> 'delete') AS is_current
         |FROM h ORDER BY vec_id, seq_from""".stripMargin,

    // each version replayed independently: untouched base rows keep
    // their original label, touched ids resolve to the last op at or
    // before the cutoff (rn = 1 over seq DESC), deletes drop the id
    "snapshot_time_travel" -> {
      def ver(v: Int) =
        s"""s$v AS (
           |  SELECT e.vec_id AS id, CAST(e.label AS VARCHAR) AS lab FROM embeddings e
           |  WHERE e.vec_id NOT IN (SELECT id FROM log WHERE seq <= $v)
           |  UNION ALL
           |  SELECT id, lab FROM (
           |    SELECT id, lab, op,
           |      row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
           |    FROM log WHERE seq <= $v) WHERE rn = 1 AND op <> 'delete'),
           |a$v AS (SELECT CAST($v AS BIGINT) AS version,
           |  CAST(count(*) AS BIGINT) AS n, CAST(sum(id) AS BIGINT) AS id_sum,
           |  CAST(count(CASE WHEN lab = 'v1' THEN 1 END) AS BIGINT) AS n_v1,
           |  CAST(count(CASE WHEN lab = 'v2' THEN 1 END) AS BIGINT) AS n_v2,
           |  CAST(count(CASE WHEN lab = 'v3' THEN 1 END) AS BIGINT) AS n_v3
           |  FROM s$v)""".stripMargin
      s"""WITH $scd2LogSql,
         |${ver(1)},
         |${ver(2)},
         |${ver(3)}
         |SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3
         |ORDER BY version""".stripMargin
    },

    // expected end state spelled out: 0,1 deleted; 5,6,8 upserted (5 via
    // last-write-wins over two seqs, 8 revived after a delete); 7 dead
    // (delete after upsert); max(vec_id)+1 fresh — the sentinel and the
    // vector width both derived ($Dim, max+1), never hard-coded, so the
    // oracle survives any scale factor or dim change
    "merge_batch" ->
      s"""SELECT vec_id, label, dim FROM (
         |  SELECT vec_id, CAST(label AS VARCHAR) AS label,
         |    CAST(len(embedding) AS BIGINT) AS dim
         |  FROM embeddings WHERE vec_id IN (2, 3, 4, 9, 10, 11)
         |  UNION ALL SELECT * FROM (VALUES
         |    (CAST(5 AS BIGINT), 'B', CAST($Dim AS BIGINT)),
         |    (6, 'C', $Dim), (8, 'E', $Dim)) v(vec_id, label, dim)
         |  UNION ALL SELECT (SELECT max(vec_id) + 1 FROM embeddings), 'N',
         |    CAST($Dim AS BIGINT))
         |ORDER BY vec_id""".stripMargin,

    "ivf_assignments" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |d AS (SELECT e.vec_id, c.cid, ${sqlSq("e.embedding", "c.cvec")} AS dist FROM embeddings e CROSS JOIN c),
         |r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM d)
         |SELECT vec_id, cid AS cluster_id FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "ivf_probe_query" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin,

    // replay the probe ranking once, join each probe budget against the
    // ranked prefix, LEFT join sizes (a duplicate-tied-away centroid is
    // probed with zero rows)
    "ivf_probe_cost" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
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
         |ORDER BY p.probes""".stripMargin,

    "ivf_store_query" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin,

    "ivf_probe_cosine" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlCosDist("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlCosDist("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlCosDist("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q
         |ORDER BY ${sqlCosDist("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin,

    "ann_lsh_filtered" ->
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
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id, e.embedding FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id, qb
         |  WHERE list_contains(list_transform([0, 1, 2, 4, 8, 16, 32],
         |    m -> xor(qb.bucket, CAST(m AS BIGINT))), bk.bucket)
         |    AND e.label >= 3)
         |SELECT c.vec_id AS vec_id, ${sqlR4(sqlCosDist("c.embedding", "q.qvec"))} AS distance
         |FROM cand c, q
         |WHERE ${sqlCosDist("c.embedding", "q.qvec")} <= 0.72
         |ORDER BY ${sqlCosDist("c.embedding", "q.qvec")} ASC, c.vec_id ASC LIMIT 10""".stripMargin,

    "ivf_batch_query" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS rn
         |  FROM c CROSS JOIN q) WHERE rn <= 3),
         |cand AS (SELECT q.query_id, e.vec_id, ${sqlSq("e.embedding", "q.qvec")} AS dist
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id
         |  JOIN probed p ON asg.cid = p.cid JOIN q ON q.query_id = p.query_id),
         |r AS (SELECT query_id, vec_id, dist, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin,

    "ivf_batch_filtered" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS rn
         |  FROM c CROSS JOIN q) WHERE rn <= 4),
         |cand AS (SELECT q.query_id, e.vec_id, ${sqlSq("e.embedding", "q.qvec")} AS dist
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id
         |  JOIN probed p ON asg.cid = p.cid JOIN q ON q.query_id = p.query_id
         |  WHERE e.label >= 3),
         |r AS (SELECT query_id, vec_id, dist, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin,

    "ann_lsh_query" ->
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
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id, e.embedding FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id, qb
         |  WHERE list_contains(list_transform([0, 1, 2, 4, 8, 16, 32],
         |    m -> xor(qb.bucket, CAST(m AS BIGINT))), bk.bucket))
         |SELECT c.vec_id AS vec_id, ${sqlR4(sqlCosDist("c.embedding", "q.qvec"))} AS distance
         |FROM cand c, q
         |ORDER BY ${sqlCosDist("c.embedding", "q.qvec")} ASC, c.vec_id ASC LIMIT 10""".stripMargin,

    "ann_lsh_batch" ->
      s"""WITH pr AS (
         |  SELECT a.vec_id AS i, list_transform(list_zip(a.embedding, b.embedding),
         |    p -> CAST(p[1] AS REAL) - CAST(p[2] AS REAL)) AS h
         |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 6
         |  WHERE a.vec_id < 6),
         |bk AS (
         |  SELECT e.vec_id, CAST(sum(CASE WHEN ${sqlDot("e.embedding", "pr.h")} > 0
         |    THEN (CAST(1 AS BIGINT) << CAST(pr.i AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e CROSS JOIN pr GROUP BY e.vec_id),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |qb AS (SELECT q.query_id, q.qvec, bk.bucket AS qbucket FROM q JOIN bk ON bk.vec_id = q.query_id),
         |cand AS (
         |  SELECT qb.query_id, e.vec_id, ${sqlCosDist("e.embedding", "qb.qvec")} AS dist
         |  FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id CROSS JOIN qb
         |  WHERE list_contains(list_transform([0, 1, 2, 4, 8, 16, 32],
         |    m -> xor(qb.qbucket, CAST(m AS BIGINT))), bk.bucket)),
         |r AS (SELECT query_id, vec_id, dist, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin,

    "ann_topk_batch" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |d AS (SELECT q.query_id, e.vec_id, ${sqlCosDist("e.embedding", "q.qvec")} AS dist FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, dist, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM d)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin,

    "embed_pca" -> pcaOracleSql(iters = 24),

    "embed_pca_scree" -> pcaScreeOracleSql(k = 3, iters = 24),

    "embed_pca_project" -> pcaProjectOracleSql(k = 3, iters = 24),

    "embed_label_dist" ->
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
         |ORDER BY label_a, label_b""".stripMargin,

    "embed_binary_codes" ->
      s"""WITH c AS (SELECT vec_id, ${sqlBinCode("embedding")} AS words FROM embeddings)
         |SELECT vec_id, CAST(u.i AS INT) AS pos, words[u.i + 1] AS code
         |FROM c, unnest(generate_series(0, len(words) - 1)) AS u(i)
         |ORDER BY vec_id, pos""".stripMargin,

    "ann_hamming_query" ->
      s"""WITH q AS (SELECT ${sqlBinCode("embedding")} AS qc FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id, ${sqlBinCode("embedding")} AS bc FROM embeddings)
         |SELECT c.vec_id AS vec_id, ${sqlHamming("c.bc", "q.qc")} AS hamming
         |FROM c, q
         |ORDER BY hamming ASC, c.vec_id ASC LIMIT 10""".stripMargin,

    "ann_hamming_rerank" ->
      s"""WITH q AS (SELECT embedding AS qvec, ${sqlBinCode("embedding")} AS qc
         |  FROM embeddings WHERE vec_id = 0),
         |sl AS (SELECT e.vec_id, e.embedding,
         |    ${sqlHamming(sqlBinCode("e.embedding"), "q.qc")} AS h
         |  FROM embeddings e, q
         |  ORDER BY h ASC, e.vec_id ASC LIMIT 50)
         |SELECT sl.vec_id AS vec_id, ${sqlR4(sqlSq("sl.embedding", "q.qvec"))} AS distance
         |FROM sl, q
         |ORDER BY ${sqlSq("sl.embedding", "q.qvec")} ASC, sl.vec_id ASC LIMIT 10""".stripMargin,

    "corpus_profile" -> {
      def p(c: String, mm: Boolean) = {
        val minv = if (mm) s"CAST(min($c) AS VARCHAR)" else "CAST(NULL AS VARCHAR)"
        val maxv = if (mm) s"CAST(max($c) AS VARCHAR)" else "CAST(NULL AS VARCHAR)"
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
           |  CAST(count(DISTINCT ${if (c == "text") "md5(" + c + ")" else c}) AS BIGINT) AS n_distinct,
           |  $minv AS min_v, $maxv AS max_v FROM documents""".stripMargin
      }
      Seq(p("doc_id", true), p("lang", true), p("source", true),
        p("n_chars", true), p("text", false))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    // per-char unnest with the SAME range table the kernel classifies
    // by (generated CASE arms; code-point semantics on both engines)
    "text_scripts" -> {
      val order = graft.functions.NativeExprs.ScriptOrder
      val sums = order.map { cat =>
        val conds = graft.functions.NativeExprs.ScriptRanges(cat)
          .map { case (lo, hi) => s"cp BETWEEN $lo AND $hi" }.mkString(" OR ")
        s"CAST(sum(CASE WHEN $conds THEN 1 ELSE 0 END) AS BIGINT) AS $cat"
      }.mkString(",\n  ")
      // the coalesce-to-0 arm covers EMPTY text (no exploded rows); a
      // NULL text stays NULL end-to-end, matching ScriptMixExpr's
      // null-in-null-out struct on the Spark side
      val outs = order
        .map(c => s"CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(g.$c, 0) END AS $c")
        .mkString(", ")
      val sub = order.map(c => s"g.$c").mkString(" - ")
      s"""WITH x AS (SELECT doc_id, unicode(text[u.i + 1:u.i + 1]) AS cp
         |  FROM documents, unnest(range(length(text))) AS u(i)),
         |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cp,
         |  $sums
         |  FROM x GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(g.n_cp, 0) END AS n_cp, $outs,
         |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(g.n_cp - $sub, 0) END AS other
         |FROM documents d LEFT JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin
    },

    "text_pmi" -> {
      val lift = "((CAST(bc.n AS DOUBLE) * CAST(tot.nt AS DOUBLE) * CAST(tot.nt AS DOUBLE)) / " +
        "(CAST(tot.nb AS DOUBLE) * CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)))"
      s"""WITH tok AS (SELECT regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS t FROM documents),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
         |  (SELECT unnest(t) AS w FROM tok) GROUP BY w),
         |bi AS (SELECT t[g.i] AS w1, t[g.i + 1] AS w2
         |  FROM tok, unnest(generate_series(1, len(t) - 1)) AS g(i)),
         |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n FROM bi GROUP BY w1, w2),
         |tot AS (SELECT CAST((SELECT sum(n) FROM bc) AS BIGINT) AS nb,
         |  CAST((SELECT sum(c) FROM uni) AS BIGINT) AS nt)
         |SELECT bc.w1, bc.w2, bc.n, ${sqlR4(lift)} AS lift
         |FROM bc JOIN uni a ON a.w = bc.w1 JOIN uni b ON b.w = bc.w2 CROSS JOIN tot
         |WHERE bc.n >= 5
         |ORDER BY ${sqlR4(lift)} DESC, bc.w1 ASC, bc.w2 ASC LIMIT 20""".stripMargin
    },

    "ann_hamming_batch" ->
      s"""WITH q AS (SELECT vec_id AS query_id, ${sqlBinCode("embedding")} AS qc
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id, ${sqlBinCode("embedding")} AS bc FROM embeddings),
         |d AS (SELECT q.query_id, c.vec_id, ${sqlHamming("c.bc", "q.qc")} AS h
         |  FROM c CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, h,
         |  row_number() OVER (PARTITION BY query_id ORDER BY h ASC, vec_id ASC) AS rn FROM d)
         |SELECT query_id, vec_id, h AS hamming FROM r WHERE rn <= 5
         |ORDER BY query_id, h, vec_id""".stripMargin,

    "ann_hamming_filtered" ->
      s"""WITH q AS (SELECT embedding AS qvec, ${sqlBinCode("embedding")} AS qc
         |  FROM embeddings WHERE vec_id = 0),
         |f AS (SELECT vec_id, embedding FROM embeddings WHERE label >= 5),
         |sl AS (SELECT f.vec_id, f.embedding, q.qvec FROM f, q
         |  ORDER BY ${sqlHamming(sqlBinCode("f.embedding"), "q.qc")} ASC, f.vec_id ASC LIMIT 50)
         |SELECT sl.vec_id AS vec_id, ${sqlR4(sqlSq("sl.embedding", "sl.qvec"))} AS distance
         |FROM sl ORDER BY ${sqlSq("sl.embedding", "sl.qvec")} ASC, sl.vec_id ASC LIMIT 10""".stripMargin,

    "dedup_df_histogram" ->
      s"""WITH toks AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents)),
         |df AS (SELECT md5(u.s) AS k, CAST(count(*) AS BIGINT) AS df
         |  FROM toks, unnest(sh) AS u(s) GROUP BY md5(u.s))
         |SELECT CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2'
         |  WHEN df <= 5 THEN '3-5' WHEN df <= 10 THEN '6-10' ELSE '11+' END AS df_band,
         |  CAST(count(*) AS BIGINT) AS n_shingles
         |FROM df GROUP BY 1 ORDER BY df_band""".stripMargin,

    "ann_hamming_recall_curve" -> {
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
    },

    "ann_recall_methods" ->
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
         |GROUP BY u.method ORDER BY u.method""".stripMargin,

    "ann_maxsim_label" -> {
      val ms = (0 until 4)
        .map(i => s"max(CASE WHEN qid = $i THEN s END) AS m$i").mkString(", ")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
         |  WHERE vec_id < 4 AND ${sqlNormPos("embedding")}),
         |s AS (SELECT e.label, q.qid, ${sqlCosSim("e.embedding", "q.qvec")} AS s
         |  FROM embeddings e CROSS JOIN q WHERE ${sqlNormPos("e.embedding")}),
         |m AS (SELECT label, $ms FROM s GROUP BY label)
         |SELECT label, ${sqlR4("m0 + m1 + m2 + m3")} AS maxsim
         |FROM m ORDER BY label""".stripMargin
    },

    "supplier_by_region" ->
      s"""SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_suppliers,
         |  ${sqlR4("CAST(sum(CAST(floor(CAST(s.s_acctbal AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0")} AS acctbal_sum
         |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin,

    "parts_price_stats" ->
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
         |FROM g ORDER BY p_brand""".stripMargin,

    "fuzzy_match_stats" ->
      s"""WITH $sqlFuzzyCtes,
         |n AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey < 2500)
         |SELECT CAST(p.dist AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN na.c_nationkey = nb.c_nationkey THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_same_nation
         |FROM p JOIN n na ON p.id_a = na.c_custkey
         |       JOIN n nb ON p.id_b = nb.c_custkey
         |GROUP BY p.dist ORDER BY dist""".stripMargin,

    "fuzzy_match_pairs" ->
      s"""WITH $sqlFuzzyCtes
         |SELECT id_a, id_b, CAST(dist AS BIGINT) AS dist,
         |  s_a AS name_a, s_b AS name_b
         |FROM p ORDER BY dist, id_a, id_b LIMIT 100""".stripMargin,

    "fuzzy_resolve_best" ->
      s"""WITH $sqlFuzzyCtes,
         |sym AS (SELECT id_a AS id, id_b AS best_id, dist FROM p
         |  UNION ALL SELECT id_b, id_a, dist FROM p)
         |SELECT id AS c_custkey, best_id, CAST(dist AS BIGINT) AS dist
         |FROM sym WHERE id < 100
         |QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist, best_id) = 1
         |ORDER BY c_custkey""".stripMargin,

    "sales_by_nation" ->
      s"""WITH $sqlLineRev4
         |SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_items,
         |  ${sqlR4("CAST(sum(li.rev4) AS DOUBLE) / 10000.0")} AS revenue
         |FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    "sales_by_segment" ->
      s"""WITH $sqlLineRev4
         |SELECT c.c_mktsegment, CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
         |  ${sqlR4("CAST(sum(li.rev4) AS DOUBLE) / 10000.0")} AS revenue
         |FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,

    "top_customers" ->
      s"""WITH $sqlLineRev4,
         |r AS (SELECT o.o_custkey, CAST(sum(li.rev4) AS BIGINT) AS r4
         |  FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey GROUP BY o.o_custkey)
         |SELECT c.c_custkey, c.c_name, ${sqlR4("CAST(r.r4 AS DOUBLE) / 10000.0")} AS revenue
         |FROM r JOIN customer c ON r.o_custkey = c.c_custkey
         |ORDER BY r.r4 DESC, c.c_custkey ASC LIMIT 10""".stripMargin,

    "dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY sha256(text) ORDER BY keep_id",

    "dedup_exact_normalized" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents
        |GROUP BY sha256(regexp_replace(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))
        |ORDER BY keep_id""".stripMargin,

    // same structural counters; rtrim strips spaces only on both
    // engines, LIKE keeps { } literal
    "text_code_detect" ->
      """WITH b AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(regexp_replace(text, '[^{}\[\]();=<>]', '', 'g')) AS BIGINT) AS n_sym
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines, n_sym,
        |  CAST(len(list_filter(ls, l -> starts_with(l, '    ') OR starts_with(l, chr(9)))) AS BIGINT) AS n_indent,
        |  CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%;' OR rtrim(l) LIKE '%{' OR rtrim(l) LIKE '%}')) AS BIGINT) AS n_stmt,
        |  nc FROM b)
        |SELECT doc_id, n_lines, n_sym, n_indent, n_stmt,
        |  CAST((n_sym * 20 >= nc AND n_sym > 0) OR (n_stmt * 3 >= n_lines AND n_lines >= 3) AS BIGINT) AS is_code
        |FROM m ORDER BY doc_id""".stripMargin,

    // utf8proc's nfc_normalize and java.text.Normalizer both implement
    // UAX #15 — canonical composition is engine-portable (unlike case
    // folding, see the asciiLower convention)
    "dedup_exact_nfc" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents
        |GROUP BY sha256(nfc_normalize(text)) ORDER BY keep_id""".stripMargin,

    // length() counts codepoints and strlen() UTF-8 bytes in DuckDB,
    // matching Spark length()/octet_length(); the astral class is the
    // same \x{..} escape in RE2 and Java regex; NULL = NULL is NULL
    // (null text keeps NULL metrics on both sides)
    "text_unicode_profile" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_cp,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(len(regexp_extract_all(text, '[\x{10000}-\x{10FFFF}]')) AS BIGINT) AS n_astral,
        |  CAST(text = nfc_normalize(text) AS BIGINT) AS is_nfc
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_minhash" ->
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
         |SELECT doc_id_a, doc_id_b, ${sqlR4("jaccard")} AS jaccard FROM j WHERE jaccard >= 0.5 ORDER BY doc_id_a, doc_id_b""".stripMargin,

    // rare-shingle postings (df BETWEEN 2 AND 10) → pair join → exact
    // containment/jaccard over the distinct 56-bit shingle hashes; both
    // ratios are exact small-integer rationals, so the 0.8 gate and r4
    // are boundary-identical across engines
    "dedup_containment" ->
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
         |FROM v WHERE containment >= 0.8 ORDER BY doc_id_a, doc_id_b""".stripMargin,

    // the dedup_minhash pipeline with a threshold-ladder rollup tail;
    // jaccards are exact rationals so the >= comparisons are
    // engine-independent
    "dedup_threshold_curve" ->
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
         |GROUP BY t.threshold ORDER BY t.threshold""".stripMargin,

    "dedup_groups" ->
      s"""$sqlCcCte
         |SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    // the verified pair list with RAW jaccard (a ratio of exact ints —
    // bit-identical across engines), then each band layout's unrolled
    // S-curve chain summed over r4-quantized per-pair probabilities
    "dedup_lsh_expected_recall" ->
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
         |ORDER BY bands""".stripMargin,

    // the pair CTEs expose sig (sg) and distinct shingle hashes (h1);
    // the same r4-quantize-before-mean discipline
    "dedup_minhash_accuracy" ->
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
         |FROM e2""".stripMargin,

    // same pair list (j), symmetric edge list (e), and reach map; all
    // stats are scalar subqueries over exact integer aggregates
    "dedup_pagerank" -> pageRankOracleSql(iters = 8, topN = 20),

    "dedup_pagerank_seeded" -> personalizedPageRankOracleSql(iters = 8,
      topN = 20,
      seedSql = "SELECT DISTINCT doc_id AS node FROM documents WHERE doc_id % 2 = 0"),

    // ordered-triple join over the a<b pair list; wedges from the
    // symmetric degree table — all exact integers
    "dedup_triangles" ->
      s"""WITH $sqlMinhashPairsCtes,
         |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM j UNION SELECT doc_id_b, doc_id_a FROM j),
         |tri AS (SELECT CAST(count(*) AS BIGINT) AS t
         |  FROM j x JOIN j y ON x.doc_id_b = y.doc_id_a
         |    JOIN j z ON z.doc_id_a = x.doc_id_a AND z.doc_id_b = y.doc_id_b),
         |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
         |w AS (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS w FROM deg)
         |SELECT t AS n_triangles, w AS n_wedges,
         |  CASE WHEN w > 0 THEN ${sqlR4("CAST(3 * t AS DOUBLE) / w")} ELSE NULL END AS global_cc
         |FROM tri, w""".stripMargin,

    // PageRank iterations + min-label reachability in ONE statement:
    // per component, the max-rank member (tie → lowest id)
    "dedup_canonical" ->
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
         |WHERE rn = 1 ORDER BY rep_id""".stripMargin,

    "dedup_graph_stats" ->
      s"""$sqlCcCte,
         |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
         |g AS (SELECT node, min(lab) AS rep FROM reach GROUP BY node),
         |gs AS (SELECT rep, CAST(count(*) AS BIGINT) AS sz FROM g GROUP BY rep)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM j) AS n_edges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
         |  (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_degree,
         |  (SELECT CAST(count(*) AS BIGINT) FROM gs) AS n_groups,
         |  (SELECT CAST(max(sz) AS BIGINT) FROM gs) AS largest_group""".stripMargin,

    // exact-integer counters; constants explicitly CAST AS DOUBLE (the
    // note-26 decimal-literal trap)
    "text_readability" ->
      s"""WITH b AS (SELECT doc_id, text,
         |    list_filter(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'), x -> x <> '') AS tk
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sentences,
         |  CAST(coalesce(list_sum(list_transform(tk, w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))), 0) AS BIGINT) AS n_syllables
         |  FROM b)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  ${sqlR4("CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sentences) - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / n_words)")} AS flesch
         |FROM m WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    "events_conversion_matrix" ->
      s"""WITH t AS (SELECT event_type AS from_type,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         |  FROM events WHERE user_id IS NOT NULL),
         |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         |  FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         |tt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY from_type)
         |SELECT c.from_type, c.to_type, c.n,
         |  ${sqlR4("CAST(c.n AS DOUBLE) / tt.t")} AS share
         |FROM c JOIN tt USING (from_type) ORDER BY from_type, to_type""".stripMargin,

    "events_markov" -> markovOracleSql(iters = 12),

    "events_paths" ->
      s"""WITH o AS (SELECT user_id, ts, event_id, event_type,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |sx AS (SELECT user_id, ts, event_id, event_type,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM o),
         |p AS (SELECT array_to_string(list_slice(
         |    list(event_type ORDER BY ts, event_id), 1, 5), ' > ') AS path
         |  FROM sx GROUP BY user_id, sid)
         |SELECT path, CAST(count(*) AS BIGINT) AS n FROM p
         |GROUP BY path ORDER BY n DESC, path ASC LIMIT 20""".stripMargin,

    "events_anomaly_mad" ->
      s"""WITH h AS (SELECT date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY hour),
         |md AS (SELECT quantile_cont(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE)) AS med FROM h),
         |ma AS (SELECT quantile_cont(abs(CAST(h.n AS DOUBLE) - md.med), CAST(0.5 AS DOUBLE)) AS mad,
         |    any_value(md.med) AS med FROM h, md)
         |SELECT strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour, h.n,
         |  ${sqlR4("ma.med")} AS med, ${sqlR4("ma.mad")} AS mad
         |FROM h, ma
         |WHERE CAST(h.n AS DOUBLE) > ma.med + CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * ma.mad
         |ORDER BY hour""".stripMargin,

    "events_markov_acc" ->
      s"""WITH tr AS (SELECT event_type AS f,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
         |  FROM events WHERE user_id IS NOT NULL),
         |tt AS (SELECT f, t FROM tr WHERE t IS NOT NULL),
         |c AS (SELECT f, t, count(*) AS n FROM tt GROUP BY f, t),
         |pm AS (SELECT f, t AS pred FROM (
         |  SELECT f, t, row_number() OVER (PARTITION BY f ORDER BY n DESC, t ASC) AS rn FROM c)
         |  WHERE rn = 1)
         |SELECT tt.f AS from_type, pm.pred AS predicted,
         |  CAST(count(*) AS BIGINT) AS n_trans,
         |  CAST(sum(CASE WHEN tt.t = pm.pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  ${sqlR4("CAST(sum(CASE WHEN tt.t = pm.pred THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS accuracy
         |FROM tt JOIN pm USING (f) GROUP BY tt.f, pm.pred ORDER BY from_type""".stripMargin,

    "events_ltv" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
         |    CAST(floor(coalesce(CAST(value AS DOUBLE), 0.0) * 10000.0 + 0.5) AS BIGINT) AS v4
         |  FROM events WHERE user_id IS NOT NULL),
         |c AS (SELECT user_id, min(wk) AS c FROM e GROUP BY user_id)
         |SELECT c.c AS cohort_week, e.wk - c.c AS week_n,
         |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
         |  ${sqlR4("CAST(sum(e.v4) AS DOUBLE) / 10000.0")} AS revenue
         |FROM e JOIN c USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_rfm" ->
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events WHERE user_id IS NOT NULL),
         |per AS (SELECT user_id, mx.m - max(epoch_us(ts)) AS r,
         |    CAST(count(*) AS BIGINT) AS f,
         |    CAST(sum(CAST(floor(coalesce(CAST(value AS DOUBLE), 0.0) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS m
         |  FROM events, mx WHERE user_id IS NOT NULL GROUP BY user_id, mx.m),
         |th AS (SELECT
         |    quantile_cont(CAST(r AS DOUBLE), CAST($RfmP1 AS DOUBLE)) AS r1,
         |    quantile_cont(CAST(r AS DOUBLE), CAST($RfmP2 AS DOUBLE)) AS r2,
         |    quantile_cont(CAST(f AS DOUBLE), CAST($RfmP1 AS DOUBLE)) AS f1,
         |    quantile_cont(CAST(f AS DOUBLE), CAST($RfmP2 AS DOUBLE)) AS f2,
         |    quantile_cont(CAST(m AS DOUBLE), CAST($RfmP1 AS DOUBLE)) AS m1,
         |    quantile_cont(CAST(m AS DOUBLE), CAST($RfmP2 AS DOUBLE)) AS m2
         |  FROM per)
         |SELECT
         |  CAST(CASE WHEN CAST(r AS DOUBLE) <= r1 THEN 0 WHEN CAST(r AS DOUBLE) <= r2 THEN 1 ELSE 2 END AS INT) AS r_bucket,
         |  CAST(CASE WHEN CAST(f AS DOUBLE) <= f1 THEN 0 WHEN CAST(f AS DOUBLE) <= f2 THEN 1 ELSE 2 END AS INT) AS f_bucket,
         |  CAST(CASE WHEN CAST(m AS DOUBLE) <= m1 THEN 0 WHEN CAST(m AS DOUBLE) <= m2 THEN 1 ELSE 2 END AS INT) AS m_bucket,
         |  CAST(count(*) AS BIGINT) AS n_users
         |FROM per, th GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the Holt recursion as ONE list_reduce fold: state packed [l, b],
    // the new l recomputed inline (pure expression, identical bits),
    // every coefficient CAST to DOUBLE (decimal-literal trap); zero
    // days filled over the full calendar range
    "events_forecast" ->
      s"""WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS DOUBLE) AS n
         |  FROM events GROUP BY d),
         |bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM dc),
         |filled AS (SELECT u.d AS d, coalesce(dc.n, CAST(0.0 AS DOUBLE)) AS n
         |  FROM bounds, unnest(generate_series(bounds.mn, bounds.mx)) AS u(d)
         |  LEFT JOIN dc ON dc.d = u.d),
         |ys AS (SELECT list(n ORDER BY d) AS y FROM filled),
         |st AS (SELECT list_reduce(
         |    list_prepend([y[1], y[2] - y[1]], list_transform(list_slice(y, 2, len(y)), v -> [v])),
         |    (acc, x) -> [
         |      CAST(0.5 AS DOUBLE) * x[1] + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |      CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * x[1] + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
         |        + CAST(0.75 AS DOUBLE) * acc[2]
         |    ]) AS s FROM ys)
         |SELECT CAST(u.h AS INT) AS horizon, ${sqlR4("s[1] + CAST(u.h AS DOUBLE) * s[2]")} AS forecast
         |FROM st, unnest(generate_series(1, 7)) AS u(h) ORDER BY horizon""".stripMargin,

    // whole-second integer gaps, the value-stats variance operand
    // shape, quantize-then-rank on cv with id tiebreak
    "events_bot_cadence" ->
      s"""WITH g AS (SELECT user_id,
         |    (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) // 1000000 AS gap_s
         |  FROM events WHERE user_id IS NOT NULL),
         |g2 AS (SELECT user_id, gap_s FROM g WHERE gap_s IS NOT NULL AND gap_s <= 2592000),
         |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(gap_s) AS BIGINT) AS s1, CAST(sum(gap_s * gap_s) AS BIGINT) AS s2
         |  FROM g2 GROUP BY user_id),
         |b AS (SELECT user_id, n, CAST(s1 AS DOUBLE) / n AS mean,
         |    sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) AS sd
         |  FROM a WHERE n >= 20 AND s1 > 0)
         |SELECT user_id, n AS n_gaps, ${sqlR4("mean")} AS mean_gap_s,
         |  ${sqlR4("sd")} AS std_gap_s, ${sqlR4("sd / mean")} AS cv
         |FROM b ORDER BY ${sqlR4("sd / mean")} ASC, user_id ASC LIMIT 20""".stripMargin,

    // the Holt–Winters recursion as ONE list fold: state [l, b, s₁..s₇]
    // with the rotating-seasonal layout (head = the factor due now), new
    // l recomputed inline wherever b/s need it — pure expressions,
    // identical bits to the engine's driver fold
    "events_holt_winters" ->
      s"""WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS DOUBLE) AS n
         |  FROM events GROUP BY d),
         |bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM dc),
         |filled AS (SELECT u.d AS d, coalesce(dc.n, CAST(0.0 AS DOUBLE)) AS n
         |  FROM bounds, unnest(generate_series(bounds.mn, bounds.mx)) AS u(d)
         |  LEFT JOIN dc ON dc.d = u.d),
         |ys AS (SELECT list(n ORDER BY d) AS y FROM filled),
         |-- short-span gate (shared convention with the engine): fewer than
         |-- two seasons of days -> zero init rows -> zero output rows
         |init AS (SELECT y,
         |    list_reduce(list_slice(y, 1, 7), (a, b) -> a + b) / CAST(7.0 AS DOUBLE) AS m1,
         |    list_reduce(list_slice(y, 8, 14), (a, b) -> a + b) / CAST(7.0 AS DOUBLE) AS m2
         |  FROM ys WHERE len(y) >= 14),
         |st AS (SELECT list_reduce(
         |    list_prepend(
         |      list_concat([m1, (m2 - m1) / CAST(7.0 AS DOUBLE)],
         |        list_transform(list_slice(y, 1, 7), v -> v - m1)),
         |      list_transform(list_slice(y, 8, len(y)), v -> [v])),
         |    (acc, x) -> list_concat(
         |      [CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |       CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1]) + CAST(0.75 AS DOUBLE) * acc[2]],
         |      list_append(list_slice(acc, 4, len(acc)),
         |        CAST(0.25 AS DOUBLE) * (x[1] - (CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]))) + CAST(0.75 AS DOUBLE) * acc[3]))
         |  ) AS s FROM init)
         |SELECT CAST(u.h AS INT) AS horizon,
         |  ${sqlR4("s[1] + CAST(u.h AS DOUBLE) * s[2] + s[3 + ((u.h - 1) % 7)]")} AS forecast
         |FROM st, unnest(generate_series(1, 7)) AS u(h) ORDER BY horizon""".stripMargin,

    "events_attribution_markov" -> markovRemovalOracleSql(iters = 16),

    // the HW fold extended with an error tail (positions 10+ of the
    // fold state), run over blocks of 256 days: a recursive CTE carries
    // the 9-value state from block to block and folds each block with the
    // same step, so the IEEE operations and their order are the
    // engine's, in time linear in the day span (one fold over all days
    // copied the growing tail at every day). μ/σ reductions replay the
    // engine's exact ascending operand order; the rows unnest the error
    // and count lists side by side instead of indexing them per row
    "events_seasonal_anomaly" ->
      s"""WITH RECURSIVE dc AS (SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS DOUBLE) AS n
         |  FROM events GROUP BY d),
         |bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM dc),
         |filled AS (SELECT u.d AS d, coalesce(dc.n, CAST(0.0 AS DOUBLE)) AS n
         |  FROM bounds, unnest(generate_series(bounds.mn, bounds.mx)) AS u(d)
         |  LEFT JOIN dc ON dc.d = u.d),
         |ys AS (SELECT list(n ORDER BY d) AS y FROM filled),
         |-- short-span gate (shared convention with the engine): fewer than
         |-- two seasons of days -> zero init rows -> zero output rows
         |init AS (SELECT y,
         |    list_reduce(list_slice(y, 1, 7), (a, b) -> a + b) / CAST(7.0 AS DOUBLE) AS m1,
         |    list_reduce(list_slice(y, 8, 14), (a, b) -> a + b) / CAST(7.0 AS DOUBLE) AS m2
         |  FROM ys WHERE len(y) >= 14),
         |blocks AS MATERIALIZED (SELECT t.b AS b,
         |    list_transform(list_slice(y, 8 + 256 * t.b, 7 + 256 * (t.b + 1)), v -> [v]) AS xs
         |  FROM init, unnest(generate_series(0, (len(y) - 8) // 256)) AS t(b)),
         |hw(b, s) AS (
         |  SELECT CAST(-1 AS BIGINT), list_concat([m1, (m2 - m1) / CAST(7.0 AS DOUBLE)],
         |    list_transform(list_slice(y, 1, 7), v -> v - m1)) FROM init
         |  UNION ALL
         |  SELECT blocks.b, list_reduce(list_prepend(list_slice(hw.s, 1, 9), blocks.xs),
         |    (acc, x) -> list_concat(
         |      list_concat(
         |        [CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |         CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1]) + CAST(0.75 AS DOUBLE) * acc[2]],
         |        list_append(list_slice(acc, 4, 9),
         |          CAST(0.25 AS DOUBLE) * (x[1] - (CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]))) + CAST(0.75 AS DOUBLE) * acc[3])),
         |      list_append(list_slice(acc, 10, len(acc)),
         |        x[1] - (acc[1] + acc[2] + acc[3]))))
         |  FROM hw JOIN blocks ON blocks.b = hw.b + 1),
         |er AS (SELECT y, (SELECT flatten(list(list_slice(s, 10, len(s)) ORDER BY b)) FROM hw WHERE b >= 0) AS errs
         |  FROM init),
         |mo AS (SELECT y, errs,
         |    list_reduce(errs, (a, b) -> a + b) / CAST(len(errs) AS DOUBLE) AS mu
         |  FROM er),
         |si AS (SELECT y, errs, mu,
         |    sqrt(list_reduce(list_transform(errs, v -> (v - mu) * (v - mu)), (a, b) -> a + b) / CAST(len(errs) AS DOUBLE)) AS sg
         |  FROM mo),
         |rws AS (SELECT unnest(generate_series(1, len(errs))) AS i, unnest(errs) AS e,
         |    unnest(list_slice(y, 8, len(y))) AS yv, mu, sg FROM si),
         |b2 AS (SELECT (SELECT mn FROM bounds) + 7 + i - 1 AS day_index,
         |    CAST(yv AS BIGINT) AS n, yv - e AS expected, e AS error,
         |    abs(e - mu) > CAST(3.0 AS DOUBLE) * sg AS is_anomaly,
         |    floor(abs(e - mu) * 10000.0 + 0.5) AS q
         |  FROM rws)
         |SELECT CAST(row_number() OVER (ORDER BY q DESC, day_index ASC) AS INT) AS rank,
         |  day_index, n, ${sqlR4("expected")} AS expected,
         |  ${sqlR4("error")} AS error, is_anomaly
         |FROM b2 ORDER BY q DESC, day_index ASC LIMIT 3""".stripMargin,

    // the KM fold replayed ascending: factors (1 − d/n) from exact ints,
    // left-fold product with a prepended 1.0 — the same IEEE ops in the
    // same order as the engine's driver fold, bit-identical pre-r4
    "events_survival" ->
      s"""WITH ue AS (SELECT user_id, min(ts) AS f, max(ts) AS l
         |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
         |mx AS (SELECT max(l) AS e FROM ue),
         |u2 AS (SELECT CASE WHEN ue.l <= mx.e - INTERVAL 1 DAY THEN 1 ELSE 0 END AS churn,
         |    CASE WHEN ue.l <= mx.e - INTERVAL 1 DAY
         |         THEN (epoch_us(ue.l) - epoch_us(ue.f)) // 86400000000
         |         ELSE (epoch_us(mx.e) - epoch_us(ue.f)) // 86400000000 END AS t
         |  FROM ue, mx),
         |dt AS (SELECT t, CAST(sum(churn) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS c
         |  FROM u2 GROUP BY t),
         |ev AS (SELECT t, d,
         |    (SELECT CAST(sum(c) AS BIGINT) FROM dt x WHERE x.t >= dt.t) AS nr
         |  FROM dt WHERE d > 0),
         |ord AS (SELECT list(struct_pack(t := t, d := d, nr := nr) ORDER BY t) AS xs FROM ev),
         |rws AS (SELECT u.i AS i, xs FROM ord, unnest(generate_series(1, len(xs))) AS u(i))
         |SELECT CAST(xs[i].t AS BIGINT) AS t_days, xs[i].nr AS n_risk, xs[i].d AS n_churned,
         |  ${sqlR4("list_reduce(list_prepend(CAST(1.0 AS DOUBLE), list_transform(list_slice(xs, 1, i), y -> CAST(1.0 AS DOUBLE) - CAST(y.d AS DOUBLE) / CAST(y.nr AS DOUBLE))), (a, b) -> a * b)")} AS survival
         |FROM rws ORDER BY t_days""".stripMargin,

    // the KM fold per cohort: suffix sums and the ascending product
    // both PARTITIONED by the signup month; strftime twins date_format
    "events_survival_cohort" ->
      s"""WITH ue AS (SELECT user_id, min(ts) AS f, max(ts) AS l
         |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
         |mx AS (SELECT max(l) AS e FROM ue),
         |u2 AS (SELECT strftime(date_trunc('month', ue.f), '%Y-%m') AS cohort,
         |    CASE WHEN ue.l <= mx.e - INTERVAL 1 DAY THEN 1 ELSE 0 END AS churn,
         |    CASE WHEN ue.l <= mx.e - INTERVAL 1 DAY
         |         THEN (epoch_us(ue.l) - epoch_us(ue.f)) // 86400000000
         |         ELSE (epoch_us(mx.e) - epoch_us(ue.f)) // 86400000000 END AS t
         |  FROM ue, mx),
         |dt AS (SELECT cohort, t, CAST(sum(churn) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS c
         |  FROM u2 GROUP BY cohort, t),
         |ev AS (SELECT cohort, t, d,
         |    (SELECT CAST(sum(x.c) AS BIGINT) FROM dt x
         |      WHERE x.cohort = dt.cohort AND x.t >= dt.t) AS nr
         |  FROM dt WHERE d > 0),
         |ord AS (SELECT cohort, list(struct_pack(t := t, d := d, nr := nr) ORDER BY t) AS xs
         |  FROM ev GROUP BY cohort),
         |rws AS (SELECT cohort, u.i AS i, xs FROM ord, unnest(generate_series(1, len(xs))) AS u(i))
         |SELECT cohort, CAST(xs[i].t AS BIGINT) AS t_days, xs[i].nr AS n_risk, xs[i].d AS n_churned,
         |  ${sqlR4("list_reduce(list_prepend(CAST(1.0 AS DOUBLE), list_transform(list_slice(xs, 1, i), y -> CAST(1.0 AS DOUBLE) - CAST(y.d AS DOUBLE) / CAST(y.nr AS DOUBLE))), (a, b) -> a * b)")} AS survival
         |FROM rws ORDER BY cohort, t_days""".stripMargin,

    // five exact BIGINT sums per lag; the Pearson arithmetic runs in
    // the same double operand shape as the engine's final select
    "events_acf" ->
      s"""WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS y
         |  FROM events GROUP BY d),
         |b AS (SELECT min(d) AS mn, max(d) AS mx FROM dc),
         |f AS (SELECT u.d AS d, coalesce(dc.y, 0) AS y
         |  FROM b, unnest(generate_series(b.mn, b.mx)) AS u(d) LEFT JOIN dc ON dc.d = u.d),
         |l AS (SELECT unnest(generate_series(1, 7)) AS lag),
         |p AS (SELECT l.lag AS lag, a.y AS x, c.y AS z
         |  FROM l CROSS JOIN f a JOIN f c ON c.d = a.d + l.lag),
         |s AS (SELECT lag, CAST(count(*) AS BIGINT) AS k,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(z) AS BIGINT) AS sz,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(z * z) AS BIGINT) AS szz,
         |    CAST(sum(x * z) AS BIGINT) AS sxz
         |  FROM p GROUP BY lag)
         |SELECT CAST(lag AS INT) AS lag, k AS n_pairs,
         |  CASE WHEN (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
         |        AND (CAST(k AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz) > 0
         |    THEN ${sqlR4("(CAST(k AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz) / sqrt((CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * (CAST(k AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))")}
         |    ELSE NULL END AS acf
         |FROM s ORDER BY lag""".stripMargin,

    // exact-integer CUSUM (scaled by the day count), earliest tied
    // argmax, before/after means from exact sums in the 1-row select
    "events_cusum" ->
      s"""WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS y
         |  FROM events GROUP BY d),
         |b AS (SELECT min(d) AS mn, max(d) AS mx FROM dc),
         |f AS (SELECT u.d AS d, coalesce(dc.y, 0) AS y
         |  FROM b, unnest(generate_series(b.mn, b.mx)) AS u(d) LEFT JOIN dc ON dc.d = u.d),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(y) AS BIGINT) AS s FROM f),
         |c AS (SELECT f.d AS d, t.m AS m, t.s AS s,
         |    CAST(sum(t.m * f.y - t.s) OVER (ORDER BY f.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
         |    CAST(sum(f.y) OVER (ORDER BY f.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS yc,
         |    CAST(count(*) OVER (ORDER BY f.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nc
         |  FROM f, t)
         |SELECT d AS day_index, cc AS cusum_scaled, m AS n_days,
         |  ${sqlR4("CAST(yc AS DOUBLE) / nc")} AS mean_before,
         |  CASE WHEN nc < m THEN ${sqlR4("CAST(s - yc AS DOUBLE) / (m - nc)")} ELSE NULL END AS mean_after
         |FROM c ORDER BY abs(cc) DESC, d ASC LIMIT 1""".stripMargin,

    // multiset n-gram windows over nonempty tokens (the shingles
    // contract); instance/type counts are exact ints
    "corpus_ngram_stats" ->
      s"""WITH tk AS (SELECT list_filter(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |g1 AS (SELECT unnest(t) AS g FROM tk),
         |g2 AS (SELECT t[i] || ' ' || t[i + 1] AS g
         |  FROM tk, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)),
         |g3 AS (SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
         |  FROM tk, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
         |a AS (SELECT 1 AS n, CAST(count(*) AS BIGINT) AS instances, CAST(count(DISTINCT g) AS BIGINT) AS types FROM g1
         |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT), CAST(count(DISTINCT g) AS BIGINT) FROM g2
         |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT), CAST(count(DISTINCT g) AS BIGINT) FROM g3)
         |SELECT CAST(n AS INT) AS n, instances, types,
         |  ${sqlR4("CAST(types AS DOUBLE) / instances")} AS type_token_ratio
         |FROM a ORDER BY n""".stripMargin,

    // same quantize-then-exact-moments derivation; the variance
    // expression is regrouped identically
    "events_value_stats" ->
      s"""WITH q AS (SELECT event_type, CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS q
         |  FROM events WHERE value IS NOT NULL),
         |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         |    CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2,
         |    CAST(min(q) AS BIGINT) AS mn, CAST(max(q) AS BIGINT) AS mx
         |  FROM q GROUP BY event_type)
         |SELECT event_type, n,
         |  ${sqlR4("(CAST(s1 AS DOUBLE) / n) / 10000.0")} AS mean_value,
         |  ${sqlR4("sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) / 10000.0")} AS std_value,
         |  CAST(mn AS DOUBLE) / 10000.0 AS min_value,
         |  CAST(mx AS DOUBLE) / 10000.0 AS max_value
         |FROM a ORDER BY event_type""".stripMargin,

    // the text_stats quality CTE + the Gopher pass conjunction, rolled
    // up per source with quantized-int means
    "corpus_source_quality" ->
      s"""WITH ${sqlQualityGopherCtes}
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  ${sqlR4("CAST(sum(qq) AS DOUBLE) / count(*) / 10000.0")} AS mean_quality,
         |  ${sqlR4("CAST(count(*) FILTER (gp) AS DOUBLE) / count(*)")} AS gopher_pass_rate
         |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "corpus_quality_calibration" -> {
      val ps = (1 to 9).map(i => s"CAST(0.$i AS DOUBLE)").mkString("[", ", ", "]")
      s"""WITH ${sqlQualityGopherCtes},
         |th AS (SELECT quantile_cont(CAST(qq AS DOUBLE), $ps) AS t FROM d),
         |e AS (SELECT d.qq, d.gp, CAST(list_sum(list_transform(th.t, x ->
         |    CASE WHEN CAST(d.qq AS DOUBLE) > x THEN 1 ELSE 0 END)) AS INT) AS decile
         |  FROM d, th)
         |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         |  ${sqlR4("CAST(sum(qq) AS DOUBLE) / count(*) / 10000.0")} AS mean_quality,
         |  ${sqlR4("CAST(count(*) FILTER (gp) AS DOUBLE) / count(*)")} AS gopher_pass_rate
         |FROM e GROUP BY decile ORDER BY decile""".stripMargin
    },

    // DuckDB dayofweek is 0 (Sunday) – 6; Spark is 1 – 7 → +1
    "events_heatmap" ->
      s"""WITH b AS (SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow, CAST(hour(ts) AS INT) AS hour,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM b)
         |SELECT b.dow, b.hour, b.n, ${sqlR4("CAST(b.n AS DOUBLE) / t.t")} AS share
         |FROM b, t ORDER BY b.dow, b.hour""".stripMargin,

    // the verified pair set joined to both docs' sources, unordered pair
    // normalized via least/greatest — exact integer counts
    "dedup_source_matrix" ->
      s"""WITH $sqlMinhashPairsCtes,
         |sm AS (SELECT least(da.source, db.source) AS source_a, greatest(da.source, db.source) AS source_b
         |  FROM j JOIN documents da ON j.doc_id_a = da.doc_id JOIN documents db ON j.doc_id_b = db.doc_id)
         |SELECT source_a, source_b, count(*) AS n_pairs FROM sm
         |GROUP BY source_a, source_b ORDER BY source_a, source_b""".stripMargin,

    // scalar-subquery restatement of each integrity leg
    "corpus_integrity" ->
      """SELECT (SELECT count(*) FROM documents) AS docs_total,
        |  (SELECT count(*) FROM embeddings) AS vecs_total,
        |  (SELECT count(DISTINCT doc_id) FROM documents) AS docs_distinct,
        |  (SELECT count(DISTINCT vec_id) FROM embeddings) AS vecs_distinct,
        |  (SELECT count(*) FROM documents d WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) AS docs_without_vec,
        |  (SELECT count(*) FROM embeddings e WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)) AS vecs_without_doc,
        |  (SELECT count(*) FROM documents WHERE text IS NULL OR len(text) = 0) AS empty_text""".stripMargin,

    "dedup_apply" ->
      s"""$sqlCcCte,
         |drops AS (SELECT node FROM (SELECT node, min(lab) AS rep FROM reach GROUP BY node) WHERE node <> rep)
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM drops) ORDER BY doc_id""".stripMargin,

    // minhash pairs (j) reused verbatim; simhash chain renamed s* to
    // avoid CTE collisions; both pair sets union into one edge list
    "dedup_multi" ->
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
         |SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    // same group map, best-copy representative: longest text wins the
    // group, ties to the lowest id (the operator's max_by ordering)
    // centroid mirrored to Spark's float cast (CAST(avg AS REAL)) so
    // distances/norms are computed from identical floats in both engines
    "label_centroids" ->
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
         |ORDER BY nrm.label""".stripMargin,

    "dedup_best" ->
      s"""$sqlCcCte,
         |g AS (SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node)
         |SELECT rep_id, doc_id AS keep_id, n_docs FROM (
         |  SELECT g.rep_id, g.doc_id,
         |    count(*) OVER (PARTITION BY g.rep_id) AS n_docs,
         |    row_number() OVER (PARTITION BY g.rep_id ORDER BY d.n_chars DESC, g.doc_id ASC) AS rn
         |  FROM g JOIN documents d ON g.doc_id = d.doc_id)
         |WHERE rn = 1 ORDER BY rep_id""".stripMargin,

    // full-SQL replay of the PQ funnel (same CTE machinery as
    // ivf_adc_rerank): codebook assignment, full-probe LUT scan, raw
    // top-10 vs rerank-of-top-50, recall against the exact top-10
    "ivf_pq_rerank" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM embeddings e CROSS JOIN books b),
         |adc AS (SELECT enc.vec_id,
         |  list_sum(list((${sqlSq("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc, q WHERE rn = 1 GROUP BY enc.vec_id),
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
         |  ${sqlR4("CAST((SELECT count(*) FROM rr10 JOIN ex10 USING (vec_id)) AS DOUBLE) / 10.0")} AS recall_rerank""".stripMargin,

    "ivf_quantized_query" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
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
         |ORDER BY ${sqlSq("d.deq", "q.qvec")} ASC, d.vec_id ASC LIMIT 10""".stripMargin,

    "pq_codes" ->
      s"""WITH cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.code,
         |  ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} AS d
         |  FROM embeddings e CROSS JOIN books b)
         |SELECT vec_id, CAST(sub_idx AS INT) AS sub_idx, code FROM (
         |  SELECT vec_id, sub_idx, code, row_number() OVER (PARTITION BY vec_id, sub_idx ORDER BY d ASC, code ASC) AS rn FROM enc)
         |WHERE rn = 1 ORDER BY vec_id, sub_idx""".stripMargin,

    // all three reconstruction paths replayed on the sample: int8
    // round-half-up dequant, PQ argmin + flatten-ordered reconstruct,
    // residual PQ via the assignment's own centroid
    "pq_error_sample" ->
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
         |FROM e1 JOIN e2 ON e2.vec_id = e1.vec_id JOIN e3 ON e3.vec_id = e1.vec_id ORDER BY e1.vec_id""".stripMargin,

    // the reflection restated from the same pinned integers the kernel
    // folds (left-fold dot, one map, REAL cast), then pq_codes' argmin
    "pq_rotated_codes" ->
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
         |WHERE rn = 1 ORDER BY vec_id, sub_idx""".stripMargin,

    "ivf_adc_apply_diff" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
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
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT bb.vec_id, b.sub_idx, b.code,
         |  row_number() OVER (PARTITION BY bb.vec_id, b.sub_idx
         |    ORDER BY ${sqlSq("list_slice(bb.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM base bb CROSS JOIN books b),
         |codes AS (SELECT vec_id, sum(CAST(code AS BIGINT)) AS csum
         |  FROM enc WHERE rn = 1 GROUP BY vec_id)
         |SELECT asg.cid AS cluster_id, count(*) AS n,
         |  CAST(sum(codes.csum) AS BIGINT) AS codes_sum
         |FROM asg JOIN codes USING (vec_id)
         |GROUP BY asg.cid ORDER BY cluster_id""".stripMargin,

    "ivf_pq_query" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM embeddings e CROSS JOIN books b),
         |recon AS (SELECT vec_id, flatten(list(cvec ORDER BY sub_idx)) AS deq FROM enc WHERE rn = 1 GROUP BY vec_id)
         |SELECT r.vec_id AS vec_id, ${sqlR4(sqlSq("r.deq", "q.qvec"))} AS distance
         |FROM recon r JOIN asg ON asg.vec_id = r.vec_id JOIN probed ON asg.cid = probed.cid, q
         |ORDER BY ${sqlSq("r.deq", "q.qvec")} ASC, r.vec_id ASC LIMIT 10""".stripMargin,

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
    "ivf_adc_filtered" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM embeddings e CROSS JOIN books b),
         |adc AS (SELECT enc.vec_id,
         |  list_sum(list((${sqlSq("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc, q WHERE rn = 1 GROUP BY enc.vec_id)
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |JOIN embeddings e ON e.vec_id = adc.vec_id
         |WHERE e.label >= 3
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin,

    // ADC distance = per-subspace grouped sum of the same terms the
    // ivf_pq_query oracle sums flat; r4 absorbs the regrouping ulps
    "ivf_adc_query" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM embeddings e CROSS JOIN books b),
         |adc AS (SELECT enc.vec_id,
         |  list_sum(list((${sqlSq("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc, q WHERE rn = 1 GROUP BY enc.vec_id)
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin,

    // the ivf_adc_query oracle with every vector passed through the
    // pinned reflection first (assignment stays original-space, matching
    // the Spark side's unrotated model.assigned); same forced-order ADC
    // fold
    "ivf_adc_rotated_query" ->
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
         |  FROM embeddings e CROSS JOIN (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8) c0) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, rv AS embedding FROM rot WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.rv, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM rot e CROSS JOIN books b),
         |adc AS (SELECT enc.vec_id,
         |  list_sum(list((${sqlSq("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc, q WHERE rn = 1 GROUP BY enc.vec_id)
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin,

    // residual twin of the ivf_adc_query oracle: the encode compares
    // (v − own-centroid) slices against the books, the ADC distance
    // compares (q − candidate's-cluster-centroid) slices against the
    // chosen entries — both joins replayed row-exactly
    "ivf_adc_residual_query" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq(sqlSub("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "list_slice(cc.cvec, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))"), "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM embeddings e JOIN asg ON asg.vec_id = e.vec_id JOIN c cc ON cc.cid = asg.cid CROSS JOIN books b),
         |adc AS (SELECT enc.vec_id,
         |  list_sum(list((${sqlSq(sqlSub("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "list_slice(cc.cvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))"), "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc JOIN asg ON asg.vec_id = enc.vec_id JOIN c cc ON cc.cid = asg.cid, q WHERE rn = 1 GROUP BY enc.vec_id)
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin,

    // the ivf_adc_query oracle over the normalized table, final /2 —
    // the unit-vector identity cosine = sqL2/2 replayed end to end
    // the normalize twin carries l2Normalize's zero-norm guard (zero
    // vector → zero vector, never 0/0 NaN) — an unguarded division gave
    // the zero vector NaN-keyed code assignments that landed it a
    // spurious 0-distance serve (adversarial-data finding, r8)
    "ivf_adc_cosine_query" ->
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
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM nv WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM nv e CROSS JOIN books b),
         |adc AS (SELECT enc.vec_id,
         |  list_sum(list((${sqlSq("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc, q WHERE rn = 1 GROUP BY enc.vec_id)
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist / 2.0")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin,

    // batch residual oracle: the enc/adc residual terms of
    // ivf_adc_residual_query inside the per-query structure of
    // ivf_adc_batch
    "ivf_adc_residual_batch" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS rn
         |  FROM c CROSS JOIN q) WHERE rn <= 3),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
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
         |FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin,

    // full-probe shortlist: every step deterministic, so the rerank path
    // gets a row-exact oracle (ivf_pq_rerank keeps the invariant form)
    "ivf_adc_rerank" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM embeddings e CROSS JOIN books b),
         |adc AS (SELECT enc.vec_id,
         |  list_sum(list((${sqlSq("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc, q WHERE rn = 1 GROUP BY enc.vec_id),
         |short AS (SELECT vec_id FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 50)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e JOIN short USING (vec_id), q
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin,

    // the disk layout changes the files, never the rows — the
    // ivf_adc_query oracle applies verbatim
    "ivf_adc_store_query" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM embeddings e CROSS JOIN books b),
         |adc AS (SELECT enc.vec_id,
         |  list_sum(list((${sqlSq("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc, q WHERE rn = 1 GROUP BY enc.vec_id)
         |SELECT adc.vec_id AS vec_id, ${sqlR4("adc.dist")} AS distance
         |FROM adc JOIN asg ON asg.vec_id = adc.vec_id JOIN probed ON asg.cid = probed.cid
         |ORDER BY adc.dist ASC, adc.vec_id ASC LIMIT 10""".stripMargin,

    "ivf_adc_batch" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT query_id, cid FROM (
         |  SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC) AS rn
         |  FROM c CROSS JOIN q) WHERE rn <= 3),
         |cb AS (SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
         |books AS (SELECT u.s AS sub_idx, code,
         |  list_slice(embedding, CAST(u.s * 16 + 1 AS INT), CAST(u.s * 16 + 16 AS INT)) AS cvec
         |  FROM cb, unnest(generate_series(0, 3)) AS u(s)),
         |enc AS (SELECT e.vec_id, b.sub_idx, b.cvec,
         |  row_number() OVER (PARTITION BY e.vec_id, b.sub_idx ORDER BY ${sqlSq("list_slice(e.embedding, CAST(b.sub_idx * 16 + 1 AS INT), CAST(b.sub_idx * 16 + 16 AS INT))", "b.cvec")} ASC, b.code ASC) AS rn
         |  FROM embeddings e CROSS JOIN books b),
         |adc AS (SELECT q.query_id, enc.vec_id,
         |  list_sum(list((${sqlSq("list_slice(q.qvec, CAST(enc.sub_idx * 16 + 1 AS INT), CAST(enc.sub_idx * 16 + 16 AS INT))", "enc.cvec")}) ORDER BY enc.sub_idx)) AS dist
         |  FROM enc, q WHERE rn = 1 GROUP BY q.query_id, enc.vec_id),
         |cand AS (SELECT adc.query_id, adc.vec_id, adc.dist FROM adc
         |  JOIN asg ON asg.vec_id = adc.vec_id
         |  JOIN probed p ON asg.cid = p.cid AND p.query_id = adc.query_id),
         |r AS (SELECT query_id, vec_id, dist,
         |  row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn FROM cand)
         |SELECT query_id, vec_id, ${sqlR4("dist")} AS distance
         |FROM r WHERE rn <= 5 ORDER BY query_id, dist, vec_id""".stripMargin,

    "embed_quantize" ->
      s"""WITH s AS (SELECT vec_id, embedding,
         |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings),
         |x AS (SELECT vec_id, scale, u.i AS pos,
         |  CAST(CASE WHEN scale > 0 THEN floor(CAST(embedding[u.i + 1] AS DOUBLE) / scale + 0.5) ELSE 0 END AS INT) AS qval
         |  FROM s, unnest(generate_series(0, len(embedding) - 1)) AS u(i))
         |SELECT vec_id, CAST(pos AS INT) AS pos, qval, ${sqlR4("scale")} AS scale
         |FROM x ORDER BY vec_id, pos""".stripMargin,

    // the 8×64 sign matrix and the scale are restated from the SAME
    // Scala values the Spark query reads (literal-model rule): the fold
    // is list_sum over per-element double products, sequential in both
    // engines
    "embed_project" -> {
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
    },

    "knn_mmr" -> mmrOracleSql(k = 10, shortlist = 30),

    // the assignment CTE + the same quantized-int distance aggregation
    "ivf_cluster_stats" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |d AS (SELECT asg.cid AS cluster_id,
         |    CAST(floor(${sqlSq("e.embedding", "c2.cvec")} * 10000.0 + 0.5) AS BIGINT) AS qd
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id JOIN c c2 ON asg.cid = c2.cid)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
         |  ${sqlR4("CAST(sum(qd) AS DOUBLE) / count(*) / 10000.0")} AS mean_dist,
         |  CAST(max(qd) AS DOUBLE) / 10000.0 AS max_dist
         |FROM d GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // same md5-derived 56-bit weights; the argmax replayed as a ranked
    // unnest (weight DESC = the struct max's lexicographic order; a tie
    // would need an md5 collision)
    "corpus_shard_assign" -> {
      def shardSql(n: Int, alias: String) =
        s"""(SELECT doc_id, s AS $alias FROM (
           |  SELECT d.doc_id, u.s,
           |    row_number() OVER (PARTITION BY d.doc_id ORDER BY
           |      CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(u.s AS VARCHAR)), 1, 14)) AS BIGINT) DESC,
           |      u.s DESC) AS rn
           |  FROM documents d, unnest(generate_series(0, ${n - 1})) AS u(s)) WHERE rn = 1)""".stripMargin
      s"""SELECT a.doc_id, CAST(a.shard8 AS INT) AS shard8,
         |  CAST(b.shard9 AS INT) AS shard9, a.shard8 <> b.shard9 AS moved
         |FROM ${shardSql(8, "shard8")} a JOIN ${shardSql(9, "shard9")} b ON a.doc_id = b.doc_id
         |ORDER BY a.doc_id""".stripMargin
    },

    // the full funnel replayed: probe selection, prefix shortlist
    // within probed clusters, exact rerank
    "ivf_matryoshka_query" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
         |cand AS (SELECT e.vec_id AS vec_id, e.embedding AS embedding, q.qvec AS qvec
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q),
         |sl AS (SELECT vec_id, embedding, qvec FROM cand
         |  ORDER BY ${sqlSq("embedding[1:16]", "qvec[1:16]")} ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id, ${sqlR4(sqlSq("embedding", "qvec"))} AS distance
         |FROM sl ORDER BY ${sqlSq("embedding", "qvec")} ASC, vec_id ASC LIMIT 10""".stripMargin,

    "ivf_hamming_query" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec, ${sqlBinCode("embedding")} AS qc FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probed AS (SELECT c.cid FROM c, q ORDER BY ${sqlSq("c.cvec", "q.qvec")} ASC, c.cid ASC LIMIT 3),
         |cand AS (SELECT e.vec_id AS vec_id, e.embedding AS embedding, q.qvec AS qvec, q.qc AS qc
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id JOIN probed ON asg.cid = probed.cid, q),
         |sl AS (SELECT vec_id, embedding, qvec FROM cand
         |  ORDER BY ${sqlHamming(sqlBinCode("embedding"), "qc")} ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id, ${sqlR4(sqlSq("embedding", "qvec"))} AS distance
         |FROM sl ORDER BY ${sqlSq("embedding", "qvec")} ASC, vec_id ASC LIMIT 10""".stripMargin,

    // same cumulative flag conjunctions over the Gopher CTE
    "corpus_gopher_funnel" ->
      s"""WITH b AS (SELECT doc_id, text,
         |    regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk,
         |    string_split(text, chr(10)) AS ls
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CAST(coalesce(list_sum(list_transform(tk, x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS len_sum,
         |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
         |  CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
         |  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
         |  CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len(list_filter(ls, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS BIGINT) AS n_bullet,
         |  CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS BIGINT) AS n_ellend,
         |  CAST(len(list_intersect(tk, ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
         |  FROM b),
         |d AS (SELECT doc_id, n_words, stop_hits,
         |  CASE WHEN n_words > 0 THEN CAST(len_sum AS DOUBLE) / n_words ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN n_words > 0 THEN CAST(n_hash + n_ell AS DOUBLE) / n_words ELSE 0.0 END AS symbol_ratio,
         |  CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS alpha_frac,
         |  CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE) / n_lines ELSE 0.0 END AS bullet_frac,
         |  CASE WHEN n_lines > 0 THEN CAST(n_ellend AS DOUBLE) / n_lines ELSE 0.0 END AS ellipsis_frac
         |  FROM m),
         |f AS (SELECT
         |  (n_words >= 50 AND n_words <= 100000) AS k1,
         |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS k2,
         |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND symbol_ratio <= 0.1) AS k3,
         |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9) AS k4,
         |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3) AS k5,
         |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8) AS k6,
         |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8 AND stop_hits >= 2) AS k7
         |  FROM d)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (k1) AS BIGINT) AS after_words,
         |  CAST(count(*) FILTER (k2) AS BIGINT) AS after_mean_len,
         |  CAST(count(*) FILTER (k3) AS BIGINT) AS after_symbol,
         |  CAST(count(*) FILTER (k4) AS BIGINT) AS after_bullet,
         |  CAST(count(*) FILTER (k5) AS BIGINT) AS after_ellipsis,
         |  CAST(count(*) FILTER (k6) AS BIGINT) AS after_alpha,
         |  CAST(count(*) FILTER (k7) AS BIGINT) AS after_stop
         |FROM f""".stripMargin,

    // the same sequential left-fold power chains (list_reduce's first
    // element is the init, = Spark's 1.0·x first step)
    "dedup_banding_planner" ->
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
         |FROM p ORDER BY bands, i""".stripMargin,

    // the digest key replays the LOSSY codepoint-mod-256 payload
    // projection (codepointBytes) — hashing the raw text would keep
    // two texts distinct that project to identical payload bytes
    "media_dedup" ->
      """WITH m AS (SELECT ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
        |    array_to_string(list_transform(generate_series(1, length(text)),
        |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) % 256 AS VARCHAR)), ',') AS digest
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT kind, digest, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY kind, digest)
        |SELECT kind, CAST(sum(n) AS BIGINT) AS n_media,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(n) - count(*) AS BIGINT) AS dup_copies
        |FROM g GROUP BY kind ORDER BY kind""".stripMargin,

    "corpus_length_histogram" ->
      s"""WITH b AS (SELECT CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS BIGINT) // 64 AS bucket
         |  FROM documents),
         |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
         |SELECT c.bucket, c.bucket * 64 AS lo_tokens, c.n,
         |  ${sqlR4("CAST(c.n AS DOUBLE) / t.t")} AS share
         |FROM c, t ORDER BY c.bucket""".stripMargin,

    // same tiny value-frame derivations; every product in DECIMAL
    "events_gini" ->
      s"""WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events
         |  WHERE user_id IS NOT NULL GROUP BY user_id),
         |vf AS (SELECT c, CAST(count(*) AS BIGINT) AS u FROM pu GROUP BY c),
         |tot AS (SELECT CAST(sum(u) AS BIGINT) AS n,
         |  CAST(sum(CAST(u * c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s FROM vf),
         |mad AS (SELECT CAST(sum(CAST(a.ua * b.ub AS DECIMAL(38,0)) *
         |    CAST(abs(a.va - b.vb) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS mad
         |  FROM (SELECT c AS va, u AS ua FROM vf) a,
         |       (SELECT c AS vb, u AS ub FROM vf) b),
         |cum AS (SELECT a.va, a.ua, CAST(sum(b.ub) AS BIGINT) AS cum_u,
         |    CAST(sum(CAST(b.ub * b.vb AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS cum_e
         |  FROM (SELECT c AS va, u AS ua FROM vf) a
         |  JOIN (SELECT c AS vb, u AS ub FROM vf) b ON b.vb >= a.va
         |  GROUP BY a.va, a.ua),
         |bd AS (SELECT cum.va, cum.ua, cum.cum_u, cum.cum_e, tot.n // 10 AS k
         |  FROM cum, tot WHERE cum.cum_u >= tot.n // 10 AND tot.n // 10 > 0
         |  ORDER BY cum.va DESC LIMIT 1)
         |SELECT CAST(tot.n AS BIGINT) AS n_users, CAST(tot.s AS BIGINT) AS total_events,
         |  ${sqlR4("CAST(mad.mad AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(tot.n AS DOUBLE) * CAST(tot.s AS DOUBLE))")} AS gini,
         |  ${sqlR4("(CAST(bd.cum_e AS DOUBLE) - CAST(bd.ua AS DOUBLE) * bd.va + CAST(bd.k - (bd.cum_u - bd.ua) AS DOUBLE) * bd.va) / CAST(tot.s AS DOUBLE)")} AS top10_share
         |FROM tot, mad, bd""".stripMargin,

    // sketch-twin contract booleans pinned TRUE; exact population cells
    "events_gini_sketch" ->
      """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS total_events,
        |  true AS p50_ok, true AS p90_ok, true AS p99_ok
        |FROM events WHERE user_id IS NOT NULL""".stripMargin,

    // salting is invisible to semantics: the oracle is the plain join
    "events_salted_enrich" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, ts FROM events WHERE user_id IS NOT NULL),
        |dim AS (SELECT user_id, strftime(date_trunc('month', min(ts)), '%Y-%m') AS cohort
        |  FROM ev GROUP BY user_id)
        |SELECT d.cohort, e.event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM ev e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY 1, 2 ORDER BY cohort, event_type""".stripMargin,

    "events_key_skew" ->
      s"""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS k FROM c),
         |top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id ASC NULLS FIRST LIMIT 10)
         |SELECT top.user_id, top.n,
         |  ${sqlR4("CAST(top.n AS DOUBLE) / t.t")} AS share,
         |  ${sqlR4("CAST(top.n AS DOUBLE) * t.k / t.t")} AS skew_ratio
         |FROM top, t ORDER BY top.n DESC, top.user_id ASC NULLS FIRST""".stripMargin,

    // the 1000-word vocabulary cut is (tf DESC, token ASC) — fully
    // deterministic, so both engines cut the identical boundary
    "vocab_oov_rate" ->
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
         |FROM a ORDER BY source""".stripMargin,

    "events_user_cap" ->
      """WITH r AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, event_id,
        |    row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT user_id, day, CAST(rn AS INT) AS rn, event_id
        |FROM r WHERE rn <= 3 ORDER BY user_id, day, rn""".stripMargin,

    // same fixed derivation order: exact counts → divisions → sqrt
    "events_ab_test" ->
      s"""WITH pu AS (SELECT user_id, CAST(user_id % 2 AS BIGINT) AS v,
         |    CAST(max(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END) AS BIGINT) AS conv
         |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
         |a AS (SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
         |  FROM pu GROUP BY v),
         |w AS (SELECT
         |  max(CASE WHEN v = 0 THEN n END) AS n_a, max(CASE WHEN v = 0 THEN c END) AS conv_a,
         |  max(CASE WHEN v = 1 THEN n END) AS n_b, max(CASE WHEN v = 1 THEN c END) AS conv_b
         |  FROM a),
         |f AS (SELECT n_a, conv_a, n_b, conv_b,
         |  CAST(conv_a AS DOUBLE) / n_a AS ra, CAST(conv_b AS DOUBLE) / n_b AS rb,
         |  CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp FROM w)
         |SELECT n_a, conv_a, n_b, conv_b,
         |  ${sqlR4("ra")} AS rate_a, ${sqlR4("rb")} AS rate_b,
         |  ${sqlR4("rb - ra")} AS lift,
         |  CASE WHEN sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)) <> 0.0
         |    THEN ${sqlR4("(rb - ra) / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))")} END AS z
         |FROM f""".stripMargin,

    // norms quantized to exact ints BEFORE aggregation (checksum trick)
    "embed_norm_stats" ->
      s"""WITH q AS (SELECT CAST(label AS BIGINT) AS label,
         |    CAST(floor(sqrt(${sqlDot("embedding", "embedding")}) * 10000.0 + 0.5) AS BIGINT) AS qn
         |  FROM embeddings),
         |a AS (SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(sum(qn) AS BIGINT) AS s,
         |    CAST(min(qn) AS BIGINT) AS mn, CAST(max(qn) AS BIGINT) AS mx
         |  FROM q GROUP BY label)
         |SELECT label, n, ${sqlR4("CAST(s AS DOUBLE) / n / 10000.0")} AS mean_norm,
         |  CAST(mn AS DOUBLE) / 10000.0 AS min_norm,
         |  CAST(mx AS DOUBLE) / 10000.0 AS max_norm
         |FROM a ORDER BY label""".stripMargin,

    // both stages replayed: prefix-dim shortlist (LIMIT 50, id
    // tiebreak) then exact full-dim rerank — list slice [1:16] is
    // 1-based inclusive, = Spark's slice(v, 1, 16)
    "knn_matryoshka" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT e.vec_id AS vec_id, e.embedding AS embedding, q.qvec AS qvec
         |  FROM embeddings e, q
         |  ORDER BY ${sqlSq("e.embedding[1:16]", "q.qvec[1:16]")} ASC, e.vec_id ASC LIMIT 50)
         |SELECT vec_id, ${sqlR4(sqlSq("embedding", "qvec"))} AS distance
         |FROM s
         |ORDER BY ${sqlSq("embedding", "qvec")} ASC, vec_id ASC LIMIT 10""".stripMargin,

    "dedup_incremental" -> sqlDedupIncremental,

    // the SAME contract served from the on-disk maintained index —
    // identical fixed geometry, identical result set
    "dedup_incremental_store" -> sqlDedupIncrementalVariant(capped = true),

    // the store census: the oracle replays the banding pipeline over the
    // STORED population (the streamed corpus slice, doc_id < 400 — what
    // startCorpusIndexMaintenance indexed and dedup_incremental_store
    // serves from) and aggregates the bucket histogram per band — every
    // cell an exact integer. The engine side is a pure scan of the
    // store's banded table; equality here certifies the store holds
    // exactly the uncapped banding of its population
    "dedup_store_stats" ->
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
         |FROM bk GROUP BY band_idx ORDER BY band_idx""".stripMargin,

    "dedup_simhash" ->
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
         |SELECT doc_id_a, doc_id_b, hamming FROM pairs WHERE hamming <= 8 ORDER BY doc_id_a, doc_id_b""".stripMargin,

    "ngram_jaccard" ->
      s"""WITH t0 AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents)),
         |t AS (SELECT doc_id, list_transform(sh, s -> list_reduce(list_transform(string_split_regex(substr(md5(s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)) AS h
         |  FROM t0),
         |q AS (SELECT h AS qh FROM t WHERE doc_id = 0)
         |SELECT t.doc_id AS doc_id,
         |  ${sqlR4("CAST(len(list_intersect(t.h, q.qh)) AS DOUBLE) / len(list_distinct(t.h || q.qh))")} AS jaccard
         |FROM t, q WHERE len(list_intersect(t.h, q.qh)) > 0 ORDER BY t.doc_id""".stripMargin,

    "embed_neardup" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn <= 2)
         |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, ${sqlR4(sqlCosSim("a.embedding", "b.embedding"))} AS cos_sim
         |FROM embeddings a JOIN asg aa ON a.vec_id = aa.vec_id
         |JOIN asg ab ON aa.cid = ab.cid
         |JOIN embeddings b ON b.vec_id = ab.vec_id AND a.vec_id < b.vec_id
         |WHERE ${sqlNormPos("a.embedding")} AND ${sqlNormPos("b.embedding")}
         |  AND ${sqlCosSim("a.embedding", "b.embedding")} >= 0.2 ORDER BY id_a, id_b""".stripMargin,

    "ann_self_join" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn <= 2),
         |cand AS (SELECT a.vec_id AS id, b.vec_id AS nn_id, ${sqlSq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a JOIN asg aa ON a.vec_id = aa.vec_id
         |  JOIN asg ab ON aa.cid = ab.cid
         |  JOIN embeddings b ON b.vec_id = ab.vec_id AND a.vec_id <> b.vec_id)
         |SELECT id AS vec_id, nn_id, ${sqlR4("d")} AS distance FROM (
         |  SELECT id, nn_id, d, row_number() OVER (PARTITION BY id ORDER BY d ASC, nn_id ASC) AS rn FROM cand)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // both assignments replayed against the ORIGINAL fixed centroids
    "ivf_assignment_drift" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |newv AS (SELECT vec_id,
         |    CASE WHEN vec_id % 101 = 7
         |      THEN list_prepend(CAST(embedding[1] + CAST(1.0 AS REAL) AS REAL), embedding[2:])
         |      ELSE embedding END AS embedding
         |  FROM embeddings WHERE NOT (vec_id % 97 = 3)),
         |ao AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |an AS (SELECT vec_id, cid FROM (
         |  SELECT n.vec_id, c.cid, row_number() OVER (PARTITION BY n.vec_id ORDER BY ${sqlSq("n.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM newv n CROSS JOIN c) WHERE rn = 1),
         |j AS (SELECT ao.cid AS co, an.cid AS cn FROM ao JOIN an ON ao.vec_id = an.vec_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_common,
         |  CAST(count(*) FILTER (co <> cn) AS BIGINT) AS n_moved,
         |  ${sqlR4("CAST(count(*) FILTER (co <> cn) AS DOUBLE) / count(*)")} AS moved_frac
         |FROM j""".stripMargin,

    // the CC map's non-representative members joined to token counts
    "dedup_savings" ->
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
         |FROM tot, dr""".stripMargin,

    // same version transform, same quantized-int means, same
    // pos-ORDERED fold of the squared deltas (list(... ORDER BY pos) →
    // list_sum is the sequential fold Spark's sorted-aggregate runs)
    "embed_centroid_drift" ->
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
         |FROM d GROUP BY label ORDER BY label""".stripMargin,

    // the blocked-candidate CTE with labels; two ranked branches pick
    // the positive and the hard negative; margins subtract unrounded
    // doubles before r4 in both engines
    "embed_triplets" ->
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
         |FROM p JOIN n ON p.id = n.id ORDER BY vec_id""".stripMargin,

    // the ann_self_join NN map joined to both labels; exact counts
    // identical quantize-then-integer-moment construction; std from the
    // same operand order (E[q²] − E[q]² before the one sqrt)
    "embed_dim_stats" ->
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
         |FROM m ORDER BY pos""".stripMargin,

    // same blocked candidate set, DISTINCT pairs, rank-3 per id, then
    // the global top-10 by (kd DESC, id ASC)
    "embed_outliers" ->
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
         |FROM k3 ORDER BY kd DESC, id ASC LIMIT 10""".stripMargin,

    "embed_knn_accuracy" ->
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
         |FROM r GROUP BY label ORDER BY label""".stripMargin,

    "embed_coreset" -> kCentersOracleSql(k = 8),

    // simplified silhouette replayed in full: per-vector top-2 centroid
    // distances (ties → smaller cid, matching the engine fold), s =
    // (d2−d1)/d2 quantized to 1e-4 ints before the per-cluster sum;
    // all-NaN/null rows drop on both engines (engine: cluster_id = −1)
    "embed_silhouette" ->
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
         |FROM s GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    "dedup_semantic" ->
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
         |SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    "corpus_decon_semantic" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn <= 2),
         |pairs AS (SELECT DISTINCT co.vec_id AS vec_id, be.vec_id AS bench_id,
         |    ${sqlCosSim("co.embedding", "be.embedding")} AS s
         |  FROM embeddings co JOIN asg ac ON co.vec_id = ac.vec_id
         |  JOIN asg ab ON ac.cid = ab.cid
         |  JOIN embeddings be ON be.vec_id = ab.vec_id
         |  WHERE co.vec_id >= 50 AND be.vec_id < 50
         |    AND ${sqlNormPos("co.embedding")} AND ${sqlNormPos("be.embedding")}
         |    AND ${sqlCosSim("co.embedding", "be.embedding")} >= 0.2)
         |SELECT vec_id, count(*) AS n_bench, ${sqlR4("max(s)")} AS max_sim
         |FROM pairs GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "lang_id" ->
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
         |FROM s ORDER BY doc_id""".stripMargin,

    // same vote CTE, aggregated to the confusion matrix; the window
    // partitions by declared language (vocabulary-bounded)
    "lang_confusion" ->
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
         |ORDER BY c.declared, c.predicted""".stripMargin,

    // full replay of the NB fit + score: train-split gram counts,
    // fixed-point model (⌊ln·10⁶+½⌋ — floor(x+0.5) because round()
    // half-case semantics differ across engines), exact-integer
    // per-label scores, argmax with label-asc ties. sum(BIGINT) is
    // HUGEINT in DuckDB — cast back so schemas agree
    "text_nb_langid" ->
      s"""WITH lbl AS (SELECT doc_id, lang AS label, text FROM documents),
         |$nbPredSql
         |SELECT doc_id, lang, pred_lang, score FROM pred ORDER BY doc_id""".stripMargin,

    "text_nb_confusion" ->
      s"""WITH lbl AS (SELECT doc_id, lang AS label, text FROM documents),
         |$nbPredSql,
         |cm AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2),
         |tt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS t FROM cm GROUP BY lang)
         |SELECT cm.lang, cm.pred_lang, cm.n,
         |  ${sqlR4("CAST(cm.n AS DOUBLE) / CAST(tt.t AS DOUBLE)")} AS share
         |FROM cm JOIN tt USING (lang) ORDER BY cm.lang, cm.pred_lang""".stripMargin,

    // calibration replay: rn=1/rn=2 pivot of the scored frame gives the
    // exact-integer margin; banding thresholds are integers on the
    // fixed-point scale, counts exact, accuracy r4
    "text_nb_margin" ->
      s"""WITH lbl AS (SELECT doc_id, lang AS label, text FROM documents),
         |$nbPredSql,
         |top2 AS (SELECT a.doc_id, a.label AS pred_lang, a.score,
         |    a.score - b.score AS margin
         |  FROM pr a LEFT JOIN pr b ON a.doc_id = b.doc_id AND b.rn = 2
         |  WHERE a.rn = 1),
         |j AS (SELECT t.doc_id, te.lang, t.pred_lang,
         |    CASE WHEN t.margin IS NULL THEN 'solo'
         |         WHEN t.margin < 10000 THEN '<0.01'
         |         WHEN t.margin < 100000 THEN '<0.1'
         |         WHEN t.margin < 1000000 THEN '<1'
         |         ELSE '>=1' END AS band
         |  FROM top2 t JOIN te ON t.doc_id = te.doc_id)
         |SELECT band, CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_correct,
         |  ${sqlR4("CAST(coalesce(sum(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END), 0) AS DOUBLE) / count(*)")} AS accuracy
         |FROM j GROUP BY band ORDER BY band""".stripMargin,

    // methods-agreement replay: the lang_id vote CASE over the held-out
    // split joined against the NB prediction (LEFT, gramless → 'und'),
    // rolled to the agreement matrix with per-cell correctness counts
    "corpus_langid_agreement" ->
      s"""WITH lbl AS (SELECT doc_id, lang AS label, text FROM documents),
         |$nbPredSql,
         |t2 AS (SELECT doc_id, lang, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM te),
         |s2 AS (SELECT doc_id, lang,
         |  len(list_filter(tk, x -> list_contains(['the','a','of','to','and','is','in','it'], x))) AS e,
         |  len(list_filter(tk, x -> list_contains(['el','la','de','que','y','en','un','es'], x))) AS sp,
         |  len(list_filter(tk, x -> list_contains(['le','la','de','et','un','que','les','des'], x))) AS f,
         |  len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','ein','zu','den'], x))) AS d,
         |  len(list_filter(tk, x -> list_contains(['de','shi','bu','le','zai','ren','you','wo'], x))) AS z
         |  FROM t2),
         |hx AS (SELECT doc_id, lang, CASE WHEN coalesce(greatest(e, sp, f, d, z), 0) = 0 THEN 'und'
         |  WHEN e >= sp AND e >= f AND e >= d AND e >= z THEN 'en'
         |  WHEN sp >= f AND sp >= d AND sp >= z THEN 'es'
         |  WHEN f >= d AND f >= z THEN 'fr'
         |  WHEN d >= z THEN 'de' ELSE 'zh' END AS hx_pred
         |FROM s2),
         |j AS (SELECT hx.hx_pred, coalesce(pred.pred_lang, 'und') AS nb_pred, hx.lang
         |  FROM hx LEFT JOIN pred ON hx.doc_id = pred.doc_id),
         |cm AS (SELECT hx_pred, nb_pred, CAST(count(*) AS BIGINT) AS n,
         |    CAST(coalesce(sum(CASE WHEN lang = hx_pred THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hx_correct,
         |    CAST(coalesce(sum(CASE WHEN lang = nb_pred THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nb_correct
         |  FROM j GROUP BY 1, 2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM j)
         |SELECT cm.hx_pred, cm.nb_pred, cm.n, cm.n_hx_correct, cm.n_nb_correct,
         |  ${sqlR4("CAST(cm.n AS DOUBLE) / CAST(tot.t AS DOUBLE)")} AS share
         |FROM cm, tot ORDER BY cm.hx_pred, cm.nb_pred""".stripMargin,

    // the DISTILLED quality filter's replay: the Gopher teacher verdict
    // (the text_gopher CTEs verbatim, down to the 0-fallback fractions;
    // stopword rule excluded — see the query comment) becomes the NB
    // label, then the same fit/score/argmax machinery; the rollup is
    // the teacher×student agreement matrix
    "corpus_nb_quality" ->
      s"""WITH gb AS (SELECT doc_id, text,
         |    regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk,
         |    string_split(text, chr(10)) AS ls
         |  FROM documents),
         |gm AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CAST(coalesce(list_sum(list_transform(tk, x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS len_sum,
         |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
         |  CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
         |  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
         |  CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len(list_filter(ls, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS BIGINT) AS n_bullet,
         |  CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS BIGINT) AS n_ellend,
         |  CAST(len(list_intersect(tk, ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
         |  FROM gb),
         |gd AS (SELECT doc_id, n_words,
         |  CASE WHEN n_words > 0 THEN CAST(len_sum AS DOUBLE) / n_words ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN n_words > 0 THEN CAST(n_hash + n_ell AS DOUBLE) / n_words ELSE 0.0 END AS symbol_ratio,
         |  CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS alpha_frac,
         |  CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE) / n_lines ELSE 0.0 END AS bullet_frac,
         |  CASE WHEN n_lines > 0 THEN CAST(n_ellend AS DOUBLE) / n_lines ELSE 0.0 END AS ellipsis_frac
         |  FROM gm),
         |lbl AS (SELECT d.doc_id,
         |  CASE WHEN (g.n_words >= 50 AND g.n_words <= 100000
         |    AND g.mean_word_len >= 3.0 AND g.mean_word_len <= 10.0
         |    AND g.symbol_ratio <= 0.1 AND g.bullet_frac <= 0.9
         |    AND g.ellipsis_frac <= 0.3 AND g.alpha_frac >= 0.8)
         |    THEN 'pass' ELSE 'fail' END AS label,
         |  d.text
         |  FROM documents d JOIN gd g ON d.doc_id = g.doc_id),
         |$nbPredSql,
         |cm AS (SELECT lang AS teacher, pred_lang AS student,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2),
         |tt AS (SELECT teacher, CAST(sum(n) AS BIGINT) AS t FROM cm GROUP BY teacher)
         |SELECT cm.teacher, cm.student, cm.n,
         |  ${sqlR4("CAST(cm.n AS DOUBLE) / CAST(tt.t AS DOUBLE)")} AS share
         |FROM cm JOIN tt USING (teacher) ORDER BY cm.teacher, cm.student""".stripMargin,

    // every trigram is corpus-seen here (the model IS this corpus), so
    // the smoothing floor never fires in the oracle comparison; the
    // floor path is spec-tested Spark-side
    "text_lm_score" ->
      s"""WITH g AS (SELECT doc_id, substr(text, CAST(u.i AS INT), 3) AS tri
         |  FROM documents, unnest(generate_series(1, greatest(length(text) - 2, 0))) AS u(i)),
         |c AS (SELECT tri, count(*) AS c FROM g GROUP BY tri),
         |st AS (SELECT sum(c) AS n, count(*) AS v FROM c),
         |sc AS (SELECT g.doc_id, count(*) AS n_trigrams,
         |    avg(ln((c.c + 1) / (st.n + st.v))) AS lm
         |  FROM g JOIN c USING (tri), st GROUP BY g.doc_id)
         |SELECT doc_id, n_trigrams, ${sqlR4("lm")} AS lm_score
         |FROM sc ORDER BY doc_id""".stripMargin,

    // line identity here is the raw string; Spark uses its sha-256 —
    // identical modulo hash collision (the dedup_exact caveat)
    "corpus_line_dedup" ->
      s"""WITH d AS (SELECT doc_id, text || chr(10) ||
         |    (CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
         |          ELSE 'unique suffix ' || CAST(doc_id AS VARCHAR) END) ||
         |    chr(10) || 'all rights reserved' AS text FROM documents),
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM d),
         |l AS (SELECT doc_id, arr[CAST(u.i AS INT)] AS line, u.i AS pos
         |  FROM ls, unnest(generate_series(1, len(arr))) AS u(i)),
         |freq AS (SELECT line FROM (
         |  SELECT line, count(DISTINCT doc_id) AS nd FROM l GROUP BY line) WHERE nd >= 2),
         |kept AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
         |  FROM l WHERE line NOT IN (SELECT line FROM freq) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(kept.text, '') AS text
         |FROM d LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,

    // same 56-bit md5-prefix window identity as the Spark kernel;
    // covered_tokens recomputed the expensive way (explode + distinct) —
    // the oracle needn't scale, the operator's interval-union fold must
    "corpus_substring_dedup" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+') AS t FROM documents),
        |w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, CAST(u.i - 1 AS BIGINT) AS pos,
        |    list_reduce(list_transform(string_split_regex(substr(md5(array_to_string(t[CAST(u.i AS INT):CAST(u.i + 9 AS INT)], ' ')), 1, 14), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS h
        |  FROM tk, unnest(generate_series(1, greatest(len(t) - 9, 0))) AS u(i)),
        |rep AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
        |f AS (SELECT w.doc_id, w.n_tokens, w.pos FROM w JOIN rep USING (h)),
        |cov AS (SELECT doc_id, count(DISTINCT cp) AS covered_tokens
        |  FROM f, unnest(generate_series(f.pos, f.pos + 9)) AS c(cp) GROUP BY doc_id)
        |SELECT f.doc_id, any_value(f.n_tokens) AS n_tokens,
        |  count(*) AS n_flagged, any_value(cov.covered_tokens) AS covered_tokens
        |FROM f JOIN cov USING (doc_id)
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,

    "corpus_substring_scrub" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+') AS t FROM documents),
        |w AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
        |    list_reduce(list_transform(string_split_regex(substr(md5(array_to_string(t[CAST(u.i AS INT):CAST(u.i + 9 AS INT)], ' ')), 1, 14), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS h
        |  FROM tk, unnest(generate_series(1, greatest(len(t) - 9, 0))) AS u(i)),
        |rep AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
        |f AS (SELECT w.doc_id, w.pos FROM w JOIN rep USING (h)),
        |cp AS (SELECT DISTINCT f.doc_id, c.cpos
        |  FROM f, unnest(generate_series(f.pos, f.pos + 9)) AS c(cpos)),
        |toks AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, t[CAST(u.i AS INT)] AS tok
        |  FROM tk, unnest(generate_series(1, len(t))) AS u(i)),
        |kept AS (SELECT toks.doc_id, string_agg(toks.tok, ' ' ORDER BY toks.pos) AS text_scrubbed
        |  FROM toks LEFT JOIN cp ON toks.doc_id = cp.doc_id AND toks.pos = cp.cpos
        |  WHERE cp.cpos IS NULL GROUP BY toks.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(kept.text_scrubbed, '') END AS text_scrubbed
        |FROM documents d LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,

    "corpus_scrub" ->
      s"""WITH dirty AS (SELECT doc_id,
         |  substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@mail.example.com or +1 (415) 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
         |    || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 end' AS d
         |  FROM documents)
         |SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(d,
         |  '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |  '${TextOps.PhoneRe}', '<PHONE>', 'g'),
         |  '${TextOps.Ipv4Re}', '<IP>', 'g') AS clean
         |FROM dirty ORDER BY doc_id""".stripMargin,

    // n-gram dup fractions mirror the multiset shingle construction of
    // the dedup oracles; top token via the grouped counts (the oracle
    // needn't be map-only — only the Spark plan does)
    "text_repetition" ->
      s"""WITH b AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents),
         |sh AS (SELECT doc_id,
         |  list_transform(generate_series(1, greatest(len(tk) - 1, 0)), i -> tk[i] || ' ' || tk[i+1]) AS g2,
         |  list_transform(generate_series(1, greatest(len(tk) - 2, 0)), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS g3
         |  FROM b),
         |top AS (SELECT doc_id, max(c) AS bc, sum(c) AS n FROM (
         |    SELECT doc_id, w, count(*) AS c
         |    FROM (SELECT doc_id, unnest(tk) AS w FROM b) GROUP BY doc_id, w)
         |  GROUP BY doc_id)
         |SELECT b.doc_id,
         |  CASE WHEN b.tk IS NULL THEN NULL ELSE ${sqlR4("CASE WHEN top.n > 0 THEN CAST(top.bc AS DOUBLE) / top.n ELSE 0.0 END")} END AS top_token_frac,
         |  CASE WHEN b.tk IS NULL THEN NULL ELSE ${sqlR4("CASE WHEN len(sh.g2) > 0 THEN CAST(len(sh.g2) - len(list_distinct(sh.g2)) AS DOUBLE) / len(sh.g2) ELSE 0.0 END")} END AS dup_2gram_frac,
         |  CASE WHEN b.tk IS NULL THEN NULL ELSE ${sqlR4("CASE WHEN len(sh.g3) > 0 THEN CAST(len(sh.g3) - len(list_distinct(sh.g3)) AS DOUBLE) / len(sh.g3) ELSE 0.0 END")} END AS dup_3gram_frac
         |FROM b JOIN sh ON b.doc_id = sh.doc_id LEFT JOIN top ON b.doc_id = top.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "text_stats" ->
      s"""WITH b AS (SELECT doc_id, text, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk,
         |  CAST(length(text) AS DOUBLE) AS nc,
         |  CAST(length(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct
         |  FROM documents),
         |m AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+')) AS BIGINT) AS n_bpe_tokens,
         |  CASE WHEN nc > 0 THEN punct / nc ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, x -> list_contains($stopAllSql, x))) AS DOUBLE) / len(tk) ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN len(tk) > 0 THEN list_sum(list_transform(tk, x -> CAST(length(x) AS DOUBLE))) / len(tk) ELSE 0.0 END AS avg_len
         |  FROM b)
         |SELECT doc_id, n_tokens, n_bpe_tokens,
         |  ${sqlR4("least(1.0, greatest(0.0, 0.2 + 0.5 * stop_ratio + 0.05 * avg_len - punct_ratio))")} AS quality
         |FROM m ORDER BY doc_id""".stripMargin,

    "corpus_median_length" ->
      """WITH r AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
        |  count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, n_chars AS median_chars FROM r
        |WHERE rk = (n + 1) // 2 ORDER BY source""".stripMargin,

    // the sketch twin's contract booleans are pinned TRUE per source
    // (events_sketch_check pattern); n_docs is the exact cell
    "corpus_median_length_sketch" ->
      """SELECT coalesce(source, '(null)') AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS med_ok, true AS range_ok
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,

    // same quality CTEs as text_stats, r4-quantized BEFORE ranking so the
    // (quality, doc_id) total order is engine-independent; percent_rank
    // spelled as (row_number − 1)/(n − 1) — tie-free by construction
    "corpus_quality_band" ->
      s"""WITH b AS (SELECT doc_id, text, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk,
         |  CAST(length(text) AS DOUBLE) AS nc,
         |  CAST(length(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  CASE WHEN nc > 0 THEN punct / nc ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, x -> list_contains($stopAllSql, x))) AS DOUBLE) / len(tk) ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN len(tk) > 0 THEN list_sum(list_transform(tk, x -> CAST(length(x) AS DOUBLE))) / len(tk) ELSE 0.0 END AS avg_len
         |  FROM b),
         |qq AS (SELECT doc_id, ${sqlR4("least(1.0, greatest(0.0, 0.2 + 0.5 * stop_ratio + 0.05 * avg_len - punct_ratio))")} AS quality FROM m),
         |r AS (SELECT doc_id, quality, row_number() OVER (ORDER BY quality, doc_id) AS rk, count(*) OVER () AS n FROM qq)
         |SELECT doc_id, quality, ${sqlR4("CAST(rk - 1 AS DOUBLE) / (n - 1)")} AS pct_rank
         |FROM r WHERE CAST(rk - 1 AS DOUBLE) / (n - 1) >= 0.1 AND CAST(rk - 1 AS DOUBLE) / (n - 1) <= 0.9
         |ORDER BY doc_id""".stripMargin,

    // the sketch twin's contract booleans are pinned TRUE per source
    // (events_sketch_check pattern); n_docs is the exact cell
    "corpus_quality_band_sketch" ->
      """SELECT coalesce(source, '(null)') AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS lo_ok, true AS hi_ok, true AS band_ok
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,

    // GROUP BY ROLLUP replays the grouping sets; same 'ALL' coalesce
    // grouping()-labeled subtotals: a NULL-lang data row keeps its own
    // '(null)' identity instead of conflating with the subtotal row
    "corpus_rollup" ->
      """SELECT CASE WHEN grouping(source) = 1 THEN 'ALL' ELSE coalesce(source, '(null)') END AS source,
        |  CASE WHEN grouping(lang) = 1 THEN 'ALL' ELSE coalesce(lang, '(null)') END AS lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY source, lang""".stripMargin,

    "corpus_stats" ->
      s"""WITH b AS (SELECT source, text, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk,
         |  CAST(length(text) AS DOUBLE) AS nc,
         |  CAST(length(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct
         |  FROM documents),
         |m AS (SELECT source, text, tk,
         |  len(list_filter(tk, x -> list_contains(['the','a','of','to','and','is','in','it'], x))) AS e,
         |  len(list_filter(tk, x -> list_contains(['el','la','de','que','y','en','un','es'], x))) AS sp,
         |  len(list_filter(tk, x -> list_contains(['le','la','de','et','un','que','les','des'], x))) AS f,
         |  len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','ein','zu','den'], x))) AS d,
         |  len(list_filter(tk, x -> list_contains(['de','shi','bu','le','zai','ren','you','wo'], x))) AS z,
         |  CAST(len(tk) AS BIGINT) AS nt,
         |  least(1.0, greatest(0.0, 0.2
         |    + 0.5 * (CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, x -> list_contains($stopAllSql, x))) AS DOUBLE) / len(tk) ELSE 0.0 END)
         |    + 0.05 * (CASE WHEN len(tk) > 0 THEN list_sum(list_transform(tk, x -> CAST(length(x) AS DOUBLE))) / len(tk) ELSE 0.0 END)
         |    - (CASE WHEN nc > 0 THEN punct / nc ELSE 0.0 END))) AS q
         |  FROM b),
         |l AS (SELECT source, CASE WHEN coalesce(greatest(e, sp, f, d, z), 0) = 0 THEN 'und'
         |  WHEN e >= sp AND e >= f AND e >= d AND e >= z THEN 'en'
         |  WHEN sp >= f AND sp >= d AND sp >= z THEN 'es'
         |  WHEN f >= d AND f >= z THEN 'fr'
         |  WHEN d >= z THEN 'de' ELSE 'zh' END AS lang, nt, q, sha256(text) AS h FROM m)
         |SELECT source, lang, count(*) AS n_docs,
         |  -- the engine's two-stage distinct counts the null-hash group
         |  -- as one unique (all null-text docs collapse together), while
         |  -- count(DISTINCT) would skip it — add it back explicitly
         |  count(DISTINCT h) + CAST(max(CASE WHEN h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens, ${sqlR4("sum(q) / count(*)")} AS avg_quality
         |FROM l GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    "text_bm25" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents),
         |st AS (SELECT count(*) AS n, avg(len(tk)) AS avgdl FROM t),
         |tf AS (SELECT doc_id, term, len(list_filter(tk, x -> x = term)) AS tf, len(tk) AS dl
         |  FROM t, (SELECT unnest(['key', 'table', 'scan']) AS term) q),
         |dfreq AS (SELECT term, sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id, sum(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * 2.2
         |    / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
         |  FROM tf JOIN dfreq d USING (term), st GROUP BY tf.doc_id)
         |SELECT doc_id, ${sqlR4("score")} AS score FROM sc WHERE score > 0 ORDER BY doc_id""".stripMargin,

    // ranking done with a window HERE is fine — the oracle is DuckDB
    // single-node; the Spark side uses the bounded heap
    "text_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents),
         |st AS (SELECT count(*) AS n, avg(len(tk)) AS avgdl FROM t),
         |q AS (SELECT * FROM (VALUES ('q_key_table', ['key','table']), ('q_scan', ['scan','key'])) v(query_id, terms)),
         |terms AS (SELECT DISTINCT unnest(terms) AS term FROM q),
         |tf AS (SELECT doc_id, term, len(list_filter(tk, x -> x = term)) AS tf, len(tk) AS dl FROM t, terms),
         |dfreq AS (SELECT term, sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df FROM tf GROUP BY term),
         |qt AS (SELECT query_id, unnest(terms) AS term FROM q),
         |sc AS (SELECT qt.query_id, tf.doc_id, sum(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * 2.2
         |    / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
         |  FROM qt JOIN tf USING (term) JOIN dfreq d USING (term), st
         |  GROUP BY qt.query_id, tf.doc_id),
         |r AS (SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM sc WHERE score > 0)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, ${sqlR4("score")} AS score
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // lexical arm = the text_bm25_topk pipeline (single query, top-20);
    // semantic arm = the ivf_probe_query ranking (top-20); fusion sums
    // 1/(60+rank) — two terms per doc, so addition order can't matter
    "hybrid_rrf_query" ->
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
         |FROM f ORDER BY rrf DESC, id ASC LIMIT 10""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id, md5(text) AS md5_full,
        |  list_min(list_transform(generate_series(1, greatest(length(text) - 7, 1)), i -> md5(substr(text, i, 8)))) AS min_window_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // probes ≥ n_centroids ⇒ IVF result must equal the exact top-10
    "ivf_build_query" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${sqlR4(sqlSq("e.embedding", "q.qvec"))} AS distance
         |FROM embeddings e, q
         |ORDER BY ${sqlSq("e.embedding", "q.qvec")} ASC, e.vec_id ASC LIMIT 10""".stripMargin,

    // scale-robust invariants: k = ceil(n/density); full coverage (rows
    // AND distinct ids — a duplicated record breaks the match); probing
    // every cluster IS exhaustive search, so full-probe hits = 10 at any
    // fit; probing 2 clusters must recover at least 3 of the exact
    // top-10 (measured seeded values: 6/10 at sf0.01, 4/10 at sf0.001 —
    // the one fit-dependent cell, hence boolean not integer)
    "ivf_build_stats" ->
      """SELECT CAST(ceil(count(*) / 64.0) AS BIGINT) AS n_centroids,
        |  CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(count(DISTINCT vec_id) AS BIGINT) AS n_distinct_assigned,
        |  CAST(10 AS BIGINT) AS n_hit_full_probe,
        |  CAST(1 AS BOOLEAN) AS recall_ok_at_10 FROM embeddings""".stripMargin,

    "insert_invalid_dim" ->
      "SELECT count(*) + 2 AS n, CAST(1 AS BIGINT) AS n_rejected FROM embeddings",

    // recall-curve invariants of the seeded build (like ivf_build_stats,
    // these booleans are computed Spark-side and asserted constant; the
    // independent full-SQL check of the same build is ivf_build_query)
    // full-SQL replay of the probe funnel at each probe count: fixed
    // centroids (vec_id < 8), nearest-cluster assignment, probe the p
    // closest clusters, exact top-10 inside them, recall vs global top-10
    "ivf_recall_curve" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
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
         |FROM p LEFT JOIN hits h ON p.probes = h.probes ORDER BY probes""".stripMargin,

    // cost and recall replayed on the same probes axis and joined —
    // the probe-cost census CTEs beside the recall-curve CTEs, one row
    // per probe budget
    "ivf_tuning_curve" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |asg AS MATERIALIZED (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
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
         |FROM cost LEFT JOIN hits h ON cost.probes = h.probes ORDER BY cost.probes""".stripMargin,

    "filter_mismatch" ->
      """SELECT
        |  count(*) FILTER (WHERE TRY_CAST(lang AS DOUBLE) >= 0) AS n_num_vs_text,
        |  count(*) FILTER (WHERE TRY_CAST(n_chars AS DOUBLE) IS NULL AND CAST(n_chars AS VARCHAR) = '150') AS n_quoted_vs_num,
        |  count(*) FILTER (WHERE lang IN ('true', 'false') AND lang <> 'true') AS n_bool_vs_text,
        |  count(*) FILTER (WHERE n_chars < 200) AS n_missing_or,
        |  count(*) FILTER (WHERE contains(source, 'rc1')) AS n_contains
        |FROM documents""".stripMargin,

    // FULL replay of one deterministic refine round (r12 — exact census
    // instead of pinned booleans): fixed-4 assignment, 2-means split of
    // every >100 cluster, final sizes. sz1 = the BEFORE sizes.
    "ivf_refine_stats" ->
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
         |  ((SELECT max(n) FROM sza) < (SELECT max(n) FROM sz1)) AS max_reduced""".stripMargin,

    // FULL replay of the deterministic two-level build (r12): the fixed-4
    // coarse assignment refined by up to 12 chained binary-split rounds
    // (each an unrolled refine at density 64; a converged round is the
    // identity) — the exact final cluster census, booleans derived.
    "ivf_balanced_stats" -> {
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
    },

    "corpus_clean" ->
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
         |t AS (SELECT doc_id, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents),
         |lang AS (SELECT doc_id, CASE WHEN coalesce(greatest(e, sp, f, d, z), 0) = 0 THEN 'und'
         |    WHEN e >= sp AND e >= f AND e >= d AND e >= z THEN 'en'
         |    WHEN sp >= f AND sp >= d AND sp >= z THEN 'es'
         |    WHEN f >= d AND f >= z THEN 'fr'
         |    WHEN d >= z THEN 'de' ELSE 'zh' END AS lang_pred
         |  FROM (SELECT doc_id,
         |    len(list_filter(tk, x -> list_contains(['the','a','of','to','and','is','in','it'], x))) AS e,
         |    len(list_filter(tk, x -> list_contains(['el','la','de','que','y','en','un','es'], x))) AS sp,
         |    len(list_filter(tk, x -> list_contains(['le','la','de','et','un','que','les','des'], x))) AS f,
         |    len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','ein','zu','den'], x))) AS d,
         |    len(list_filter(tk, x -> list_contains(['de','shi','bu','le','zai','ren','you','wo'], x))) AS z
         |    FROM t)),
         |qb AS (SELECT doc_id, tk, CAST(length(text) AS DOUBLE) AS nc,
         |    CAST(length(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct
         |  FROM documents JOIN t USING (doc_id)),
         |q AS (SELECT doc_id,
         |  least(1.0, greatest(0.0, 0.2
         |    + 0.5 * (CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, x -> list_contains($stopAllSql, x))) AS DOUBLE) / len(tk) ELSE 0.0 END)
         |    + 0.05 * (CASE WHEN len(tk) > 0 THEN list_sum(list_transform(tk, x -> CAST(length(x) AS DOUBLE))) / len(tk) ELSE 0.0 END)
         |    - (CASE WHEN nc > 0 THEN punct / nc ELSE 0.0 END))) AS quality
         |  FROM qb)
         |SELECT k.doc_id AS doc_id FROM keep k
         |JOIN lang l ON l.doc_id = k.doc_id
         |JOIN q ON q.doc_id = k.doc_id
         |WHERE l.lang_pred = 'en' AND q.quality >= 0.45 ORDER BY doc_id""".stripMargin,

    "corpus_assemble" ->
      s"WITH $sqlAssembleKeptCtes,\n${sqlAssembleTail("kept")}",

    // the assemble chain budgeted in trained-BPE tokens: kept CTEs +
    // pack_bpe's segmentation replay (merge list to fixpoint per
    // DISTINCT vocab token, summed per instance per kept doc) + the
    // shared split/pack arithmetic on the BPE count
    "corpus_assemble_bpe" ->
      s"""WITH RECURSIVE $sqlBpeSegCtes,
         |$sqlAssembleKeptCtes,
         |${sqlAssembleBpeTail("kept")}""".stripMargin,

    // the assemble chain with the near-dup CC drop set spliced between
    // the filter gate (kept) and the split/pack tail
    "corpus_assemble_dedup" ->
      s"""WITH RECURSIVE $sqlCcCteBody,
         |$sqlAssembleKeptCtes,
         |drops AS (SELECT node FROM (SELECT node, min(lab) AS rep FROM reach GROUP BY node) WHERE node <> rep),
         |kept2 AS (SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT node FROM drops)),
         |${sqlAssembleTail("kept2")}""".stripMargin,

    // the FULL pipeline on trained tokens: near-dup CC drop spliced
    // after the filter gate AND the pack budget in BPE tokens — the
    // composition of corpus_assemble_dedup's keep set with
    // corpus_assemble_bpe's segmentation-replay budget
    "corpus_assemble_dedup_bpe" ->
      s"""WITH RECURSIVE $sqlBpeSegCtes,
         |$sqlCcCteBody,
         |$sqlAssembleKeptCtes,
         |drops AS (SELECT node FROM (SELECT node, min(lab) AS rep FROM reach GROUP BY node) WHERE node <> rep),
         |kept2 AS (SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT node FROM drops)),
         |${sqlAssembleBpeTail("kept2")}""".stripMargin,

    // the manifest replayed: the same kept2 set, each cell recomputed
    // from the representative doc's text (dup-group members share text,
    // so min-over-group == recompute-on-rep for every column)
    "corpus_release_manifest" ->
      s"""WITH RECURSIVE $sqlBpeSegCtes,
         |$sqlCcCteBody,
         |$sqlAssembleKeptCtes,
         |drops AS (SELECT node FROM (SELECT node, min(lab) AS rep FROM reach GROUP BY node) WHERE node <> rep),
         |kept2 AS MATERIALIZED (SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT node FROM drops)),
         |${sqlBpeDocCounts("kept2")},
         |hb AS (SELECT d.doc_id,
         |    CASE WHEN list_reduce(list_transform(string_split_regex(substr(md5(d.text), 1, 8), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 < 90
         |      THEN 'train' ELSE 'val' END AS split,
         |    d.source AS source,
         |    CAST(len(regexp_split_to_array(translate(trim(d.text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS BIGINT) AS n_tokens,
         |    coalesce(adn.n_tokens, 0) AS n_bpe,
         |    list_reduce(list_transform(string_split_regex(substr(md5(d.text), 1, 14), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv,
         |    CAST(d.n_chars AS BIGINT) AS nc
         |  FROM documents d JOIN kept2 USING (doc_id)
         |  LEFT JOIN adn ON adn.doc_id = d.doc_id)
         |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_bpe) AS BIGINT) AS n_tokens_bpe,
         |  CAST(sum(hv) // 4611686018427387904 AS BIGINT) AS checksum_hi,
         |  CAST(sum(hv) % 4611686018427387904 AS BIGINT) AS checksum_lo,
         |  CAST(sum(nc) AS BIGINT) AS total_chars
         |FROM hb GROUP BY split, source ORDER BY split, source""".stripMargin,

    "corpus_funnel" ->
      s"""WITH RECURSIVE $sqlCcCteBody,
         |$sqlAssembleKeptCtes,
         |drops AS (SELECT node FROM (SELECT node, min(lab) AS rep FROM reach GROUP BY node) WHERE node <> rep),
         |kept2 AS (SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT node FROM drops)),
         |tok AS (SELECT doc_id, CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS BIGINT) AS n
         |  FROM documents)
         |SELECT (SELECT count(*) FROM documents) AS n_raw,
         |  -- distinct-then-count on the Spark side groups null-text
         |  -- docs into one (counted) group; count(DISTINCT) skips it
         |  (SELECT count(DISTINCT sha256(text))
         |     + CAST(max(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   FROM documents) AS n_exact,
         |  (SELECT count(*) FROM kept) AS n_filtered,
         |  (SELECT CAST(sum(tok.n) AS BIGINT) FROM kept JOIN tok USING (doc_id)) AS tokens_filtered,
         |  (SELECT count(*) FROM kept2) AS n_final,
         |  (SELECT CAST(sum(tok.n) AS BIGINT) FROM kept2 JOIN tok USING (doc_id)) AS tokens_final""".stripMargin,

    "corpus_split_safe" ->
      s"""$sqlCcCte,
         |g AS (SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node),
         |ar AS (SELECT d.doc_id, coalesce(g.rep_id, d.doc_id) AS rep_id
         |  FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id),
         |h AS (SELECT doc_id AS rep_id, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket
         |  FROM documents)
         |SELECT ar.doc_id, ar.rep_id, h.bucket,
         |  CASE WHEN h.bucket < 80 THEN 'train' WHEN h.bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM ar JOIN h ON ar.rep_id = h.rep_id ORDER BY ar.doc_id""".stripMargin,

    "corpus_split" ->
      """WITH h AS (SELECT doc_id, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,

    "seq_pack" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tp AS (SELECT * FROM t WHERE n_tokens >= 1),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS strt
        |  FROM tp)
        |SELECT doc_id, shard, n_tokens, strt // 512 AS pack_id, strt % 512 AS tok_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // seq_pack with the trained-BPE token count: segmentation replayed
    // to fixpoint per DISTINCT vocab token (the text_bpe_apply CTEs),
    // summed per token INSTANCE per doc, then the same pack arithmetic
    "pack_bpe" ->
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
         |FROM c ORDER BY doc_id""".stripMargin,

    // the seq_pack CTE aggregated per shard
    "pack_efficiency" ->
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
        |FROM a ORDER BY shard""".stripMargin,

    // the CC group map joined to sources on both member and rep
    "dedup_group_purity" ->
      s"""$sqlCcCte,
         |g AS (SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node),
         |w AS (SELECT g.rep_id, dm.source AS s_member, dr.source AS s_rep
         |  FROM g JOIN documents dm ON g.doc_id = dm.doc_id
         |         JOIN documents dr ON g.rep_id = dr.doc_id)
         |SELECT rep_id, CAST(count(*) AS BIGINT) AS group_size,
         |  CAST(count(*) FILTER (s_member = s_rep) AS BIGINT) AS n_same_source,
         |  ${sqlR4("CAST(count(*) FILTER (s_member = s_rep) AS DOUBLE) / count(*)")} AS purity
         |FROM w GROUP BY rep_id ORDER BY rep_id""".stripMargin,

    // null text carries no content hash: the heap skips it (null-key
    // heap rule) — the oracle must too, or NULLS-LAST ranking would
    // smuggle the doc into an under-quota source's sample
    "mix_sample" ->
      """WITH h AS (SELECT doc_id, source, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "corpus_chunk" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |tp AS (SELECT * FROM t WHERE n >= 1),
        |x AS (SELECT doc_id, n, u.i AS chunk_start
        |  FROM tp, unnest(generate_series(0, n - 1, 24)) AS u(i))
        |SELECT doc_id, chunk_start // 24 AS chunk_idx, chunk_start,
        |  least(32, n - chunk_start) AS chunk_len
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,

    // same window arithmetic, plus the 1-based-inclusive list slice;
    // empty text is one empty token on both engines (split convention)
    "corpus_chunk_text" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+') AS tk
        |  FROM documents),
        |tp AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t WHERE len(tk) >= 1),
        |x AS (SELECT doc_id, tk, n, u.i AS chunk_start
        |  FROM tp, unnest(generate_series(0, n - 1, 24)) AS u(i))
        |SELECT doc_id, chunk_start // 24 AS chunk_idx, chunk_start,
        |  least(32, n - chunk_start) AS chunk_len,
        |  array_to_string(tk[chunk_start + 1 : chunk_start + least(32, n - chunk_start)], ' ') AS chunk_text
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,

    "corpus_decontaminate" ->
      s"""WITH h AS (SELECT doc_id, text, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket FROM documents),
         |toks AS (SELECT doc_id, bucket, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 7, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS sh
         |  FROM (SELECT doc_id, bucket, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM h)),
         |tg AS (SELECT doc_id, list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket < 80),
         |vg AS (SELECT DISTINCT list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket >= 80 AND bucket < 90)
         |SELECT doc_id, count(DISTINCT hh) AS n_shared
         |FROM tg JOIN vg USING (hh) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the decontaminate oracle pivoted to the source axis: flagged train
    // docs left-joined back onto the full doc roster, '(null)' sentinel
    "corpus_contamination_by_source" ->
      s"""WITH h AS (SELECT doc_id, text, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket FROM documents),
         |toks AS (SELECT doc_id, bucket, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 7, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS sh
         |  FROM (SELECT doc_id, bucket, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM h)),
         |tg AS (SELECT doc_id, list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket < 80),
         |vg AS (SELECT DISTINCT list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket >= 80 AND bucket < 90),
         |fl AS (SELECT doc_id, CAST(count(DISTINCT hh) AS BIGINT) AS n_shared
         |  FROM tg JOIN vg USING (hh) GROUP BY doc_id)
         |SELECT coalesce(d.source, '(null)') AS source,
         |  CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_docs,
         |  CAST(coalesce(sum(fl.n_shared), 0) AS BIGINT) AS n_leaked_grams
         |FROM documents d LEFT JOIN fl ON d.doc_id = fl.doc_id
         |GROUP BY 1 ORDER BY source""".stripMargin,

    // the 8-gram oracle at the GPT-3 13-gram window
    "corpus_decontaminate_13" ->
      s"""WITH h AS (SELECT doc_id, text, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket FROM documents),
         |toks AS (SELECT doc_id, bucket, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 12, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] || ' ' || tk[i+8] || ' ' || tk[i+9] || ' ' || tk[i+10] || ' ' || tk[i+11] || ' ' || tk[i+12])) AS sh
         |  FROM (SELECT doc_id, bucket, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM h)),
         |tg AS (SELECT doc_id, list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket < 80),
         |vg AS (SELECT DISTINCT list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket >= 80 AND bucket < 90)
         |SELECT doc_id, count(DISTINCT hh) AS n_shared
         |FROM tg JOIN vg USING (hh) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the Bloom pre-filter is invisible to exact semantics (no false
    // negatives): the oracle is the plain exact decontamination against
    // the TEST split's gram set
    "corpus_decontaminate_bloom" ->
      s"""WITH h AS (SELECT doc_id, text, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket FROM documents),
         |toks AS (SELECT doc_id, bucket, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 7, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS sh
         |  FROM (SELECT doc_id, bucket, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM h)),
         |tg AS (SELECT doc_id, list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket < 80),
         |vg AS (SELECT DISTINCT list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket >= 90)
         |SELECT doc_id, count(DISTINCT hh) AS n_shared
         |FROM tg JOIN vg USING (hh) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the standing index replayed: same split CASE (NULL bucket → ELSE
    // 'test', matching Spark's when-otherwise on a null hash), same
    // 56-bit md5-prefix gram hashes, single-distinct rollups
    "corpus_gram_index_stats" ->
      s"""WITH h AS (SELECT doc_id, text, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket FROM documents),
         |sp AS (SELECT doc_id, text,
         |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM h),
         |toks AS (SELECT doc_id, split, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 7, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS sh
         |  FROM (SELECT doc_id, split, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM sp)),
         |gd AS (SELECT DISTINCT split, doc_id, list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s)),
         |nd AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs FROM sp GROUP BY split),
         |x AS (SELECT split, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_with_grams,
         |  CAST(count(*) AS BIGINT) AS n_gram_rows,
         |  CAST(count(DISTINCT hh) AS BIGINT) AS n_distinct_grams FROM gd GROUP BY split)
         |SELECT nd.split, nd.n_docs,
         |  coalesce(x.n_docs_with_grams, 0) AS n_docs_with_grams,
         |  coalesce(x.n_gram_rows, 0) AS n_gram_rows,
         |  coalesce(x.n_distinct_grams, 0) AS n_distinct_grams
         |FROM nd LEFT JOIN x USING (split) ORDER BY split""".stripMargin,

    // the same first-8-md5-hex content hash mod k
    "corpus_folds" ->
      """SELECT doc_id,
        |  CAST(list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 5 AS INT) AS fold
        |FROM documents ORDER BY doc_id""".stripMargin,

    // each constraint replayed as a conditional sum; "check" quoted
    // (reserved in DuckDB)
    "corpus_expectations" ->
      s"""WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN NOT coalesce(doc_id IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         |  CAST(sum(CASE WHEN NOT coalesce(lang IN ('en','de','zh','fr','es'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         |  CAST(sum(CASE WHEN NOT coalesce(n_chars = length(text), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
         |  CAST(sum(CASE WHEN NOT coalesce(length(text) >= 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4,
         |  CAST(sum(CASE WHEN NOT coalesce(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) >= 1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v5,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS d FROM documents)
         |SELECT * FROM (
         |  SELECT 'doc_id_not_null' AS "check", n AS n_rows, v1 AS n_violations, v1 = 0 AS pass FROM base
         |  UNION ALL SELECT 'lang_known', n, v2, v2 = 0 FROM base
         |  UNION ALL SELECT 'n_chars_consistent', n, v3, v3 = 0 FROM base
         |  UNION ALL SELECT 'text_min_50_chars', n, v4, v4 = 0 FROM base
         |  UNION ALL SELECT 'text_tokenizable', n, v5, v5 = 0 FROM base
         |  UNION ALL SELECT 'doc_id_unique', n, n - d, n = d FROM base)
         |ORDER BY "check"""".stripMargin,

    // the benchmark-axis pivot of the same gram pipeline: the base list
    // comes from ALL val docs (h), so gram-less short docs keep zeros
    "corpus_contamination_report" ->
      s"""WITH h AS (SELECT doc_id, text, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket FROM documents),
         |toks AS (SELECT doc_id, bucket, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 7, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS sh
         |  FROM (SELECT doc_id, bucket, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM h)),
         |vg AS (SELECT DISTINCT doc_id AS bench_id, list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket >= 80 AND bucket < 90),
         |tg AS (SELECT DISTINCT doc_id, list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket < 80),
         |hits AS (SELECT bench_id, CAST(count(DISTINCT tg.doc_id) AS BIGINT) AS n_train_docs,
         |    CAST(count(DISTINCT vg.hh) AS BIGINT) AS n_leaked_grams
         |  FROM vg JOIN tg USING (hh) GROUP BY bench_id)
         |SELECT b.bench_id, coalesce(hits.n_train_docs, 0) AS n_train_docs,
         |  coalesce(hits.n_leaked_grams, 0) AS n_leaked_grams
         |FROM (SELECT DISTINCT doc_id AS bench_id FROM h WHERE bucket >= 80 AND bucket < 90) b
         |LEFT JOIN hits USING (bench_id) ORDER BY b.bench_id""".stripMargin,

    // the same quantize-each-root-then-integer-sum construction; every
    // double op replays in the same operand order
    "corpus_temperature_mix" ->
      s"""WITH t AS (SELECT source,
         |  CAST(sum(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |q AS (SELECT source, n_tokens,
         |  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS qq FROM t),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tn, CAST(sum(qq) AS BIGINT) AS tq FROM q)
         |SELECT source, n_tokens,
         |  floor(CAST(n_tokens AS DOUBLE) / CAST(tn AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS raw_share,
         |  floor(CAST(qq AS DOUBLE) / CAST(tq AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS t_share,
         |  floor(CAST(qq AS DOUBLE) * CAST(tn AS DOUBLE) / (CAST(tq AS DOUBLE) * CAST(n_tokens AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS boost
         |FROM q, tot ORDER BY source""".stripMargin,

    // novelty = decontaminate's complement: val-doc grams LEFT-joined
    // against the train gram set; same gram-hash pipeline as above
    "corpus_novelty" ->
      s"""WITH h AS (SELECT doc_id, text, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket FROM documents),
         |toks AS (SELECT doc_id, bucket, list_distinct(list_transform(generate_series(1, greatest(len(tk) - 7, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS sh
         |  FROM (SELECT doc_id, bucket, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM h)),
         |vg AS (SELECT DISTINCT doc_id, list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket >= 80 AND bucket < 90),
         |rg AS (SELECT DISTINCT list_reduce(list_transform(string_split_regex(substr(md5(u.s), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hh
         |  FROM toks, unnest(sh) AS u(s) WHERE bucket < 80)
         |SELECT vg.doc_id AS doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN rg.hh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  ${sqlR4("CAST(sum(CASE WHEN rg.hh IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS novelty
         |FROM vg LEFT JOIN rg ON vg.hh = rg.hh GROUP BY vg.doc_id ORDER BY doc_id""".stripMargin,

    "corpus_sample_budget" ->
      """WITH h AS (SELECT doc_id, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv,
        |    CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |p AS (SELECT doc_id, n,
        |    sum(n) OVER (ORDER BY hv, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h WHERE n >= 1)
        |SELECT doc_id, n AS n_tokens FROM p WHERE cum <= 12000 ORDER BY doc_id""".stripMargin,

    // same 56-bit md5 permutation key, same per-shard rank
    "corpus_shuffle" ->
      """WITH w AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) AS w
        |  FROM documents)
        |SELECT doc_id, CAST(w % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY w % 8 ORDER BY w, doc_id) AS BIGINT) - 1 AS pos
        |FROM w ORDER BY doc_id""".stripMargin,

    // the same literal weight table as a CASE; integer division via //
    "corpus_epoch_plan" -> {
      val caseW = epochPlanWeights
        .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
      s"""WITH t AS (SELECT source,
         |  CAST(sum(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |p AS (SELECT source, n_tokens,
         |  CASE source $caseW ELSE 0.0 END AS weight FROM t),
         |q AS (SELECT source, n_tokens, weight,
         |  CAST(floor($epochPlanBudget.0 * weight + 0.5) AS BIGINT) AS target_tokens FROM p)
         |SELECT source, n_tokens, weight, target_tokens,
         |  target_tokens // n_tokens AS full_epochs,
         |  target_tokens % n_tokens AS rem_tokens,
         |  ${sqlR4("CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)")} AS oversample_x
         |FROM q ORDER BY source""".stripMargin
    },

    "mix_token_budget" ->
      """WITH h AS (SELECT doc_id, source, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv,
        |    CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS BIGINT) AS n
        |  FROM documents WHERE source IN ('src0', 'src1', 'src3')),
        |p AS (SELECT doc_id, source, n,
        |    sum(n) OVER (PARTITION BY source ORDER BY hv, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h WHERE n >= 1)
        |SELECT doc_id, source, n AS n_tokens FROM p
        |WHERE cum <= CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 5000 ELSE 300 END
        |ORDER BY doc_id""".stripMargin,

    // per-cluster hash-order prefix over the fixed-centroid assignment;
    // hv re-derives contentHash32 (first 8 md5 hex digits) in SQL
    "ivf_sample_diverse" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlSq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY cid
         |  ORDER BY list_reduce(list_transform(string_split_regex(substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b), vec_id) AS rn
         |  FROM asg)
         |SELECT cid AS cluster_id, vec_id FROM r WHERE rn <= 5
         |ORDER BY cluster_id, vec_id""".stripMargin,

    // the target VALUES list is generated from the same driftTargets
    // sequence the Spark query reads — one source of truth for the doubles
    "mix_drift" -> {
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
    },

    // same hashed-token bucket models in DuckDB: 56-bit md5 hashes mod 64,
    // add-1 smoothing, ln of the double ratio in the SAME expression shape
    // as the Spark side so the r4-rounded sums agree
    "corpus_dsir" ->
      s"""WITH $sqlDsirCtes
         |SELECT doc_id, n_tokens, logw FROM w ORDER BY logw DESC, doc_id LIMIT 100""".stripMargin,

    // hugeint sum surfaced as two BIGINT halves (div/mod 2^62) — never
    // a DECIMAL(38,0) output column, whose canonicalization diverges
    // across engines even on bit-identical values (r7 red row)
    // the manifest DELTA between the < 400 ancestor slice and the full
    // corpus, replayed from scratch (the engine rides the hash memo)
    "corpus_version_diff" ->
      s"""WITH h AS (SELECT doc_id, source, n_chars, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv
         |  FROM documents),
         |nw AS (SELECT source, CAST(count(*) AS BIGINT) AS n, sum(hv) AS hs, CAST(sum(n_chars) AS BIGINT) AS tc FROM h GROUP BY source),
         |od AS (SELECT source, CAST(count(*) AS BIGINT) AS n, sum(hv) AS hs, CAST(sum(n_chars) AS BIGINT) AS tc FROM h WHERE doc_id < 400 GROUP BY source),
         |d AS (SELECT nw.source, nw.n - coalesce(od.n, 0) AS n_docs, nw.hs - coalesce(od.hs, 0) AS dh,
         |    nw.tc - coalesce(od.tc, 0) AS total_chars FROM nw LEFT JOIN od USING (source))
         |SELECT source, n_docs,
         |  CAST(dh // 4611686018427387904 AS BIGINT) AS checksum_hi,
         |  CAST(dh % 4611686018427387904 AS BIGINT) AS checksum_lo,
         |  total_chars FROM d ORDER BY source""".stripMargin,

    "corpus_checksum" ->
      s"""WITH h AS (SELECT source, n_chars, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT hv) AS BIGINT) AS n_unique,
         |  CAST(sum(hv) // 4611686018427387904 AS BIGINT) AS checksum_hi,
         |  CAST(sum(hv) % 4611686018427387904 AS BIGINT) AS checksum_lo,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM h GROUP BY source ORDER BY source""".stripMargin,

    // per-source quota on the same weights: row_number is the oracle's
    // (non-scaling) mirror of the bounded-heap top-k per group
    "corpus_dsir_mix" ->
      s"""WITH $sqlDsirCtes,
         |ws AS (SELECT d.source AS source, w.doc_id AS doc_id, w.logw AS logw
         |  FROM w JOIN documents d USING (doc_id)),
         |r AS (SELECT source, doc_id, logw,
         |    row_number() OVER (PARTITION BY source ORDER BY logw DESC, doc_id) AS rn FROM ws)
         |SELECT source, doc_id, logw FROM r WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin,

    // the pinned merge list applied by a recursive CTE: per rank, iterate
    // DuckDB's `replace` (leftmost non-overlapping, same primitive the
    // native kernel loops) until fixpoint, then advance — BpeApplyExpr's
    // contract restated verbatim; joined to the tf-weighted top-200
    "text_bpe_apply" ->
      s"""WITH RECURSIVE $sqlBpeSegCtes,
         |btf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM btok WHERE token <> '' GROUP BY token),
         |btop AS (SELECT token, tf FROM btf ORDER BY tf DESC, token ASC LIMIT 200)
         |SELECT t.token, t.tf, b.seg, b.n_sym FROM btop t JOIN bseg b USING (token)
         |ORDER BY t.tf DESC, t.token ASC""".stripMargin,

    // fertility from exact integer word/subword counts; the ratio divides
    // the same two BIGINTs in both engines, so r4 is boundary-safe
    "text_bpe_fertility" ->
      s"""WITH RECURSIVE $sqlBpeSegCtes,
         |stf AS (SELECT source, token, count(*) AS tf FROM btok WHERE token <> '' GROUP BY source, token)
         |SELECT source, CAST(sum(tf) AS BIGINT) AS n_words,
         |  CAST(sum(tf * n_sym) AS BIGINT) AS n_subwords,
         |  ${sqlR4("CAST(sum(tf * n_sym) AS DOUBLE) / sum(tf)")} AS fertility
         |FROM stf JOIN bseg USING (token) GROUP BY source ORDER BY source""".stripMargin,

    // vocab-weighted adjacent-pair counts; substr/len count characters in
    // both engines, and the ORDER BY ties break on binary collation in both
    "vocab_bpe_pairs" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS t FROM documents),
        |v AS (SELECT t, count(*) AS tf FROM tok GROUP BY t),
        |p AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1), i -> substr(t, i, 2))) AS pair, tf
        |  FROM v WHERE len(t) >= 2),
        |g AS (SELECT pair, CAST(sum(tf) AS BIGINT) AS n FROM p GROUP BY pair)
        |SELECT pair, n FROM g ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin,

    // each coverage point is an ordered LIMIT + sum of exact integers
    "vocab_coverage" ->
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
        |FROM t, k10, k100, k1000""".stripMargin,

    "vocab_top" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS token
        |  FROM documents),
        |pd AS (SELECT token, doc_id, count(*) AS c FROM tok GROUP BY token, doc_id),
        |g AS (SELECT token, CAST(sum(c) AS BIGINT) AS tf, CAST(count(*) AS BIGINT) AS df
        |  FROM pd GROUP BY token)
        |SELECT token, tf, df FROM g ORDER BY tf DESC, token ASC LIMIT 100""".stripMargin,

    "vocab_bpe_train" -> bpeTrainOracleSql(nMerges = 8, vocabCap = 500),

    "text_bpe_train_apply" -> bpeTrainOracleSql(nMerges = 8, vocabCap = 500,
      finalSql = Some(
        """SELECT token, tf, trim(replace(seg, chr(31), ' ')) AS seg FROM w8
          |ORDER BY tf DESC, token ASC""".stripMargin)),

    "mix_weighted" ->
      """WITH h AS (SELECT doc_id, source, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn FROM h)
        |SELECT doc_id, source FROM r
        |WHERE rn <= CASE source WHEN 'src0' THEN 12 WHEN 'src1' THEN 5 WHEN 'src2' THEN 0 ELSE 30 END
        |ORDER BY doc_id""".stripMargin,

    // the exponential-race key replayed with identical double-op order:
    // u from the first-8-hex-digit content hash (exact in double), then
    // ((-ln(u)) / w) * 1e9 + 0.5 floored — quantized-then-ranked with
    // the doc_id tiebreak (the BM25/DSIR ln() portability discipline)
    "corpus_importance_sample" ->
      """WITH h AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS weight,
        |    list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |k AS (SELECT doc_id, source, weight,
        |    CAST(floor(((-ln((CAST(hv % 1048576 AS DOUBLE) + 0.5) / 1048576.0))
        |      / CAST(weight AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) AS es_key9
        |  FROM h)
        |SELECT doc_id, source, weight, es_key9 FROM k
        |ORDER BY es_key9 ASC, doc_id ASC LIMIT 64""".stripMargin,

    "pack_sequences" ->
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
        |GROUP BY p.shard, p.pack_id ORDER BY p.shard, p.pack_id""".stripMargin,

    "snapshot_roundtrip" ->
      s"""SELECT count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum,
         |  CAST(count(*) * $Dim AS BIGINT) AS dim_sum,
         |  CAST(sum(label) AS DOUBLE) AS label_sum FROM embeddings""".stripMargin,

    // the ORC store holds exactly the source rows — the oracle reads the
    // parquet truth the snapshot was taken from
    "snapshot_orc_roundtrip" ->
      s"""SELECT count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum,
         |  CAST(count(*) * $Dim AS BIGINT) AS dim_sum,
         |  CAST(sum(label) AS DOUBLE) AS label_sum FROM embeddings""".stripMargin,

    // the bucketed store holds exactly the source rows — the join result
    // is checked against the raw parquet join
    "snapshot_bucketed_join" ->
      """SELECT count(*) AS n, CAST(sum(d.n_chars) AS BIGINT) AS chars_sum,
        |  CAST(sum(e.label) AS BIGINT) AS label_sum,
        |  CAST(sum(len(e.embedding)) AS BIGINT) AS dim_sum
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin,

    "snapshot_compact" ->
      s"""SELECT count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum,
         |  CAST(count(*) * $Dim AS BIGINT) AS dim_sum,
         |  CAST(sum(label) AS DOUBLE) AS label_sum FROM embeddings""".stripMargin,

    "media_features" ->
      s"""WITH m AS (SELECT doc_id AS media_id, ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind, text FROM documents WHERE text IS NOT NULL),
         |idx AS (SELECT unnest(generate_series(0, 7)) AS feature_idx),
         |b AS (SELECT media_id, (u.i - 1) % 8 AS fi, ord(substr(text, CAST(u.i AS INT), 1)) % 256 AS bv
         |  FROM m, unnest(generate_series(1, length(text))) AS u(i)),
         |a AS (SELECT media_id, fi, sum(bv) AS s, count(*) AS c FROM b GROUP BY 1, 2),
         |f AS (SELECT m.media_id, m.kind, idx.feature_idx,
         |    CAST(coalesce(a.s / (a.c * 255.0), 0.0) AS REAL) AS fv
         |  FROM m CROSS JOIN idx LEFT JOIN a ON a.media_id = m.media_id AND a.fi = idx.feature_idx)
         |SELECT media_id, kind, CAST(feature_idx AS INT) AS feature_idx,
         |  ${sqlR4("CAST(fv AS DOUBLE)")} AS value
         |FROM f ORDER BY media_id, feature_idx""".stripMargin,

    // the real-codec roundtrip's features re-derived DIRECTLY from the
    // text (the encode maps are pure integer arithmetic over the bytes,
    // so encode→container→decode must land exactly here); float-cast
    // then r4, same as the Spark side's Array[Float] surface
    // the aHash replayed from the text-derived pixel arithmetic: same
    // (i, i+1, i+2 mod len) channel layout as the codec fixtures, block
    // index by integer div, exact cross-product mean comparison
    "media_phash_dedup" ->
      """WITH d0 AS (SELECT doc_id, text, n_chars, length(text) AS len FROM documents WHERE length(text) > 0),
        |img AS (SELECT doc_id, text, len, CAST(n_chars % 16 + 4 AS BIGINT) AS w, CAST(n_chars % 12 + 4 AS BIGINT) AS h
        |  FROM d0 WHERE doc_id % 2 = 0),
        |px AS (SELECT doc_id, w, h, u.i AS i,
        |    (ord(substr(text, CAST((u.i % len) + 1 AS INT), 1)) % 256
        |     + 2 * (ord(substr(text, CAST(((u.i + 1) % len) + 1 AS INT), 1)) % 256)
        |     + ord(substr(text, CAST(((u.i + 2) % len) + 1 AS INT), 1)) % 256) AS lum
        |  FROM img, unnest(generate_series(0, w * h - 1)) AS u(i)),
        |bk AS (SELECT doc_id, ((i // w) * 4 // h) * 4 + ((i % w) * 4 // w) AS b, lum FROM px),
        |bs AS (SELECT doc_id, b, CAST(sum(lum) AS BIGINT) AS bsum, CAST(count(*) AS BIGINT) AS bn FROM bk GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS tsum, CAST(count(*) AS BIGINT) AS nt FROM bk GROUP BY 1),
        |hs AS (SELECT bs.doc_id,
        |    CAST(sum(CASE WHEN bsum * nt >= tsum * bn THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS ahash
        |  FROM bs JOIN tt ON bs.doc_id = tt.doc_id GROUP BY 1),
        |g AS (SELECT ahash, CAST(count(*) AS BIGINT) AS n FROM hs GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_images,
        |  CAST(count(*) AS BIGINT) AS n_distinct_hashes,
        |  CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
        |  CAST(sum(n) - count(*) AS BIGINT) AS n_dup_copies,
        |  CAST(max(n) AS BIGINT) AS max_group
        |FROM g""".stripMargin,

    // grid-8 hash replay (bit 63 via (1<<62)*-2 — a direct 1<<63 throws
    // in DuckDB), shared band offset/mask arrays, exact xor verify
    "media_phash_pairs" ->
      s"""WITH d0 AS (SELECT doc_id, text, n_chars, length(text) AS len FROM documents WHERE length(text) > 0),
         |img AS (SELECT doc_id, text, len, CAST(n_chars % 16 + 4 AS BIGINT) AS w, CAST(n_chars % 12 + 4 AS BIGINT) AS h
         |  FROM d0 WHERE doc_id % 2 = 0),
         |px AS (SELECT doc_id, w, h, u.i AS i,
         |    (ord(substr(text, CAST((u.i % len) + 1 AS INT), 1)) % 256
         |     + 2 * (ord(substr(text, CAST(((u.i + 1) % len) + 1 AS INT), 1)) % 256)
         |     + ord(substr(text, CAST(((u.i + 2) % len) + 1 AS INT), 1)) % 256) AS lum
         |  FROM img, unnest(generate_series(0, w * h - 1)) AS u(i)),
         |bk AS (SELECT doc_id, ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS b, lum FROM px),
         |bs AS (SELECT doc_id, b, CAST(sum(lum) AS BIGINT) AS bsum, CAST(count(*) AS BIGINT) AS bn FROM bk GROUP BY 1, 2),
         |tt AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS tsum, CAST(count(*) AS BIGINT) AS nt FROM bk GROUP BY 1),
         |hs AS (SELECT bs.doc_id,
         |    CAST(sum(CASE WHEN bsum * nt >= tsum * bn THEN
         |      CASE WHEN b = 63 THEN (CAST(1 AS BIGINT) << 62) * -2 ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM bs JOIN tt ON bs.doc_id = tt.doc_id GROUP BY 1),
         |banded AS (SELECT doc_id, ahash, u.b AS band_idx,
         |  (ahash >> ($phashOffsetsSql)[u.b + 1]) & ($phashMasksSql)[u.b + 1] AS band_key
         |  FROM hs, (SELECT unnest(generate_series(0, ${phashLayout.size - 1})) AS b) u),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
         |  FROM banded a JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 2 ORDER BY id_a, id_b""".stripMargin,

    // same hash/band/verify replay, then min-label reachability over the
    // symmetric verified-pair graph (the sqlCcReach recursion) — rep =
    // min media_id per connected component
    "media_phash_groups" ->
      s"""WITH RECURSIVE d0 AS (SELECT doc_id, text, n_chars, length(text) AS len FROM documents WHERE length(text) > 0),
         |img AS (SELECT doc_id, text, len, CAST(n_chars % 16 + 4 AS BIGINT) AS w, CAST(n_chars % 12 + 4 AS BIGINT) AS h
         |  FROM d0 WHERE doc_id % 2 = 0),
         |px AS (SELECT doc_id, w, h, u.i AS i,
         |    (ord(substr(text, CAST((u.i % len) + 1 AS INT), 1)) % 256
         |     + 2 * (ord(substr(text, CAST(((u.i + 1) % len) + 1 AS INT), 1)) % 256)
         |     + ord(substr(text, CAST(((u.i + 2) % len) + 1 AS INT), 1)) % 256) AS lum
         |  FROM img, unnest(generate_series(0, w * h - 1)) AS u(i)),
         |bk AS (SELECT doc_id, ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS b, lum FROM px),
         |bs AS (SELECT doc_id, b, CAST(sum(lum) AS BIGINT) AS bsum, CAST(count(*) AS BIGINT) AS bn FROM bk GROUP BY 1, 2),
         |tt AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS tsum, CAST(count(*) AS BIGINT) AS nt FROM bk GROUP BY 1),
         |hs AS (SELECT bs.doc_id,
         |    CAST(sum(CASE WHEN bsum * nt >= tsum * bn THEN
         |      CASE WHEN b = 63 THEN (CAST(1 AS BIGINT) << 62) * -2 ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM bs JOIN tt ON bs.doc_id = tt.doc_id GROUP BY 1),
         |banded AS (SELECT doc_id, ahash, u.b AS band_idx,
         |  (ahash >> ($phashOffsetsSql)[u.b + 1]) & ($phashMasksSql)[u.b + 1] AS band_key
         |  FROM hs, (SELECT unnest(generate_series(0, ${phashLayout.size - 1})) AS b) u),
         |vp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 2),
         |e AS (SELECT id_a AS a, id_b AS b FROM vp UNION SELECT id_b, id_a FROM vp),
         |$sqlCcReach
         |SELECT node AS media_id, min(lab) AS rep_id FROM reach GROUP BY node ORDER BY media_id""".stripMargin,

    "media_codec_features" ->
      s"""WITH d0 AS (SELECT doc_id, text, n_chars, length(text) AS len FROM documents WHERE length(text) > 0),
         |fx AS (SELECT unnest(generate_series(0, 7)) AS feature_idx),
         |img AS (SELECT doc_id, text, len, CAST(n_chars % 16 + 4 AS BIGINT) AS w, CAST(n_chars % 12 + 4 AS BIGINT) AS h
         |  FROM d0 WHERE doc_id % 2 = 0),
         |ipx AS (SELECT doc_id, w, h, u.i AS i,
         |    ord(substr(text, CAST((u.i % len) + 1 AS INT), 1)) % 256 AS r,
         |    ord(substr(text, CAST(((u.i + 1) % len) + 1 AS INT), 1)) % 256 AS g,
         |    ord(substr(text, CAST(((u.i + 2) % len) + 1 AS INT), 1)) % 256 AS b
         |  FROM img, unnest(generate_series(0, w * h - 1)) AS u(i)),
         |iagg AS (SELECT doc_id, w, h, count(*) AS n,
         |    CAST(sum(r) AS BIGINT) AS sr, CAST(sum(g) AS BIGINT) AS sg, CAST(sum(b) AS BIGINT) AS sb,
         |    CAST(sum(CASE WHEN r + 2 * g + b >= 510 THEN 1 ELSE 0 END) AS BIGINT) AS bright,
         |    max(r + 2 * g + b) AS maxl, min(r + 2 * g + b) AS minl
         |  FROM ipx GROUP BY 1, 2, 3),
         |ifeat AS (SELECT doc_id AS media_id, 'image' AS kind, fx.feature_idx,
         |    CASE fx.feature_idx
         |      WHEN 0 THEN CAST(w AS DOUBLE) WHEN 1 THEN CAST(h AS DOUBLE)
         |      WHEN 2 THEN CAST(sr AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(255 AS DOUBLE))
         |      WHEN 3 THEN CAST(sg AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(255 AS DOUBLE))
         |      WHEN 4 THEN CAST(sb AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(255 AS DOUBLE))
         |      WHEN 5 THEN CAST(sr + 2 * sg + sb AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(1020 AS DOUBLE))
         |      WHEN 6 THEN CAST(bright AS DOUBLE) / CAST(n AS DOUBLE)
         |      ELSE CAST(maxl - minl AS DOUBLE) / CAST(1020 AS DOUBLE) END AS fv
         |  FROM iagg CROSS JOIN fx),
         |aud AS (SELECT doc_id, text, least(len, 2048) AS n FROM d0 WHERE doc_id % 2 = 1),
         |asmp AS (SELECT doc_id, n, u.i AS i,
         |    (ord(substr(text, CAST(u.i + 1 AS INT), 1)) % 256 - 128) * 256 AS s
         |  FROM aud, unnest(generate_series(0, n - 1)) AS u(i)),
         |azc AS (SELECT doc_id, n, i, abs(s) AS a,
         |    CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY i) IS NULL THEN 0
         |         WHEN (lag(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0) <> (s >= 0) THEN 1 ELSE 0 END AS zc,
         |    CASE WHEN i < n // 3 THEN 0 WHEN i < 2 * (n // 3) THEN 1 ELSE 2 END AS seg
         |  FROM asmp),
         |aagg AS (SELECT doc_id, n, CAST(sum(a) AS BIGINT) AS sa, CAST(sum(zc) AS BIGINT) AS zc,
         |    CAST(max(a) AS BIGINT) AS ma,
         |    CAST(sum(CASE WHEN seg = 0 THEN a ELSE 0 END) AS BIGINT) AS s0,
         |    CAST(sum(CASE WHEN seg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN seg = 1 THEN a ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN seg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN seg = 2 THEN a ELSE 0 END) AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN seg = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM azc GROUP BY 1, 2),
         |afeat AS (SELECT doc_id AS media_id, 'audio' AS kind, fx.feature_idx,
         |    CASE fx.feature_idx
         |      WHEN 0 THEN CAST(n AS DOUBLE) WHEN 1 THEN CAST(8000 AS DOUBLE)
         |      WHEN 2 THEN CAST(sa AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(32768 AS DOUBLE))
         |      WHEN 3 THEN CAST(zc AS DOUBLE) / CAST(n AS DOUBLE)
         |      WHEN 4 THEN CAST(ma AS DOUBLE) / CAST(32768 AS DOUBLE)
         |      WHEN 5 THEN CASE WHEN c0 > 0 THEN CAST(s0 AS DOUBLE) / (CAST(c0 AS DOUBLE) * CAST(32768 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END
         |      WHEN 6 THEN CASE WHEN c1 > 0 THEN CAST(s1 AS DOUBLE) / (CAST(c1 AS DOUBLE) * CAST(32768 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END
         |      ELSE CASE WHEN c2 > 0 THEN CAST(s2 AS DOUBLE) / (CAST(c2 AS DOUBLE) * CAST(32768 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END END AS fv
         |  FROM aagg CROSS JOIN fx),
         |allf AS (SELECT * FROM ifeat UNION ALL SELECT * FROM afeat)
         |SELECT media_id, kind, CAST(feature_idx AS INT) AS feature_idx,
         |  ${sqlR4("CAST(CAST(fv AS REAL) AS DOUBLE)")} AS value
         |FROM allf ORDER BY media_id, feature_idx""".stripMargin,

    "media_resize" ->
      """WITH m AS (SELECT doc_id AS media_id, length(text) AS len, text,
        |    CAST(n_chars % 64 + 16 AS BIGINT) AS w, CAST(n_chars % 48 + 16 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0),
        |g AS (SELECT media_id, text, len, w, h, u.y, v.x
        |  FROM m, (SELECT unnest(generate_series(0, 3)) AS y) u,
        |       (SELECT unnest(generate_series(0, 3)) AS x) v),
        |s AS (SELECT media_id, y, x, text,
        |  (CAST(floor(y * h / 4) AS BIGINT) * w + CAST(floor(x * w / 4) AS BIGINT)) % len AS src
        |  FROM g)
        |SELECT media_id, CAST(y AS INT) AS y, CAST(x AS INT) AS x,
        |  CAST(ord(substr(text, CAST(src + 1 AS INT), 1)) % 256 AS INT) AS value
        |FROM s ORDER BY media_id, y, x""".stripMargin,

    "media_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, length(text) AS clen, CAST(n_chars % 30 + 1 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL),
        |f AS (SELECT media_id, clen, nf, greatest(CAST(floor(clen / nf) AS BIGINT), 1) AS flen FROM m),
        |x AS (SELECT media_id, u.i AS frame_idx, flen, clen FROM f, unnest(generate_series(0, nf - 1, 2)) AS u(i))
        |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(greatest(least(flen, clen - frame_idx * flen), 0) AS INT) AS frame_len
        |FROM x ORDER BY media_id, frame_idx""".stripMargin,

    // session boundary: a gap of >= 30 min starts a new session (Spark
    // session windows are half-open [start, last_ts + gap))
    "events_sessionize" ->
      s"""WITH o AS (SELECT user_id, ts, value,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (SELECT user_id, ts, value,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o)
         |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, user_id,
         |  count(*) AS n_events, ${sqlR4("sum(value)")} AS value_sum
         |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    // quantile_cont == Spark's exact percentile (events_quantiles
    // precedent); the clipped mass from the same quantized longs
    "events_winsorize" ->
      s"""WITH caps AS (SELECT event_type, quantile_cont(value, 0.99) AS cap
         |  FROM events GROUP BY 1),
         |j AS (SELECT e.event_type, caps.cap,
         |  CASE WHEN e.value > caps.cap THEN 1 ELSE 0 END AS clip,
         |  CASE WHEN e.value > caps.cap
         |       THEN CAST(floor((e.value - caps.cap) * 10000.0 + 0.5) AS BIGINT)
         |       ELSE 0 END AS qd
         |  FROM events e JOIN caps ON e.event_type = caps.event_type)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(clip) AS BIGINT) AS n_clipped,
         |  ${sqlR4("max(cap)")} AS p99,
         |  ${sqlR4("CAST(sum(qd) AS DOUBLE) / 10000.0")} AS mass_removed
         |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the same lag/cumsum session ids; lift from the identical
    // integer-count operand order
    "events_affinity" ->
      s"""WITH o AS (SELECT user_id, ts, event_type,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |sx AS (SELECT user_id, event_type,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o),
         |st AS (SELECT DISTINCT user_id, sid, event_type FROM sx),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (SELECT DISTINCT user_id, sid FROM st)),
         |per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM st GROUP BY 1),
         |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    CAST(count(*) AS BIGINT) AS n_both
         |  FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
         |    AND a.event_type < b.event_type GROUP BY 1, 2)
         |SELECT type_a, type_b, n_both,
         |  ${sqlR4("CAST(n_both AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(pa.c AS DOUBLE) * CAST(pb.c AS DOUBLE))")} AS lift
         |FROM pr JOIN per pa ON pr.type_a = pa.event_type
         |JOIN per pb ON pr.type_b = pb.event_type, tot
         |ORDER BY type_a, type_b""".stripMargin,

    // the sessionize CTE + a duration rollup; durations are exact micro
    // diffs / 1e6
    "events_session_stats" ->
      s"""WITH o AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (SELECT user_id, ts,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o),
         |g AS (SELECT user_id, sid, count(*) AS n_events,
         |  (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS dur
         |  FROM s GROUP BY user_id, sid)
         |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_sessions,
         |  CAST(sum(n_events) AS BIGINT) AS n_events_total,
         |  ${sqlR4("quantile_cont(dur, 0.5)")} AS p50_dur_sec,
         |  ${sqlR4("quantile_cont(dur, 0.9)")} AS p90_dur_sec
         |FROM g""".stripMargin,

    // exact weekly distinct in SQL + the invariant TRUE flag (the
    // sketch estimate itself is engine-specific; the flag pins it to
    // within 5% of exact — events_sketch_check's documented style)
    "events_hll_rollup" ->
      """WITH w AS (SELECT date_trunc('week', ts) AS wk, user_id FROM events GROUP BY 1, 2)
        |SELECT strftime(wk, '%Y-%m-%d') AS week, count(*) AS wau_exact, TRUE AS sketch_ok
        |FROM w GROUP BY wk ORDER BY week""".stripMargin,

    // the layout cannot change results: the oracle is the same filter
    // over the raw table
    "events_zorder_scan" ->
      """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
        |FROM events
        |WHERE user_id BETWEEN 40 AND 60
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY event_id""".stripMargin,

    // the sessionize CTE + hourly error incidents (>= 5 errors), paired
    // by a plain inequality overlap join — DuckDB at oracle scale can
    // afford the quadratic plan the Spark side's binned join avoids
    "events_incident_overlap" ->
      s"""WITH inc AS (SELECT date_trunc('hour', ts) AS w, count(*) AS n_errors,
         |    min(ts) AS t0, max(ts) AS t1
         |  FROM events WHERE event_type = 'error' GROUP BY 1 HAVING count(*) >= 5),
         |o AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (SELECT user_id, ts,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o),
         |sess AS (SELECT user_id, sid, min(ts) AS s0, max(ts) AS s1 FROM s GROUP BY 1, 2
         |  HAVING epoch_us(max(ts)) - epoch_us(min(ts)) <= 21600000000),
         |p AS (SELECT inc.t0, inc.n_errors, sess.user_id,
         |    epoch_us(least(sess.s1, inc.t1)) - epoch_us(greatest(sess.s0, inc.t0)) AS ov
         |  FROM sess JOIN inc ON sess.s0 <= inc.t1 AND inc.t0 <= sess.s1),
         |u AS (SELECT t0, n_errors, user_id, count(*) AS ns, sum(ov) AS ovs
         |  FROM p GROUP BY 1, 2, 3)
         |SELECT strftime(t0, '%Y-%m-%d %H:%M:%S') AS incident_start, n_errors,
         |  CAST(sum(ns) AS BIGINT) AS n_sessions, count(*) AS n_users,
         |  ${sqlR4("CAST(sum(ovs) AS DOUBLE) / 1000000.0")} AS overlap_sec
         |FROM u GROUP BY 1, 2 ORDER BY incident_start""".stripMargin,

    "events_user_activity" ->
      s"""WITH pu AS (SELECT date_trunc('hour', ts) AS h, user_id,
         |    count(*) AS n, sum(value) AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
         |  CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_users,
         |  ${sqlR4("sum(v)")} AS value_sum
         |FROM pu GROUP BY h ORDER BY hour""".stripMargin,

    "events_window_agg" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  count(*) AS n, ${sqlR4("sum(value)")} AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    // the same two reductions; min(tv.tv) is the per-user constant
    "events_conversion_time" ->
      s"""WITH tv AS (SELECT user_id, min(epoch_us(ts)) AS tv FROM events
         |  WHERE event_type = 'view' GROUP BY 1),
         |d AS (SELECT e.user_id, min(epoch_us(e.ts)) - min(tv.tv) AS dus
         |  FROM events e JOIN tv ON e.user_id = tv.user_id
         |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= tv.tv
         |  GROUP BY e.user_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_users,
         |  ${sqlR4("quantile_cont(dus, 0.5) / 1000000.0")} AS p50_sec,
         |  ${sqlR4("quantile_cont(dus, 0.9) / 1000000.0")} AS p90_sec,
         |  ${sqlR4("(CAST(sum(dus) AS DOUBLE) / count(*)) / 1000000.0")} AS mean_sec
         |FROM d""".stripMargin,

    "events_interarrival" ->
      s"""WITH g AS (SELECT event_type,
         |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
         |  FROM events)
         |SELECT event_type, count(*) AS n_gaps,
         |  ${sqlR4("(CAST(sum(gap) AS DOUBLE) / count(*)) / 1000000.0")} AS avg_gap_sec
         |FROM g WHERE gap IS NOT NULL GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_rolling" ->
      s"""WITH d AS (SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, day, n,
         |  sum(n) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
         |  count(*) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS c7
         |  FROM d)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
         |  ${sqlR4("CAST(s7 AS DOUBLE) / c7")} AS avg7
         |FROM r ORDER BY event_type, day""".stripMargin,

    // same moments-from-integer-sums formula, replayed term for term
    "events_anomaly" ->
      s"""WITH c AS (SELECT event_type, date_trunc('hour', ts) AS w, count(*) AS n FROM events GROUP BY 1, 2),
         |st AS (SELECT event_type, count(*) AS nw, sum(n) AS s1, sum(n * n) AS s2 FROM c GROUP BY 1),
         |j AS (SELECT c.event_type, c.w, c.n,
         |  CAST(st.s1 AS DOUBLE) / st.nw AS mean,
         |  (CAST(st.s2 AS DOUBLE) - CAST(st.s1 AS DOUBLE) * st.s1 / st.nw) / st.nw AS v
         |  FROM c JOIN st USING (event_type))
         |SELECT event_type, strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start, n,
         |  ${sqlR4("(n - mean) / sqrt(v)")} AS z
         |FROM j WHERE v > 0 AND n > mean + 2.0 * sqrt(v)
         |ORDER BY event_type, window_start""".stripMargin,

    // the day-partitioned layout changes the files, never the rows
    "events_time_pruned" ->
      s"""SELECT event_type, count(*) AS n, ${sqlR4("sum(value)")} AS value_sum
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    // both engines truncate weeks to Monday; week offset via floor-epoch
    // integer arithmetic (Spark's CAST(ts AS LONG) == floor(epoch(ts)))
    "events_retention" ->
      s"""WITH f AS (SELECT user_id, min(ts) AS fts FROM events GROUP BY user_id),
         |a AS (SELECT DISTINCT e.user_id, date_trunc('week', f.fts) AS cohort,
         |  CAST(floor((floor(epoch(e.ts)) - floor(epoch(date_trunc('week', f.fts)))) / 604800.0) AS BIGINT) AS week_n
         |  FROM events e JOIN f ON e.user_id = f.user_id)
         |SELECT strftime(cohort, '%Y-%m-%d') AS cohort, week_n, count(*) AS n_users
         |FROM a GROUP BY cohort, week_n ORDER BY cohort, week_n""".stripMargin,

    "events_props_stats" ->
      s"""SELECT event_type,
         |  count(k) AS n_parsed, CAST(sum(k) AS BIGINT) AS k_sum,
         |  CAST(min(k) AS BIGINT) AS k_min, CAST(max(k) AS BIGINT) AS k_max
         |FROM (SELECT event_type,
         |        CASE WHEN props IS NOT NULL AND json_valid(props)
         |             THEN CAST(json_extract(props, '$$.k') AS BIGINT) END AS k
         |      FROM events)
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same stacked-counters layout as corpus_expectations; json_valid +
    // a leading-brace test twins Spark's get_json_object('$') probe
    // (both reject non-object and malformed payloads identically)
    "events_expectations" ->
      s"""WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN NOT coalesce(event_id IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         |  CAST(sum(CASE WHEN NOT coalesce(user_id IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         |  CAST(sum(CASE WHEN NOT coalesce(user_id IS NULL OR (user_id > -9007199254740992 AND user_id < 9007199254740992), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2b,
         |  CAST(sum(CASE WHEN NOT coalesce(ts >= TIMESTAMP '1970-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
         |  CAST(sum(CASE WHEN NOT coalesce(value IS NULL OR isfinite(value), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4,
         |  CAST(sum(CASE WHEN NOT coalesce(value IS NULL OR abs(value) < 9.0e14, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4b,
         |  CAST(sum(CASE WHEN NOT coalesce(event_type IN ('view','click','purchase','error'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v5,
         |  CAST(sum(CASE WHEN NOT coalesce(props IS NULL OR (json_valid(props) AND trim(props) LIKE '{%'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v6,
         |  CAST(count(DISTINCT event_id) AS BIGINT) AS d FROM events)
         |SELECT * FROM (
         |  SELECT 'event_id_not_null' AS "check", n AS n_rows, v1 AS n_violations, v1 = 0 AS pass FROM base
         |  UNION ALL SELECT 'user_known', n, v2, v2 = 0 FROM base
         |  UNION ALL SELECT 'user_id_in_domain', n, v2b, v2b = 0 FROM base
         |  UNION ALL SELECT 'ts_in_epoch_range', n, v3, v3 = 0 FROM base
         |  UNION ALL SELECT 'value_finite_or_null', n, v4, v4 = 0 FROM base
         |  UNION ALL SELECT 'value_in_domain', n, v4b, v4b = 0 FROM base
         |  UNION ALL SELECT 'type_known', n, v5, v5 = 0 FROM base
         |  UNION ALL SELECT 'props_null_or_object', n, v6, v6 = 0 FROM base
         |  UNION ALL SELECT 'event_id_unique', n, n - d, n = d FROM base)
         |ORDER BY "check"""".stripMargin,

    // json_extract_string decodes escaped surrogate pairs to the same
    // UTF-8 as Spark's get_json_object — the unicode JSON-lane pin
    "events_props_pages" ->
      s"""SELECT page, CAST(count(*) AS BIGINT) AS n_events,
         |  ${sqlR4("CAST(sum(qv) AS DOUBLE) / 10000.0")} AS value_sum
         |FROM (SELECT CASE WHEN props IS NOT NULL AND json_valid(props)
         |        THEN json_extract_string(props, '$$.page') END AS page,
         |      CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS qv
         |      FROM events)
         |GROUP BY page ORDER BY page""".stripMargin,

    // the grouped dd-histogram replayed with a PARTITIONED prefix sum
    "events_value_sketch_by_type" ->
      s"""WITH v AS (SELECT event_type AS grp, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS q2
         |  FROM events
         |  WHERE value IS NOT NULL AND value > 0 AND value < 9.0e16
         |    AND CAST(floor(value * 100.0 + 0.5) AS BIGINT) >= 1),
         |h AS (SELECT grp, CAST(length(CAST(q2 AS VARCHAR)) AS BIGINT) AS digits,
         |    CAST(substr(CAST(q2 AS VARCHAR), 1, 2) AS BIGINT) AS first2,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM v GROUP BY 1, 2, 3),
         |c AS (SELECT grp, digits, first2, cnt,
         |    CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY digits, first2
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(concat('1', repeat('0', CAST(greatest(digits - 2, 0) AS INT))) AS BIGINT) AS width
         |  FROM h),
         |m AS (SELECT grp, cum,
         |    (CAST(first2 * width AS DOUBLE) + CAST(width AS DOUBLE) / 2.0) / 100.0 AS mid
         |  FROM c),
         |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY grp),
         |ex AS (SELECT grp, quantile_cont(q2, 0.50) AS e50, quantile_cont(q2, 0.95) AS e95
         |  FROM v GROUP BY grp),
         |p(p) AS (VALUES (50), (95)),
         |e AS (SELECT m.grp, p.p, n.n, min(m.mid) AS est
         |  FROM p, n, m WHERE m.grp = n.grp AND m.cum >= (n.n * p.p + 99) // 100
         |  GROUP BY 1, 2, 3),
         |f AS (SELECT e.grp, e.p, e.n, e.est,
         |    (CASE e.p WHEN 50 THEN ex.e50 ELSE ex.e95 END) / 100.0 AS exv
         |  FROM e JOIN ex ON e.grp = ex.grp)
         |SELECT grp AS event_type, p, n, ${sqlR4("est")} AS est, ${sqlR4("exv")} AS exact,
         |  ${sqlR4("abs(est - exv) / exv")} AS rel_err
         |FROM f ORDER BY event_type, p""".stripMargin,

    // the as-of credit replayed as rn=1 over (ts DESC, view_id DESC);
    // revenue from the same quantized longs
    "events_attribution" ->
      s"""WITH p AS (SELECT event_id, user_id, ts,
         |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS qv
         |  FROM events WHERE event_type = 'purchase'),
         |v AS (SELECT user_id, ts, event_id AS view_id,
         |    CASE WHEN props IS NOT NULL AND json_valid(props)
         |         THEN CAST(json_extract(props, '$$.k') AS BIGINT) END AS campaign
         |  FROM events WHERE event_type = 'view'),
         |a AS (SELECT event_id, qv, campaign FROM (
         |  SELECT p.event_id, p.qv, v.campaign,
         |    row_number() OVER (PARTITION BY p.event_id
         |      ORDER BY v.ts DESC, v.view_id DESC) AS rn
         |  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts)
         |  WHERE rn = 1)
         |SELECT coalesce(campaign, -1) AS campaign,
         |  CAST(count(*) AS BIGINT) AS n_conversions,
         |  ${sqlR4("CAST(sum(qv) AS DOUBLE) / 10000.0")} AS total_value
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    // same three chained reductions with the hour window in each stage
    "events_funnel_windowed" ->
      s"""WITH tv AS (SELECT user_id, min(epoch_us(ts)) AS tv FROM events
         |  WHERE event_type = 'view' GROUP BY 1),
         |tc AS (SELECT e.user_id, min(epoch_us(e.ts)) AS tc
         |  FROM events e JOIN tv ON e.user_id = tv.user_id
         |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= tv.tv
         |    AND epoch_us(e.ts) <= tv.tv + 3600000000
         |  GROUP BY e.user_id),
         |tp AS (SELECT e.user_id, min(epoch_us(e.ts)) AS tp
         |  FROM events e JOIN tc ON e.user_id = tc.user_id
         |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= tc.tc
         |    AND epoch_us(e.ts) <= tc.tc + 3600000000
         |  GROUP BY e.user_id)
         |SELECT CAST(count(tv.tv) AS BIGINT) AS n_view,
         |  CAST(count(tc.tc) AS BIGINT) AS n_click_1h,
         |  CAST(count(tp.tp) AS BIGINT) AS n_purchase_1h
         |FROM tv LEFT JOIN tc ON tv.user_id = tc.user_id
         |LEFT JOIN tp ON tv.user_id = tp.user_id""".stripMargin,

    // invariant-style oracle (same family as ivf_build_stats): the
    // booleans are the sketch error contracts, computed Spark-side
    "events_sketch_check" ->
      """SELECT DISTINCT event_type, true AS hll_ok, true AS quantile_ok
        |FROM events ORDER BY event_type""".stripMargin,

    "events_funnel" ->
      s"""WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
         |  WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
         |  JOIN v ON e.user_id = v.user_id
         |  WHERE e.event_type = 'click' AND e.ts >= v.view_ts GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
         |  JOIN c ON e.user_id = c.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts GROUP BY e.user_id)
         |SELECT v.user_id,
         |  strftime(v.view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
         |  strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
         |  strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
         |    + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS stage
         |FROM v LEFT JOIN c ON v.user_id = c.user_id
         |LEFT JOIN p ON v.user_id = p.user_id
         |ORDER BY v.user_id""".stripMargin,

    // four chained reductions, depth from the monotone null chain
    "events_funnel4" ->
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
         |  WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'view' AND e.ts >= s1.t1 GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
         |  JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = 'click' AND e.ts >= s2.t2 GROUP BY 1),
         |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
         |  JOIN s3 ON e.user_id = s3.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts >= s3.t3 GROUP BY 1),
         |u AS (SELECT s1.user_id,
         |  1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
         |    + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END
         |    + CASE WHEN s4.user_id IS NULL THEN 0 ELSE 1 END AS stage
         |  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
         |  LEFT JOIN s3 ON s1.user_id = s3.user_id
         |  LEFT JOIN s4 ON s1.user_id = s4.user_id)
         |SELECT CAST(stage AS INT) AS stage, CAST(count(*) AS BIGINT) AS n_users
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_top_users" ->
      s"""WITH per AS (SELECT event_type, user_id, sum(value) AS total
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, user_id, total,
         |  row_number() OVER (PARTITION BY event_type
         |    ORDER BY total DESC, user_id ASC) AS rank FROM per)
         |SELECT event_type, CAST(rank AS BIGINT) AS rank, user_id,
         |  ${sqlR4("total")} AS total_value
         |FROM r WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

    "events_cm_topk" ->
      s"""WITH $sqlCmCtes
         |SELECT key AS user_id, n_true, n_est, (n_est - n_true) AS n_over
         |FROM est ORDER BY n_true DESC, key ASC LIMIT 10""".stripMargin,

    "events_cm_error" ->
      s"""WITH $sqlCmCtes
         |SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(n_true) AS BIGINT) AS n_total,
         |  CAST(max(n_est - n_true) AS BIGINT) AS max_over,
         |  CAST(sum(n_est - n_true) AS BIGINT) AS sum_over,
         |  CAST(sum(CASE WHEN n_est = n_true THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
         |FROM est""".stripMargin,

    // the two day-parity sketches replayed as conditional sums over one
    // (r, cell) grouping; a cell empty on BOTH sides exists in neither
    // engine's frame (full-outer union == any-count union)
    "events_cm_drift" -> {
      val p = operators.Events.CmPrime
      s"""WITH h(r, a, b) AS (SELECT * FROM (VALUES $sqlCmHashRows) v(r, a, b)),
         |c AS (SELECT CAST(user_id AS BIGINT) AS key,
         |    (epoch_us(ts) // 86400000000) % 2 AS par, CAST(count(*) AS BIGINT) AS n
         |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
         |cells AS (SELECT h.r, ((((h.a * (((c.key % $p) + $p) % $p) + h.b) % $p) + $p) % $p) % 64 AS cell,
         |    c.par, c.n
         |  FROM c CROSS JOIN h),
         |sk AS (SELECT r, cell,
         |    CAST(sum(CASE WHEN par = 0 THEN n ELSE 0 END) AS BIGINT) AS n_even,
         |    CAST(sum(CASE WHEN par = 1 THEN n ELSE 0 END) AS BIGINT) AS n_odd
         |  FROM cells GROUP BY r, cell)
         |SELECT CAST(r AS INT) AS row, CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(n_even) AS BIGINT) AS mass_even,
         |  CAST(sum(n_odd) AS BIGINT) AS mass_odd,
         |  CAST(sum(abs(n_even - n_odd)) AS BIGINT) AS l1
         |FROM sk GROUP BY r ORDER BY row""".stripMargin
    },

    // ties on click ts resolved to the greatest click_id (the operator's
    // deterministic tieBreak); <= is the inclusive as-of bound
    "events_asof_join" ->
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT event_id AS click_id, user_id, ts, value FROM events
         |      WHERE event_type = 'click')
         |SELECT purchase_id, user_id,
         |  strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  click_id, click_value
         |FROM (
         |  SELECT p.purchase_id, p.user_id, p.ts AS p_ts, c.click_id,
         |    ${sqlR4("c.value")} AS click_value,
         |    row_number() OVER (PARTITION BY p.purchase_id
         |      ORDER BY c.ts DESC, c.click_id DESC) AS rn
         |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
         |WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    // identical-results contract: the chunked skew path shares the
    // plain as-of oracle verbatim
    "events_asof_chunked" ->
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT event_id AS click_id, user_id, ts, value FROM events
         |      WHERE event_type = 'click')
         |SELECT purchase_id, user_id,
         |  strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  click_id, click_value
         |FROM (
         |  SELECT p.purchase_id, p.user_id, p.ts AS p_ts, c.click_id,
         |    ${sqlR4("c.value")} AS click_value,
         |    row_number() OVER (PARTITION BY p.purchase_id
         |      ORDER BY c.ts DESC, c.click_id DESC) AS rn
         |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
         |WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    // staleness bound: the most-recent-prior match is found FIRST, then
    // nulled when its floored-seconds gap exceeds the bound (with
    // backward direction the nearest prior minimizes the gap, so the
    // two formulations coincide); rows are never dropped
    "events_asof_tolerance" ->
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT event_id AS click_id, user_id, ts, value FROM events
         |      WHERE event_type = 'click')
         |SELECT purchase_id, user_id,
         |  strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  CASE WHEN ok THEN click_id END AS click_id,
         |  CASE WHEN ok THEN click_value END AS click_value
         |FROM (
         |  SELECT p.purchase_id, p.user_id, p.ts AS p_ts, c.click_id,
         |    ${sqlR4("c.value")} AS click_value,
         |    CAST(floor(epoch(p.ts)) AS BIGINT)
         |      - CAST(floor(epoch(c.ts)) AS BIGINT) <= 3600 AS ok,
         |    row_number() OVER (PARTITION BY p.purchase_id
         |      ORDER BY c.ts DESC, c.click_id DESC) AS rn
         |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
         |WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    // forward ties: earliest purchase ts, then greatest purchase_id
    "events_next_purchase" ->
      s"""WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         |p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |      WHERE event_type = 'purchase')
         |SELECT click_id, user_id, click_ts, purchase_id, gap_sec FROM (
         |  SELECT c.event_id AS click_id, c.user_id,
         |    strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts, p.purchase_id,
         |    CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_sec,
         |    row_number() OVER (PARTITION BY c.event_id
         |      ORDER BY p.ts ASC, p.purchase_id DESC) AS rn
         |  FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.ts >= c.ts)
         |WHERE rn = 1 ORDER BY click_id""".stripMargin,

    // count(*) vs count(col): exact left-outer pair cardinality
    "events_range_pairs" ->
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |           WHERE event_type = 'purchase'),
         |e AS (SELECT user_id, ts, value FROM events WHERE event_type = 'error')
         |SELECT p.purchase_id, count(*) AS n_rows, count(e.ts) AS n_matches
         |FROM p LEFT JOIN e ON p.user_id = e.user_id
         |  AND e.ts > p.ts - INTERVAL 600 SECOND AND e.ts <= p.ts
         |GROUP BY p.purchase_id ORDER BY p.purchase_id""".stripMargin,

    // look-back window is (p.ts − 600 s, p.ts] — left-open, right-closed
    "events_range_join" ->
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |           WHERE event_type = 'purchase'),
         |e AS (SELECT user_id, ts, value FROM events WHERE event_type = 'error')
         |SELECT p.purchase_id, p.user_id,
         |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  count(e.ts) AS n_errors,
         |  ${sqlR4("coalesce(sum(e.value), 0.0)")} AS err_value_sum
         |FROM p LEFT JOIN e ON p.user_id = e.user_id
         |  AND e.ts > p.ts - INTERVAL 600 SECOND AND e.ts <= p.ts
         |GROUP BY p.purchase_id, p.user_id, p.ts
         |ORDER BY p.purchase_id""".stripMargin,

    "events_quantiles" ->
      s"""SELECT event_type,
         |  ${sqlR4("quantile_cont(value, 0.25)")} AS p25,
         |  ${sqlR4("quantile_cont(value, 0.50)")} AS p50,
         |  ${sqlR4("quantile_cont(value, 0.90)")} AS p90,
         |  ${sqlR4("quantile_cont(value, 0.99)")} AS p99
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // linear counting replayed: same first hash row as the CM oracle,
    // est = -k*ln(z/k) in the identical double-op order on the RAW
    // estimate (r4 applied at the surface only)
    "events_lc_distinct" ->
      s"""WITH kk AS (SELECT DISTINCT event_type AS grp, CAST(user_id AS BIGINT) AS key
         |  FROM events WHERE user_id IS NOT NULL),
         |${sqlLcCtes(4096)}
         |SELECT grp AS event_type, n_exact, occupied, ${sqlR4("est")} AS est,
         |  ${sqlR4("abs(est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)")} AS rel_err
         |FROM j ORDER BY event_type""".stripMargin,

    // same LC tail over the 56-bit shingle hashes (the minhash oracle's
    // hash fold), grouped by source
    "corpus_vocab_lc" ->
      s"""WITH tk AS (SELECT source AS grp, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS t
         |  FROM documents),
         |sh AS (SELECT grp, unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g FROM tk),
         |kk AS (SELECT grp, list_reduce(list_transform(string_split_regex(substr(md5(g), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS key
         |  FROM sh),
         |${sqlLcCtes(16384)}
         |SELECT grp AS source, n_exact, occupied, ${sqlR4("est")} AS est,
         |  ${sqlR4("abs(est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)")} AS rel_err
         |FROM j ORDER BY source""".stripMargin,

    // the decimal-digit histogram replayed: bucket = (digit count,
    // first two digits) of the 1e-2-quantized value, width via the
    // string trick (pure integer math, no float pow), midpoint and
    // rank probe in the identical double-op order
    "events_value_sketch" ->
      s"""WITH v AS (SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS q2 FROM events
         |  WHERE value IS NOT NULL AND value > 0 AND value < 9.0e16
         |    AND CAST(floor(value * 100.0 + 0.5) AS BIGINT) >= 1),
         |h AS (SELECT CAST(length(CAST(q2 AS VARCHAR)) AS BIGINT) AS digits,
         |    CAST(substr(CAST(q2 AS VARCHAR), 1, 2) AS BIGINT) AS first2,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM v GROUP BY 1, 2),
         |c AS (SELECT digits, first2, cnt,
         |    CAST(sum(cnt) OVER (ORDER BY digits, first2 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(concat('1', repeat('0', CAST(greatest(digits - 2, 0) AS INT))) AS BIGINT) AS width
         |  FROM h),
         |m AS (SELECT cum,
         |    (CAST(first2 * width AS DOUBLE) + CAST(width AS DOUBLE) / 2.0) / 100.0 AS mid
         |  FROM c),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
         |ex AS (SELECT quantile_cont(q2, 0.50) AS e50, quantile_cont(q2, 0.90) AS e90,
         |    quantile_cont(q2, 0.95) AS e95, quantile_cont(q2, 0.99) AS e99 FROM v),
         |p(p) AS (VALUES (50), (90), (95), (99)),
         |e AS (SELECT p.p, n.n, min(m.mid) AS est
         |  FROM p, n, m WHERE m.cum >= (n.n * p.p + 99) // 100 GROUP BY 1, 2),
         |f AS (SELECT e.p, e.n, e.est,
         |    (CASE e.p WHEN 50 THEN ex.e50 WHEN 90 THEN ex.e90
         |      WHEN 95 THEN ex.e95 ELSE ex.e99 END) / 100.0 AS exv
         |  FROM e, ex)
         |SELECT p, n, ${sqlR4("est")} AS est, ${sqlR4("exv")} AS exact,
         |  ${sqlR4("abs(est - exv) / exv")} AS rel_err
         |FROM f ORDER BY p""".stripMargin,

    // the same two distincts + bounded day fan-out; stickiness divides
    // exact integers
    "events_dau_wau" ->
      s"""WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
         |an AS (SELECT DISTINCT user_id, day + INTERVAL (u.k) DAY AS day
         |  FROM ud, unnest(generate_series(0, 6)) AS u(k)),
         |wau AS (SELECT day, count(*) AS wau FROM an GROUP BY day)
         |SELECT strftime(d.day, '%Y-%m-%d') AS day, CAST(d.dau AS BIGINT) AS dau,
         |  CAST(w.wau AS BIGINT) AS wau,
         |  ${sqlR4("CAST(d.dau AS DOUBLE) / w.wau")} AS stickiness
         |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin,

    // bin = exact floor(value / w) in both engines; counts are integers
    "events_histogram" ->
      s"""SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin,
         |  ${sqlR4("CAST(floor(value / 5.0) AS BIGINT) * 5.0")} AS lo,
         |  count(*) AS n
         |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,

    // per-char counts from the code-point split; every aggregate is an
    // exact integer, so the two ratios divide identical values in both
    // engines and r4 has no boundary exposure
    "text_char_diversity" ->
      s"""WITH ch AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS c
         |  FROM documents WHERE len(text) > 0),
         |counts AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
         |agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_cp,
         |    CAST(count(*) AS BIGINT) AS n_distinct,
         |    CAST(sum(n * n) AS BIGINT) AS sum_sq, CAST(max(n) AS BIGINT) AS max_n
         |  FROM counts GROUP BY doc_id)
         |SELECT doc_id, n_cp, n_distinct,
         |  ${sqlR4("1.0 - CAST(sum_sq AS DOUBLE) / CAST(n_cp * n_cp AS DOUBLE)")} AS simpson,
         |  ${sqlR4("CAST(max_n AS DOUBLE) / n_cp")} AS dominance
         |FROM agg ORDER BY doc_id""".stripMargin,

    // same quantize-then-rank order: floor(score·10⁴+0.5)/10⁴ DESC with
    // token tiebreak; ln's last ulp is absorbed by the quantization
    // (text_lm_score precedent)
    "text_keywords" ->
      s"""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |  FROM toks WHERE token <> '' GROUP BY doc_id, token),
         |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |sc AS (SELECT tf.doc_id, tf.token, tf.tf,
         |    tf.tf * ln(CAST(nn.n AS DOUBLE) / dfq.df) AS score
         |  FROM tf JOIN dfq USING (token), nn),
         |r AS (SELECT doc_id, token, tf, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY floor(score * 10000.0 + 0.5) / 10000.0 DESC, token ASC) AS rank
         |  FROM sc)
         |SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, ${sqlR4("score")} AS score
         |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // the scrubPii regex classes verbatim (engine-portable constructs
    // only); occurrence counts via regexp_extract_all
    "corpus_pii_stats" ->
      s"""WITH c AS (SELECT source,
         |    len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS e,
         |    len(regexp_extract_all(text, '${TextOps.PhoneRe}')) AS p,
         |    len(regexp_extract_all(text, '${TextOps.Ipv4Re}')) AS i
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(e) AS BIGINT) AS emails,
         |  CAST(count(*) FILTER (e > 0) AS BIGINT) AS docs_with_email,
         |  CAST(sum(p) AS BIGINT) AS phones,
         |  CAST(count(*) FILTER (p > 0) AS BIGINT) AS docs_with_phone,
         |  CAST(sum(i) AS BIGINT) AS ips,
         |  CAST(count(*) FILTER (i > 0) AS BIGINT) AS docs_with_ip
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // the lang_id argmax CTE crossed with source; fractions divide
    // exact counts
    "corpus_lang_matrix" ->
      s"""WITH t AS (SELECT source, regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk FROM documents),
         |s AS (SELECT source,
         |  len(list_filter(tk, x -> list_contains(['the','a','of','to','and','is','in','it'], x))) AS e,
         |  len(list_filter(tk, x -> list_contains(['el','la','de','que','y','en','un','es'], x))) AS sp,
         |  len(list_filter(tk, x -> list_contains(['le','la','de','et','un','que','les','des'], x))) AS f,
         |  len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','ein','zu','den'], x))) AS d,
         |  len(list_filter(tk, x -> list_contains(['de','shi','bu','le','zai','ren','you','wo'], x))) AS z
         |  FROM t),
         |l AS (SELECT source, CASE WHEN coalesce(greatest(e, sp, f, d, z), 0) = 0 THEN 'und'
         |  WHEN e >= sp AND e >= f AND e >= d AND e >= z THEN 'en'
         |  WHEN sp >= f AND sp >= d AND sp >= z THEN 'es'
         |  WHEN f >= d AND f >= z THEN 'fr'
         |  WHEN d >= z THEN 'de' ELSE 'zh' END AS lang_pred
         |  FROM s),
         |c AS (SELECT source, lang_pred, CAST(count(*) AS BIGINT) AS n
         |  FROM l GROUP BY source, lang_pred),
         |tt AS (SELECT source, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY source)
         |SELECT c.source, c.lang_pred, c.n,
         |  ${sqlR4("CAST(c.n AS DOUBLE) / tt.t")} AS frac
         |FROM c JOIN tt USING (source) ORDER BY source, lang_pred""".stripMargin,

    // the Gopher battery's mirror: same tokenization, same raw-text line
    // split (chr(10), trailing empties kept in both engines), same
    // replace()-delta occurrence counts; list_intersect/array_intersect
    // both deduplicate, so stop_hits counts DISTINCT stopwords present
    "text_gopher" ->
      s"""WITH b AS (SELECT doc_id, text,
         |    regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS tk,
         |    string_split(text, chr(10)) AS ls
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CAST(coalesce(list_sum(list_transform(tk, x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS len_sum,
         |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
         |  CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
         |  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
         |  CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len(list_filter(ls, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS BIGINT) AS n_bullet,
         |  CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS BIGINT) AS n_ellend,
         |  CAST(len(list_intersect(tk, ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
         |  FROM b),
         |d AS (SELECT doc_id, n_words, stop_hits,
         |  CASE WHEN n_words > 0 THEN CAST(len_sum AS DOUBLE) / n_words ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN n_words > 0 THEN CAST(n_hash + n_ell AS DOUBLE) / n_words ELSE 0.0 END AS symbol_ratio,
         |  CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS alpha_frac,
         |  CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE) / n_lines ELSE 0.0 END AS bullet_frac,
         |  CASE WHEN n_lines > 0 THEN CAST(n_ellend AS DOUBLE) / n_lines ELSE 0.0 END AS ellipsis_frac
         |  FROM m)
         |SELECT doc_id, n_words,
         |  ${sqlR4("mean_word_len")} AS mean_word_len,
         |  ${sqlR4("symbol_ratio")} AS symbol_ratio,
         |  ${sqlR4("alpha_frac")} AS alpha_frac,
         |  stop_hits,
         |  (n_words >= 50 AND n_words <= 100000) AS ok_words,
         |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_len,
         |  (symbol_ratio <= 0.1) AS ok_symbol,
         |  (bullet_frac <= 0.9) AS ok_bullet,
         |  (ellipsis_frac <= 0.3) AS ok_ellipsis,
         |  (alpha_frac >= 0.8) AS ok_alpha,
         |  (stop_hits >= 2) AS ok_stop,
         |  (n_words >= 50 AND n_words <= 100000
         |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
         |    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
         |    AND stop_hits >= 2) AS pass
         |FROM d ORDER BY doc_id""".stripMargin)
}
