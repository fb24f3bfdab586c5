package graft
package catalog

import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** The corpus family: quality filtering, decontamination, mixing and assembly of a
  * training corpus over `documents`. */
object CorpusQueries {
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

  /** The ExactSubstr window-hash census at the library's pinned
    * 10-token window, memoized per (session, dir) and checkpoint-backed
    * — the same once-per-corpus-version argument as [[minhashPairs]]:
    * the span REPORT and the scrub APPLY both consume this frame, and
    * it is bounded by the flagged-doc subset, not the corpus. */
  private val substringSpansCache = new SessionMemo[String, DataFrame]
  private def substringSpans10(s: SparkSession, dir: String): DataFrame =
    substringSpansCache(s, dir)(
      Caching.truncate(Dedup.substringSpans(docs(s, dir), windowTokens = 10), eager = true))

  /** Epoch-plan mix declaration shared by `corpus_epoch_plan` and its
    * oracle — one Scala literal feeds both engines (the literal-model
    * rule), so `budget · weight` multiplies identical doubles on both
    * sides. src2/src4 etc. are deliberately unlisted: present-but-
    * unweighted sources must surface with weight 0, not vanish. */
  private val epochPlanWeights: Map[String, Double] =
    Map("src0" -> 0.3, "src1" -> 0.25, "src3" -> 0.2, "src5" -> 0.15,
      "src7" -> 0.1)
  private val epochPlanBudget: Long = 100000L

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

  val all: Seq[QueryDef] = Seq(
    // extension: rendezvous (highest-random-weight) shard assignment —
    // the deterministic distributed-writer primitive: each doc goes to
    // the shard with the greatest md5-derived weight, and growing the
    // ring 8 → 9 moves only the docs the NEW shard wins (~1/9, the
    // minimal-disruption property, visible in the `moved` column).
    // Map-only fold over a literal shard list; argmax via lexicographic
    // struct max, ties impossible in practice (56-bit weights)
    QueryDef("corpus_shard_assign", ((s, dir) => {
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
      // same md5-derived 56-bit weights; the argmax replayed as a ranked
      // unnest (weight DESC = the struct max's lexicographic order; a tie
      // would need an md5 collision)
      {
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
    }),

    // extension: ANALYZE-style table profile — per column: row count,
    // nulls, exact distinct count, and min/max rendered as strings
    // (full text omits min/max; its length profile is in corpus_stats).
    // The planner-stats report every engine ships; one pass per column,
    // all exact counts
    QueryDef("corpus_profile", ((s, dir) => {
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
      {
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
    }),

    // extension: SEMANTIC decontamination — the embedding-space
    // complement of corpus_decontaminate's n-gram gate: corpus vectors
    // too close (cosine) to a benchmark set are flagged, candidates
    // generated by the same top-2-cluster blocking as embed_neardup
    // (never all-pairs; a paraphrased benchmark item that shares no
    // 8-gram still lands in the same cluster). Benchmark = vec_id < 50,
    // a stand-in for a held-out eval set
    QueryDef("corpus_decon_semantic", ((s, dir) => {
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
         |FROM pairs GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // extension: PII scrubbing over synthetically-dirtied docs (the
    // corpus itself is PII-free, so each doc gets a deterministic
    // email/phone/IP suffix derived from its id, then the scrub must
    // remove every one of them). Output is the full scrubbed text —
    // the strongest possible equality
    QueryDef("corpus_scrub", ((s, dir) =>
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
      s"""WITH dirty AS (SELECT doc_id,
         |  substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@mail.example.com or +1 (415) 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
         |    || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 end' AS d
         |  FROM documents)
         |SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(d,
         |  '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |  '${TextOps.PhoneRe}', '<PHONE>', 'g'),
         |  '${TextOps.Ipv4Re}', '<IP>', 'g') AS clean
         |FROM dirty ORDER BY doc_id""".stripMargin),

    // extension: METHODS-AGREEMENT report for language ID — the
    // ann_recall_methods symmetry applied to classifiers: the fixed
    // stopword-vote heuristic vs the trained NB student on the SAME
    // held-out docs, as an agreement matrix with per-cell correctness
    // against the declared label. The report a curator reads to decide
    // which detector to trust where (and when the two disagree, which
    // one is right more often). Gramless docs take 'und' on the NB side
    // (the routing-door convention) so the matrix stays total
    QueryDef("corpus_langid_agreement", ((s, dir) => {
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
      // methods-agreement replay: the lang_id vote CASE over the held-out
      // split joined against the NB prediction (LEFT, gramless → 'und'),
      // rolled to the agreement matrix with per-cell correctness counts
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
         |FROM cm, tot ORDER BY cm.hx_pred, cm.nb_pred""".stripMargin),

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
    QueryDef("corpus_nb_quality", ((s, dir) => {
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
      // the DISTILLED quality filter's replay: the Gopher teacher verdict
      // (the text_gopher CTEs verbatim, down to the 0-fallback fractions;
      // stopword rule excluded — see the query comment) becomes the NB
      // label, then the same fit/score/argmax machinery; the rollup is
      // the teacher×student agreement matrix
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
         |FROM cm JOIN tt USING (teacher) ORDER BY cm.teacher, cm.student""".stripMargin),

    // extension: C4-style cross-document LINE dedup (boilerplate scrub).
    // The synthetic docs are single-line, so the query synthesizes the
    // boilerplate the way corpus_scrub synthesizes PII: every doc gains
    // an "all rights reserved" footer (dropped — in every doc), a third
    // gain a shared newsletter line (dropped), and each keeps a
    // doc-unique suffix line (kept, order preserved)
    QueryDef("corpus_line_dedup", ((s, dir) =>
      graft.operators.Corpus.lineDedup(
          docs(s, dir).select(col("doc_id"), concat(
            col("text"), lit("\n"),
            when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter"))
              .otherwise(concat(lit("unique suffix "), col("doc_id").cast("string"))),
            lit("\nall rights reserved")).as("text")))
        .orderBy("doc_id")),
      // line identity here is the raw string; Spark uses its sha-256 —
      // identical modulo hash collision (the dedup_exact caveat)
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
         |FROM d LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin),

    // extension: EXACT-SUBSTRING dedup (Lee et al. 2022 ExactSubstr,
    // sub-document granularity): 10-token windows repeated anywhere in
    // the corpus flag a span; per-doc output = flagged-window count and
    // the interval-union token coverage. Catches boilerplate embedded in
    // otherwise-unique documents that doc-level dedup cannot see.
    QueryDef("corpus_substring_dedup", ((s, dir) =>
      substringSpans10(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("n_flagged"),
          col("covered_tokens"))
        .orderBy("doc_id")),
      // same 56-bit md5-prefix window identity as the Spark kernel;
      // covered_tokens recomputed the expensive way (explode + distinct) —
      // the oracle needn't scale, the operator's interval-union fold must
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
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin),

    // the APPLY step, verified by full-text equality: every doc re-emitted
    // with repeated regions cut and survivors space-joined — consuming
    // the same memoized census frame as the span report
    QueryDef("corpus_substring_scrub", ((s, dir) =>
      Dedup.substringScrubWith(docs(s, dir),
          substringSpans10(s, dir), windowTokens = 10)
        .orderBy("doc_id")),
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
        |FROM documents d LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin),

    // extension: per-(source, language) corpus rollup — docs, exact
    // uniques (two-stage agg on the content hash, no Expand), token
    // volume, mean quality; the observability table a pipeline run
    // publishes.
    QueryDef("corpus_stats", ((s, dir) =>
      graft.operators.Corpus.stats(
          docsSpread(s, dir), col("source"), col("text"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_unique"),
          col("total_tokens"), r4(col("avg_quality")).as("avg_quality"))
        .orderBy("source", "lang")),
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
         |FROM l GROUP BY source, lang ORDER BY source, lang""".stripMargin),

    // extension: hierarchical ROLLUP — (source, lang), per-source, and
    // grand-total rows from ONE pass (Catalyst's Expand; fine here
    // because the aggregates are ADDITIVE — the repo's no-Expand rule
    // targets count_distinct, where Expand multiplies the shuffle by
    // the grouping-set count for non-combinable state). Subtotals are
    // labeled via grouping() — NOT a bare coalesce, which would
    // conflate a genuine NULL-lang data row with its source's
    // subtotal row (two identically-keyed rows with different
    // counts; the hostile fixture carries such a doc)
    QueryDef("corpus_rollup", ((s, dir) =>
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
      // GROUP BY ROLLUP replays the grouping sets; same 'ALL' coalesce
      // grouping()-labeled subtotals: a NULL-lang data row keeps its own
      // '(null)' identity instead of conflating with the subtotal row
      """SELECT CASE WHEN grouping(source) = 1 THEN 'ALL' ELSE coalesce(source, '(null)') END AS source,
        |  CASE WHEN grouping(lang) = 1 THEN 'ALL' ELSE coalesce(lang, '(null)') END AS lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY source, lang""".stripMargin),

    // extension: EXACT per-source median document length — the
    // two-level rank layout per group (no per-source sort of raw rows);
    // lower median = value at rank ceil(n/2), interpolation-free so the
    // oracle can replay it row-exactly
    QueryDef("corpus_median_length", ((s, dir) =>
      graft.operators.Corpus.groupMedian(
          docsSpread(s, dir),
          col("source"), col("n_chars"), col("doc_id"), hi = 4096L)
        .select(col("group").as("source"), col("median").as("median_chars"))
        .orderBy("source")),
      """WITH r AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
        |  count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, n_chars AS median_chars FROM r
        |WHERE rk = (n + 1) // 2 ORDER BY source""".stripMargin),

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
    QueryDef("corpus_median_length_sketch", ((s, dir) => {
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
      // the sketch twin's contract booleans are pinned TRUE per source
      // (events_sketch_check pattern); n_docs is the exact cell
      """SELECT coalesce(source, '(null)') AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS med_ok, true AS range_ok
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin),

    // extension: percentile-BAND quality trim — keep the middle 80% of
    // the r4-quantized quality distribution (drop the bottom tail as junk
    // AND the top tail as templated text). Exact ranks via the two-level
    // prefix-sum layout — no single-partition global window
    QueryDef("corpus_quality_band", ((s, dir) => {
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
      // same quality CTEs as text_stats, r4-quantized BEFORE ranking so the
      // (quality, doc_id) total order is engine-independent; percent_rank
      // spelled as (row_number − 1)/(n − 1) — tie-free by construction
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
         |ORDER BY doc_id""".stripMargin),

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
    QueryDef("corpus_quality_band_sketch", ((s, dir) => {
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
      // the sketch twin's contract booleans are pinned TRUE per source
      // (events_sketch_check pattern); n_docs is the exact cell
      """SELECT coalesce(source, '(null)') AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS lo_ok, true AS hi_ok, true AS band_ok
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin),

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
    QueryDef("corpus_clean", ((s, dir) =>
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
         |WHERE l.lang_pred = 'en' AND q.quality >= 0.45 ORDER BY doc_id""".stripMargin),

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
    QueryDef("corpus_assemble", ((s, dir) =>
      assemblePacked(assembleFiltered(s, dir))),
      s"WITH $sqlAssembleKeptCtes,\n${sqlAssembleTail("kept")}"),

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
    QueryDef("corpus_assemble_bpe", ((s, dir) =>
      assemblePacked(assembleFiltered(s, dir), tokCol = "n_tokens_bpe")),
      // the assemble chain budgeted in trained-BPE tokens: kept CTEs +
      // pack_bpe's segmentation replay (merge list to fixpoint per
      // DISTINCT vocab token, summed per instance per kept doc) + the
      // shared split/pack arithmetic on the BPE count
      s"""WITH RECURSIVE $sqlBpeSegCtes,
         |$sqlAssembleKeptCtes,
         |${sqlAssembleBpeTail("kept")}""".stripMargin),

    // extension: the FULL ingestion pipeline in one DAG — quality/lang
    // filters + exact dedup (assembleFiltered) + NEAR-dup drop (the CC
    // keep map, non-representatives anti-joined out) + deterministic
    // split + sequence packing. What a training-data job actually runs
    QueryDef("corpus_assemble_dedup", ((s, dir) =>
      assemblePacked(
        assembleFiltered(s, dir).join(
          cappedGroups(s, dir).where(col("doc_id") =!= col("rep_id"))
            .select(col("doc_id")),
          Seq("doc_id"), "left_anti"))),
      // the assemble chain with the near-dup CC drop set spliced between
      // the filter gate (kept) and the split/pack tail
      s"""WITH RECURSIVE $sqlCcCteBody,
         |$sqlAssembleKeptCtes,
         |drops AS (SELECT node FROM (SELECT node, min(lab) AS rep FROM reach GROUP BY node) WHERE node <> rep),
         |kept2 AS (SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT node FROM drops)),
         |${sqlAssembleTail("kept2")}""".stripMargin),

    // extension: the FULL pipeline budgeted in TRAINED tokens — the row
    // a pretraining user actually ships: clean → exact dedup → NEAR-dup
    // drop → split → pack, with the pack budget in trained-BPE tokens
    // (whitespace budgets overflow a real context window by whatever
    // the tokenizer splits). Same DAG as corpus_assemble_dedup; the
    // budget kernel rides the one shared tokenize pass as a fused
    // map-only expression (plan-pinned on the front half) and the CC
    // anti-join sees only narrow columns
    QueryDef("corpus_assemble_dedup_bpe", ((s, dir) =>
      assemblePacked(
        assembleFiltered(s, dir).join(
          cappedGroups(s, dir).where(col("doc_id") =!= col("rep_id"))
            .select(col("doc_id")),
          Seq("doc_id"), "left_anti"),
        tokCol = "n_tokens_bpe")),
      // the FULL pipeline on trained tokens: near-dup CC drop spliced
      // after the filter gate AND the pack budget in BPE tokens — the
      // composition of corpus_assemble_dedup's keep set with
      // corpus_assemble_bpe's segmentation-replay budget
      s"""WITH RECURSIVE $sqlBpeSegCtes,
         |$sqlCcCteBody,
         |$sqlAssembleKeptCtes,
         |drops AS (SELECT node FROM (SELECT node, min(lab) AS rep FROM reach GROUP BY node) WHERE node <> rep),
         |kept2 AS (SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT node FROM drops)),
         |${sqlAssembleBpeTail("kept2")}""".stripMargin),

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
    QueryDef("corpus_release_manifest", ((s, dir) =>
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
      // the manifest replayed: the same kept2 set, each cell recomputed
      // from the representative doc's text (dup-group members share text,
      // so min-over-group == recompute-on-rep for every column)
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
         |FROM hb GROUP BY split, source ORDER BY split, source""".stripMargin),

    // extension: the pipeline's own attrition funnel — corpus size and
    // token budget surviving each stage (raw → exact dedup → lang/
    // quality gate → near-dup drop) as ONE summary row; the number a
    // data-curation run reports. Single-row aggregates cross-joined
    // (1×1 — no data-sized join anywhere)
    QueryDef("corpus_funnel", ((s, dir) => {
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
         |  (SELECT CAST(sum(tok.n) AS BIGINT) FROM kept2 JOIN tok USING (doc_id)) AS tokens_final""".stripMargin),

    // extension: deterministic content-keyed train/val/test split —
    // map-only, stable under corpus changes (no cross-split migration on
    // append/rerun)
    QueryDef("corpus_split", ((s, dir) =>
      graft.operators.Corpus.assignSplit(docs(s, dir), col("text"))
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy("doc_id")),
      """WITH h AS (SELECT doc_id, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin),

    // extension: leakage-safe split — near-dup groups move as one unit
    // (split keyed on the group rep's content; plain content-keyed
    // splitting lets paraphrases straddle train/test)
    QueryDef("corpus_split_safe", ((s, dir) =>
      graft.operators.Corpus.assignSplitGroupSafe(docs(s, dir), cappedGroups(s, dir))
        .select(col("doc_id"), col("rep_id"), col("bucket"), col("split"))
        .orderBy("doc_id")),
      s"""$sqlCcCte,
         |g AS (SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node),
         |ar AS (SELECT d.doc_id, coalesce(g.rep_id, d.doc_id) AS rep_id
         |  FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id),
         |h AS (SELECT doc_id AS rep_id, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 100 AS bucket
         |  FROM documents)
         |SELECT ar.doc_id, ar.rep_id, h.bucket,
         |  CASE WHEN h.bucket < 80 THEN 'train' WHEN h.bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM ar JOIN h ON ar.rep_id = h.rep_id ORDER BY ar.doc_id""".stripMargin),

    // extension: overlapping token-window CHUNKING — long documents split
    // into context-window chunks (budget 32, overlap 8 → starts advance
    // by 24); the long-doc half of sequence assembly, map-only
    QueryDef("corpus_chunk", ((s, dir) =>
      graft.operators.Corpus.chunk(
          docsSpread(s, dir),
          size(TextOps.tokens(col("text"))), budget = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |tp AS (SELECT * FROM t WHERE n >= 1),
        |x AS (SELECT doc_id, n, u.i AS chunk_start
        |  FROM tp, unnest(generate_series(0, n - 1, 24)) AS u(i))
        |SELECT doc_id, chunk_start // 24 AS chunk_idx, chunk_start,
        |  least(32, n - chunk_start) AS chunk_len
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin),

    // extension: the chunks MATERIALIZED — each window's token slice as
    // text, the export that actually feeds a trainer/RAG store. Same
    // budget/overlap as corpus_chunk; map-only, text never shuffles
    QueryDef("corpus_chunk_text", ((s, dir) =>
      graft.operators.Corpus.chunkText(
          docsSpread(s, dir),
          TextOps.tokens(col("text")), budget = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),
      // same window arithmetic, plus the 1-based-inclusive list slice;
      // empty text is one empty token on both engines (split convention)
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+') AS tk
        |  FROM documents),
        |tp AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t WHERE len(tk) >= 1),
        |x AS (SELECT doc_id, tk, n, u.i AS chunk_start
        |  FROM tp, unnest(generate_series(0, n - 1, 24)) AS u(i))
        |SELECT doc_id, chunk_start // 24 AS chunk_idx, chunk_start,
        |  least(32, n - chunk_start) AS chunk_len,
        |  array_to_string(tk[chunk_start + 1 : chunk_start + least(32, n - chunk_start)], ' ') AS chunk_text
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin),

    // extension: benchmark DECONTAMINATION — train-split documents
    // sharing any 8-gram with the val split (the leakage gate before a
    // corpus ships). Hash-only join; the benchmark side is the small
    // distinct-gram set.
    QueryDef("corpus_decontaminate", ((s, dir) =>
      graft.operators.Corpus.decontaminateFromGrams(
          splitGramRows(s, dir, "train"), splitGramRows(s, dir, "val"))
        .orderBy("doc_id")),
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
         |FROM tg JOIN vg USING (hh) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // extension: contamination BY SOURCE — the acquisition-side view of
    // the leak: for each ingestion source, how many of its train-split
    // docs share a val 8-gram and how many leaked gram incidences it
    // carries. This is the report that decides which CRAWL to fix (a
    // benchmark leaking through one scraped mirror is one source row
    // here). Composes the standing index with one narrow (doc_id,
    // source) join; sources with no leak report zeros (the full source
    // roster enumerates — auditability over brevity)
    QueryDef("corpus_contamination_by_source", ((s, dir) => {
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
      // the decontaminate oracle pivoted to the source axis: flagged train
      // docs left-joined back onto the full doc roster, '(null)' sentinel
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
         |GROUP BY 1 ORDER BY source""".stripMargin),

    // extension: 13-gram decontamination — the GPT-3 convention (Brown
    // et al. 2020 appendix C decontaminates on 13-gram overlap): longer
    // grams trade recall for precision, flagging only near-verbatim
    // leakage. Same standing-index machinery at n = 13 (its own memoized
    // frame — a 13-gram index shares nothing with the 8-gram one)
    QueryDef("corpus_decontaminate_13", ((s, dir) =>
      graft.operators.Corpus.decontaminateFromGrams(
          splitGramRows(s, dir, "train", n = 13),
          splitGramRows(s, dir, "val", n = 13))
        .orderBy("doc_id")),
      // the 8-gram oracle at the GPT-3 13-gram window
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
         |FROM tg JOIN vg USING (hh) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // extension: Bloom-prefiltered decontamination — the scale shape for
    // a benchmark gram set too big to broadcast raw: the test split's
    // distinct gram hashes fold into ONE fixed-size Bloom filter
    // (Spark's runtime-filter aggregate), every train gram probes it
    // map-only, and only survivors reach the exact semi-join. No false
    // negatives → the result is EXACTLY the exact join's, which is what
    // the oracle replays (it knows nothing of the filter)
    QueryDef("corpus_decontaminate_bloom", ((s, dir) =>
      graft.operators.Corpus.decontaminateBloomFromGrams(
          splitGramRows(s, dir, "train"), splitGramRows(s, dir, "test"),
          estimatedItems = 100000L, numBits = 800000L)
        .orderBy("doc_id")),
      // the Bloom pre-filter is invisible to exact semantics (no false
      // negatives): the oracle is the plain exact decontamination against
      // the TEST split's gram set
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
         |FROM tg JOIN vg USING (hh) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // extension: k-fold cross-validation assignment — the CV analog of
    // corpus_split: fold = contentHash32 % k, a pure function of text
    // (same content → same fold in ANY corpus; no RNG, no state), so
    // folds survive re-runs and incremental appends. Map-only
    QueryDef("corpus_folds", ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          (graft.operators.Corpus.contentHash32(col("text")) % 5)
            .cast("int").as("fold"))
        .orderBy("doc_id")),
      // the same first-8-md5-hex content hash mod k
      """SELECT doc_id,
        |  CAST(list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 5 AS INT) AS fold
        |FROM documents ORDER BY doc_id""".stripMargin),

    // extension: data-quality EXPECTATIONS — the declared-constraint
    // gate (Deequ shape) a pipeline runs before promoting a corpus
    // version: five row-level checks from ONE scan + the uniqueness
    // set-check, each reported as (check, n_rows, n_violations, pass).
    // text_min_50_chars deliberately FAILS on this corpus — the report
    // must demonstrably report violations, not only zeros
    QueryDef("corpus_expectations", ((s, dir) => {
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
      // each constraint replayed as a conditional sum; "check" quoted
      // (reserved in DuckDB)
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
         |ORDER BY "check"""".stripMargin),

    // extension: contamination REPORT — decontaminate pivoted to the
    // benchmark axis: per val-split item, how many train docs share a
    // gram with it and how many of its grams leak; zero rows kept (the
    // full benchmark enumerates). The eval team's view of the same leak
    QueryDef("corpus_contamination_report", ((s, dir) =>
      graft.operators.Corpus.contaminationReportFromGrams(
          splitGrams8(s, dir).where(col("split") === "val")
            .select(col("doc_id").as("bench_id")),
          splitGramRows(s, dir, "val").withColumnRenamed("doc_id", "bench_id"),
          splitGramRows(s, dir, "train"))
        .orderBy("bench_id")),
      // the benchmark-axis pivot of the same gram pipeline: the base list
      // comes from ALL val docs (h), so gram-less short docs keep zeros
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
         |LEFT JOIN hits USING (bench_id) ORDER BY b.bench_id""".stripMargin),

    // extension: TEMPERATURE-scaled mixing shares (mT5/XLM-R style,
    // T = 2 square-root smoothing): per-source natural share, flattened
    // share, and the boost factor the mixer applies. sqrt is IEEE
    // correctly-rounded in both engines and each root is quantized
    // before the integer-exact sum, so every share is bit-identical
    QueryDef("corpus_temperature_mix", ((s, dir) =>
      graft.operators.Corpus.temperatureMix(
          docs(s, dir).withColumn("__nt", size(TextOps.tokens(col("text")))),
          col("source"), col("__nt"))
        .orderBy("source")),
      // the same quantize-each-root-then-integer-sum construction; every
      // double op replays in the same operand order
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
         |FROM q, tot ORDER BY source""".stripMargin),

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
    QueryDef("corpus_gram_index_stats", ((s, dir) => {
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
      // the standing index replayed: same split CASE (NULL bucket → ELSE
      // 'test', matching Spark's when-otherwise on a null hash), same
      // 56-bit md5-prefix gram hashes, single-distinct rollups
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
         |FROM nd LEFT JOIN x USING (split) ORDER BY split""".stripMargin),

    QueryDef("corpus_novelty", ((s, dir) =>
      graft.operators.Corpus.noveltyFromGrams(
          splitGramRows(s, dir, "val"), splitGramRows(s, dir, "train"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          r4(col("novelty")).as("novelty"))
        .orderBy("doc_id")),
      // novelty = decontaminate's complement: val-doc grams LEFT-joined
      // against the train gram set; same gram-hash pipeline as above
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
         |FROM vg LEFT JOIN rg ON vg.hh = rg.hh GROUP BY vg.doc_id ORDER BY doc_id""".stripMargin),

    // extension: TOKEN-BUDGET sampling — the maximal content-hash-order
    // prefix of the corpus whose cumulative token count fits the budget
    // ("carve a 10B-token subset"). Two-level prefix sum: per-bucket
    // totals (≤ nBuckets rows) find each bucket's offset; whole-fitting
    // buckets keep with no per-row ordering, only the one straddling
    // bucket pays a partition-local running sum.
    QueryDef("corpus_sample_budget", ((s, dir) =>
      graft.operators.Corpus.sampleToBudget(
          docsSpread(s, dir), col("text"),
          size(TextOps.tokens(col("text"))), budget = 12000L)
        .orderBy("doc_id")),
      """WITH h AS (SELECT doc_id, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv,
        |    CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |p AS (SELECT doc_id, n,
        |    sum(n) OVER (ORDER BY hv, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h WHERE n >= 1)
        |SELECT doc_id, n AS n_tokens FROM p WHERE cum <= 12000 ORDER BY doc_id""".stripMargin),

    // extension: deterministic seeded SHUFFLE — every doc's (shard, pos)
    // training-read address as a pure function of (seed, doc_id): stable
    // across reruns, resumable mid-epoch, re-dealt by changing the seed.
    // No engine RNG anywhere; the oracle replays the same md5-derived
    // 56-bit permutation key
    QueryDef("corpus_shuffle", ((s, dir) =>
      graft.operators.Corpus.deterministicShuffle(
          docs(s, dir).select("doc_id"), col("doc_id"), seed = 42L, nShards = 8)
        .orderBy("doc_id")),
      // same 56-bit md5 permutation key, same per-shard rank
      """WITH w AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) AS w
        |  FROM documents)
        |SELECT doc_id, CAST(w % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY w % 8 ORDER BY w, doc_id) AS BIGINT) - 1 AS pos
        |FROM w ORDER BY doc_id""".stripMargin),

    // extension: multi-EPOCH sampling plan — passes over each source to
    // hit a declared mix at a token budget (full epochs + the partial-
    // pass remainder + the oversampling ratio the repetition literature
    // caps). Integer arithmetic end-to-end except the advisory ratio;
    // the weight table is ONE Scala literal feeding both engines
    QueryDef("corpus_epoch_plan", ((s, dir) =>
      graft.operators.Corpus.epochPlan(
          docs(s, dir).withColumn("__nt", size(TextOps.tokens(col("text")))),
          col("source"), col("__nt"), epochPlanWeights, epochPlanBudget)
        .orderBy("source")),
      // the same literal weight table as a CASE; integer division via //
      {
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
    }),

    // extension: DSIR importance resampling — rank the raw pool by how
    // target-like each document's hashed-token distribution is (add-1-
    // smoothed bucket models, logw = Σ ln(p_tgt/p_raw)); target = the
    // curated 'src0' slice. Top-100 in (rounded-weight desc, doc_id)
    // order — the selection step of data selection via importance
    // resampling (Xie et al. 2023)
    QueryDef("corpus_dsir", ((s, dir) =>
      dsirWeightsMemo(s, dir)
        .select(col("doc_id"), col("n_tokens"), r4(col("logw")).as("logw"))
        .orderBy(desc("logw"), col("doc_id")).limit(100)),
      // same hashed-token bucket models in DuckDB: 56-bit md5 hashes mod 64,
      // add-1 smoothing, ln of the double ratio in the SAME expression shape
      // as the Spark side so the r4-rounded sums agree
      s"""WITH $sqlDsirCtes
         |SELECT doc_id, n_tokens, logw FROM w ORDER BY logw DESC, doc_id LIMIT 100""".stripMargin),

    // extension: corpus CHECKSUM manifest — per-source row count,
    // distinct-content count, exact decimal sum of 56-bit content
    // hashes, char mass: the order/partitioning-independent fingerprint
    // that proves two corpus versions (or two engines) hold identical
    // content — this project's own oracle gate, productized
    QueryDef("corpus_checksum", ((s, dir) =>
      // rides the memoized content-hash projection (one digest pass per
      // session, shared with corpus_funnel/dedup_exact) instead of
      // re-hashing the corpus; Corpus.checksum(docs, ...) is the
      // from-scratch form the operator keeps for one-shot callers
      graft.operators.Corpus.checksumFromProjected(
          hashedDocsMemo(s, dir)
            .select(col("source"), col("__h56").as("__h"), col("__nc")))
        .orderBy("source")),
      s"""WITH h AS (SELECT source, n_chars, list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 14), ''),
         |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT hv) AS BIGINT) AS n_unique,
         |  CAST(sum(hv) // 4611686018427387904 AS BIGINT) AS checksum_hi,
         |  CAST(sum(hv) % 4611686018427387904 AS BIGINT) AS checksum_lo,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM h GROUP BY source ORDER BY source""".stripMargin),

    // extension: corpus VERSION DIFF — the checksum manifest productized
    // into change detection: per source, the manifest DELTA between an
    // ancestor version (the `doc_id < 400` slice — a prior snapshot) and
    // the current corpus, which is ITSELF a manifest (counts, the exact
    // 56-bit hash-sum delta — any flipped character moves it — and char
    // mass, surfaced as the hash-robust two-BIGINT halves). Both sides
    // aggregate the ONE memoized content-hash projection: zero extra
    // digest passes, map-side-combinable aggregates only. The cross-run
    // form diffs two stored manifests without touching either corpus.
    QueryDef("corpus_version_diff", ((s, dir) => {
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
      // hugeint sum surfaced as two BIGINT halves (div/mod 2^62) — never
      // a DECIMAL(38,0) output column, whose canonicalization diverges
      // across engines even on bit-identical values (r7 red row)
      // the manifest DELTA between the < 400 ancestor slice and the full
      // corpus, replayed from scratch (the engine rides the hash memo)
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
         |  total_chars FROM d ORDER BY source""".stripMargin),

    // extension: DSIR under per-source quotas — the deployment shape of
    // importance resampling: the 10 most target-like documents of EACH
    // source (bounded heap per source, never a ranking window; r4-
    // quantized weights so the rank boundary is engine-independent)
    QueryDef("corpus_dsir_mix", ((s, dir) => {
      val w = dsirWeightsMemo(s, dir)
        .select(col("doc_id"), r4(col("logw")).as("logw"))
        .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      graft.operators.Corpus.topKPerGroup(
          w, col("source"), col("logw"), col("doc_id"), k = 10)
        .select(col("group").as("source"), col("id").as("doc_id"),
          col("score").as("logw"))
        .orderBy("source", "doc_id")
    }),
      // per-source quota on the same weights: row_number is the oracle's
      // (non-scaling) mirror of the bounded-heap top-k per group
      s"""WITH $sqlDsirCtes,
         |ws AS (SELECT d.source AS source, w.doc_id AS doc_id, w.logw AS logw
         |  FROM w JOIN documents d USING (doc_id)),
         |r AS (SELECT source, doc_id, logw,
         |    row_number() OVER (PARTITION BY source ORDER BY logw DESC, doc_id) AS rn FROM ws)
         |SELECT source, doc_id, logw FROM r WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin),

    // extension: referential-integrity audit — the data-quality
    // preflight every pipeline run starts with: row counts, key
    // uniqueness on both tables, orphans in both directions
    // (docs without an embedding / embeddings without a doc), and
    // degenerate text. One row of exact integers from 1×1 cross-joined
    // aggregates (the corpus_funnel shape); each leg is one anti-join
    // or one two-stage distinct, nothing quadratic.
    QueryDef("corpus_integrity", ((s, dir) => {
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
      // scalar-subquery restatement of each integrity leg
      """SELECT (SELECT count(*) FROM documents) AS docs_total,
        |  (SELECT count(*) FROM embeddings) AS vecs_total,
        |  (SELECT count(DISTINCT doc_id) FROM documents) AS docs_distinct,
        |  (SELECT count(DISTINCT vec_id) FROM embeddings) AS vecs_distinct,
        |  (SELECT count(*) FROM documents d WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) AS docs_without_vec,
        |  (SELECT count(*) FROM embeddings e WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)) AS vecs_without_doc,
        |  (SELECT count(*) FROM documents WHERE text IS NULL OR len(text) = 0) AS empty_text""".stripMargin),

    // extension: per-source QUALITY rollup — mean quality score
    // (r4-quantized-int mean) and Gopher pass rate per source: the
    // one-look curation scoreboard. All exact-int aggregation
    QueryDef("corpus_source_quality", ((s, dir) =>
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
      // the text_stats quality CTE + the Gopher pass conjunction, rolled
      // up per source with quantized-int means
      s"""WITH ${sqlQualityGopherCtes}
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  ${sqlR4("CAST(sum(qq) AS DOUBLE) / count(*) / 10000.0")} AS mean_quality,
         |  ${sqlR4("CAST(count(*) FILTER (gp) AS DOUBLE) / count(*)")} AS gopher_pass_rate
         |FROM d GROUP BY source ORDER BY source""".stripMargin),

    // extension: quality-score CALIBRATION — decile the corpus by the
    // heuristic quality score (interpolated percentile thresholds over
    // the quantized-long scores) and report the Gopher pass rate per
    // decile: does the cheap score actually order the rule battery?
    QueryDef("corpus_quality_calibration", ((s, dir) => {
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
      {
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
    }),

    // extension: per-source PII AUDIT — occurrence counts and
    // affected-doc counts for each scrub class (emails, phone-shaped
    // runs, IPv4), the before/after evidence for the scrub pass. The
    // regex classes are the engine-portable scrubPii patterns; counts
    // are exact ints, map-side combinable.
    QueryDef("corpus_pii_stats", ((s, dir) =>
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
      // the scrubPii regex classes verbatim (engine-portable constructs
      // only); occurrence counts via regexp_extract_all
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
         |FROM c GROUP BY source ORDER BY source""".stripMargin),

    // extension: source × detected-language mix matrix — the curation
    // dashboard crossing the declared source with the n-gram language
    // ID; fractions divide exact counts. Totals ride a broadcast, so
    // no window and nothing after the count shuffle scales with docs.
    QueryDef("corpus_lang_matrix", ((s, dir) => {
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
      // the lang_id argmax CTE crossed with source; fractions divide
      // exact counts
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
         |FROM c JOIN tt USING (source) ORDER BY source, lang_pred""".stripMargin),

    // extension: Gopher-funnel attrition — survivors after each rule
    // applied cumulatively in the published order, one row: the
    // attrition report that tells a curator WHICH rule eats the corpus.
    // One map pass + one 1-row aggregate
    QueryDef("corpus_gopher_funnel", ((s, dir) => {
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
      // same cumulative flag conjunctions over the Gopher CTE
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
         |FROM f""".stripMargin),

    // extension: corpus n-GRAM inventory — instance/type counts and
    // type-token ratio for n = 1..3: the vocabulary-growth diagnostic
    // behind shingle/BPE sizing. Three Expand-free two-stage distincts
    QueryDef("corpus_ngram_stats", ((s, dir) => {
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
      // multiset n-gram windows over nonempty tokens (the shingles
      // contract); instance/type counts are exact ints
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
         |FROM a ORDER BY n""".stripMargin),

    // extension: per-source vocabulary richness WITHOUT the distinct
    // shuffle — linear counting over the 56-bit shingle hashes (k = 16384
    // cells per source, load ≤ 0.7 at every SF): at 100 TB the exact
    // per-source distinct-shingle count shuffles the whole shingle
    // multiset, while the LC cells frame is map-side-deduplicated and
    // bounded; the exact column here is the verification twin.
    QueryDef("corpus_vocab_lc", ((s, dir) => {
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
      // same LC tail over the 56-bit shingle hashes (the minhash oracle's
      // hash fold), grouped by source
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
         |FROM j ORDER BY source""".stripMargin),

    // extension: importance sampling ∝ document length — the
    // Efraimidis-Spirakis weighted draw (Corpus.importanceSample) with
    // content-hash randomness: deterministic, stable under appends,
    // quantized-then-ranked. Weight = codepoint length (portable both
    // engines); null/empty texts have no mass and drop out.
    QueryDef("corpus_importance_sample", ((s, dir) =>
      graft.operators.Corpus.importanceSample(
          docs(s, dir), col("text"), length(col("text")), k = 64)
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("weight"), col("es_key9"))),
      // the exponential-race key replayed with identical double-op order:
      // u from the first-8-hex-digit content hash (exact in double), then
      // ((-ln(u)) / w) * 1e9 + 0.5 floored — quantized-then-ranked with
      // the doc_id tiebreak (the BM25/DSIR ln() portability discipline)
      """WITH h AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS weight,
        |    list_reduce(list_transform(string_split_regex(substr(md5(text), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS hv
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |k AS (SELECT doc_id, source, weight,
        |    CAST(floor(((-ln((CAST(hv % 1048576 AS DOUBLE) + 0.5) / 1048576.0))
        |      / CAST(weight AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) AS es_key9
        |  FROM h)
        |SELECT doc_id, source, weight, es_key9 FROM k
        |ORDER BY es_key9 ASC, doc_id ASC LIMIT 64""".stripMargin),

    // extension: doc-length histogram — token-count distribution in
    // 64-token buckets with exact shares: the curation dashboard that
    // sizes chunking/packing budgets. Map-only bucketing + one count
    QueryDef("corpus_length_histogram", ((s, dir) => {
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
      s"""WITH b AS (SELECT CAST(len(regexp_split_to_array(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS BIGINT) // 64 AS bucket
         |  FROM documents),
         |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
         |SELECT c.bucket, c.bucket * 64 AS lo_tokens, c.n,
         |  ${sqlR4("CAST(c.n AS DOUBLE) / t.t")} AS share
         |FROM c, t ORDER BY c.bucket""".stripMargin)
  )
}
