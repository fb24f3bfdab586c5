package graft
package catalog

import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** The text family: script and unicode profiles, repetition, n-gram language models,
  * naive-Bayes language id, BM25, BPE, readability, keywords and the Gopher battery. */
object TextQueries {
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

  val all: Seq[QueryDef] = Seq(
    // extension: Unicode-script mix per document — exact code-point
    // counts by explicit range table (shared with the oracle as data):
    // the mixed-script / wrong-script curation signal. One fused scan
    QueryDef("text_scripts", ((s, dir) => {
      val m = graft.functions.NativeExprs.scriptMix(col("text"))
      docs(s, dir).select(col("doc_id"), m.as("__m"))
        .select(col("doc_id") +: ("n_cp" +:
          graft.functions.NativeExprs.ScriptOrder :+ "other")
          .map(f => col(s"__m.$f").as(f)): _*)
        .orderBy("doc_id")
    }),
      // per-char unnest with the SAME range table the kernel classifies
      // by (generated CASE arms; code-point semantics on both engines)
      {
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
    }),

    // extension: PMI-lift collocation mining — top adjacent token pairs
    // by p(ab)/(p(a)p(b)) from exact corpus counts; min-count gate,
    // quantize-then-rank bounded heap
    QueryDef("text_pmi", ((s, dir) =>
      graft.operators.TextOps.collocations(docs(s, dir), minCount = 5L, k = 20)),
      {
      val lift = "((CAST(bc.n AS DOUBLE) * CAST(tot.nt AS DOUBLE) * CAST(tot.nt AS DOUBLE)) / " +
        "(CAST(tot.nb AS DOUBLE) * CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)))"
      s"""WITH tok AS (SELECT ${sqlTokens("text")} AS t FROM documents),
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
    }),

    // extension: per-document Unicode shape profile — codepoints vs
    // UTF-8 bytes (the storage-bloat factor), astral count (UTF-16
    // surrogate load), and an is-NFC flag (how much of the corpus the
    // NFC dedup pass would actually rewrite). Map-only; null text
    // keeps NULL metrics (the null-in/NULL-out convention)
    QueryDef("text_unicode_profile", ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_cp"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        regexp_count(col("text"), lit("[\\x{10000}-\\x{10FFFF}]"))
          .cast("long").as("n_astral"),
        (TextOps.nfc(col("text")) === col("text")).cast("long").as("is_nfc"))
        .orderBy("doc_id")),
      // length() counts codepoints and strlen() UTF-8 bytes in DuckDB,
      // matching Spark length()/octet_length(); the astral class is the
      // same \x{..} escape in RE2 and Java regex; NULL = NULL is NULL
      // (null text keeps NULL metrics on both sides)
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_cp,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(len(regexp_extract_all(text, '[\x{10000}-\x{10FFFF}]')) AS BIGINT) AS n_astral,
        |  CAST(text = nfc_normalize(text) AS BIGINT) AS is_nfc
        |FROM documents ORDER BY doc_id""".stripMargin),

    // extension: code-vs-prose routing signals — exact-integer
    // structural counters and an integer-arithmetic verdict (no float
    // thresholds), so the report is bit-portable cross-engine
    QueryDef("text_code_detect", ((s, dir) =>
      docs(s, dir)
        .withColumn("__c", TextOps.codeSignals(col("text")))
        .select(col("doc_id"), col("__c.n_lines").as("n_lines"),
          col("__c.n_sym").as("n_sym"), col("__c.n_indent").as("n_indent"),
          col("__c.n_stmt").as("n_stmt"), col("__c.is_code").as("is_code"))
        .orderBy("doc_id")),
      // same structural counters; rtrim strips spaces only on both
      // engines, LIKE keeps { } literal
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
        |FROM m ORDER BY doc_id""".stripMargin),

    // extension: token counting + quality scoring (tokens + fused stats
    // materialized once)
    // extension: Gopher-style intra-document repetition filters —
    // top-token share + duplicate 2-/3-gram occurrence fractions,
    // one map-only HOF pass per doc (no shuffle; TextOps.repetitionStats)
    QueryDef("text_repetition", ((s, dir) =>
      docs(s, dir)
        .withColumn("__rep", TextOps.repetitionStats(TextOps.tokens(col("text"))))
        .select(col("doc_id") +:
          Seq("top_token_frac", "dup_2gram_frac", "dup_3gram_frac").map(f =>
            // null text → NULL fractions (null-in-null-out, the
            // text_scripts convention) — the unguarded kernel output
            // would surface a 0/0 NaN here (adversarial-data finding, r8)
            when(col("text").isNotNull, r4(col(s"__rep.$f"))).as(f)): _*)
        .orderBy("doc_id")),
      // n-gram dup fractions mirror the multiset shingle construction of
      // the dedup oracles; top token via the grouped counts (the oracle
      // needn't be map-only — only the Spark plan does)
      s"""WITH b AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
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
         |ORDER BY b.doc_id""".stripMargin),

    // extension: CCNet-style LM quality filter (perplexity proxy) — a
    // corpus char-trigram model with add-one smoothing, each doc scored
    // by its mean trigram log-probability (higher = more corpus-typical;
    // mojibake and wrong-language text sink). Model bounded by charset³,
    // rides a broadcast; scoring is explode + map-side partial mean
    QueryDef("text_lm_score", ((s, dir) => {
      val d = docsSpread(s, dir)
      TextOps.charLmScoreFused(d, lmModel(s, dir), col("text"))
        .select(col("doc_id"), col("n_trigrams"), r4(col("lm_score")).as("lm_score"))
        .orderBy("doc_id")
    }),
      // every trigram is corpus-seen here (the model IS this corpus), so
      // the smoothing floor never fires in the oracle comparison; the
      // floor path is spec-tested Spark-side
      s"""WITH g AS (SELECT doc_id, substr(text, CAST(u.i AS INT), 3) AS tri
         |  FROM documents, unnest(generate_series(1, greatest(length(text) - 2, 0))) AS u(i)),
         |c AS (SELECT tri, count(*) AS c FROM g GROUP BY tri),
         |st AS (SELECT sum(c) AS n, count(*) AS v FROM c),
         |sc AS (SELECT g.doc_id, count(*) AS n_trigrams,
         |    avg(ln((c.c + 1) / (st.n + st.v))) AS lm
         |  FROM g JOIN c USING (tri), st GROUP BY g.doc_id)
         |SELECT doc_id, n_trigrams, ${sqlR4("lm")} AS lm_score
         |FROM sc ORDER BY doc_id""".stripMargin),

    // extension: TRAINED language classifier — multinomial Naive Bayes
    // over char trigrams (the fasttext-langid shape: learn evidence from
    // labeled data instead of shipping stopword lists) fit on the
    // content-hash train split, scored on the held-out 20%. Scores are
    // fixed-point integers (⌊ln·10⁶+½⌋ per model entry, summed exactly),
    // so the argmax is bit-portable cross-engine; ties break label-asc
    QueryDef("text_nb_langid", ((s, dir) =>
      nbScored(s, dir).orderBy("doc_id")),
      // full replay of the NB fit + score: train-split gram counts,
      // fixed-point model (⌊ln·10⁶+½⌋ — floor(x+0.5) because round()
      // half-case semantics differ across engines), exact-integer
      // per-label scores, argmax with label-asc ties. sum(BIGINT) is
      // HUGEINT in DuckDB — cast back so schemas agree
      s"""WITH lbl AS (SELECT doc_id, lang AS label, text FROM documents),
         |$nbPredSql
         |SELECT doc_id, lang, pred_lang, score FROM pred ORDER BY doc_id""".stripMargin),

    // extension: the classifier's confusion matrix + per-declared-lang
    // share — the report a pipeline owner reads before trusting the
    // filter (which languages bleed into which). Same model, one rollup
    QueryDef("text_nb_confusion", ((s, dir) => {
      val cm = nbScored(s, dir)
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
      val tot = cm.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
      cm.join(tot, Seq("lang"))
        .select(col("lang"), col("pred_lang"), col("n"),
          r4(col("n").cast("double") / col("__t").cast("double")).as("share"))
        .orderBy("lang", "pred_lang")
    }),
      s"""WITH lbl AS (SELECT doc_id, lang AS label, text FROM documents),
         |$nbPredSql,
         |cm AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2),
         |tt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS t FROM cm GROUP BY lang)
         |SELECT cm.lang, cm.pred_lang, cm.n,
         |  ${sqlR4("CAST(cm.n AS DOUBLE) / CAST(tt.t AS DOUBLE)")} AS share
         |FROM cm JOIN tt USING (lang) ORDER BY cm.lang, cm.pred_lang""".stripMargin),

    // extension: classifier CALIBRATION — held-out accuracy by
    // confidence-margin band (margin = exact fixed-point gap between
    // best and second-best label scores). The operational question a
    // cheap filter answers with this: above which margin can its
    // verdict be auto-applied, and how much coverage does that leave?
    // Bands are integer thresholds on the ⌊ln·10⁶⌋ scale (0.01/0.1/1
    // nat), so banding is exact on both engines
    QueryDef("text_nb_margin", ((s, dir) => {
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
      // calibration replay: rn=1/rn=2 pivot of the scored frame gives the
      // exact-integer margin; banding thresholds are integers on the
      // fixed-point scale, counts exact, accuracy r4
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
         |FROM j GROUP BY band ORDER BY band""".stripMargin),

    QueryDef("text_stats", ((s, dir) =>
      docsSpread(s, dir)
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__stats", TextOps.tokenStats(col("__toks")))
        .select(
          col("doc_id"),
          size(col("__toks")).cast("long").as("n_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
          r4(TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats"))).as("quality"))
        .orderBy("doc_id")),
      s"""WITH b AS (SELECT doc_id, text, ${sqlTokens("text")} AS tk,
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
         |FROM m ORDER BY doc_id""".stripMargin),

    // extension: BM25 keyword scoring against a fixed term list — the
    // lexical half of hybrid corpus search. Only the constant-width
    // df/avgdl reduction shuffles; the score pass is map-only over a
    // one-row broadcast of idfs.
    QueryDef("text_bm25", ((s, dir) =>
      TextOps.bm25(docsSpread(s, dir), col("text"),
          Seq("key", "table", "scan"))
        .select(col("doc_id"), r4(col("score")).as("score"))
        .orderBy("doc_id")),
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
         |st AS (SELECT count(*) AS n, avg(len(tk)) AS avgdl FROM t),
         |tf AS (SELECT doc_id, term, len(list_filter(tk, x -> x = term)) AS tf, len(tk) AS dl
         |  FROM t, (SELECT unnest(['key', 'table', 'scan']) AS term) q),
         |dfreq AS (SELECT term, sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id, sum(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * 2.2
         |    / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
         |  FROM tf JOIN dfreq d USING (term), st GROUP BY tf.doc_id)
         |SELECT doc_id, ${sqlR4("score")} AS score FROM sc WHERE score > 0 ORDER BY doc_id""".stripMargin),

    // extension: BM25 RETRIEVAL — top-k docs per keyword query: one
    // shared scoring pass over the union of query terms, per-query fold
    // of its own term contributions, bounded-heap top-k (no ranking
    // window — pinned in PlanShapeSpec)
    QueryDef("text_bm25_topk", ((s, dir) =>
      TextOps.bm25TopK(docsSpread(s, dir), col("text"),
          Seq("q_key_table" -> Seq("key", "table"), "q_scan" -> Seq("scan", "key")),
          k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          r4(col("score")).as("score"))
        .orderBy("query_id", "rank")),
      // ranking done with a window HERE is fine — the oracle is DuckDB
      // single-node; the Spark side uses the bounded heap
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
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
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // extension: BPE merge APPLICATION — the pinned ranked merge list
    // ([[TextOps.BpeMerges]], literal-model rule) applied to the
    // vocabulary: top-200 tokens by tf with their segmentations and
    // subword counts. Kernel cost ∝ |vocab| · merges, never corpus
    // tokens; the oracle restates the per-rank replace-to-fixpoint
    // verbatim as a recursive CTE over the same `replace` primitive.
    QueryDef("text_bpe_apply", ((s, dir) =>
      graft.operators.TextOps.bpeSegmentations(
        docsSpread(s, dir), k = 200)),
      // the pinned merge list applied by a recursive CTE: per rank, iterate
      // DuckDB's `replace` (leftmost non-overlapping, same primitive the
      // native kernel loops) until fixpoint, then advance — BpeApplyExpr's
      // contract restated verbatim; joined to the tf-weighted top-200
      s"""WITH RECURSIVE $sqlBpeSegCtes,
         |btf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM btok WHERE token <> '' GROUP BY token),
         |btop AS (SELECT token, tf FROM btf ORDER BY tf DESC, token ASC LIMIT 200)
         |SELECT t.token, t.tf, b.seg, b.n_sym FROM btop t JOIN bseg b USING (token)
         |ORDER BY t.tf DESC, t.token ASC""".stripMargin),

    // extension: per-source tokenizer FERTILITY (subwords per word)
    // under the pinned merges — the tokenizer-eval metric; segmentation
    // runs once per distinct token, the rollup is one row per source
    QueryDef("text_bpe_fertility", ((s, dir) =>
      graft.operators.TextOps.bpeFertility(docsSpread(s, dir))
        .select(col("source"), col("n_words"), col("n_subwords"),
          r4(col("n_subwords").cast("double") / col("n_words")).as("fertility"))
        .orderBy("source")),
      // fertility from exact integer word/subword counts; the ratio divides
      // the same two BIGINTs in both engines, so r4 is boundary-safe
      s"""WITH RECURSIVE $sqlBpeSegCtes,
         |stf AS (SELECT source, token, count(*) AS tf FROM btok WHERE token <> '' GROUP BY source, token)
         |SELECT source, CAST(sum(tf) AS BIGINT) AS n_words,
         |  CAST(sum(tf * n_sym) AS BIGINT) AS n_subwords,
         |  ${sqlR4("CAST(sum(tf * n_sym) AS DOUBLE) / sum(tf)")} AS fertility
         |FROM stf JOIN bseg USING (token) GROUP BY source ORDER BY source""".stripMargin),

    // extension: character-diversity quality stats — Simpson collision
    // index + dominant-char ratio (the mojibake/char-flood detectors);
    // one map-only kernel pass per doc, exact integer sums so no
    // forced-order fold is needed anywhere
    QueryDef("text_char_diversity", ((s, dir) =>
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
      // per-char counts from the code-point split; every aggregate is an
      // exact integer, so the two ratios divide identical values in both
      // engines and r4 has no boundary exposure
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
         |FROM agg ORDER BY doc_id""".stripMargin),

    // extension: READABILITY — Flesch reading ease with the standard
    // vowel-group syllable proxy: every counter is an exact integer
    // (word/sentence/syllable counts from portable regex classes), so
    // the score divides identically in both engines. Map-only
    QueryDef("text_readability", ((s, dir) =>
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
      // exact-integer counters; constants explicitly CAST AS DOUBLE (the
      // note-26 decimal-literal trap)
      s"""WITH b AS (SELECT doc_id, text,
         |    list_filter(${sqlTokens("text")}, x -> x <> '') AS tk
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sentences,
         |  CAST(coalesce(list_sum(list_transform(tk, w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))), 0) AS BIGINT) AS n_syllables
         |  FROM b)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  ${sqlR4("CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sentences) - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / n_words)")} AS flesch
         |FROM m WHERE n_words > 0 ORDER BY doc_id""".stripMargin),

    // extension: TF-IDF keyword extraction — top-5 terms per doc by
    // tf·ln(N/df), quantized-then-ranked (engine-independent order,
    // token tiebreak). Vocabulary-bounded df aggregate + per-doc
    // bounded sort-slice: no ranking window, no global sort.
    QueryDef("text_keywords", ((s, dir) =>
      TextOps.tfidfTopK(docs(s, dir), k = 5)
        .select(col("doc_id"), col("rank"), col("token"), col("tf"),
          r4(col("score")).as("score"))
        .orderBy("doc_id", "rank")),
      // same quantize-then-rank order: floor(score·10⁴+0.5)/10⁴ DESC with
      // token tiebreak; ln's last ulp is absorbed by the quantization
      // (text_lm_score precedent)
      s"""WITH toks AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token
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
         |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin),

    // extension: the Gopher rule battery (Rae et al. 2021 §A1.1) — the
    // published MassiveText heuristic filter set as one map-only struct
    // per doc; every ratio divides exact integers, so even the rule
    // BOUNDARY comparisons are oracle-safe (no float drift can flip a
    // flag between engines)
    QueryDef("text_gopher", ((s, dir) =>
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
      // the Gopher battery's mirror: same tokenization, same raw-text line
      // split (chr(10), trailing empties kept in both engines), same
      // replace()-delta occurrence counts; list_intersect/array_intersect
      // both deduplicate, so stop_hits counts DISTINCT stopwords present
      s"""WITH b AS (SELECT doc_id, text,
         |    ${sqlTokens("text")} AS tk,
         |    string_split(text, chr(10)) AS ls
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  $sqlGopherCounts
         |  FROM b),
         |d AS (SELECT doc_id, n_words, stop_hits,
         |  $sqlGopherFracs
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
         |FROM d ORDER BY doc_id""".stripMargin),

    // extension: train → apply end-to-end — the vocabulary segmented
    // under the JUST-TRAINED merge table, applied distributed via the
    // bpeApply kernel with the merges inlined as literals (rule 19a).
    // The oracle reuses the unrolled training replay and reads the
    // final segmentation state (w8) directly — so the kernel's
    // rank-order application is hash-checked against the trainer's own
    // end state
    QueryDef("text_bpe_train_apply", ((s, dir) =>
      graft.operators.TextOps.bpeTrainSegmentations(
        docsSpread(s, dir), nMerges = 8, vocabCap = 500)),
      bpeTrainOracleSql(nMerges = 8, vocabCap = 500,
      finalSql = Some(
        """SELECT token, tf, trim(replace(seg, chr(31), ' ')) AS seg FROM w8
          |ORDER BY tf DESC, token ASC""".stripMargin)))
  )
}
