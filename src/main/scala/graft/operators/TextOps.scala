package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, n-gram shingling, language ID, quality
  * scoring, and document fingerprinting.
  *
  * These extend the reference's surface (it has none of them) per the
  * north-star brief; every function is a pure Catalyst expression — no
  * UDFs — so at 100 TB each is a map-only pass inside whole-stage codegen,
  * and each is reproducible 1:1 in the DuckDB oracle.
  *
  * Hashing convention: md5 (identical bytes→hex semantics in Spark and
  * DuckDB) so fingerprints are cross-engine verifiable; the fastest
  * non-verifiable alternative (xxhash64) is a drop-in swap for production.
  */
object TextOps {

  /** The canonical case fold for ALL text normalization in this engine:
    * ASCII-only ('A'-'Z' → 'a'-'z'; every other codepoint untouched).
    *
    * Full Unicode lowering is deliberately NOT used: Java (Spark) applies
    * full contextual mappings (İ → i+U+0307, final-sigma Σ → ς) while
    * utf8proc (DuckDB et al.) applies simple 1:1 mappings (İ → i, Σ → σ
    * everywhere) — so a cross-engine pipeline can never reproduce byte-
    * identical tokens on such text, and even single-engine results drift
    * with the JVM's Unicode data version across a mixed-version cluster.
    * ASCII folding is deterministic forever, byte-local (stays inside the
    * codegen'd byte-scan kernels), and loses nothing semantically: in a
    * multilingual corpus non-ASCII case IS content. `translate` has
    * identical per-codepoint semantics in Spark and DuckDB, so the oracle
    * twin is the same expression verbatim. */
  def asciiLower(c: Column): Column =
    translate(c, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

  /** NFC canonical normalization (UAX #15) — the ONE Unicode transform
    * this engine does apply (unlike full case folding, canonical
    * composition is engine-portable; see [[graft.functions.NativeExprs
    * .NfcNormalizeExpr]]). Use before exact-hash dedup so NFC/NFD
    * spellings of the same text (café composed vs café decomposed)
    * land in one group. */
  def nfc(text: Column): Column =
    graft.functions.NativeExprs.nfcNormalize(text)

  /** Lowercased whitespace tokenization. Native kernel; the declarative
    * twin (what the DuckDB oracle mirrors) is
    * `split(translate(trim(text), 'A'..'Z', 'a'..'z'), "\\s+")`. */
  def tokens(text: Column): Column =
    graft.functions.NativeExprs.whitespaceTokens(text)

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish regex segmentation (GPT-2-pretokenizer shape: letter runs,
    * digit runs, punctuation runs — each with an optional leading space —
    * and residual whitespace), the standard cheap proxy for subword token
    * budgeting. Count of leftmost-first matches; the pattern uses only
    * constructs with identical semantics in Java regex and RE2, so the
    * DuckDB oracle (`regexp_extract_all`) counts identically. */
  val BpeishPattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+"

  /** Approximate subword token count over the (ASCII-)lowercased text. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(asciiLower(trim(text)), lit(BpeishPattern))

  /** Word n-gram shingles (MULTISET — duplicates kept). Native kernel;
    * the declarative twin is `transform(sequence(0, size(t)-n),
    * i -> concat_ws(" ", ...))` with an explicit empty-array guard for
    * short docs (Spark's `sequence(0, -1)` would yield a DESCENDING
    * sequence, not an empty one).
    *
    * NOT deduplicated: `array_distinct` over string arrays falls off
    * Spark's primitive fast path into an O(n²) equality scan (measured
    * 10× the cost of building the shingles). Set semantics (MinHash
    * minima are dedup-invariant anyway; Jaccard needs sets) are applied
    * downstream on the md5-derived LONG hashes ([[shingleHashes]]), where
    * set ops stay primitive. */
  def shinglesFromTokens(t: Column, n: Int): Column =
    graft.functions.NativeExprs.shingles(t, n)

  /** 56-bit integer shingle identities: the first 14 md5 hex chars of each
    * shingle as a long (the same `h1` stream MinHash derives permutations
    * from). Collision probability at 2^56 is negligible at any realistic
    * per-document shingle count, so Jaccard over these equals Jaccard
    * over the strings — while intersect/distinct run on primitive longs.
    * Native kernel; the HOF twin is
    * `transform(sh, s -> conv(substring(md5(s),1,14),16,10))`. */
  def shingleHashes(sh: Column): Column =
    graft.functions.NativeExprs.shingleHashes(sh)

  /** Convenience form for tests/small frames — see [[shinglesFromTokens]]
    * for why hot paths should materialize the token column first. */
  def shingles(text: Column, n: Int): Column = shinglesFromTokens(tokens(text), n)

  /** Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_distinct(concat(a, b))).cast("double")

  /** Tiny per-language stopword inventories for the n-gram/stopword
    * language-ID heuristic. Deterministic; argmax with fixed precedence. */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "que", "les", "des"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo"))

  /** Literal map: stopword → per-language increment vector (one word may
    * vote for several languages, e.g. "de" is Spanish, French, and the
    * pinyin list). Lets [[langVotes]] score ALL languages in one pass
    * with a single hash lookup per token. */
  private lazy val stopwordVoteMap: Column = {
    val words = StopwordsByLang.flatMap(_._2).distinct
    val entries = words.flatMap { w =>
      val vec = StopwordsByLang.map { case (_, ws) => if (ws.contains(w)) 1 else 0 }
      Seq(lit(w), array(vec.map(lit): _*))
    }
    map(entries: _*)
  }

  /** Per-language stopword hit counts (repeats included) over a
    * MATERIALIZED token attribute — single traversal, one map lookup per
    * token, versus one filter pass per language. Returns an array aligned
    * with [[StopwordsByLang]] order. Interpreted HOF form — the oracle
    * mirror; hot paths use [[tokenStats]]`.votes` (bit-identical, native,
    * and fused with the quality counters). */
  def langVotes(t: Column): Column = {
    val zeros = array_repeat(lit(0), StopwordsByLang.size)
    aggregate(t, zeros, (acc, tok) =>
      zip_with(acc, coalesce(element_at(stopwordVoteMap, tok), zeros), (a, b) => a + b))
  }

  /** Fused per-token statistics — `struct(votes, stop_hits, len_sum)` in
    * ONE native pass ([[graft.functions.NativeExprs.TokenStatsExpr]]):
    * the language votes, the any-language stopword count, and the
    * code-point length sum that [[langFromVotes]] and [[qualityFromStats]]
    * consume. Hot paths materialize this as an attribute; the three HOF
    * twins it replaces each re-traversed the token array interpreted. */
  def tokenStats(t: Column): Column =
    graft.functions.NativeExprs.tokenStats(t, StopwordsByLang.map(_._2))

  /** Argmax over a MATERIALIZED [[langVotes]] attribute: highest count
    * wins, ties break by [[StopwordsByLang]] order; all-zero → "und".
    *
    * Implemented as `array_max` + first-index lookup (r14). The r13 form
    * was a `when(n > acc.n, …).otherwise(acc)` foldLeft, which inlines
    * the accumulator subtree into BOTH branches of every level — the
    * 5-language argmax expanded to an ~80-copy `element_at` CASE tree
    * per reference (3 KB of plan text per consumer; corpus_clean's lang
    * projection dominated its explain). First-index-of-max is the same
    * total order: the fold only replaces the leader on a STRICT
    * improvement, so the winner is the earliest maximum; all-zero (and
    * NULL votes) fall through to "und" in both forms. */
  def langFromVotes(votes: Column): Column = {
    val langs = array(StopwordsByLang.map(p => lit(p._1)): _*)
    val mx = array_max(votes)
    when(mx > 0, element_at(langs, array_position(votes, mx).cast("int")))
      .otherwise(lit("und"))
  }

  /** Language ID: convenience composition of [[langVotes]] +
    * [[langFromVotes]] for tests/small frames. Hot paths MUST materialize
    * the token and vote columns as attributes first (see
    * [[shinglesFromTokens]] for why) — the catalog's `lang_id`
    * (`catalog.ReferenceQueries`) does. */
  def langId(text: Column): Column = {
    // one aggregate-and-fold per row; votes appears once per element_at,
    // so this form re-evaluates the aggregate per language — fine for
    // tests, wrong for hot paths
    langFromVotes(langVotes(tokens(text)))
  }

  /** Quality score in [0,1]: linear blend of stopword ratio, mean token
    * length, and punctuation ratio, clamped. Deterministic arithmetic —
    * the shape of real quality classifiers, oracle-checkable. */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(text))

  /** [[qualityScore]] with an already-materialized token column — the
    * token expression is referenced three times (count, stopword hits,
    * mean length), so hot paths pass the attribute to tokenize once.
    * Interpreted HOF form — the oracle mirror; hot paths use
    * [[qualityFromStats]] over a materialized [[tokenStats]] attribute. */
  def qualityScoreFromTokens(text: Column, t: Column): Column = {
    val nTok = size(t).cast("double")
    val allStop = array(StopwordsByLang.flatMap(_._2).distinct.map(lit): _*)
    val stopHits = size(filter(t, tok => array_contains(allStop, tok))).cast("double")
    val lenSum = aggregate(t, lit(0.0), (acc, x) => acc + length(x).cast("double"))
    qualityFormula(text, nTok, stopHits, lenSum)
  }

  /** The quality formula over a materialized [[tokenStats]] attribute —
    * same arithmetic as [[qualityScoreFromTokens]] (the counters are
    * integer-exact in both forms, so the doubles divide identically). */
  def qualityFromStats(text: Column, t: Column, stats: Column): Column =
    qualityFormula(text, size(t).cast("double"),
      stats.getField("stop_hits").cast("double"),
      stats.getField("len_sum").cast("double"))

  private def qualityFormula(
      text: Column, nTok: Column, stopHits: Column, lenSum: Column): Column = {
    val nChars = length(text).cast("double")
    val punct = length(regexp_replace(asciiLower(text), "[a-z0-9\\s]", "")).cast("double")
    val punctRatio = when(nChars > 0, punct / nChars).otherwise(lit(0.0))
    val stopRatio = when(nTok > 0, stopHits / nTok).otherwise(lit(0.0))
    val avgTokLen = when(nTok > 0, lenSum / nTok).otherwise(lit(0.0))
    val raw = lit(0.2) + lit(0.5) * stopRatio + lit(0.05) * avgTokLen - punctRatio
    least(lit(1.0), greatest(lit(0.0), raw))
  }

  /** PII-scrub regexes. Deliberately conservative syntax — character
    * classes, bounded/unbounded repetition, `\b`, literal dots — whose
    * semantics are identical in Java regex (Spark) and RE2 (the oracle's
    * DuckDB), so the scrub is engine-portable. Greedy matching in both. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[0-9][0-9 ()-]{6,}[0-9]"

  /** PII scrubbing: emails, phone-shaped digit runs, and IPv4 literals
    * replaced with typed placeholders — the standard C4/Dolma-style
    * sanitization pass before packing. Map-only, codegen'd
    * `regexp_replace` chain (email first so its digits never feed the
    * phone pattern; placeholders contain no digits, so later passes
    * cannot re-match earlier replacements). */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailRe), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>")),
      lit(Ipv4Re), lit("<IP>"))

  /** Intra-document repetition fractions — the Gopher-style repetition
    * quality filters (Rae et al. 2021, appendix A1.1), re-expressed on
    * word n-grams: documents dominated by one token or by repeated
    * phrases are boilerplate/spam and get dropped before packing.
    * Emits a struct of
    *   - `top_token_frac`: occurrences of the most frequent token / all
    *     tokens (found as the longest equal run of the SORTED copy — an
    *     O(n log n) per-doc fold, no per-distinct-token rescan);
    *   - `dup_2gram_frac` / `dup_3gram_frac`: fraction of word-n-gram
    *     occurrences that are repeats of an earlier occurrence, via the
    *     56-bit shingle hashes so `array_distinct` stays on primitive
    *     longs (see [[shingleHashes]]).
    * Map-only: one pass per document, no shuffle, no state. Native
    * kernel ([[graft.functions.NativeExprs.RepetitionStatsExpr]]); the
    * declarative twin (`HofTwins.repetitionStatsHof`, in the tests) is
    * what the oracle mirrors and the spec pins equal. */
  def repetitionStats(t: Column): Column =
    graft.functions.NativeExprs.repetitionStats(t)

  /** Rolling-hash document fingerprint: md5 over every `window`-char
    * sliding window, keep the lexicographic minimum (winnowing-style
    * content fingerprint — robust to local edits, unlike whole-doc md5).
    * Native kernel ([[graft.functions.NativeExprs.Md5MinWindowExpr]]);
    * the HOF twin `array_min(transform(sequence(1, greatest(len-w+1, 1)),
    * i -> md5(substr(text, i, w))))` is what the oracle mirrors. */
  def fingerprint(text: Column, window: Int = 8): Column =
    graft.functions.NativeExprs.md5MinWindow(text, window)

  /** Vocabulary builder: the `k` most frequent tokens of the corpus with
    * term frequency (total occurrences) and document frequency (distinct
    * documents) — the tokenizer-training / stopword-mining primitive.
    * Ties at the cut break deterministically (tf desc, token asc).
    *
    * Scale shape: explode → groupBy(token, doc_id) → groupBy(token) —
    * the classic two-stage wordcount, each stage map-side combinable
    * (a single `count(DISTINCT doc_id)` agg would instead plan an Expand
    * that doubles every exploded row before the first shuffle). The
    * final global top-k is `TakeOrdered` over the vocabulary frame
    * (|distinct tokens| rows, not the corpus) with k bounded. */
  def vocabTop(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("token"))
      .agg(sum(col("__c")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(k)
  }

  /** First BPE-training iteration: adjacent symbol-pair frequencies over
    * the corpus — the count table whose argmax is the first merge a
    * byte-pair-encoding tokenizer learns (Sennrich et al. 2016). Returns
    * the top-`k` `(pair, n)` rows by total occurrence count (ties broken
    * by pair ascending); `n` counts every adjacent occurrence, duplicates
    * within a token included (`"aaa"` contributes two `"aa"`s), weighted
    * by the token's corpus frequency.
    *
    * Scale: the classic BPE trick — pairs are counted over the DISTINCT
    * vocabulary weighted by term frequency, so the explode is ∝ |vocab| ·
    * avg token length, not corpus tokens. The wordcount that builds the
    * vocab is the same map-side-combinable two-stage shape as
    * [[vocabTop]]; the result is a bounded top-k
    * (`TakeOrderedAndProject`), never a global sort. */
  def bpeMergePairs(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .where(length(col("token")) >= 2)
      .select(col("tf"), explode(charNgrams(col("token"), 2)).as("pair"))
      .groupBy(col("pair")).agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** Train a BPE merge table: `nMerges` iterations of count-adjacent-
    * pairs → take the argmax → merge it everywhere (Sennrich et al.
    * 2016), over the top-`vocabCap` vocabulary weighted by term
    * frequency. Returns `(step, left_sym, right_sym, freq)` — the ranked
    * merge list [[bpeApply]] consumes.
    *
    * Scale (the SURVEY §11 rule-19a move): the only corpus-proportional
    * work is the ONE two-stage wordcount behind [[vocabTop]]; training
    * state is the ≤ `vocabCap`-row word-frequency table — bounded by
    * model size, not data — so it collects to the driver and the exact
    * merge loop runs there, which is how production tokenizer trainers
    * work (they train on word counts, not corpora). Each iteration is
    * O(vocab · avg word length); nothing per-iteration touches the
    * cluster.
    *
    * Determinism contract (what makes the full-SQL oracle possible):
    * the argmax tie-break is (count desc, then (left, right) ascending
    * in CODE-POINT order — matching UTF-8 binary collation, not Java's
    * UTF-16 `compareTo`); merging applies left-to-right,
    * non-overlapping, exactly `replace()`'s semantics on a
    * separator-framed segmentation string. Words containing U+001F (the
    * oracle's separator) are excluded AFTER the top-V cut on both
    * engines. Requires enough pair mass for `nMerges` distinct merges —
    * true for any real corpus; the loop stops early (fewer rows) if
    * pairs run dry. */
  def bpeTrain(docs: DataFrame, nMerges: Int = 8, vocabCap: Int = 500): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(docs, nMerges, vocabCap)
      .toDF("step", "left_sym", "right_sym", "freq")
  }

  /** [[bpeTrain]] composed with distributed application: train the merge
    * table, then segment the SAME top-V vocabulary with the trained
    * model via the [[bpeApply]] kernel -- the merges ride the plan as
    * literals (rule 19a: model-bounded state inlines; no join). Trained
    * merges are self-consistent by construction (each operand is a char
    * or a strictly earlier product -- pinned in TextOpsSpec), which is
    * exactly the contract under which the kernel's sequential rank-order
    * application reproduces the trainer's final segmentation state.
    * Returns `(token, tf, seg)` by (tf desc, token). */
  def bpeTrainSegmentations(docs: DataFrame, nMerges: Int = 8,
      vocabCap: Int = 500): DataFrame = {
    val merges = trainMerges(docs, nMerges, vocabCap)
      .map { case (_, l, r, _) => (l, r) }
    vocabTop(docs, vocabCap)
      .where(col("token") =!= "" && !col("token").contains("\u001f"))
      .select(col("token"), col("tf"),
        bpeApply(col("token"), merges).as("seg"))
      .orderBy(col("tf").desc, col("token").asc)
  }

  private def trainMerges(docs: DataFrame, nMerges: Int,
      vocabCap: Int): Seq[(Int, String, String, Long)] = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = vocabTop(docs, vocabCap)
      .select(col("token"), col("tf"))
      .as[(String, Long)].collect()
      .filter { case (w, _) => w.nonEmpty && !w.contains('\u001f') }
    def cps(s: String): Array[String] =
      s.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    def cpCompare(a: String, b: String): Int = {
      val ai = a.codePoints().iterator()
      val bi = b.codePoints().iterator()
      while (ai.hasNext && bi.hasNext) {
        val c = Integer.compare(ai.nextInt(), bi.nextInt())
        if (c != 0) return c
      }
      java.lang.Boolean.compare(ai.hasNext, bi.hasNext)
    }
    var segs: Array[(Array[String], Long)] = words.map { case (w, f) => (cps(w), f) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var dry = false
    while (step <= nMerges && !dry) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (ss, f) =>
        var i = 0
        while (i < ss.length - 1) {
          val k = (ss(i), ss(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) dry = true
      else {
        val ((l, r), c) = counts.iterator.reduce { (x, y) =>
          val byCount = java.lang.Long.compare(x._2, y._2)
          val cmp =
            if (byCount != 0) -byCount // higher count wins
            else {
              val byL = cpCompare(x._1._1, y._1._1)
              if (byL != 0) byL else cpCompare(x._1._2, y._1._2)
            }
          if (cmp <= 0) x else y
        }
        merges += ((step, l, r, c))
        segs = segs.map { case (ss, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < ss.length) {
            if (i < ss.length - 1 && ss(i) == l && ss(i + 1) == r) {
              out += l + r; i += 2
            } else { out += ss(i); i += 1 }
          }
          (out.toArray, f)
        }
        step += 1
      }
    }
    merges.result()
  }

  /** The pinned demo merge list for [[bpeApply]] — ranked, and
    * SELF-CONSISTENT (each merge's operands are single characters or
    * products of strictly earlier merges), which is the condition under
    * which applying merges sequentially in rank order equals the
    * rank-priority application real tokenizers run. Production derives
    * this table from [[bpeMergePairs]] iterations; the query pins a
    * literal list for the same reason the streaming DSIR gate pins its
    * model — the oracle must be able to restate the model verbatim. */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "in" -> "g", "o" -> "u",
    "s" -> "t", "e" -> "d")

  /** Apply a ranked BPE merge list to one token (native kernel — see
    * [[graft.functions.NativeExprs.BpeApplyExpr]] for the fixpoint
    * contract). Returns the space-joined segmentation string. */
  def bpeApply(token: Column, merges: Seq[(String, String)] = BpeMerges): Column =
    graft.functions.NativeExprs.bpeApply(token, merges)

  /** Per-document token count under a TRAINED BPE merge list — what
    * [[graft.operators.Corpus.pack]] budgets by when packing for a real
    * tokenizer (whitespace words under-count everything the tokenizer
    * splits, so whitespace-budgeted packs overflow the context window).
    * MAP-ONLY by design: one [[bpeApply]] kernel call per token INSTANCE
    * inside a fused filter+aggregate — no vocabulary join, no shuffle,
    * so the packer's count input rides the scan partition. The
    * per-instance kernel is O(len · merges) (merges is a small model
    * constant); [[bpeFertility]] shows the join variant that amortizes
    * segmentation over distinct vocabulary when a token shuffle is
    * already being paid. Null text → null (dropped by the packer's
    * `n_tokens >= 1` gate, like every degenerate count). */
  def bpeTokenCountTrained(
      text: Column, merges: Seq[(String, String)] = BpeMerges): Column =
    bpeTokenCountFromTokens(tokens(text), merges)

  /** [[bpeTokenCountTrained]] over an ALREADY-tokenized column — for
    * DAGs (the assemble pipeline) that compute every verdict column off
    * one shared tokenize pass: the budget kernel rides that pass instead
    * of re-splitting the text. */
  def bpeTokenCountFromTokens(
      toks: Column, merges: Seq[(String, String)] = BpeMerges): Column =
    aggregate(
      filter(toks, t => t =!= ""),
      lit(0L),
      (acc, t) => acc + size(split(bpeApply(t, merges), " ")).cast("long"))

  /** BPE segmentation table: the top-`k` vocabulary tokens by corpus
    * term frequency with their merged segmentations and subword counts —
    * the tokenizer-debugging view ("what does the vocab actually
    * segment to?").
    *
    * Scale: the segmentation (the O(len · merges) kernel) runs over the
    * DISTINCT vocabulary produced by the map-side-combinable two-stage
    * wordcount, never over corpus token instances; the result is a
    * bounded top-k (`TakeOrderedAndProject`), never a global sort. */
  def bpeSegmentations(docs: DataFrame, k: Int,
      merges: Seq[(String, String)] = BpeMerges): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    docs.select(explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .withColumn("seg", bpeApply(col("token"), merges))
      .withColumn("n_sym", size(split(col("seg"), " ")).cast("long"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(k)
  }

  /** Per-source tokenizer fertility (subwords emitted per word) under a
    * BPE merge list — the standard tokenizer-evaluation metric: a
    * fertility spike on one source means the merge table under-serves
    * that domain's vocabulary.
    *
    * Scale: segmentation cost ∝ |distinct vocabulary| (one kernel call
    * per distinct token, shared across sources), then one shuffle on the
    * token key joins per-(source, token) frequencies to subword counts,
    * and the rollup is map-side combinable to one row per source. */
  def bpeFertility(docs: DataFrame,
      merges: Seq[(String, String)] = BpeMerges): DataFrame = {
    val st = docs.select(col("source"), explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("tf"))
    val vocab = st.select(col("token")).distinct()
      .select(col("token"),
        size(split(bpeApply(col("token"), merges), " ")).as("n_sym"))
    st.join(vocab, Seq("token"))
      .groupBy(col("source"))
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * col("n_sym")).as("n_subwords"))
  }

  /** TF-IDF keyword extraction: the top-`k` terms per document by
    * `tf · ln(N / df)` (raw counts, unsmoothed idf — a term in every
    * document scores exactly 0). The score is QUANTIZED to 4 decimals
    * before ranking (the repo's quantize-then-rank rule) so the
    * (score, token) total order — and hence top-k membership — is
    * engine-independent up to a measure-zero rounding-boundary ulp;
    * ties break token-ascending.
    *
    * Scale shape: one token explode into a map-side-combinable
    * `(doc, token)` count, a vocabulary-keyed df aggregate (rows
    * bounded by vocabulary, not corpus), one join back on token, and a
    * per-doc `array_sort` + `slice` top-k whose state is bounded by the
    * document's own distinct-token count — no ranking window, no
    * global sort. */
  def tfidfTopK(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val q4 = (c: Column) => floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
    // Persisted (r14): the (doc, token) count frame feeds BOTH the df
    // aggregate and the score join, and Catalyst rewrites the df branch's
    // inner aggregate to a distinct (pruning the tf count), so the two
    // subtrees stop being exchange-identical and the corpus was tokenized
    // TWICE per pass (2 scans in the physical plan). The cached frame is
    // the [[graft.operators.Dedup.minhashLsh]] digest-pass discipline:
    // narrow (long, token, long) rows, one tokenize pass per
    // materialization, both consumers read the columnar cache.
    val tf = graft.Caching.ensureCached(
      toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")))
    val n = docs.agg(count(lit(1)).as("__n"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("token")).crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("__n").cast("double") / col("df")))
      // 0.0 - q (not unary minus): -0.0 must not order differently
      // from 0.0 under the struct sort
      .withColumn("__negq", lit(0.0) - q4(col("score")))
    scored.groupBy(col("doc_id"))
      .agg(slice(array_sort(collect_list(struct(
        col("__negq"), col("token"), col("tf"), col("score")))), 1, k).as("__top"))
      .select(col("doc_id"), posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(col("doc_id"), (col("__p") + 1).cast("int").as("rank"),
        col("__e.token").as("token"), col("__e.tf").as("tf"),
        col("__e.score").as("score"))
  }

  /** The Gopher quality-rule stop list (Rae et al. 2021, §A1.1): a
    * document must contain at least [[GopherMinStopHits]] DISTINCT words
    * from this list to pass the stop-word rule. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2

  /** The Gopher rule battery (Rae et al. 2021, Appendix A1.1) — the
    * published heuristic filter set MassiveText was built with, as one
    * map-only struct per document. Rules (all boundaries inclusive on
    * the passing side, matching the paper's "between"/"no more than"
    * phrasing):
    *
    *   - `ok_words`:    50 ≤ word count ≤ 100,000
    *   - `ok_mean_len`: 3 ≤ mean word length ≤ 10 characters
    *   - `ok_symbol`:   (`#` + `...` occurrences) / words ≤ 0.1
    *   - `ok_bullet`:   ≤ 90% of lines start with a bullet (`-` `*` `•`)
    *   - `ok_ellipsis`: ≤ 30% of lines end with `...` or `…`
    *   - `ok_alpha`:    ≥ 80% of words contain ≥ 1 alphabetic character
    *   - `ok_stop`:     ≥ 2 distinct [[GopherStopwords]] present
    *   - `pass`:        conjunction of all seven
    *
    * Every counter is integer-exact (counts and `replace`-difference
    * occurrence counts), so the derived ratios are single divisions of
    * exact integers — bit-identical across engines, making even the
    * boundary comparisons oracle-safe. The whole battery is one
    * whole-stage-codegen map pass: at 100 TB it rides the scan.
    *
    * `t` is the materialized lowercased token attribute ([[tokens]]);
    * `text` is the RAW text (line structure and case preserved — the
    * bullet/ellipsis line rules read the original lines). */
  def gopherFlags(text: Column, t: Column): Column =
    gopherFlagsFromCounters(text,
      graft.functions.NativeExprs.gopherTokenStats(t, GopherStopwords),
      graft.functions.NativeExprs.gopherLineStats(text))

  private[graft] def gopherFlagsFromCounters(
      text: Column, tokenStats: Column, lineStats: Column): Column = {
    val nWords = tokenStats.getField("n_words")
    val nWordsD = nWords.cast("double")
    val lenSum = tokenStats.getField("len_sum")
    val meanLen = when(nWords > 0, lenSum.cast("double") / nWordsD).otherwise(lit(0.0))
    // occurrence counts via length deltas: replace() is non-overlapping
    // left-to-right in both engines, so the counts match exactly
    val nHash = (length(text) - length(replace(text, lit("#"), lit("")))).cast("long")
    val nEllipsis =
      ((length(text) - length(replace(text, lit("..."), lit("")))) / lit(3)).cast("long")
    val symbolRatio =
      when(nWords > 0, (nHash + nEllipsis).cast("double") / nWordsD).otherwise(lit(0.0))
    val alphaWords = tokenStats.getField("n_alpha")
    val alphaFrac =
      when(nWords > 0, alphaWords.cast("double") / nWordsD).otherwise(lit(0.0))
    val nLines = lineStats.getField("n_lines").cast("double")
    val bulletLines = lineStats.getField("n_bullet").cast("double")
    val ellipsisLines = lineStats.getField("n_ellend").cast("double")
    val bulletFrac = when(nLines > 0, bulletLines / nLines).otherwise(lit(0.0))
    val ellipsisFrac = when(nLines > 0, ellipsisLines / nLines).otherwise(lit(0.0))
    val stopHits = tokenStats.getField("stop_hits")
    val okWords = nWords >= 50L && nWords <= 100000L
    val okMeanLen = meanLen >= 3.0 && meanLen <= 10.0
    val okSymbol = symbolRatio <= 0.1
    val okBullet = bulletFrac <= 0.9
    val okEllipsis = ellipsisFrac <= 0.3
    val okAlpha = alphaFrac >= 0.8
    val okStop = stopHits >= GopherMinStopHits
    struct(
      nWords.as("n_words"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      alphaFrac.as("alpha_frac"),
      bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"),
      stopHits.as("stop_hits"),
      okWords.as("ok_words"),
      okMeanLen.as("ok_mean_len"),
      okSymbol.as("ok_symbol"),
      okBullet.as("ok_bullet"),
      okEllipsis.as("ok_ellipsis"),
      okAlpha.as("ok_alpha"),
      okStop.as("ok_stop"),
      (okWords && okMeanLen && okSymbol && okBullet &&
        okEllipsis && okAlpha && okStop).as("pass"))
  }

  /** Per-document character-distribution stats (native kernel, one
    * map-only pass): `struct(n_cp, n_distinct, sum_sq, max_n)`. The
    * derived Simpson collision index `1 − Σp²` and dominance ratio
    * `max n_c / N` are the mojibake/keyboard-mash/char-flood detectors
    * of the quality-filter family, chosen over Shannon entropy because
    * they are exact-rational (integer sums in any order + one double
    * division) and therefore bit-identical across engines — entropy's
    * libm logs are not. */
  def charDiversity(text: Column): Column =
    graft.functions.NativeExprs.charDiversity(text)

  /** Character n-gram windows in code points (native kernel). */
  def charNgrams(text: Column, n: Int): Column =
    graft.functions.NativeExprs.charNgrams(text, n)

  /** Corpus character-trigram language model — the CCNet-style
    * perplexity-proxy quality filter: documents whose character
    * statistics are typical of the reference corpus score high; OCR
    * garbage, encoding mojibake, and wrong-language text score low.
    * Returns `(tri, logp)` with add-one smoothing
    * `logp = ln((count + 1) / (N + V))`, plus the `(N, V)` totals on
    * every row so scorers can derive the unseen-trigram floor
    * `ln(1 / (N + V))` without a second frame.
    *
    * Scale shape: explode → two-stage count (map-side combinable; the
    * shuffle carries 3-char keys bounded by charset³, not the corpus);
    * the totals fold to one broadcast row. */
  def charLmModel(reference: DataFrame, text: Column): DataFrame = {
    val counts = reference.select(explode(charNgrams(text, 3)).as("tri"))
      .groupBy(col("tri")).agg(count(lit(1)).as("__c"))
    val stats = counts.agg(sum(col("__c")).as("__n"), count(lit(1)).as("__v"))
    counts.crossJoin(broadcast(stats))
      .select(col("tri"),
        log((col("__c") + lit(1)) / (col("__n") + col("__v"))).as("logp"),
        col("__n"), col("__v"))
  }

  /** Score `docs` against a [[charLmModel]]: mean trigram log-probability
    * (higher = more corpus-typical), unseen trigrams at the smoothing
    * floor. Emits `(doc_id, n_trigrams, lm_score)`; documents shorter
    * than 3 code points have no trigrams and are absent, like every
    * per-gram operator here. The model rides a broadcast; scoring is one
    * explode + map-side partial mean per doc — no corpus-sized shuffle. */
  def charLmScore(docs: DataFrame, model: DataFrame, text: Column): DataFrame = {
    val stats = model.select(col("__n"), col("__v")).limit(1)
    docs.select(col("doc_id"), explode(charNgrams(text, 3)).as("tri"))
      .join(broadcast(model.select(col("tri"), col("logp"))), Seq("tri"), "left_outer")
      .crossJoin(broadcast(stats))
      // unseen trigram → the add-one floor ln(1 / (N + V))
      .withColumn("__lp", coalesce(col("logp"), -log(col("__n") + col("__v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), avg(col("__lp")).as("lm_score"))
  }

  /** [[charLmScore]] fused into one compiled pass per document
    * ([[graft.functions.NativeExprs.CharLmScoreExpr]]): the model is
    * collected to the driver (bounded by charset³ — the LSH-planes
    * collect class, NOT proportional to data) and shipped as expression
    * constructor data, so scoring never explodes trigram rows or joins.
    * Equal to [[charLmScore]] up to float regrouping (spec-pinned at
    * 1e-12 relative). Prefer this for scoring; keep the join-based form
    * when the model must stay distributed (e.g. per-language models
    * unioned past driver comfort). */
  def charLmScoreFused(docs: DataFrame, model: DataFrame, text: Column): DataFrame = {
    val entries = model.select(col("tri"), col("logp")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val stats = model.select(col("__n"), col("__v")).head()
    val floor = -math.log((stats.getLong(0) + stats.getLong(1)).toDouble)
    docs
      .select(col("doc_id"),
        graft.functions.NativeExprs.charLmScore(text, entries, floor).as("__s"))
      .where(col("__s").isNotNull)
      .select(col("doc_id"), col("__s.n_trigrams").as("n_trigrams"),
        col("__s.lm_score").as("lm_score"))
  }

  /** BM25 keyword scoring of every document against a fixed term list —
    * the lexical-retrieval half of a hybrid (BM25 + ANN) corpus search,
    * and the relevance filter a targeted-crawl pipeline scores pages
    * with. Lucene-shaped formula: `idf = ln(1 + (N − df + ½)/(df + ½))`,
    * `score = Σ_t idf_t · tf_t(k1+1) / (tf_t + k1(1 − b + b·dl/avgdl))`.
    * Returns `(doc_id, score)` for matching documents only (score > 0).
    *
    * Scale shape: two passes, no per-token shuffle. Pass 1 computes the
    * per-term tf vector map-side (the term list is a literal array) and
    * reduces to |terms| document frequencies plus the (N, avgdl) pair —
    * a constant-width aggregate. Pass 2 re-derives tf map-side, joins
    * the ONE-row idf/stats frames by broadcast, and scores each document
    * with an `aggregate` HOF over the zipped (tf, idf) arrays — so the
    * only shuffle in the whole operator is the constant-width stats
    * reduction, and the score pass is pure whole-stage codegen. */
  def bm25(
      docs: DataFrame,
      text: Column,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Contribs(docs, text, terms, k1, b)
      .withColumn("score",
        aggregate(col("__contribs"), lit(0.0), (acc, x) => acc + x))
      .where(col("score") > 0)
      .select(col("doc_id"), col("score"))

  /** Shared BM25 scoring pass: `(doc_id, __contribs)` where
    * `__contribs[i]` is term i's additive BM25 contribution for the
    * document. [[bm25]] folds the whole array; [[bm25TopK]] folds each
    * query's term positions. Plan shape as documented on [[bm25]]. */
  private def bm25Contribs(
      docs: DataFrame,
      text: Column,
      terms: Seq[String],
      k1: Double,
      b: Double): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val termArr = array(terms.map(lit): _*)
    def withTf(df: DataFrame): DataFrame =
      df.select(col("doc_id"), tokens(text).as("__tk"))
        .withColumn("__dl", size(col("__tk")))
        .withColumn("__tfs",
          transform(termArr, t => size(filter(col("__tk"), x => x === t))))
        .drop("__tk")
    // ONE constant-width stats aggregate (r14): the term list is a
    // literal, so per-term document frequency is |terms| fixed
    // `sum(when(__tfs[i] > 0, 1))` columns in the SAME aggregate that
    // computes (N, avgdl), and the positionally-ordered idf array is a
    // literal `array(...)` over those sums. The r13 form ran THREE
    // tokenize passes per materialization (df posexplode→groupBy chain,
    // corpus-stats pass, score pass) where the scaladoc promised two —
    // this restores two, and drops the posexplode/groupBy/collect_list
    // machinery. Same arithmetic on the same exact integer counts →
    // bit-identical idfs.
    val dfAggs = terms.indices.map(i =>
      sum(when(element_at(col("__tfs"), i + 1) > 0, 1L).otherwise(0L))
        .as(s"__df_$i"))
    val statsAggs =
      Seq(count(lit(1)).as("__n"), avg(col("__dl")).as("__avgdl")) ++ dfAggs
    // Persisted (r15): the tf projection feeds BOTH the corpus-stats
    // aggregate and the score pass — the last duplicate tokenize pass
    // the r14 rewrite left (2 → 1 per materialization; plan scans 4→3
    // for text_bm25, 14→13 for hybrid_rrf_query). Narrow
    // (doc_id, __dl, |terms| ints) rows; same digest-pass discipline as
    // [[tfidfTopK]]. Paired probe: hybrid_rrf_query 1.04 → 0.81 s;
    // text_bm25 itself flat-in-noise locally (its tokenize kernel is
    // cheap at sf0.1) — the persist is kept for the pass-count
    // reduction, which is what matters at scale (the r14
    // when-does-persist-pay rule: the recomputed subtree here is the
    // tokenize+per-term-scan kernel, not a map-only projection).
    val tf = graft.Caching.ensureCached(withTf(docs))
    val stats = tf
      .agg(statsAggs.head, statsAggs.tail: _*)
      .select(col("__n"), col("__avgdl"),
        array(terms.indices.map(i =>
          log(lit(1.0) + (col("__n") - col(s"__df_$i") + lit(0.5)) /
            (col(s"__df_$i") + lit(0.5)))): _*).as("__idfs"))
    tf
      .crossJoin(broadcast(stats))
      .withColumn("__contribs",
        zip_with(col("__tfs"), col("__idfs"), (tf, idf) =>
          idf * tf.cast("double") * lit(k1 + 1.0) /
            (tf.cast("double") + lit(k1) * (lit(1.0 - b) +
              lit(b) * col("__dl").cast("double") / col("__avgdl")))))
      .select(col("doc_id"), col("__contribs"))
  }

  /** BM25 RETRIEVAL: the top-`k` documents per query, for a small batch
    * of keyword queries — the serving shape of [[bm25]] (which scores
    * the whole corpus for one term list).
    *
    * Returns `(query_id, rank, doc_id, score)` with rank 1..k by
    * descending score, ties to the smaller doc_id (deterministic).
    *
    * Scale shape: one [[bm25Contribs]] pass over the UNION of all query
    * terms (each document is tokenized and scored once, however many
    * queries share terms), then each query — a broadcast row carrying
    * its term positions — folds just its own contributions, and the
    * per-query top-k is the bounded-heap [[graft.functions.TopKPairsAgg]]
    * (O(k) state per query, map-side combinable). No ranking window:
    * a window would funnel the full scored corpus through one task per
    * query. Pinned in PlanShapeSpec. */
  def bm25TopK(
      docs: DataFrame,
      text: Column,
      queries: Seq[(String, Seq[String])],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import graft.functions.TopKPairsAgg.topKPairs
    require(k > 0, s"k must be positive, got $k")
    require(queries.nonEmpty, "at least one query required")
    queries.foreach { case (q, ts) =>
      require(ts.nonEmpty, s"query $q has no terms") }
    val universe = queries.flatMap(_._2).distinct
    val spark = docs.sparkSession
    import spark.implicits._
    val queryFrame = queries
      .map { case (q, ts) => (q, ts.map(universe.indexOf)) }
      .toDF("query_id", "__positions")
    bm25Contribs(docs, text, universe, k1, b)
      .crossJoin(broadcast(queryFrame))
      .withColumn("score",
        aggregate(
          transform(col("__positions"), p => element_at(col("__contribs"), p + 1)),
          lit(0.0), (acc, x) => acc + x))
      .where(col("score") > 0)
      .groupBy(col("query_id"))
      .agg(topKPairs(-col("score"), col("doc_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("rank", "p")))
      .select(col("query_id"), (col("rank") + 1).cast("long").as("rank"),
        col("p.id").as("doc_id"), (-col("p.distance")).as("score"))
  }

  /** Top-`k` collocations by PMI lift: adjacent token pairs ranked by
    * `p(ab) / (p(a)·p(b))` — the multi-word-expression detector ("new
    * york"-style units a tokenizer or stopword list should know about).
    * `lift` is computed as `(c_ab·N_t·N_t) / (N_b·c_a·c_b)` from exact
    * corpus counts in a fixed operand order (one double division), so
    * the ranking key is engine-identical; a `minCount` gate kills the
    * hapax noise that otherwise dominates PMI.
    *
    * Scale shape: two map-side-combinable counts (unigrams, adjacent
    * pairs — the explode is 1× and 2× the token stream, never d²), two
    * narrow equi-joins on word keys, a 1×1 broadcast of the two totals,
    * and a bounded top-k heap (`TakeOrderedAndProject`) with
    * quantize-then-rank (r4 lift, then (w1, w2) ascending) so the
    * boundary is deterministic cross-engine. */
  def collocations(docs: DataFrame, minCount: Long, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val tk = docs.select(tokens(col("text")).as("__t"))
    val bi = tk
      .where(size(col("__t")) >= 2)
      .select(explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    // both count frames feed multiple consumers (totals + joins); they
    // are vocabulary-bounded, so persisting them stops the corpus from
    // being re-tokenized once per DAG branch (the memoize-converged-
    // RESULTS rule; blocks fall away on the session's catalog clears)
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .persist()
    val uni = tk.select(explode(col("__t")).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .persist()
    val tot = bc.agg(sum(col("n")).as("__nb"))
      .crossJoin(uni.agg(sum(col("__c")).as("__nt")))
    val r4 = (c: Column) => floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
    bc.where(col("n") >= minCount)
      .join(uni.select(col("__w").as("w1"), col("__c").as("__ca")), Seq("w1"))
      .join(uni.select(col("__w").as("w2"), col("__c").as("__cb")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("lift", r4(
        (col("n").cast("double") * col("__nt").cast("double")
          * col("__nt").cast("double")) /
        (col("__nb").cast("double") * col("__ca").cast("double")
          * col("__cb").cast("double"))))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select(col("w1"), col("w2"), col("n"), col("lift"))
  }

  /** Code-vs-prose signals — the routing/filter step a mixed web corpus
    * needs before language-model training (code wants different
    * dedup/quality treatment than prose). Three structural counters,
    * all exact integers so the derived ratios and the verdict are
    * bit-portable cross-engine:
    *
    *  - `n_sym`: occurrences of the code-symbol class `{}[]();=<>`
    *  - `n_indent`: lines starting with 4 spaces or a tab
    *  - `n_stmt`: lines whose space-trimmed tail ends in `;`, `{` or `}`
    *
    * The verdict is integer arithmetic only (no float thresholds):
    * symbol-dense text (>= 1 symbol per 20 chars, at least one) or
    * statement-shaped multi-line text (>= 1/3 of >= 3 lines) is code.
    * Null text propagates NULL (the null-in/NULL-out convention);
    * empty text is prose (the n_sym > 0 gate). Map-only pass. */
  def codeSignals(text: Column): Column = {
    val lines = split(text, "\n")
    val nChars = length(text).cast("long")
    val nSym = length(regexp_replace(text, "[^{}\\[\\]();=<>]", "")).cast("long")
    val nLines = size(lines).cast("long")
    val nIndent = size(filter(lines,
      l => l.startsWith("    ") || l.startsWith("\t"))).cast("long")
    val nStmt = size(filter(lines, l => {
      val r = rtrim(l)
      r.endsWith(";") || r.endsWith("{") || r.endsWith("}")
    })).cast("long")
    val isCode = ((nSym * 20 >= nChars && nSym > 0)
      || (nStmt * 3 >= nLines && nLines >= 3))
    struct(nLines.as("n_lines"), nSym.as("n_sym"), nIndent.as("n_indent"),
      nStmt.as("n_stmt"), isCode.cast("long").as("is_code"))
  }

  /** TRAINED multinomial Naive Bayes over character n-grams — the shape
    * of the char-ngram language/quality filters in production LLM data
    * pipelines (fastText lang-id, Joulin et al. 2016; the CCNet filter
    * stack, Wenzek et al. 2019): fit per-label gram counts
    * on a TRAINING split, score held-out documents by
    * `argmax_l [ln P(l) + Σ_g m_g · ln P(g|l)]` with add-one smoothing.
    * Complements the fixed-stopword-vote heuristic ([[langFromVotes]]):
    * that one ships hand-picked evidence, this one LEARNS its evidence
    * from labeled data, which is how production language/quality filters
    * are actually built.
    *
    * Every log-probability is FIXED-POINT quantized at train time —
    * `⌊ln(p)·10⁶ + ½⌋` as a 64-bit integer — so document scores are
    * exact-integer sums in any order and the argmax is bit-portable
    * cross-engine (summing raw doubles would make near-tie predictions
    * depend on aggregation order; the quantum 1e-6 is far below any
    * meaningful evidence difference, the same quantize-before-sum rule
    * as `dedup_lsh_expected_recall`). Ties break on label ascending.
    *
    * Scale shape: the model is bounded by charset^n × |labels| (never
    * data-proportional), built with one map-side-combinable count pass
    * over the training split and broadcast to the scorer; scoring is
    * explode → broadcast join → two partial aggregations — the only
    * shuffles carry (doc, gram) and (doc, label) keys, never text. */
  case class NbModel(grams: DataFrame, labels: DataFrame)

  /** The SUFFICIENT STATISTICS of the NB fit: per-(label, gram)
    * occurrence counts plus per-label document counts. Counts are
    * trivially mergeable (integer sums), so a production pipeline
    * maintains THESE next to the corpus and refreshes the classifier
    * incrementally — re-deriving log-probabilities from merged counts
    * equals retraining on the concatenated corpus exactly (law-pinned
    * in TextOpsSpec), without ever re-reading old shards. The same
    * incremental-maintenance contract as [[graft.operators.IvfIndex]]'s
    * applyDiff. */
  case class NbCounts(gramCounts: DataFrame, docCounts: DataFrame)

  /** Count pass of the NB fit (the only corpus-proportional work). */
  def nbCharGramCounts(
      train: DataFrame,
      text: Column,
      label: Column,
      n: Int = 3): NbCounts = NbCounts(
    train.select(label.as("label"), explode(charNgrams(text, n)).as("tri"))
      .groupBy(col("label"), col("tri")).agg(count(lit(1)).as("c")),
    train.groupBy(label.as("label")).agg(count(lit(1)).as("d")))

  /** Merge two count sets (integer sums — the incremental refresh). */
  def nbMergeCounts(a: NbCounts, b: NbCounts): NbCounts = NbCounts(
    a.gramCounts.unionByName(b.gramCounts)
      .groupBy(col("label"), col("tri")).agg(sum(col("c")).as("c")),
    a.docCounts.unionByName(b.docCounts)
      .groupBy(col("label")).agg(sum(col("d")).as("d")))

  /** Quantized model from counts: `grams` = sparse `(label, tri, lp)`
    * fixed-point gram log-likelihoods; `labels` = `(label, prior,
    * floor)` with the unseen-gram floor `⌊ln(1/(N_l+V))·10⁶+½⌋` per
    * label (V = the union vocabulary, so smoothing mass is comparable
    * across labels). Model-sized work only. */
  def nbModelFromCounts(counts: NbCounts): NbModel = {
    def fix(x: Column): Column = floor(x * lit(1e6) + lit(0.5)).cast("long")
    val c = counts.gramCounts.select(col("label"), col("tri"), col("c").as("__c"))
    val nl = c.groupBy(col("label")).agg(sum(col("__c")).as("__n"))
    val v = c.agg(count_distinct(col("tri")).as("__v"))
    val dl = counts.docCounts.select(col("label"), col("d").as("__d"))
    val dt = counts.docCounts.agg(sum(col("d")).as("__dt"))
    val grams = c.join(nl, Seq("label")).crossJoin(broadcast(v))
      .select(col("label"), col("tri"),
        fix(log((col("__c") + lit(1)).cast("double")
          / (col("__n") + col("__v")).cast("double"))).as("lp"))
    val labels = nl.join(dl, Seq("label"))
      .crossJoin(broadcast(dt)).crossJoin(broadcast(v))
      .select(col("label"),
        fix(log(col("__d").cast("double") / col("__dt").cast("double")))
          .as("prior"),
        fix(log(lit(1.0) / (col("__n") + col("__v")).cast("double")))
          .as("floor"))
    NbModel(grams, labels)
  }

  /** Fit the NB model end-to-end: [[nbCharGramCounts]] →
    * [[nbModelFromCounts]]. */
  def nbCharGramModel(
      train: DataFrame,
      text: Column,
      label: Column,
      n: Int = 3): NbModel =
    nbModelFromCounts(nbCharGramCounts(train, text, label, n))

  /** Score `docs` against a fitted [[NbModel]]: emits
    * `(doc_id, pred_label, score)` — the argmax label and its
    * exact-integer fixed-point log-posterior. Documents shorter than `n`
    * code points have no grams and are absent (the per-gram-operator
    * convention, cf. [[charLmScore]]). Both model frames ride
    * broadcasts; the label fan-out multiplies the per-doc DISTINCT-gram
    * frame (already count-collapsed), not raw occurrences. */
  def nbClassify(
      docs: DataFrame,
      text: Column,
      model: NbModel,
      n: Int = 3): DataFrame =
    nbClassifyFromScores(nbScoreAll(docs, text, model, n))

  /** Argmax over an [[nbScoreAll]] frame — split out so a session can
    * memoize the scored frame once and derive the prediction, the
    * confusion rollup, and the margin bands from it without re-scoring
    * (the serving-side memoize-converged-results rule). */
  def nbClassifyFromScores(scores: DataFrame): DataFrame =
    scores
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("__neg"), col("label"),
        col("score").as("score"))).as("__m"))
      .select(col("doc_id"), col("__m.label").as("pred_label"),
        col("__m.score").as("score"))

  /** [[nbClassify]] plus the CONFIDENCE margin: the exact-integer gap
    * between the best and second-best label scores (NULL when the model
    * has a single label). The margin is the calibration signal — a
    * pipeline trusts the cheap classifier only where the margin says
    * the evidence is decisive. The per-doc label list is
    * |labels|-bounded, so the sort_array pick is model-bounded state,
    * never data-proportional. */
  def nbClassifyTop2(
      docs: DataFrame,
      text: Column,
      model: NbModel,
      n: Int = 3): DataFrame =
    nbTop2FromScores(nbScoreAll(docs, text, model, n))

  /** Top-2 pick over an [[nbScoreAll]] frame (see
    * [[nbClassifyFromScores]] for why it is split out). */
  def nbTop2FromScores(scores: DataFrame): DataFrame =
    scores
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct((-col("score")).as("__neg"),
        col("label"), col("score").as("score")))).as("__l"))
      .select(col("doc_id"),
        col("__l")(0).getField("label").as("pred_label"),
        col("__l")(0).getField("score").as("score"),
        when(size(col("__l")) > 1,
          col("__l")(0).getField("score") - col("__l")(1).getField("score"))
          .as("margin"))

  /** Shared scorer: exact-integer `(doc_id, label, score)` for every
    * (held-out doc, model label) pair. */
  def nbScoreAll(
      docs: DataFrame,
      text: Column,
      model: NbModel,
      n: Int = 3): DataFrame = {
    val dm = docs.select(col("doc_id"), explode(charNgrams(text, n)).as("tri"))
      .groupBy(col("doc_id"), col("tri")).agg(count(lit(1)).as("__m"))
    dm.crossJoin(broadcast(model.labels))
      .join(broadcast(model.grams), Seq("label", "tri"), "left_outer")
      .withColumn("__lp", coalesce(col("lp"), col("floor")))
      .groupBy(col("doc_id"), col("label"))
      .agg((max(col("prior")) + sum(col("__m") * col("__lp"))).as("score"))
  }
}
