package graft.operators

import graft.functions.TopKPairsAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for training-data pipelines: deterministic
  * train/val/test splitting, greedy sequence packing, and per-source
  * quota sampling (dataset mixing).
  *
  * None of these exist in the reference — its surface stops at vector
  * CRUD + ANN (`/root/reference/protos/database.proto:7-28`) — but they
  * are the assembly steps its LLM-corpus use case implies once the
  * cleaned corpus ([[Dedup]], [[TextOps]], `corpus_clean`) has to become
  * actual training batches at 100 TB. All three are deterministic
  * (content- or id-keyed, never `rand()`/`sample()`), so re-runs and
  * engine swaps reproduce byte-identical assignments.
  */
object Corpus {

  /** First 32 bits of md5(`c`) as a non-negative long — the shared
    * content key for splitting and mixing. 32 bits fit a Double exactly,
    * so the value survives the bounded-heap aggregate unchanged. */
  def contentHash32(c: Column): Column =
    conv(substr(md5(c), lit(1), lit(8)), 16, 10).cast("long")

  /** Deterministic content-keyed train/val/test assignment: bucket =
    * md5(text) mod 100, split by cumulative percentage. Map-only — no
    * shuffle at any scale — and STABLE UNDER CORPUS CHANGES: a document's
    * split depends only on its own content, never on position or on other
    * rows (unlike `sample()`/`rand()` splits), so appending data or
    * re-running the pipeline never migrates a document across the
    * train/test boundary (no leakage). */
  def assignSplit(docs: DataFrame, text: Column, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"percentages must partition [0,100], got train=$trainPct val=$valPct")
    docs
      .withColumn("bucket", pmod(contentHash32(text), lit(100L)))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Leakage-safe variant of [[assignSplit]]: near-duplicate GROUPS move
    * as one unit — the split key is the group REPRESENTATIVE's content,
    * so paraphrases of one document can never straddle the train/test
    * boundary. Plain content-keyed splitting cannot prevent that:
    * near-dups hash to different buckets by construction. `groups` is a
    * [[Dedup.duplicateGroups]] keep/drop map (`doc_id`, `rep_id` over
    * the duplicate subset); ungrouped docs represent themselves.
    *
    * Plan: one left join against the duplicate subset (small — AQE
    * broadcasts it) + one equi-join to fetch the rep's hash; both
    * shuffle ids only, never text. Still stable under corpus changes —
    * a group's split depends only on its rep's content. */
  def assignSplitGroupSafe(
      docs: DataFrame,
      groups: DataFrame,
      trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"percentages must partition [0,100], got train=$trainPct val=$valPct")
    val repHash = docs.select(col("doc_id").as("rep_id"),
      contentHash32(col("text")).as("__rh"))
    docs
      .join(groups, Seq("doc_id"), "left_outer")
      .withColumn("rep_id", coalesce(col("rep_id"), col("doc_id")))
      .join(repHash, Seq("rep_id"))
      .withColumn("bucket", pmod(col("__rh"), lit(100L)))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
      .drop("__rh")
  }

  /** Greedy concat-and-chunk sequence packing (GPT-style pretraining
    * batches): documents are concatenated in (shard, doc_id) order and
    * cut every `budget` tokens; each document's output row carries the
    * chunk its first token lands in (`pack_id`) and its offset there
    * (`tok_offset`) — enough for a writer to materialize the packed
    * sequences. Documents may straddle chunk boundaries (the standard
    * packing model — no padding waste).
    *
    * The running total is a window per shard, so parallelism = `nShards`:
    * size it to the cluster (each shard's window is one sort, bounded by
    * corpus_size / nShards). Packing is inherently order-sequential
    * WITHIN a pack; sharding is what makes it embarrassingly parallel
    * across packs — shards are independent, so 100 TB packs as n
    * independent window partitions with no global coordination.
    *
    * `nTokens` is the per-document token count column (e.g.
    * `size(TextOps.tokens(text))`, or a real tokenizer's count joined
    * from a side table). Documents with a null or non-positive count are
    * DROPPED: they contribute no tokens to any pack, and keeping them
    * would break [[packedSequences]]'s memory bound — every zero-token
    * document shares its successor's `__start`, so one pack's gather
    * group could grow unboundedly (and a null count would poison the
    * running totals of everything after it in the shard). */
  def pack(docs: DataFrame, nTokens: Column, budget: Int, nShards: Int = 64): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        nTokens.cast("long").as("n_tokens"))
      .where(col("n_tokens") >= 1) // null-safe: null counts fail the predicate too
      .withColumn("__start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"__start div $budget").as("pack_id"), // integral div, no double round-trip
        (col("__start") % budget).as("tok_offset"))
  }

  /** [[mixSample]] with PER-SOURCE quotas — the real dataset-mixing
    * shape ("2 parts web, 1 part code, 0.1 part forums"): each source
    * keeps its own smallest-hash prefix, sized by `quotas`. Sources
    * absent from the map are dropped. Same scale shape as [[mixSample]]
    * (one bounded heap per source at the MAX quota, sliced down per
    * source), and the same stability: because hash order is fixed, a
    * quota change only grows/shrinks each source's prefix — it never
    * reshuffles which documents are kept. */
  def mixSampleWeighted(
      docs: DataFrame,
      source: Column,
      text: Column,
      quotas: Map[String, Int],
      broadcastKeepList: Boolean = true): DataFrame = {
    require(quotas.nonEmpty, "quotas must not be empty")
    require(quotas.values.forall(_ >= 0), "quotas must be non-negative")
    val maxQ = quotas.values.max
    require(maxQ > 0, "at least one quota must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val qDf = quotas.toSeq.toDF("__src", "__quota")
    val keyed = docs.withColumn("__src", source)
      .withColumn("__h", contentHash32(text).cast("double"))
    val kept = keyed
      .join(broadcast(qDf), Seq("__src"))
      .groupBy(col("__src"))
      .agg(TopKPairsAgg.topKPairs(col("__h"), col("doc_id"), maxQ).as("__top"),
        first(col("__quota")).as("__quota"))
      .select(col("__src"),
        explode(slice(col("__top.id"), lit(1), col("__quota"))).as("doc_id"))
    keyed
      .join(if (broadcastKeepList) broadcast(kept) else kept,
        Seq("__src", "doc_id"), "left_semi")
      .drop("__h", "__src")
  }

  /** Efraimidis–Spirakis weighted sampling without replacement (the A-ES
    * scheme, Inf. Proc. Letters 2006): item i with weight wᵢ > 0 gets key
    * uᵢ^(1/wᵢ) for uniform uᵢ and the k LARGEST keys form a sample where
    * inclusion probability is proportional to weight — here in the
    * equivalent min-order "exponential race" form keyᵢ = −ln(uᵢ)/wᵢ
    * (monotone transform, same ranking), which is the importance-sampling
    * primitive for data mixing ("sample documents ∝ quality/length").
    *
    * uᵢ is derived from the CONTENT hash ((h mod 2²⁰ + 0.5)/2²⁰ — exact
    * in double), so like [[assignSplit]] the draw is deterministic and
    * stable under corpus changes: a document's key depends only on its
    * own content and weight, never on position or other rows — re-runs
    * and appends cannot silently reshuffle a training mix. The key is
    * quantized to 1e-9 BEFORE ranking with a doc_id tiebreak, so the
    * order both engines rank on is integer (the BM25/DSIR ln()
    * portability discipline). Scale: map-only key computation + bounded
    * top-k (TakeOrderedAndProject), never a global sort. */
  def importanceSample(docs: DataFrame, text: Column, weight: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (pmod(contentHash32(text), lit(1048576L)).cast("double") + lit(0.5)) /
      lit(1048576.0)
    docs
      // NaN weight guard: Spark's total order makes NaN > 0 TRUE, and the
      // NaN key would then die in the ANSI long cast — a malformed weight
      // drops out instead (+Inf is harmless: key 0 ranks first)
      .where(text.isNotNull && weight > 0 && !isnan(weight.cast("double")))
      .withColumn("es_key9",
        floor(-log(u) / weight.cast("double") * lit(1.0e9) + lit(0.5)).cast("long"))
      .orderBy(col("es_key9").asc, col("doc_id").asc)
      .limit(k)
  }

  /** Materialize the packs [[pack]] assigned: gather each pack's
    * documents in doc_id order and concatenate their texts — the write
    * path that turns assignments into actual training sequences.
    *
    * One shuffle, keyed (shard, pack_id). The per-group buffer is safe
    * where a raw `collect_list` would not be: a pack holds documents
    * whose STARTS fall inside one `budget`-token chunk, so group size is
    * bounded by budget (plus the one straddling document) regardless of
    * corpus size — the packing contract is exactly what makes the gather
    * memory-bounded. */
  def packedSequences(docs: DataFrame, packed: DataFrame, text: Column): DataFrame = {
    val joined = docs.select(col("doc_id"), text.as("__text"))
      .join(packed.select(col("doc_id"), col("shard"), col("n_tokens"), col("pack_id")),
        Seq("doc_id"))
    joined
      .groupBy(col("shard"), col("pack_id"))
      .agg(
        array_join(sort_array(collect_list(struct(col("doc_id"), col("__text"))))
          .getField("__text"), " ").as("text"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  /** Overlapping token-window CHUNKING — the long-document half of
    * sequence assembly: a document longer than the model's context gets
    * split into windows of `budget` tokens whose starts advance by
    * `budget - overlap` (so consecutive chunks share `overlap` tokens of
    * context — the standard pretraining long-doc treatment, vs [[pack]]
    * which concatenates SHORT documents). Emits one row per chunk:
    * `(doc_id, chunk_idx, chunk_start, chunk_len)`; the final chunk is
    * truncated to the document's end. Map-only at any scale — each row
    * expands to ceil(n/step) chunk rows with no shuffle; documents with
    * a null or non-positive count are dropped ([[pack]]'s contract). */
  def chunk(docs: DataFrame, nTokens: Column, budget: Int, overlap: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(overlap >= 0 && overlap < budget,
      s"overlap must be in [0, budget), got overlap=$overlap budget=$budget")
    val step = (budget - overlap).toLong
    docs.select(col("doc_id"), nTokens.cast("long").as("n_tokens"))
      .where(col("n_tokens") >= 1)
      .select(col("doc_id"), col("n_tokens"),
        posexplode(sequence(lit(0L), col("n_tokens") - 1, lit(step))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk_start"),
        least(lit(budget.toLong), col("n_tokens") - col("col")).as("chunk_len"))
  }

  /** [[chunk]] MATERIALIZED — the write path that turns window
    * assignments into actual training/RAG sequences: each chunk row
    * carries its text, the `budget`-token slice starting at
    * `chunk_start` joined on single spaces (the [[packedSequences]]
    * separator convention). Takes the token ARRAY column so the
    * tokenization convention is the caller's choice and computed once.
    *
    * Map-only at any scale, like [[chunk]]: tokenize → explode starts →
    * slice, no shuffle, no join-back (the tokens ride the row through
    * the explode instead of being re-gathered — a chunk's text never
    * moves off the partition that read its document). Output volume is
    * bounded at (1 + overlap/(budget-overlap))× the input token mass.
    * Null / non-positive token counts are dropped ([[chunk]]'s
    * contract); a document of empty text is one token ([[graft
    * .operators.TextOps.tokens]]'s empty-token convention) and yields
    * one empty chunk. */
  def chunkText(docs: DataFrame, tokens: Column, budget: Int, overlap: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(overlap >= 0 && overlap < budget,
      s"overlap must be in [0, budget), got overlap=$overlap budget=$budget")
    val step = (budget - overlap).toLong
    val len = least(lit(budget.toLong), col("__n") - col("col"))
    docs.select(col("doc_id"), tokens.as("__tk"))
      .withColumn("__n", size(col("__tk")).cast("long"))
      .where(col("__n") >= 1)
      .select(col("doc_id"), col("__tk"), col("__n"),
        posexplode(sequence(lit(0L), col("__n") - 1, lit(step))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk_start"),
        len.as("chunk_len"),
        array_join(slice(col("__tk"), (col("col") + 1).cast("int"),
          len.cast("int")), " ").as("chunk_text"))
  }

  /** Deterministic per-source quota sampling — dataset mixing: keep the
    * `quota` documents with the smallest content hash per source. Hash
    * order is a fixed-key uniform "random" order, so this IS a uniform
    * sample per source, yet reproducible and stable under appends (a new
    * document displaces at most one retained document of its own source).
    *
    * Scale shape: per-source top-k runs in the bounded-heap aggregate
    * ([[graft.functions.TopKPairsAgg]] — O(quota) memory per source,
    * map-side combined), NOT a per-source ranking window, which would
    * funnel every source's full row set through one task each. The kept
    * (source, doc_id) pairs — |sources| × quota rows — semi-join back
    * against the corpus: broadcast by default (right up to low millions
    * of kept rows), `broadcastKeepList = false` for huge quotas to let a
    * shuffle join carry the keep-list instead.
    *
    * Returns the input rows that survive the quota, original schema
    * unchanged. */
  def mixSample(
      docs: DataFrame,
      source: Column,
      text: Column,
      quota: Int,
      broadcastKeepList: Boolean = true): DataFrame = {
    require(quota > 0, s"quota must be positive, got $quota")
    val keyed = docs.withColumn("__src", source)
      .withColumn("__h", contentHash32(text).cast("double"))
    val kept = keyed
      .groupBy(col("__src"))
      .agg(TopKPairsAgg.topKPairs(col("__h"), col("doc_id"), quota).as("__top"))
      .select(col("__src"), explode(col("__top.id")).as("doc_id"))
    keyed
      .join(if (broadcastKeepList) broadcast(kept) else kept,
        Seq("__src", "doc_id"), "left_semi")
      .drop("__h", "__src")
  }

  /** Per-(source, language) corpus rollup — the observability table a
    * pipeline run publishes: document and unique-document counts, token
    * volume, and mean quality per cell. One pass computes every per-doc
    * attribute from the fused [[TextOps.tokenStats]] kernel; uniqueness
    * is exact, via the two-stage aggregate (group on the content hash
    * first, then the cell) rather than `count(DISTINCT …)` — the same
    * Expand-free shape as the events rollup: both stages are map-side
    * combinable and the first stage's key (cell × sha256) is exactly the
    * dedup shuffle the pipeline already pays. */
  def stats(docs: DataFrame, source: Column, text: Column): DataFrame = {
    val perDoc = docs
      .withColumn("__toks", TextOps.tokens(text))
      .withColumn("__stats", TextOps.tokenStats(col("__toks")))
      .select(source.as("source"),
        TextOps.langFromVotes(col("__stats.votes")).as("lang"),
        size(col("__toks")).cast("long").as("__nt"),
        TextOps.qualityFromStats(text, col("__toks"), col("__stats")).as("__q"),
        sha2(text, 256).as("__h"))
    perDoc
      .groupBy(col("source"), col("lang"), col("__h"))
      .agg(count(lit(1)).as("__c"), sum(col("__nt")).as("__t"),
        sum(col("__q")).as("__qs"))
      .groupBy(col("source"), col("lang"))
      .agg(
        sum(col("__c")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(col("__t")).as("total_tokens"),
        (sum(col("__qs")) / sum(col("__c"))).as("avg_quality"))
  }

  /** Benchmark DECONTAMINATION: flag corpus documents that share any
    * token `n`-gram with a held-out/benchmark set — the leakage check a
    * training pipeline runs before shipping a corpus (a train document
    * quoting a benchmark answer inflates eval scores). Returns
    * `(doc_id, n_shared)` for flagged documents only; clean documents
    * produce no row, so the output is proportional to the contamination,
    * not the corpus.
    *
    * Matching is on the 56-bit md5 shingle hash ([[TextOps
    * .shingleHashes]]) of lowercase-token n-grams — the same fingerprint
    * family the dedup stack uses, so corpus and benchmark tokenize
    * identically. Scale shape: both sides explode to `(key, hash)` longs
    * (never text), the join is an equi-join on the hash — a real
    * benchmark set is tiny, so AQE broadcasts its distinct-gram side and
    * the corpus side never shuffles; `count(DISTINCT h)` is a standard
    * two-phase aggregate over the (small) matched subset. */
  /** C4-style cross-document LINE deduplication: drop every line that
    * appears (verbatim) in at least `minDocs` DISTINCT documents — the
    * classic boilerplate scrub (navigation bars, cookie banners,
    * "all rights reserved" footers repeat across pages; real content
    * doesn't). Returns `(doc_id, text)` with surviving lines rejoined in
    * original order, preserving input cardinality (a doc whose every
    * line is boilerplate keeps an empty text).
    *
    * Scale shape: lines carry a sha-256 identity, so the
    * document-frequency count is the Expand-free two-stage distinct on
    * 64-byte keys (never text), like [[graft.operators.Dedup.exact]];
    * the frequent-line set then anti-joins the positioned lines (AQE
    * broadcasts it when small — boilerplate vocabularies usually are)
    * and each doc reassembles with one bounded `collect_list` (per-doc
    * state = that doc's lines, the [[packedSequences]] gather shape).
    * Collision caveat identical to exact dedup: a sha-256 collision
    * would wrongly drop a line; at 2^-128 per pair this is the standard
    * trade. Duplicate lines WITHIN a single doc are kept — the contract
    * counts distinct documents. */
  def lineDedup(docs: DataFrame, minDocs: Long = 2L): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__lh", sha2(col("__line"), 256))
    val frequent = lines.select(col("__lh"), col("doc_id")).distinct()
      .groupBy(col("__lh")).agg(count(lit(1)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("__lh"))
    val kept = lines.join(frequent, Seq("__lh"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          e => e.getField("__line")),
        "\n").as("text"))
    docs.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left_outer")
      .withColumn("text", coalesce(col("text"), lit("")))
  }

  /** The word-`n`-gram hash frame every decontamination-family operator
    * consumes: one row per DISTINCT (keep-cols, gram hash). This is the
    * pipeline's STANDING INDEX — at 100 TB it is built once per corpus
    * version, written next to the corpus, and semi-joined by every
    * decontamination / novelty / contamination-report pass; rebuilding
    * the tokenize + shingle + hash + distinct per query is the recompute
    * waste the FromGrams variants below exist to avoid. */
  def gramIndex(docs: DataFrame, n: Int, keep: Column*): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    docs.select(keep :+ explode(
        TextOps.shingleHashes(
          TextOps.shinglesFromTokens(TextOps.tokens(col("text")), n))).as("h"): _*)
      .distinct()
  }

  /** [[decontaminate]] over prebuilt gram frames. PRECONDITION: both
    * inputs are DISTINCT per row ([[gramIndex]] shape) — `n_shared` is
    * then a plain count (each (doc_id, h) matches the distinct bench set
    * at most once), which is also why the standing index stores grams
    * deduplicated. */
  def decontaminateFromGrams(docGrams: DataFrame, benchGrams: DataFrame): DataFrame =
    docGrams.select(col("doc_id"), col("h"))
      .join(benchGrams.select(col("h")).distinct(), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))

  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame =
    decontaminateFromGrams(
      gramIndex(docs, n, col("doc_id")), gramIndex(benchmark, n))

  /** [[decontaminate]] with a Bloom pre-filter — the shape that survives
    * a benchmark/blocklist gram set too large to broadcast raw: the
    * benchmark's distinct gram hashes fold into ONE `numBits`-bit Bloom
    * filter (a `TypedImperativeAggregate`, map-side combined), which
    * broadcasts at a fixed size regardless of benchmark cardinality;
    * every training-doc gram probes the filter (codegen'd, map-only) and
    * only the surviving ~fpp fraction of non-matching grams reaches the
    * exact semi-join. Bloom filters have no false negatives, so the
    * result is EXACTLY [[decontaminate]]'s — same rows, same counts —
    * which is what the oracle checks.
    *
    * Scale: the exact join's probe side shrinks from |doc grams| to
    * |true hits| + fpp·|doc grams|; at fpp = 1% that is a ~100× shuffle
    * reduction on a clean corpus. Size `numBits ≈ -1.44·items·log2(fpp)`
    * (8 bits/item ≈ 2%). */
  /** [[decontaminateBloom]] over prebuilt gram frames — same
    * distinct-input precondition as [[decontaminateFromGrams]]. */
  def decontaminateBloomFromGrams(
      docGrams: DataFrame,
      benchGrams: DataFrame,
      estimatedItems: Long = 1000000L,
      numBits: Long = 8000000L): DataFrame = {
    val bg = benchGrams.select(col("h")).distinct()
    val bloom = bg
      .agg(graft.functions.Bloom.bloomAgg(col("h"), estimatedItems, numBits)
        .as("__bf"))
    docGrams.select(col("doc_id"), col("h"))
      .where(graft.functions.Bloom.mightContain(col("h"), bloom))
      .join(bg, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  def decontaminateBloom(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 8,
      estimatedItems: Long = 1000000L,
      numBits: Long = 8000000L): DataFrame =
    decontaminateBloomFromGrams(
      gramIndex(docs, n, col("doc_id")), gramIndex(benchmark, n),
      estimatedItems, numBits)

  /** Declarative data-quality EXPECTATIONS (the Deequ/Great-Expectations
    * shape): evaluate a set of named row-level constraints in ONE scan
    * and report `(check, n_rows, n_violations, pass)` per constraint —
    * the contract gate a pipeline runs before promoting a corpus
    * version. Null predicate results count as violations (a constraint
    * that cannot be evaluated is not satisfied).
    *
    * Plan: one aggregate computes every constraint's violation count
    * (conditional sums, map-side combined), then a `stack` unpivots the
    * single row — the corpus is read ONCE no matter how many checks.
    * Set-level constraints (uniqueness) need their own aggregation
    * shape — see [[expectUnique]] — and union onto the same report. */
  def expectations(
      df: DataFrame,
      checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "at least one expectation required")
    require(checks.forall(_._1.matches("[A-Za-z0-9_]+")),
      s"check names must be identifier-safe: ${checks.map(_._1)}")
    val aggs = count(lit(1)).as("__n") +: checks.map { case (n, p) =>
      // coalesce the SUM too: on an empty frame sum() is NULL, which
      // would make n_violations/pass three-valued and let the report
      // vanish from either polarity of a downstream gate's filter
      coalesce(sum(when(!coalesce(p, lit(false)), 1L).otherwise(0L)), lit(0L))
        .as(s"__v_$n")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = checks.map { case (n, _) => s"'$n', __v_$n" }.mkString(", ")
    row
      .select(col("__n").as("n_rows"),
        expr(s"stack(${checks.size}, $stackArgs) AS (check, n_violations)"))
      .select(col("check"), col("n_rows"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
  }

  /** Uniqueness expectation — the set-level constraint [[expectations]]'
    * row-local scan cannot express: violations = rows beyond the first
    * per key (n − distinct), via the single-distinct two-phase
    * aggregate (no Expand). */
  def expectUnique(df: DataFrame, key: Column, name: String): DataFrame =
    df.agg(count(lit(1)).as("n_rows"), count_distinct(key).as("__d"))
      .select(lit(name).as("check"), col("n_rows"),
        (col("n_rows") - col("__d")).as("n_violations"),
        (col("n_rows") === col("__d")).as("pass"))

  /** Contamination REPORT — [[decontaminate]] pivoted to the benchmark
    * axis: for each benchmark item, how many training documents share at
    * least one word-`n`-gram with it (`n_train_docs`) and how many of
    * its own distinct grams leak (`n_leaked_grams`). This is the view an
    * eval team reads ("which of MY items are compromised, how badly")
    * where decontaminate's per-train-doc view drives the drop list.
    * Benchmark items with no leakage report zeros (left join), so the
    * output enumerates the full benchmark — auditability over brevity.
    *
    * Scale: one hash-join on 8-byte gram hashes; both distinct counts
    * are the Expand-free two-stage shape. The benchmark side is small by
    * definition; the train gram frame is the standing index
    * [[novelty]] describes. */
  /** [[contaminationReport]] over prebuilt gram frames — same
    * distinct-input precondition as [[decontaminateFromGrams]].
    * `benchIds` enumerates the FULL benchmark (one `bench_id` per item,
    * including items too short to have grams — they report zeros). */
  def contaminationReportFromGrams(
      benchIds: DataFrame,
      benchGrams: DataFrame,
      trainGrams: DataFrame): DataFrame = {
    val bg = benchGrams.select(col("bench_id"), col("h"))
    val tg = trainGrams.select(col("doc_id"), col("h"))
    // TWO single-distinct rollups joined — never two distinct aggregates
    // in one agg(), which Catalyst plans as an Expand that doubles every
    // hit row through the shuffle (the repo's no-Expand rule).
    // The hit frame is persisted (r14): both rollups consume it, and
    // uncached the bench⋈train gram join executed TWICE per pass (the
    // two subtrees prune different columns, so exchange reuse never
    // fires). Narrow (bench_id, doc_id, h) rows, leak-bounded.
    // Cache lifecycle (r15, per advice): operator-level ensureCached
    // entries are plan-matched and re-registered per distinct input —
    // they cannot be unpersisted here without forcing eager execution,
    // so a LONG-LIVED session calling this operator over varying inputs
    // must clearCache at its own task boundaries (the bench's
    // family-boundary clear is that contract).
    val hits = graft.Caching.ensureCached(bg.join(tg, Seq("h")))
    val docsPer = hits.select(col("bench_id"), col("doc_id")).distinct()
      .groupBy(col("bench_id")).agg(count(lit(1)).as("n_train_docs"))
    val gramsPer = hits.select(col("bench_id"), col("h")).distinct()
      .groupBy(col("bench_id")).agg(count(lit(1)).as("n_leaked_grams"))
    // per-bench rollups are |benchmark|-bounded ("small by definition")
    // — broadcast keeps the enumeration stitch hash-joined, not
    // sort-merged (r14)
    benchIds.select(col("bench_id")).distinct()
      .join(broadcast(docsPer), Seq("bench_id"), "left_outer")
      .join(broadcast(gramsPer), Seq("bench_id"), "left_outer")
      .select(col("bench_id"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"))
  }

  def contaminationReport(
      docs: DataFrame,
      benchmark: DataFrame,
      benchId: Column,
      n: Int = 8): DataFrame =
    contaminationReportFromGrams(
      benchmark.select(benchId.as("bench_id")),
      gramIndex(benchmark, n, benchId.as("bench_id")),
      gramIndex(docs, n, col("doc_id")))

  /** Per-document NOVELTY against a reference corpus: for each candidate
    * document, the fraction of its distinct word-`n`-gram hashes that do
    * NOT occur anywhere in `reference` — [[decontaminate]]'s complement,
    * answering "how much genuinely new text does this batch add?" (the
    * acquisition-time check of a training-data pipeline: near-zero
    * novelty means the batch re-states what the corpus already holds and
    * isn't worth its training tokens). Returns `(doc_id, n_grams,
    * n_novel, novelty)`; documents shorter than `n` tokens have no
    * grams and drop out, same as [[decontaminate]].
    *
    * Scale: only 8-byte gram hashes shuffle (never text); both distincts
    * are map-side combinable; the join key is a uniform hash, so no skew.
    * The reference gram set is |distinct grams|-sized — at 100 TB the
    * deduplicated gram table is the pipeline's standing index, built once
    * per corpus version and semi-joined by every incoming batch. */
  /** [[novelty]] over prebuilt gram frames — same distinct-input
    * precondition as [[decontaminateFromGrams]]. */
  def noveltyFromGrams(docGrams: DataFrame, refGrams: DataFrame): DataFrame = {
    val rg = refGrams.select(col("h")).distinct().withColumn("__seen", lit(1))
    docGrams.select(col("doc_id"), col("h"))
      .join(rg, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_grams"))
  }

  def novelty(docs: DataFrame, reference: DataFrame, n: Int = 8): DataFrame =
    noveltyFromGrams(gramIndex(docs, n, col("doc_id")), gramIndex(reference, n))

  /** TOKEN-BUDGET sampling: the maximal prefix of the corpus, in
    * deterministic content-hash order, whose cumulative token count fits
    * `budget` — the "carve a 10B-token subset out of this 10T-token
    * corpus" step of every training run. Returns `(doc_id, n_tokens)`
    * for kept documents. Semantics are a strict prefix: documents are
    * visited in ([[contentHash32]], doc_id) order and kept while the
    * running token total stays ≤ `budget`; the first document that would
    * overflow ends the sample (no best-fit backfill — backfill would
    * make membership depend on other documents' sizes, losing the
    * stability that makes content-keyed sampling reproducible). Like
    * [[mixSample]], growing the budget only EXTENDS the prefix; it never
    * reshuffles which documents are kept.
    *
    * Scale shape — the naive form is a global-ordered running sum, i.e.
    * one task sorting the corpus. Instead, a two-level prefix sum:
    * (1) bucket documents by the high bits of the content hash (bucket
    * id is monotone in hash, so bucket order refines hash order);
    * (2) aggregate per-bucket token totals — at most `nBuckets` rows —
    * and running-sum THOSE on a single task (bounded by `nBuckets`,
    * never by corpus size) to find each bucket's starting offset;
    * (3) buckets that fit entirely are kept with no per-row ordering at
    * all (map-only after a broadcast join of the tiny offset table), and
    * only the single straddling bucket — expected corpus/`nBuckets` of
    * the data — pays a partition-local sort for its within-bucket
    * running sum. Equivalent to the global window for every input,
    * because ties in the hash cannot cross a bucket boundary. */
  def sampleToBudget(
      docs: DataFrame,
      text: Column,
      nTokens: Column,
      budget: Long,
      nBuckets: Int = 1024): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    mixTokenBudget(docs.withColumn("__one_src", lit("")), col("__one_src"),
        text, nTokens, Map("" -> budget), nBuckets)
      .select(col("doc_id"), col("n_tokens"))
  }

  /** [[sampleToBudget]] with PER-SOURCE token budgets — [[
    * mixSampleWeighted]]'s quotas denominated in the unit that actually
    * prices a training run ("20B tokens of web, 5B of code"), instead of
    * document counts. Each listed source independently keeps its maximal
    * content-hash-order prefix fitting its budget; unlisted sources
    * drop. Returns `(doc_id, source, n_tokens)`.
    *
    * Same two-level prefix-sum shape as [[sampleToBudget]], stratified:
    * the offset table holds (source × bucket) rows — still driver-tiny
    * for any real source list — and its running sum partitions by
    * source, so each source's straddling bucket (at most one per source)
    * is the only data that pays a per-row sort. Same stability too:
    * budgets only grow/shrink each source's prefix independently. */
  def mixTokenBudget(
      docs: DataFrame,
      source: Column,
      text: Column,
      nTokens: Column,
      budgets: Map[String, Long],
      nBuckets: Int = 1024): DataFrame = {
    require(budgets.nonEmpty, "budgets must not be empty")
    require(budgets.values.forall(_ > 0), s"budgets must be positive, got $budgets")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    val step = (1L << 32) / nBuckets + 1 // ceil: bucket ids stay < nBuckets
    val bDf = budgets.toSeq.toDF("__src", "__budget")
    // Persisted (r14): the keyed projection is consumed THREE times per
    // materialization (bucket-offset aggregate, whole-bucket filter,
    // straddling-bucket running sum), and its lineage carries the
    // tokenize + content-hash kernels — uncached, the corpus was
    // tokenized three times per pass. Narrow (long, src, long, long)
    // rows — the digest-pass caching discipline.
    val keyed = graft.Caching.ensureCached(docs
      .select(col("doc_id"), source.as("__src"), contentHash32(text).as("__h"),
        nTokens.cast("long").as("n_tokens"))
      .where(col("n_tokens") >= 1) // null-safe: null counts fail too
      .join(broadcast(bDf), Seq("__src"))
      .withColumn("__b", expr(s"__h div ${step}L")))
    val offsets = keyed
      .groupBy(col("__src"), col("__b")).agg(sum(col("n_tokens")).as("__bt"))
      .withColumn("__start",
        sum(col("__bt")).over(
          Window.partitionBy(col("__src")).orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("__bt"))
    val tagged = keyed.join(broadcast(offsets), Seq("__src", "__b"))
    val whole = tagged.where(col("__start") + col("__bt") <= col("__budget"))
    val wIn = Window.partitionBy(col("__src"), col("__b"))
      .orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val straddle = tagged
      .where(col("__start") < col("__budget") &&
        col("__start") + col("__bt") > col("__budget"))
      .withColumn("__cum", col("__start") + sum(col("n_tokens")).over(wIn))
      .where(col("__cum") <= col("__budget"))
    whole.unionByName(straddle.drop("__cum"))
      .select(col("doc_id"), col("__src").as("source"), col("n_tokens"))
  }

  /** DIVERSITY-stratified downsampling: keep at most `k` rows per
    * `group`, chosen in deterministic ([[contentHash32]] of `hashKey`,
    * `id`) order — every group keeps a same-sized, reproducible slice.
    * With `group` = an embedding-cluster id the groups are semantic
    * regions, so the sample preserves the corpus's topical spread where
    * a uniform sample would mirror its skew (the head topic dominates) —
    * the data-selection step that keeps tail domains represented when
    * downsampling for training. Like [[mixSample]], the per-group pick
    * is a hash-order prefix: growing `k` only EXTENDS each group's
    * sample, never reshuffles it.
    *
    * Scale: one shuffle on `group`; the within-group sort is
    * partition-local and bounded by the group's population (with IVF
    * clusters, the density contract). */
  def sampleDiverse(
      df: DataFrame,
      group: Column,
      hashKey: Column,
      id: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(group).orderBy(contentHash32(hashKey), id)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Percentile-band filter: keep rows whose exact percent-rank of
    * `score` lies in `[loPct, hiPct]` — the both-tails quality trim
    * (drop the bottom tail as junk AND the top tail as
    * templated/degenerate text, the standard shape for classifier-scored
    * corpus curation). Output is the input plus `pct_rank`.
    *
    * The rank is EXACT but never computes a global single-partition
    * window (Spark collapses an un-partitioned window to one task — the
    * 100 TB killer). Instead the two-level prefix-sum layout
    * ([[mixTokenBudget]]'s pattern, applied to rank): scores (assumed in
    * [0, 1], clamped) are binned into `nBuckets` fixed ranges; one tiny
    * per-bucket count frame gets cumulative offsets (window over
    * `nBuckets` rows); each row's global rank is its bucket offset plus
    * its row_number WITHIN the bucket (windows partitioned by bucket —
    * parallel). `percent_rank = (rank − 1) / (n − 1)` over the
    * `(score, id)` total order — tie-free, so identical in any engine;
    * a 1-row input defines pct_rank 0. */
  def qualityBand(
      docs: DataFrame,
      score: Column,
      id: Column,
      loPct: Double,
      hiPct: Double,
      nBuckets: Int = 1024): DataFrame = {
    require(0.0 <= loPct && loPct <= hiPct && hiPct <= 1.0,
      s"need 0 <= loPct <= hiPct <= 1, got [$loPct, $hiPct]")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val bucket = least(greatest(floor(score * nBuckets).cast("int"), lit(0)),
      lit(nBuckets - 1))
    // NOTE (r14, measured): the frame feeds both the bucket histogram
    // and the ranked pass, so the caller's score lineage executes twice
    // per materialization. An operator-level persist here was tried and
    // REVERTED — at bench scale the cache materialization cost more than
    // the recompute (corpus_quality_band 1.02 → 1.23 s). A caller whose
    // score is kernel-heavy at scale should pass a persisted input
    // (see corpus_quality_band_sketch / corpus_quality_calibration).
    val withB = docs.withColumn("__score", score.cast("double"))
      .withColumn("__b", bucket)
    val counts = withB.groupBy(col("__b")).agg(count(lit(1)).as("__c"))
    // nBuckets rows: the only un-partitioned window runs over the tiny
    // count frame, never the data
    val offsets = counts.withColumn("__start",
      sum(col("__c")).over(Window.orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("__c"))
    val total = counts.agg(sum(col("__c")).as("__n"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__score"), id)
    withB.join(broadcast(offsets), Seq("__b"))
      .crossJoin(broadcast(total))
      .withColumn("__rank", col("__start") + row_number().over(wIn))
      .withColumn("pct_rank",
        when(col("__n") === 1, lit(0.0))
          .otherwise((col("__rank") - 1).cast("double") /
            (col("__n") - 1).cast("double")))
      .where(col("pct_rank") >= loPct && col("pct_rank") <= hiPct)
      .drop("__score", "__b", "__c", "__start", "__n", "__rank")
  }

  /** EXACT per-group (lower) median of an integer-valued column — the
    * two-level prefix-sum rank layout ([[qualityBand]]) applied per
    * group, for corpus observability rollups ("median document length by
    * source") where an approximate percentile isn't oracle-checkable and
    * a per-group sort of the raw rows is the 100 TB bottleneck.
    *
    * Median definition: the value at rank `ceil(n/2)` of the
    * `(value, id)` total order — the lower median, exact and engine-
    * independent (no interpolation, so it works for any orderable type).
    *
    * Shape: counts per (group, bucket), where bucket =
    * clamp(value / step) for a caller-supplied `hi` value bound;
    * cumulative offsets per group via a window over the tiny
    * (groups × buckets) count frame; only rows of the single straddling
    * bucket per group get a within-bucket rank, and exactly one row per
    * group survives. Rows with `value` outside [0, hi] clamp into the
    * edge buckets (correct rank, edge buckets just get more of the
    * within-bucket work). */
  def groupMedian(
      df: DataFrame,
      group: Column,
      value: Column,
      id: Column,
      hi: Long,
      nBuckets: Int = 1024): DataFrame = {
    require(hi > 0, s"hi must be positive, got $hi")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val step = hi / nBuckets + 1
    val bucket = least(greatest((value.cast("long") / step).cast("int"), lit(0)),
      lit(nBuckets - 1))
    // NOTE (r14, measured): an operator-level persist of this frame was
    // tried and REVERTED — corpus_median_length's value is a STORED
    // column (n_chars), so recomputing the projection is nearly free and
    // the cache materialization tripled the query (0.60 → 1.48 s). Same
    // caller contract as [[qualityBand]]: persist upstream only when the
    // value lineage is genuinely expensive.
    val withB = df.select(group.as("__g"), value.cast("long").as("__v"),
      id.as("__id"), bucket.as("__b"))
    val counts = withB.groupBy(col("__g"), col("__b")).agg(count(lit(1)).as("__c"))
    val offsets = counts.withColumn("__start",
      sum(col("__c")).over(Window.partitionBy(col("__g")).orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("__c"))
    val targets = counts.groupBy(col("__g"))
      .agg(((sum(col("__c")) + 1) / 2).cast("long").as("__target"))
    // only the straddling bucket's rows need a within-bucket rank
    val straddling = withB
      .join(broadcast(offsets), Seq("__g", "__b"))
      .join(broadcast(targets), Seq("__g"))
      .where(col("__start") < col("__target") &&
        col("__start") + col("__c") >= col("__target"))
    val wIn = Window.partitionBy(col("__g"), col("__b"))
      .orderBy(col("__v"), col("__id"))
    straddling
      .withColumn("__rank", col("__start") + row_number().over(wIn))
      .where(col("__rank") === col("__target"))
      .select(col("__g").as("group"), col("__v").as("median"))
  }

  /** Mix-drift report: how far the ACTUAL per-source composition of a
    * corpus has drifted from the TARGET mix the pipeline was configured
    * to produce ([[mixSampleWeighted]]/[[mixTokenBudget]] quotas). One
    * row per source: `actual_share` (this source's fraction of the total
    * `weight` mass), `target_share`, the source's KL-divergence term
    * `actual · ln(actual/target)` (summing the column gives
    * KL(actual ‖ target)), and the total-variation term
    * `|actual − target| / 2` (summing gives TV distance). The monitoring
    * op a production mixer runs after every assembly wave — drift above
    * a threshold is the re-balance trigger.
    *
    * Edge semantics: a target source absent from the corpus gets
    * `actual_share = 0` and KL term 0 (the `x·ln x → 0` limit); a corpus
    * source absent from `targets` gets a NULL `target_share` and NULL KL
    * term — the caller's signal that an undeclared source leaked into
    * the mix (TV still counts it at `actual/2`).
    *
    * Scale: one low-cardinality groupBy on source (map-side combine),
    * a 1×1 total aggregate joined by broadcast, and a broadcast target
    * table — after the first aggregate nothing is proportional to the
    * corpus. Integer weights (token/char counts) sum exactly in double,
    * so shares are independent of partition order; fractional weights
    * would make the last ulp order-dependent. `targets` must be positive
    * and sum to 1. */
  def mixDrift(
      docs: DataFrame,
      source: Column,
      weight: Column,
      targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty, "targets must not be empty")
    require(targets.values.forall(_ > 0), s"target shares must be positive, got $targets")
    require(math.abs(targets.values.sum - 1.0) < 1e-6,
      s"target shares must sum to 1, got ${targets.values.sum}")
    val spark = docs.sparkSession
    import spark.implicits._
    val t = targets.toSeq.toDF("source", "target_share")
    val actual = docs
      .groupBy(source.as("source"))
      .agg(sum(weight.cast("double")).as("__w"))
    val total = actual.agg(sum(col("__w")).as("__tw"))
    actual.crossJoin(broadcast(total))
      .withColumn("actual_share", col("__w") / col("__tw"))
      .select(col("source"), col("actual_share"))
      .join(t, Seq("source"), "full_outer")
      .withColumn("actual_share", coalesce(col("actual_share"), lit(0.0)))
      .withColumn("kl_term",
        when(col("actual_share") === 0, lit(0.0))
          .otherwise(col("actual_share") * log(col("actual_share") / col("target_share"))))
      .withColumn("tv_term",
        abs(col("actual_share") - coalesce(col("target_share"), lit(0.0))) / 2)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document in
    * the raw pool by how much it looks drawn from a TARGET distribution
    * (a curated sample — quality web text, a domain corpus) rather than
    * the raw pool itself. Features are hashed-token buckets: each token's
    * 56-bit md5 hash mod `nBuckets`; both distributions are add-1-
    * smoothed bag-of-buckets models, and a document's log-weight is
    * `Σ_tokens ln(p_target(bucket) / p_raw(bucket))` — the importance
    * log-ratio the resampling step ranks by (high = target-like). The
    * selection step is a plain top-k over the returned frame.
    *
    * Returns `(doc_id, n_tokens, logw)` for every document in `docs`.
    *
    * Law (spec-pinned): `target == docs` makes both models identical, so
    * every log-ratio term is `ln 1` and every `logw` is exactly 0.
    *
    * Scale: both bucket models are ≤ `nBuckets` rows built by one
    * map-side-combinable count each — at 100 TB the target model is tiny
    * by definition (a curated sample) and the raw model is one pass over
    * the corpus, built once per corpus version. The per-document pass
    * shuffles only `(doc_id, bucket, count)` triples (≤ min(tokens,
    * nBuckets) per doc, never text), and the log-ratio table joins by
    * broadcast, so the 64-bucket key skew never touches a shuffle. */
  def dsirWeights(
      docs: DataFrame,
      target: DataFrame,
      nBuckets: Int = 64,
      shingleN: Int = 1): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(shingleN > 0, s"shingleN must be positive, got $shingleN")
    // (keep*, b): one row per token occurrence; 56-bit hashes are
    // non-negative so % == pmod and matches the oracle's %.
    def buckets(df: DataFrame, keep: Column*): DataFrame =
      df.select(keep :+ explode(
        TextOps.shingleHashes(
          TextOps.shinglesFromTokens(TextOps.tokens(col("text")), shingleN))).as("h"): _*)
        .withColumn("b", col("h") % nBuckets.toLong)
    // Per-doc bucket counts feed BOTH the raw model and the scoring pass,
    // so the corpus pays a single token explode; the raw model aggregates
    // the (≤ |docs|·nBuckets)-row combined frame, never the tokens again.
    val docCnt = buckets(docs, col("doc_id"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
    val rawCnt = docCnt.groupBy(col("b")).agg(sum(col("c")).as("cr"))
    val tgtCnt = buckets(target).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val rawTot = rawCnt.agg(sum(col("cr")).as("__tr"))
    val tgtTot = tgtCnt.agg(sum(col("ct")).as("__tt"))
    // Every bucket a document can produce appears in rawCnt (docs ⊆ raw
    // pool), so the left join covers all probe keys; absent target
    // buckets smooth to ct = 0.
    val lam = rawCnt.join(tgtCnt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(rawTot)).crossJoin(broadcast(tgtTot))
      .select(col("b"),
        log(((col("ct") + lit(1.0)) / (col("__tt") + lit(nBuckets.toDouble))) /
            ((col("cr") + lit(1.0)) / (col("__tr") + lit(nBuckets.toDouble)))).as("lw"))
    docCnt
      .join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("c") * col("lw")).as("logw"))
  }

  /** The fitted DSIR model as a driver-side map: the importance log-
    * ratio `ln(p_target(b) / p_raw(b))` for EVERY bucket `0 until
    * nBuckets` (complete support — buckets absent from either corpus
    * carry their add-1-smoothed value, so scoring never needs a missing-
    * key fallback). Two ≤`nBuckets`-row aggregates collect to the
    * driver — bounded by the model size, never the corpus — which is
    * what lets [[dsirScore]] run as a pure map-only expression: the
    * model rides the plan as a literal, broadcast with the task
    * binaries, usable in batch AND Structured Streaming (no join, no
    * state). */
  def dsirModel(
      docs: DataFrame,
      target: DataFrame,
      nBuckets: Int = 64,
      shingleN: Int = 1): Map[Long, Double] = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(shingleN > 0, s"shingleN must be positive, got $shingleN")
    def cnt(df: DataFrame): Map[Long, Long] =
      df.select(explode(
          TextOps.shingleHashes(
            TextOps.shinglesFromTokens(TextOps.tokens(col("text")), shingleN))).as("h"))
        .groupBy((col("h") % nBuckets.toLong).as("b"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raw = cnt(docs)
    val tgt = cnt(target)
    val tr = raw.values.sum.toDouble
    val tt = tgt.values.sum.toDouble
    (0L until nBuckets.toLong).map { b =>
      b -> math.log(((tgt.getOrElse(b, 0L) + 1.0) / (tt + nBuckets)) /
                    ((raw.getOrElse(b, 0L) + 1.0) / (tr + nBuckets)))
    }.toMap
  }

  /** Map-only DSIR scoring expression over a fitted [[dsirModel]]: the
    * document's importance log-weight `Σ_tokens lam(bucket(token))` as a
    * single-row column — no explode, no join, no shuffle, so it drops
    * into a streaming admission gate ([[graft.streaming.DocIngest.
    * startDsirAdmission]]) as-is. Agrees with [[dsirWeights]]' `logw`
    * up to double-summation order (the fold runs in token order; the
    * distributed sum in partial-aggregate order). */
  def dsirScore(
      text: Column,
      lam: Map[Long, Double],
      nBuckets: Int,
      shingleN: Int = 1): Column = {
    require(nBuckets > 0 && lam.keySet == (0L until nBuckets.toLong).toSet,
      s"lam must cover every bucket 0 until $nBuckets — fit it with dsirModel")
    require(shingleN > 0, s"shingleN must be positive, got $shingleN")
    val lamCol = map(lam.toSeq.sortBy(_._1)
      .flatMap { case (b, w) => Seq(lit(b), lit(w)) }: _*)
    aggregate(
      transform(
        TextOps.shingleHashes(
          TextOps.shinglesFromTokens(TextOps.tokens(text), shingleN)),
        h => h % nBuckets.toLong),
      lit(0.0),
      (acc, b) => acc + element_at(lamCol, b))
  }

  /** Order-independent corpus CHECKSUM manifest — the reproducibility
    * gate of a 100 TB pipeline: per source, the row count, distinct-
    * content count, an EXACT sum of the 56-bit content hashes, and the
    * total character mass. Two corpus versions (or the same corpus
    * produced by two engines) hold identical content per source iff
    * their manifests match; a single flipped character moves the
    * checksum. Commutative addition makes the manifest independent of
    * row order, partitioning, and cluster size — exactly what a
    * cross-run comparison needs.
    *
    * The hash sum runs in DECIMAL so it is exact at any scale (10^12
    * documents × 2^56 is 29 digits — inside DECIMAL(38,0); a long would
    * overflow and a double would lose the low bits that make the
    * checksum sensitive). The SURFACE, though, is two BIGINT halves
    * (`checksum_hi` = sum div 2^62, `checksum_lo` = sum mod 2^62):
    * wide-decimal output columns canonicalize differently across
    * engines/arrow readers even when the values are bit-identical,
    * while a pair of longs is representation-unambiguous everywhere.
    * hi stays inside a long up to ~4.2e37 total — far past the 29-digit
    * worst case. Scale: one map-side-combinable aggregate over
    * (source); nothing but the scan is proportional to the corpus. */
  def checksum(
      docs: DataFrame,
      source: Column,
      text: Column,
      nChars: Column): DataFrame =
    checksumFromProjected(checksumProjected(docs, source, text, nChars))

  /** [[checksum]] over an ALREADY-HASHED projection `(source, __h
    * DECIMAL(20,0) 56-bit content hash, __nc BIGINT)` — the shape a
    * warehouse corpus maintains as ingest-written columns, and the shape
    * `catalog.Shared.hashedDocsMemo` memoizes once per (session, corpus) so the
    * checksum/funnel/exact-dedup consumers share ONE digest pass instead
    * of each re-hashing the full text column. */
  def checksumFromProjected(projected: DataFrame): DataFrame =
    projected
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("__h")).as("n_unique"),
        sum(col("__h")).cast("decimal(38,0)").as("__sum"),
        sum(col("__nc")).as("total_chars"))
      .select(Seq(col("source"), col("n_docs"), col("n_unique")) ++
        hiLo("__sum") :+ col("total_chars"): _*)

  /** The MERGEABLE subset of [[checksum]]'s manifest — everything but
    * the distinct count (counts, the exact DECIMAL hash sum, and char
    * mass are commutative monoids; exact distinct is not mergeable
    * without per-hash state): `(source, n_docs, hash_sum DECIMAL(38,0),
    * total_chars)`. Partials from DISJOINT corpus slices fold by
    * summing per source — [[graft.streaming.DocIngest.startChecksum]]
    * does exactly that per micro-batch; two partial frames over the
    * same rows fold to the same manifest in any grouping or order. */
  def checksumPartials(
      docs: DataFrame,
      source: Column,
      text: Column,
      nChars: Column): DataFrame =
    checksumProjected(docs, source, text, nChars)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__h")).cast("decimal(38,0)").as("hash_sum"),
        sum(col("__nc")).as("total_chars"))

  /** Surface a [[checksumPartials]]-shaped frame (column `hash_sum`)
    * in the hash-robust two-BIGINT layout [[checksum]] publishes. */
  def checksumSurface(partials: DataFrame): DataFrame =
    partials.select(Seq(col("source"), col("n_docs")) ++
      hiLo("hash_sum") :+ col("total_chars"): _*)

  /** div/mod 2^62 as BIGINT halves (the hash-robust surface — §note 40). */
  private def hiLo(sumCol: String): Seq[Column] = Seq(
    expr(s"$sumCol div 4611686018427387904").as("checksum_hi"),
    (col(sumCol) % lit(4611686018427387904L)).cast("long").as("checksum_lo"))

  private def checksumProjected(
      docs: DataFrame,
      source: Column,
      text: Column,
      nChars: Column): DataFrame =
    docs.select(source.as("source"),
        conv(substr(md5(text), lit(1), lit(14)), 16, 10)
          .cast("decimal(20,0)").as("__h"),
        nChars.cast("long").as("__nc"))

  /** Per-group top-k selection by an arbitrary score — the bounded-heap
    * generalization of [[mixSample]]'s content-hash quota: keep the `k`
    * rows with the LARGEST `score` in each group (ties → smaller `id`).
    * The deployment shape of [[dsirWeights]] — importance resampling
    * under per-source quotas — but group/score-agnostic.
    *
    * Returns `(group, id, score)`. Quantize the score BEFORE calling if
    * cross-engine rank determinism matters (SURVEY §11.15 — the r4-then-
    * rank rule); `0.0 - score` (not unary minus) feeds the heap so a
    * `-0.0` score can never order differently from `0.0` under the
    * heap's total double ordering.
    *
    * Scale: O(k) memory per group in the bounded heap
    * ([[graft.functions.TopKPairsAgg]]), map-side combined — never a
    * per-group ranking window, which would funnel each group's full row
    * set through one task. */
  def topKPerGroup(
      df: DataFrame,
      group: Column,
      score: Column,
      id: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.groupBy(group.as("group"))
      .agg(TopKPairsAgg.topKPairs(lit(0.0) - score, id, k).as("__top"))
      .select(col("group"), explode(col("__top")).as("__p"))
      .select(col("group"), col("__p.id").as("id"),
        (lit(0.0) - col("__p.distance")).as("score"))
  }

  /** Deterministic seeded global shuffle — the training-data ordering
    * primitive: every row gets a `(shard, pos)` address that is a pure
    * function of `(seed, id)`, so the "random" read order is stable
    * across reruns, resumable mid-epoch (restart at the last consumed
    * address — no RNG state to restore), and re-dealt by changing the
    * seed per epoch. No engine RNG is involved anywhere
    * (`rand()`-free); the permutation key is the first 56 bits of
    * `md5(seed:id)` — the repo's engine-portable hash (same construction
    * as rendezvous sharding / [[mixSample]]'s content-hash quota).
    *
    * Plan: one map pass to derive `(weight, shard)`, one shuffle on
    * `shard`, and a per-shard sort for `pos` — a window whose partition
    * is the SHARD, not a data key: per-task volume is |data|/nShards by
    * the hash's uniformity, so the caller sizes `nShards` exactly like
    * [[pack]]'s (one task's rows ≈ one output file). A global
    * `orderBy(weight)` would instead range-shuffle the full corpus;
    * shard-local positions give the same read order (readers consume
    * shards in shard order) for half the shuffle. */
  def deterministicShuffle(
      docs: DataFrame,
      id: Column,
      seed: Long,
      nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val w = conv(substr(md5(concat(lit(seed.toString), lit(":"),
      id.cast("string"))), lit(1), lit(14)), 16, 10).cast("long")
    docs
      .withColumn("__w", w)
      .withColumn("shard", pmod(col("__w"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos",
        row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("__w").asc, id.asc)).cast("long") - 1L)
      .drop("__w")
  }

  /** Materialize a [[deterministicShuffle]]d corpus as its physical
    * training layout: one directory per shard, rows stored in `pos`
    * order inside, and a one-row `_graft_layout` descriptor carrying
    * `(seed, n_shards)` so a reader (or a resumed run) can re-derive —
    * and audit — every address without out-of-band state. Trainers
    * consume shards in shard order and rows in file order; that IS the
    * seeded permutation.
    *
    * Write shape mirrors [[graft.sources.Records.snapshotById]]: one
    * task per shard (repartition on the partition column), so exactly
    * one file per shard, sorted by `pos` — the sort is per-shard, never
    * global. */
  def writeShuffled(
      docs: DataFrame,
      id: Column,
      path: String,
      seed: Long,
      nShards: Int): Unit = {
    deterministicShuffle(docs, id, seed, nShards)
      .repartition(col("shard"))
      .sortWithinPartitions(col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    docs.sparkSession.range(1)
      .select(lit(seed).as("seed"), lit(nShards).as("n_shards"))
      .write.mode("overwrite").parquet(s"$path/_graft_layout")
  }

  /** Temperature-scaled mixing shares — the multilingual/multi-source
    * rebalancing standard (mT5/XLM-R style): source `i`'s sampling share
    * is `n_i^(1/T) / Σ n_j^(1/T)`, flattening the natural distribution
    * toward uniform as `T` grows so low-resource sources are not drowned
    * out. This implementation fixes `T = 2` (square-root smoothing, the
    * common default): IEEE `sqrt` is correctly rounded in every engine,
    * and each root is quantized to 1e-4 BEFORE the integer-exact sum, so
    * shares are bit-identical cross-engine (a non-integer `pow` exponent
    * would be libm-dependent — see the repo's literal-model rule).
    *
    * Returns per source: `n_tokens`, `raw_share` (natural), `t_share`
    * (temperature-scaled), `boost` = t_share/raw_share (the up/down-
    * sampling factor the mixer applies). One aggregate + a 1-row total
    * cross-joined back — nothing proportional to the corpus after the
    * first rollup. */
  def temperatureMix(
      docs: DataFrame,
      source: Column,
      nTokens: Column): DataFrame = {
    val per = docs
      .select(source.as("source"), nTokens.cast("long").as("__nt"))
      .groupBy(col("source"))
      .agg(sum(col("__nt")).as("n_tokens"))
      .withColumn("__q", floor(sqrt(col("n_tokens").cast("double"))
        * lit(10000.0) + lit(0.5)).cast("long"))
    val tot = per.agg(sum(col("n_tokens")).as("__tot_n"),
      sum(col("__q")).as("__tot_q"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        (floor(col("n_tokens").cast("double") / col("__tot_n").cast("double")
          * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("raw_share"),
        (floor(col("__q").cast("double") / col("__tot_q").cast("double")
          * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("t_share"),
        (floor(col("__q").cast("double") * col("__tot_n").cast("double")
          / (col("__tot_q").cast("double") * col("n_tokens").cast("double"))
          * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("boost"))
  }

  /** Multi-epoch sampling plan: how many passes over each source a
    * training run makes to hit a target mix at a token budget — the
    * Llama/Gopher-style "epochs per source" table. For each source with
    * `nTokens` available and target share `weights(source)`, the plan
    * allocates `target = round(budget · weight)` tokens =
    * `full_epochs = target / nTokens` complete passes plus a
    * `rem_tokens = target % nTokens` partial pass (the caller samples
    * that remainder with [[sampleToBudget]] / [[deterministicShuffle]]
    * prefixes). `oversample_x` (r4 of target/nTokens) makes the
    * repetition risk visible — the quantity the data-quality literature
    * caps (e.g. ≤4 epochs before diminishing returns).
    *
    * One aggregate over the corpus + a broadcast literal weight table;
    * integer arithmetic end-to-end except the advisory ratio. Sources
    * present in the data but absent from `weights` get weight 0 (and
    * surface with zero target rather than vanishing — auditability);
    * weights for sources with no data are ignored. */
  def epochPlan(
      docs: DataFrame,
      source: Column,
      nTokens: Column,
      weights: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val weightOf = weights.foldLeft(lit(0.0)) { case (acc, (src, wt)) =>
      when(col("source") === src, lit(wt)).otherwise(acc)
    }
    docs
      .select(source.as("source"), nTokens.cast("long").as("__nt"))
      .groupBy(col("source"))
      .agg(sum(col("__nt")).as("n_tokens"))
      .withColumn("weight", weightOf)
      .withColumn("target_tokens",
        floor(lit(budgetTokens.toDouble) * col("weight") + lit(0.5)).cast("long"))
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division, and a
      // cast-back truncation could flip at a representability boundary;
      // integer division is exact in both engines (`//` in DuckDB)
      .withColumn("full_epochs", expr("target_tokens div n_tokens"))
      .withColumn("rem_tokens", col("target_tokens") % col("n_tokens"))
      .withColumn("oversample_x",
        floor(col("target_tokens").cast("double") / col("n_tokens").cast("double")
          * lit(10000.0) + lit(0.5)) / lit(10000.0))
  }
}
