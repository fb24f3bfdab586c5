package graft.operators

import graft.types.Metric
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every near-dup variant is CANDIDATE GENERATION (a cheap
  * blocking key → one shuffle → within-bucket pairs) followed by exact
  * VERIFICATION on the candidate pairs only. All-pairs O(n²) never happens;
  * the only joins on the big table are equi-joins on short hash keys, which
  * Spark executes as shuffled hash joins partitioned by the key. Hashes are
  * md5 (cross-engine deterministic) — see [[TextOps]] note.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on `sha2(text, 256)`, NOT the text itself —
    * the shuffle then carries a fixed 64-byte key instead of the full
    * document, which at corpus scale is the difference between shuffling
    * hashes and shuffling the corpus. SHA-256 rather than md5: md5
    * collisions are practically constructible, so an adversarial corpus
    * could make distinct documents silently merge — a property a dedup
    * pipeline over untrusted training data must not have. Returns one row
    * per distinct text: the kept (minimum) id and the duplicate count. */
  def exact(docs: DataFrame): DataFrame =
    exactFromHashed(docs, sha2(col("text"), 256))

  /** [[exact]] over a PRE-HASHED content key — the entry point for a
    * corpus whose sha-256 digest is a maintained column (written at
    * ingest; `catalog.Shared.hashedDocsMemo` memoizes that projection
    * per session so the exact-dedup / checksum / funnel consumers share
    * one digest pass). Only the 64-byte key and the id shuffle, never text. */
  def exactFromHashed(docs: DataFrame, key: Column): DataFrame =
    docs.groupBy(key.as("__h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))

  /** Exact dedup over the NFC-normalized text: canonically-equivalent
    * spellings (composed é vs e + U+0301) hash to one group that raw
    * [[exact]] keeps apart. Same scale shape — the normalize + sha-256
    * is map-side, only the 64-byte digest shuffles. */
  def exactNfc(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(TextOps.nfc(col("text")), 256).as("__h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))

  /** MinHash signature via the Kirsch-Mitzenmacher construction: ONE md5
    * per shingle yields two independent 56-bit integers (hex substrings),
    * and permutation `i` is the derived hash `h1 + i·h2` — so the md5 cost
    * is O(shingles), not O(shingles × perms). 56-bit halves keep
    * `h1 + (perms-1)·h2 < 2^61`, safely inside a signed long under ANSI
    * arithmetic. Signature elements are the per-permutation minima.
    * Map-only: no shuffle.
    *
    * Emits BOTH `__sig` (per-permutation minima) and `__shh` (the
    * per-shingle 56-bit identities, = [[TextOps.shingleHashes]]) from one
    * fused digest pass — `__shh` is exactly what LSH verification needs,
    * so [[minhashLsh]] never re-tokenizes or re-hashes a candidate doc. */
  def minhashSignature(docs: DataFrame, shingleN: Int = 3, perms: Int = 16): DataFrame = {
    require(perms <= 16, "perms > 16 risks long overflow in derived hashes")
    // The signature is the CPU-heavy stage; spread it across all cores
    // WHEN the input scan is narrow (the testdata is one parquet
    // row-group = one partition; a production table has many splits, and
    // there the spread is the identity — no text shuffle at scale).
    graft.Caching.spreadIfNarrow(docs, col("doc_id"))
      // tokens, shingles, and md5s materialize as separate projections so
      // HOF lambdas reference attributes, not re-executed subtrees
      // (interpreted HOFs re-evaluate inlined children per element access).
      // The shorter-than-n filter runs on the TOKEN count — equivalent to
      // `size(shingles) > 0`, but filtering on the shingle column was
      // measured at 8 s/5k docs: alias substitution inlines the whole
      // shingle build (split re-executed per element) into the predicate.
      .withColumn("__toks", TextOps.tokens(col("text")))
      .where(size(col("__toks")) >= shingleN)
      .withColumn("__sh", TextOps.shinglesFromTokens(col("__toks"), shingleN))
      .drop("__toks")
      // Native fused kernel (NativeExprs.MinhashSigHashesExpr): one
      // compiled pass over the shingles computing md5, all `perms`
      // running minima, AND the per-shingle hash identities.
      .withColumn("__sig_shh",
        graft.functions.NativeExprs.minhashSigHashes(col("__sh"), perms))
      .withColumn("__sig", col("__sig_shh.sig"))
      .withColumn("__shh", col("__sig_shh.shh"))
      .drop("__sig_shh")
  }

  /** Default viral-duplicate cap for the COMPOSED pipelines
    * (`duplicateGroups` over [[minhashLsh]], [[graft.streaming.DocIngest]]'s
    * admission index): buckets above this size are dropped before the band
    * join. The primitive pair emitters keep `Int.MaxValue` (exact recall,
    * oracle-checked); the compositions default to a finite cap because at
    * corpus scale one viral page with 10⁶ copies makes an uncapped band
    * self-join emit 10¹² candidate pairs — and an oversized bucket is
    * overwhelmingly an exact/near-exact duplicate family that the exact
    * dedup pass composed upstream already collapses, so the cap costs no
    * real recall. 1000² = 10⁶ pairs per surviving bucket bounds the
    * worst-case join fan-out while sitting far above any organic
    * non-duplicate collision size. */
  val DefaultPipelineMaxBucket = 1000

  /** Drop LSH buckets larger than `maxBucket` before a band self-join:
    * a bucket of m colliding docs yields m² candidate pairs, so a viral
    * duplicate cluster (10⁶ copies of one boilerplate page) turns the
    * join quadratic no matter how the shuffle is partitioned — AQE skew
    * handling can't help because the explosion is join CARDINALITY, not
    * partition size. Oversized buckets are overwhelmingly exact/near-exact
    * duplicate families, which the exact-dedup pass (composed first in
    * `corpus_clean`) already collapses — the standard large-scale LSH
    * practice. The hot-key frame is tiny (few keys) → broadcast anti. */
  private[graft] def dropHotBuckets(
      banded: DataFrame, keyCols: Seq[String], maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else {
      val hot = banded.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__bn"))
        .where(col("__bn") > maxBucket)
        .select(keyCols.map(col): _*)
      banded.join(broadcast(hot), keyCols, "left_anti")
    }

  /** Banding/cap census of a banded LSH view — the monitoring dashboard
    * behind [[dropHotBuckets]]'s cap: per band, the exact row count,
    * bucket count, hottest bucket, colliding buckets, candidate-pair
    * fanout Σ n·(n−1)/2 (the quantity the viral-bucket cap bounds — a
    * band self-join's cost is THIS, not the row count), and how many
    * buckets a capped reader would drop. Takes ANY banded frame with
    * `(band_idx, band_hash)` columns — in production that is a pure
    * columnar scan of the maintained on-disk store's `banded` table
    * ([[graft.streaming.DocIngest.startCorpusIndexMaintenance]] layout:
    * narrow hash columns, band_idx partitioned), NEVER a re-run of the
    * signature kernel over the corpus: at 100 TB the census must cost a
    * metadata-sized scan, not an index rebuild. Two bounded aggregations
    * (bucket histogram → per-band rollup); output = one row per band. */
  def bandingCensus(banded: DataFrame, maxBucket: Int = DefaultPipelineMaxBucket): DataFrame =
    banded.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("__bn"))
      .groupBy(col("band_idx"))
      .agg(sum(col("__bn")).as("n_rows"),
        count(lit(1)).as("n_buckets"),
        max(col("__bn")).as("max_bucket"),
        sum(when(col("__bn") >= 2, 1L).otherwise(0L)).as("n_colliding"),
        // integral (`div`) pair count: the fractional `/` would sum the
        // Σn(n−1)/2 fanout through doubles, losing exactness past 2^53
        // — reachable for a whole-corpus census of a viral family
        sum(expr("(__bn * (__bn - 1)) div 2")).as("cand_pairs"),
        sum(when(col("__bn") > maxBucket, 1L).otherwise(0L)).as("n_over_cap"))
      .select(col("band_idx").cast("int").as("band_idx"), col("n_rows"),
        col("n_buckets"), col("max_bucket"), col("n_colliding"),
        col("cand_pairs").cast("long").as("cand_pairs"), col("n_over_cap"))

  /** `(doc_id, [carry...,] band_idx, band_hash)` banded view of a
    * [[minhashSignature]] frame — the LSH bucketing key: `bands` bands of
    * `perms / bands` signature rows each, hashed to one md5 per band.
    * `carry` lists extra columns to keep through the explode (the
    * streaming gate carries `__shh` so verification needs no second pass
    * over the stream side). */
  def bandedSignature(
      sig: DataFrame, perms: Int, bands: Int, carry: Seq[String] = Nil): DataFrame = {
    val rows = perms / bands
    sig.select(
      (col("doc_id") +: carry.map(col)) :+
        posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => md5(concat_ws("|",
              slice(col("__sig"), b * rows + 1, lit(rows)).cast("array<string>"))))): _*)
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** MinHash + LSH banded near-dup join.
    *
    * Bands the signature (`bands` bands × `perms/bands` rows), hashes each
    * band, explodes to (band_idx, band_hash), self-joins on equality —
    * a shuffle partitioned by band hash, which is exactly how this scales:
    * each bucket is tiny w.h.p. for non-duplicate text. Candidates are
    * then verified with exact shingle Jaccard ≥ `threshold`.
    *
    * `maxBucket` (opt-in) caps bucket size against viral-duplicate skew —
    * see [[dropHotBuckets]]; the default keeps every bucket (exact
    * recall, oracle-checked). */
  def minhashLsh(
      docs: DataFrame,
      shingleN: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val rows = perms / bands
    // Persist (doc_id, signature, shingle-hashes) — 16 longs + one
    // primitive-long array per doc, all products of the ONE fused digest
    // pass. The columnar cache prunes columns per consumer: the band legs
    // read only (doc_id, __sig); verification reads only (doc_id, __shh)
    // — so LSH verification costs zero re-tokenization/re-hashing (round
    // 2 recomputed shingles+md5 for every candidate doc). At warehouse
    // scale both would be materialized storage tables instead.
    // Cache lifecycle: the two persists below live as long as the
    // returned (lazy) plan — MEMORY_AND_DISK evicts under pressure, and a
    // caller done with the result can `spark.catalog.clearCache()`; they
    // cannot be unpersisted here without forcing eager execution.
    // `ensureCached` registers each distinct plan once: repeated
    // invocations over the same input reuse the live cache entry instead
    // of re-registering it (see [[graft.Caching]]).
    val sig = graft.Caching.ensureCached(
      minhashSignature(docs, shingleN, perms)
        .select(col("doc_id"), col("__sig"), col("__shh")))

    // Banded frame stays NARROW — (doc_id, band_idx, band_hash) — so the
    // self-join shuffles 3 small columns, never the shingle arrays.
    val banded = dropHotBuckets(
      bandedSignature(sig, perms, bands), Seq("band_idx", "band_hash"), maxBucket)

    val a = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_id_a"))
    val b = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_id_b"))
    // Persist: tiny (pairs only), consumed by both verification legs —
    // unpersisted it would re-run the band self-join per consumer.
    val candidates = graft.Caching.ensureCached(
      a.join(b, Seq("band_idx", "band_hash"))
        .where(col("doc_id_a") < col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .distinct()) // a pair may collide in several bands

    // Exact verification: Jaccard over the CACHED 56-bit long shingle
    // hashes — set ops on primitives, not an O(n²) string-array fallback;
    // values equal string Jaccard (TextOps.shingleHashes collision note).
    // The semi-join prunes to candidate docs FIRST so the pair joins
    // shuffle candidate hash arrays only, never every doc's.
    val candIds = candidates.select(col("doc_id_a").as("doc_id"))
      .union(candidates.select(col("doc_id_b").as("doc_id")))
      .distinct()
    val candSh = sig.join(candIds, Seq("doc_id"), "left_semi")
    val shA = candSh.select(col("doc_id").as("doc_id_a"), col("__shh").as("__shh_a"))
    val shB = candSh.select(col("doc_id").as("doc_id_b"), col("__shh").as("__shh_b"))
    candidates
      .join(shA, Seq("doc_id_a"))
      .join(shB, Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        TextOps.jaccard(col("__shh_a"), col("__shh_b")).as("jaccard"))
      .where(col("jaccard") >= lit(threshold))
  }

  /** Containment near-dup pairs — the asymmetric-duplication detector
    * Jaccard-banded LSH is structurally blind to: when A ⊂ B and |B| ≫
    * |A| (an article quoted inside a much larger wrapper page), Jaccard
    * is small so no MinHash band agrees, yet containment |A∩B|/|A| ≈ 1.
    * Candidate generation inverts on RARE shingles instead of signature
    * bands: every pair sharing at least `minShared` shingles with
    * document frequency in [2, maxDf] becomes a candidate. A
    * high-containment pair shares ALL of the smaller doc's shingles, so
    * it escapes only when fewer than `minShared` of them are uncommon
    * (df ≤ maxDf) — i.e. the smaller doc is (nearly) pure boilerplate,
    * which is [[Corpus.lineDedup]]'s jurisdiction, not containment
    * dedup's. Reported containment is the max-directional form
    * |A∩B| / min(|A|,|B|); Jaccard rides along for triage.
    *
    * Scale: candidate generation is ONE bounded aggregation — per
    * shingle hash, a size-capped heap collects the `maxDf + 1` smallest
    * doc ids (the existing [[graft.functions.TopKPairsAgg]] with a
    * constant distance key: O(maxDf) state per group, map-side
    * combinable), so a corpus-common shingle costs `maxDf + 1` buffer
    * slots to detect and discard, never a collected posting list; pairs
    * expand map-side from the surviving ≤ maxDf-element lists (≤
    * C(maxDf, 2) per shingle) straight into the pair-count shuffle.
    * Total candidate work ≤ maxDf · |corpus shingle instances|, never
    * all-pairs, in two shuffles end-to-end. The `minShared` gate
    * (default 2) is the precision lever that makes the verify stage's
    * input data-proportional rather than collision-proportional: on
    * corpora whose shingle df mass sits just inside the cap,
    * one-shared-shingle pairs are overwhelmingly noise (measured 95% of
    * candidate volume on the synthetic corpus) and the gate costs
    * nothing — it rides the pair-count aggregation. Verification is
    * exact set ops over the cached 56-bit shingle hashes; the `sig`
    * frame is the SAME cached plan [[minhashLsh]] registers (one fused
    * digest pass serves both pipelines in a session). Small corpora
    * (≤ `broadcastVerifyRows`, known from the cached sig frame) take
    * broadcast verify joins; above that the semi-join pruned shuffle
    * path keeps the 100 TB shape. Both ratios are exact small-integer
    * rationals, so the threshold gate and the oracle's are
    * boundary-identical across engines. */
  def containmentPairs(
      docs: DataFrame,
      shingleN: Int = 3,
      perms: Int = 16,
      maxDf: Int = 10,
      threshold: Double = 0.8,
      minShared: Int = 2,
      broadcastVerifyRows: Long = 1L << 15): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val sig = graft.Caching.ensureCached(
      minhashSignature(docs, shingleN, perms)
        .select(col("doc_id"), col("__sig"), col("__shh")))
    // Narrow postings — (doc_id, one 8-byte hash) — so the bounded
    // per-shingle aggregation shuffles primitives, never shingle arrays.
    val postings = sig.select(col("doc_id"),
      explode(array_distinct(col("__shh"))).as("__h"))
    // Bounded collect: maxDf+1 smallest doc ids per shingle — enough to
    // KNOW df > maxDf (size = maxDf+1 → drop) while holding the complete
    // id list for every shingle inside the cap. Ids arrive ascending, so
    // the (a, i) × slice(i+2, ...) expansion yields each unordered pair
    // exactly once with doc_id_a < doc_id_b.
    val grouped = postings.groupBy(col("__h"))
      .agg(graft.functions.TopKPairsAgg.topKPairs(lit(0.0), col("doc_id"), maxDf + 1).as("__tk"))
      .where(size(col("__tk")).between(2, maxDf))
      .select(transform(col("__tk"), x => x("id")).as("__ds"))
    val candidates = grouped
      .select(explode(flatten(transform(col("__ds"),
        (a, i) => transform(slice(col("__ds"), i + lit(2), lit(maxDf)),
          b => struct(a.as("doc_id_a"), b.as("doc_id_b")))))).as("__p"))
      .select(col("__p.doc_id_a"), col("__p.doc_id_b"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(count(lit(1)).as("__nshared"))
      .where(col("__nshared") >= minShared)
      .select("doc_id_a", "doc_id_b")
    // Verify: attach both docs' full shingle sets. The cached sig frame's
    // row count is known (one cheap job on the materialized cache), so
    // small corpora broadcast the array side — 3 fewer shuffles — while
    // large ones keep the candidate-pruned shuffle join.
    val (shA, shB) =
      if (sig.count() <= broadcastVerifyRows) {
        val sh = sig.select(col("doc_id"), array_distinct(col("__shh")).as("__s"))
        (broadcast(sh.select(col("doc_id").as("doc_id_a"), col("__s").as("__sa"))),
          broadcast(sh.select(col("doc_id").as("doc_id_b"), col("__s").as("__sb"))))
      } else {
        val candIds = candidates.select(col("doc_id_a").as("doc_id"))
          .union(candidates.select(col("doc_id_b").as("doc_id")))
          .distinct()
        val candSh = sig.join(candIds, Seq("doc_id"), "left_semi")
        (candSh.select(col("doc_id").as("doc_id_a"),
            array_distinct(col("__shh")).as("__sa")),
          candSh.select(col("doc_id").as("doc_id_b"),
            array_distinct(col("__shh")).as("__sb")))
      }
    candidates
      .join(shA, Seq("doc_id_a"))
      .join(shB, Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        (size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          least(size(col("__sa")), size(col("__sb"))).cast("double")).as("containment"),
        TextOps.jaccard(col("__sa"), col("__sb")).as("jaccard"))
      .where(col("containment") >= lit(threshold))
  }

  /** SimHash fingerprint (60-bit, from the top 15 hex chars of each token's
    * md5 so the bit source is cross-engine reproducible): per bit position,
    * tokens vote ±1; the bit is set when the vote is positive. Map-only.
    *
    * Runs as a native kernel
    * ([[graft.functions.NativeExprs.SimHash60Expr]]): one compiled pass
    * over the token array. The interpreted-HOF twin — `aggregate` of
    * per-token `conv(substring(md5(t),1,15),16,10)` into a 60-wide ±1
    * vote array — is what the DuckDB oracle mirrors; values are
    * identical. */
  def simhash(docs: DataFrame): DataFrame =
    graft.Caching.spreadIfNarrow(docs, col("doc_id"))
      .withColumn("simhash",
        graft.functions.NativeExprs.simhash60(TextOps.tokens(col("text"))))

  /** Contiguous band (offset, width-in-bits) layout: `bands` chunks
    * covering all `bits` fingerprint bits, widths differing by at most
    * one. `bits` may be 64 (a full long — perceptual hashes); masking
    * after the arithmetic shift keeps band keys sign-safe, so no band
    * may be the whole word. */
  private[graft] def fingerprintBandLayout(bits: Int, bands: Int): Seq[(Int, Int)] = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    require(bands >= 1 && bands <= bits, s"bands must be in [1, $bits], got $bands")
    require(bits / bands < 64, "a 64-bit single band has no in-range mask")
    val base = bits / bands
    val extra = bits % bands
    val widths = Seq.tabulate(bands)(b => if (b < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  private[graft] def simhashBandLayout(bands: Int): Seq[(Int, Int)] =
    fingerprintBandLayout(60, bands)

  /** Near-dup PAIRS over an arbitrary per-row bit FINGERPRINT
    * `(idCol, hashCol)` — the banded-Hamming machinery behind
    * [[simhashPairs]], factored out so any 64-bit-or-narrower
    * fingerprint column rides it (the perceptual image aHash is the
    * second producer). Pigeonhole-complete: `maxHamming + 1` contiguous
    * bands, so two fingerprints within the threshold collide in at
    * least one band; verification is the exact `bit_count(xor)`.
    * `maxHamming = 0` degenerates to an exact-hash self-join (no
    * banding — the one band would be the whole word, maskless at 64
    * bits).
    * `maxBucket` caps viral buckets ([[dropHotBuckets]]). Emits
    * `(id_a, id_b, hamming)` once per verified pair. */
  def fingerprintPairs(
      fp: DataFrame,
      idCol: String,
      hashCol: String,
      bits: Int,
      maxHamming: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, $bits), got $maxHamming")
    val base = graft.Caching.ensureCached(
      fp.select(col(idCol).as("__id"), col(hashCol).as("__fp")))
    if (maxHamming == 0) {
      // Hamming 0 = identical fingerprints: the single pigeonhole band is
      // the WHOLE word, which needs no banding at all (and at bits = 64
      // has no in-range mask — the fingerprintBandLayout require this
      // special case keeps off the public [0, bits) contract). Exact-hash
      // self-join on the fingerprint; one bucket per distinct value, so
      // no distinct() is needed on the output.
      val keyed = dropHotBuckets(base, Seq("__fp"), maxBucket)
      keyed.select(col("__fp"), col("__id").as("id_a"))
        .join(keyed.select(col("__fp"), col("__id").as("id_b")), Seq("__fp"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("__fp").bitwiseXOR(col("__fp"))).as("hamming"))
    } else {
      val bandKeys = fingerprintBandLayout(bits, maxHamming + 1).map { case (off, w) =>
        // arithmetic shift + mask: bits above the band width (sign fill
        // included) are masked away, so negative 64-bit hashes band safely
        shiftright(col("__fp"), off).bitwiseAND(lit((1L << w) - 1))
      }
      val banded = dropHotBuckets(
        base.select(col("__id"), col("__fp"),
          posexplode(array(bandKeys: _*)))
          .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key"),
        Seq("band_idx", "band_key"), maxBucket)
      val a = banded.select(col("band_idx"), col("band_key"),
        col("__id").as("id_a"), col("__fp").as("__ha"))
      val b = banded.select(col("band_idx"), col("band_key"),
        col("__id").as("id_b"), col("__fp").as("__hb"))
      a.join(b, Seq("band_idx", "band_key"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
        .where(col("hamming") <= lit(maxHamming))
        .distinct()
    }
  }

  /** SimHash near-dup pairs, blocked on `maxHamming + 1` contiguous bands:
    * by pigeonhole, two fingerprints within Hamming distance `maxHamming`
    * differ in at most `maxHamming` bands, so at least one band matches —
    * candidate generation is COMPLETE for the verification threshold
    * (the round-1 fixed-4-band layout silently missed pairs with 4–8
    * differing bits spread across all bands). Verification is exact:
    * `bit_count(xor) <= maxHamming`. Same shuffle shape as LSH;
    * `maxBucket` caps viral-duplicate buckets like [[dropHotBuckets]]. */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 8,
      maxBucket: Int = Int.MaxValue): DataFrame =
    // the generic banded-Hamming machinery over the 60-bit text
    // fingerprint; [[fingerprintPairs]] persists the (id, fingerprint)
    // frame internally so the band self-join's two legs read the cache
    // instead of each re-running the tokenize + fingerprint kernels
    fingerprintPairs(simhash(docs).select(col("doc_id"), col("simhash")),
        "doc_id", "simhash", bits = 60, maxHamming = maxHamming,
        maxBucket = maxBucket)
      .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
        col("hamming"))

  /** Embedding-cosine near-dup over a PRE-BLOCKED frame
    * `(block, id, embedding)`. The block key must have data-proportional
    * cardinality — the intended producer is [[IvfIndex.assignTop2]]'s
    * two nearest `cluster_id`s per vector (unioned into one block column;
    * dedupe matches downstream), which closes the Voronoi-boundary recall
    * gap of single-cluster blocking while keeping bucket sizes bounded by
    * the index's density contract, so within-block pair counts stay
    * O(n · density) instead of quadratic. (A fixed-cardinality key like a
    * class label is a test-scale-only shortcut and is deliberately NOT
    * taken here.) Within-block pairs are verified by exact cosine
    * similarity ≥ `threshold`. */
  def embeddingNearDup(blocked: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.Column
    // native dot kernel — bit-identical to the HOF aggregate the oracle mirrors
    def dot(x: Column, y: Column): Column = graft.functions.NativeExprs.dot(x, y)
    // Precompute each row's norm BEFORE the join: O(n) instead of O(pairs)
    // norm work, and bit-identical to the per-pair formulation since it is
    // the same expression over the same row.
    val withNorm = blocked.select(col("block"), col("id"),
      col("embedding"), sqrt(dot(col("embedding"), col("embedding"))).as("__norm"))
      // a zero-norm vector has no direction: cosine similarity to it is
      // 0/0, which under ANSI SQL kills the whole job on ONE corrupt row.
      // Zero vectors cannot near-duplicate anything in angular space, so
      // they are excluded from candidate generation (adversarial-data
      // finding, r8)
      .where(col("__norm") > 0.0)
    val a = withNorm.select(col("block"), col("id").as("id_a"),
      col("embedding").as("__ea"), col("__norm").as("__na"))
    val b = withNorm.select(col("block"), col("id").as("id_b"),
      col("embedding").as("__eb"), col("__norm").as("__nb"))
    a.join(b, Seq("block"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sim", dot(col("__ea"), col("__eb")) / (col("__na") * col("__nb")))
      .where(col("cos_sim") >= lit(threshold))
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Duplicate GROUPS from verified near-dup PAIRS: connected components
    * by min-label propagation — the step that turns any pair emitter
    * ([[minhashLsh]], [[simhashPairs]], [[embeddingNearDup]] — the latter
    * emits `id_a`/`id_b`, so pass `srcCol = "id_a", dstCol = "id_b"`)
    * into an actionable keep/drop map (`rep_id` = the minimum doc id of
    * the component; keep it, drop the rest).
    *
    * ⚠ EAGER: calling this EXECUTES the entire upstream pair pipeline
    * (and each propagation round) before returning — the returned frame
    * is the already-converged label table, not a lazy plan. Building the
    * pair list eagerly (one `localCheckpoint(eager = true)`) is what
    * keeps each loop round planning against a small materialized RDD
    * instead of re-embedding the full LSH tree (~3 s/round of pure
    * driver planning at sf0.1); the loop itself must run an aggregate
    * per round regardless (convergence is data-dependent). Callers
    * composing lazily should invoke this last.
    *
    * Scale shape: each round is one equi-join of the edge list against
    * the current labels plus a min-aggregate — shuffles bounded by
    * |edges|, converging in graph-diameter rounds (near-dup components
    * are short chains or cliques, so diameter is small). Lineage AND
    * inherited statistics are truncated per round (lazy
    * [[graft.Caching.truncate]]) — the loop-carried join plan would
    * otherwise nest per round (see [[IvfIndex.refine]]). The convergence
    * check (label-change count) is one aggregate per round over the
    * (node, label) frame, which is bounded by the DISTINCT DOCS THAT
    * APPEAR IN ANY PAIR — the duplicate subset, not the corpus. */
  // maxIter bounds pathological chain-of-drift components (label
  // propagation needs diameter rounds); the loop exits on convergence, so
  // headroom beyond the actual diameter costs nothing.
  def duplicateGroups(
      pairs: DataFrame,
      maxIter: Int = 50,
      srcCol: String = "doc_id_a",
      dstCol: String = "doc_id_b"): DataFrame = {
    // Materialize the directed pair list ONCE (eager local checkpoint,
    // stats reset). The pair emitter is typically a full LSH
    // candidate+verify pipeline; left lazy (even persisted), every
    // downstream construction in the loop re-embeds that whole tree, and
    // each `toRdd` boundary re-canonicalizes/re-plans it — measured at
    // sf0.1 as ~3 s of pure driver planning against ~0.4 s of actual
    // execution. After the eager checkpoint every loop plan scans a small
    // materialized RDD bounded by the duplicate subset, not the corpus,
    // and the edge union needs no cache of its own.
    val p = graft.Caching.truncate(
      pairs.select(col(srcCol).as("src"), col(dstCol).as("dst")), eager = true)
    val edges = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
    var labels = graft.Caching.truncate(
      edges.select(col("src").as("node")).distinct()
        .withColumn("lab", col("node")), eager = false)
    // Convergence via the label-sum invariant: min-propagation is
    // MONOTONE (labels only ever decrease), so Σlab strictly decreases
    // iff any label changed — an exact test from one scalar aggregate
    // per round (which doubles as the round's materializing action)
    // instead of a join against the previous labels. Decimal sum: ids
    // near 2^63 would overflow a long Σ. Zero rows sum to SQL NULL —
    // treated as zero so an empty pair graph (a corpus with no detected
    // duplicates, the common happy path) converges immediately instead
    // of NPE-ing on the comparison.
    def labSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lab").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labSum(labels)
    var changed = true
    var i = 0
    // One ITERATION = propagate one hop over the edges, take the min,
    // then POINTER-JUMP (lab' = lab(lab) — every label is a live node
    // id since init lab = node and mins range over node ids, so the
    // self-join hits a row for every label; left join + coalesce is
    // belt-and-braces). The jump is monotone (lab(lab) ≤ lab) and
    // preserves the fixed point (prop-stable + jump-stable ⇒ labels
    // constant per component ⇒ component min), so the label-sum
    // convergence invariant is unchanged while long drift-chains
    // converge in far fewer rounds than their diameter — existential at
    // 100 TB where a boilerplate-drift chain can be thousands of docs.
    def iterate(cur: DataFrame): DataFrame = {
      val prop = edges
        .join(cur.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("lab"))
      val merged = graft.Caching.truncate(
        cur.unionByName(prop)
          .groupBy(col("node")).agg(min(col("lab")).as("lab")), eager = false)
      merged.join(
          merged.select(col("node").as("lab"), col("lab").as("__lab2")),
          Seq("lab"), "left")
        .select(col("node"), coalesce(col("__lab2"), col("lab")).as("lab"))
    }
    while (changed && i < maxIter) {
      val next = graft.Caching.truncate(iterate(labels), eager = false)
      val nextSum = labSum(next)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next
      i += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round $i changed=$changed")
    }
    labels.select(col("node").as("doc_id"), col("lab").as("rep_id"))
  }

  /** INCREMENTAL connected components: extend a converged group map with
    * a second pair signal WITHOUT re-converging over the first signal's
    * edges. The new edges are CONTRACTED through `baseGroups` (every
    * endpoint replaced by its representative; endpoints outside the base
    * map stand for themselves), [[duplicateGroups]] runs on the tiny
    * contracted rep-graph only, and the result composes back over the
    * base map.
    *
    * Soundness: a base representative is the MIN id of its base
    * component, so the min over a merged set of contracted nodes equals
    * the min over the union-graph component — the contracted fixed point
    * IS the union fixed point (law-pinned in DedupSpec:
    * `extendGroups(cc(P1), P2) == cc(P1 ∪ P2)`).
    *
    * Scale: the expensive signal-1 convergence is paid once per corpus
    * version and memoized; each additional signal costs one broadcast-
    * sized map join over ITS pairs plus CC over a graph bounded by the
    * number of AFFECTED GROUPS, not corpus edges. This is how a
    * production session layers signals (MinHash ∪ SimHash ∪ semantic)
    * without multiplying label-propagation rounds. */
  def extendGroups(
      baseGroups: DataFrame,
      extraPairs: DataFrame,
      srcCol: String = "doc_id_a",
      dstCol: String = "doc_id_b"): DataFrame = {
    val base = baseGroups.select(col("doc_id"), col("rep_id"))
    val e = extraPairs.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .join(base.select(col("doc_id").as("__a"), col("rep_id").as("__ra")),
        Seq("__a"), "left")
      .join(base.select(col("doc_id").as("__b"), col("rep_id").as("__rb")),
        Seq("__b"), "left")
      .select(coalesce(col("__ra"), col("__a")).as("src"),
        coalesce(col("__rb"), col("__b")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val repCC = duplicateGroups(e, srcCol = "src", dstCol = "dst")
      .select(col("doc_id").as("__node"), col("rep_id").as("__lab"))
    // compose: base members follow their rep's new label; nodes touched
    // only by the extra signal keep their contracted-CC label; base
    // groups untouched by any extra edge pass through unchanged
    val rebased = base
      .join(repCC.withColumnRenamed("__node", "rep_id"), Seq("rep_id"), "left")
      .select(col("doc_id"), coalesce(col("__lab"), col("rep_id")).as("rep_id"))
    val fresh = repCC
      .join(base.select(col("doc_id").as("__node")), Seq("__node"), "left_anti")
      .select(col("__node").as("doc_id"), col("__lab").as("rep_id"))
    rebased.unionByName(fresh)
  }

  /** Quality-aware representative selection: for each duplicate group of
    * `groups` (a [[duplicateGroups]] keep/drop map), pick the member
    * with the highest `scoreCol` from `scored` (`doc_id`, score) —
    * ties to the LOWEST doc id. "Keep the most complete copy" instead
    * of min-id: near-dup groups usually contain truncated variants, and
    * the min-id rep is arbitrary about which survives.
    *
    * One equi-join (group map is the duplicate subset — small) and one
    * `max_by` reduction per group: map-side-combinable, no window over
    * the corpus. Emits (`rep_id`, `keep_id`, `n_docs`). */
  def bestRepresentatives(
      groups: DataFrame, scored: DataFrame, scoreCol: String): DataFrame =
    groups
      .join(scored, Seq("doc_id"))
      .groupBy(col("rep_id"))
      .agg(
        max_by(col("doc_id"), struct(col(scoreCol), -col("doc_id"))).as("keep_id"),
        count(lit(1)).as("n_docs"))

  /** EXACT-SUBSTRING dedup — the sub-document method of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499), Spark-shaped: any `windowTokens`-token window
    * whose 56-bit identity ([[TextOps.shingleHashes]]) occurs at least
    * `minCount` times ACROSS THE CORPUS (any doc, including the same
    * one) marks a repeated span; a doc's repeated REGION is the union
    * of its flagged windows. Document-level dedup misses exactly this —
    * boilerplate, licenses, templated paragraphs embedded in otherwise
    * unique documents.
    *
    * Scale design: the token-window explode is the honest cost of
    * exact-substring dedup (the suffix-array original is likewise
    * O(corpus tokens)); everything SHUFFLED is `(doc_id, pos, hash)` —
    * ~20 bytes per token, never text. The global window census is one
    * map-side-combinable count on an 8-byte key; flagged starts are
    * re-collected per doc (bounded by doc length, the same class as
    * the token array itself), and the covered-token measure folds over
    * the SORTED starts with an interval-union scan — no
    * covered-position explode, no window function.
    *
    * Emits one row PER FLAGGED DOC: `(doc_id, n_tokens, n_flagged,
    * span_starts, covered_tokens)` — `span_starts` are the 0-based
    * flagged window starts ([[substringScrub]] consumes them). */
  def substringSpans(
      docs: DataFrame,
      windowTokens: Int = 20,
      minCount: Int = 2): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    require(minCount >= 2, s"minCount below 2 would flag every window, got $minCount")
    val w = windowTokens.toLong
    val pos = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        posexplode(TextOps.shingleHashes(
          TextOps.shinglesFromTokens(col("__toks"), windowTokens))))
      .withColumnsRenamed(Map("pos" -> "__p", "col" -> "__h"))
    val repeated = pos.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minCount)
      .select(col("__h"))
    pos.join(repeated, Seq("__h"))
      .groupBy(col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        sort_array(collect_list(col("__p").cast("long"))).as("span_starts"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("span_starts")).cast("long").as("n_flagged"),
        col("span_starts"),
        aggregate(col("span_starts"),
          struct(lit(Long.MinValue).as("e"), lit(0L).as("tot")),
          (acc, p) => struct(
            greatest(acc.getField("e"), p + lit(w)).as("e"),
            (acc.getField("tot") +
              greatest(lit(0L), p + lit(w) - greatest(p, acc.getField("e"))))
              .as("tot")),
          acc => acc.getField("tot")).as("covered_tokens"))
  }

  /** The APPLY step of [[substringSpans]]: re-emit every document with
    * its repeated regions cut (tokens inside any flagged window removed,
    * survivors re-joined with single spaces — the same whitespace
    * normalization as every [[TextOps.tokens]] consumer). Unflagged
    * documents pass through re-normalized. The per-token membership
    * test is O(flagged starts) per token worst-case; flagged spans are
    * sparse in real corpora, and a fully-flagged doc degenerates to
    * tokens·spans/W — bounded by doc length², never corpus-scale. */
  def substringScrub(
      docs: DataFrame,
      windowTokens: Int = 20,
      minCount: Int = 2): DataFrame =
    substringScrubWith(docs,
      substringSpans(docs, windowTokens, minCount), windowTokens)

  /** [[substringScrub]] against a PRECOMPUTED [[substringSpans]] frame —
    * the session-state shape: the census is one corpus-version artifact
    * consumed by both the span report and the scrub apply, so a caller
    * holding the (small, flagged-docs-bounded) spans frame pays the
    * O(corpus-tokens) window-hash pass once. `windowTokens` must match
    * the value the spans were computed with (it defines span width). */
  def substringScrubWith(
      docs: DataFrame,
      spansFrame: DataFrame,
      windowTokens: Int = 20): DataFrame = {
    val w = windowTokens.toLong
    val spans = spansFrame
      .select(col("doc_id"), col("span_starts"))
    docs
      .join(spans, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        array_join(
          filter(TextOps.tokens(col("text")), (t, i) =>
            col("span_starts").isNull ||
              !exists(col("span_starts"), p =>
                p <= i.cast("long") && i.cast("long") < p + lit(w))),
          " ").as("text_scrubbed"))
  }
}
