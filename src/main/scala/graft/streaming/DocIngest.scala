package graft.streaming

import graft.operators.{Dedup, TextOps}
import graft.sources.Commit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming document ingest with NEAR-DUP GATING against an indexed
  * corpus — the streaming half of the `corpus_clean` pipeline: a training
  * corpus is only worth appending to if the incoming document doesn't
  * (near-)duplicate what's already there.
  *
  * Shape: the corpus side is STATIC — its banded MinHash index and
  * per-doc shingle hashes are maintained tables (here: frames built by
  * [[corpusIndex]]). The stream side is MAP-ONLY per micro-batch
  * (tokenize → shingle → fused signature → band keys, all stateless
  * kernels), so duplicate detection is a stream-static equi-join on the
  * band key: no streaming state, no watermark, and each micro-batch
  * shuffles only its own band keys — ingest throughput scales with
  * executor count and is independent of corpus size (the corpus legs are
  * pre-partitioned tables at warehouse scale).
  *
  * A candidate pair may collide in several bands, so [[matches]] emits
  * at-least-once per matching band; batch consumers `.distinct()` (see
  * `dedup_incremental` in `catalog.DedupQueries`), streaming sinks
  * dedupe per micro-batch in `foreachBatch` — cheap, because the frame
  * is (new_id, corpus_id, jaccard) rows only.
  */
object DocIngest {

  /** Document stream schema. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  /** The full documents-table shape (testdata parquet layout) for
    * streams that need provenance columns ([[startChecksum]]). */
  val corpusDocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  /** Static index of the current corpus: `(banded, hashes)` where
    * `banded` is the (corpus_doc_id, band_idx, band_hash) LSH view and
    * `hashes` the per-doc 56-bit shingle identities — both derived from
    * the ONE fused signature pass. At warehouse scale both are stored
    * tables refreshed by the corpus-maintenance job.
    *
    * `maxBucket` defaults to the FINITE pipeline cap
    * ([[Dedup.DefaultPipelineMaxBucket]]): a viral duplicate family in
    * the corpus would otherwise fan every colliding stream doc out to the
    * whole family in the gate join. Oversized corpus buckets are
    * exact-duplicate families the admitted store's exact-dedup pass has
    * already collapsed to one representative, so dropping them loses no
    * gating power. Pass `Int.MaxValue` for exact-recall indexing. */
  def corpusIndex(
      corpus: DataFrame,
      shingleN: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      maxBucket: Int = Dedup.DefaultPipelineMaxBucket): (DataFrame, DataFrame) = {
    val sig = graft.Caching.ensureCached(
      Dedup.minhashSignature(corpus, shingleN, perms))
    val banded = Dedup.dropHotBuckets(
        Dedup.bandedSignature(sig, perms, bands), Seq("band_idx", "band_hash"), maxBucket)
      .select(col("doc_id").as("dup_of"), col("band_idx"), col("band_hash"))
    val hashes = sig.select(col("doc_id").as("dup_of"), col("__shh").as("__corpus_shh"))
    (banded, hashes)
  }

  /** Verified near-dup matches of (possibly streaming) `newDocs` against
    * the corpus index: one row per (new doc, corpus doc) pair whose
    * shingle Jaccard ≥ `threshold`, possibly repeated across colliding
    * bands (dedupe downstream — see class doc). Works identically on
    * batch and streaming inputs: every step is a stateless projection or
    * a stream-static join. */
  def matches(
      newDocs: DataFrame,
      corpusBanded: DataFrame,
      corpusHashes: DataFrame,
      shingleN: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val sig = Dedup.minhashSignature(newDocs, shingleN, perms)
    // carry __shh through the explode (×bands duplication of one long
    // array per doc) — the alternative is a join back to the stream side,
    // which would be a stream-stream join
    val banded = Dedup.bandedSignature(sig, perms, bands, carry = Seq("__shh"))
    banded
      .join(corpusBanded, Seq("band_idx", "band_hash"))
      .join(corpusHashes, Seq("dup_of"))
      .select(col("doc_id"), col("dup_of"),
        TextOps.jaccard(col("__shh"), col("__corpus_shh")).as("jaccard"))
      .where(col("jaccard") >= lit(threshold))
  }

  /** Open a directory of document parquet as a stream. */
  def readDocs(spark: SparkSession, dir: String, glob: String = "*.parquet"): DataFrame =
    spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", glob)
      .parquet(dir)

  /** Full streaming admission — `corpus_clean` in continuous form: each
    * micro-batch is (1) language/quality filtered (map-only, the same
    * expressions the batch query uses), (2) near-dup gated against the
    * corpus index (anti-join on the verified [[matches]]), and appended
    * to the admitted parquet store. Runs in `foreachBatch` — the
    * production shape for a multi-step gate, since the anti-join and the
    * per-batch distinct are batch operations (at-least-once append; the
    * downstream exact-dedup pass absorbs a replayed batch, or swap the
    * sink body for an idempotent writer keyed on batchId). */
  def startAdmission(
      spark: SparkSession,
      dir: String,
      corpusBanded: DataFrame,
      corpusHashes: DataFrame,
      storePath: String,
      checkpointPath: String,
      lang: String = "en",
      minQuality: Double = 0.45,
      // MUST match the parameters [[corpusIndex]] was built with — a
      // mismatched shingleN/perms/bands silently yields zero band-hash
      // matches, disabling the gate
      shingleN: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      // optional LM-familiarity gate ([[graft.operators.TextOps.charLmModel]]
      // over the reference corpus): batches are scored stream-static
      // against the broadcast model and docs below `minLmScore` are
      // rejected. Note the scorer has no trigrams for docs under 3 code
      // points — those fail the armed gate (they fail any sane
      // minQuality long before that).
      lmModel: Option[DataFrame] = None,
      minLmScore: Double = Double.NegativeInfinity): StreamingQuery =
    readDocs(spark, dir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the sink's DAG references the micro-batch in up to three
        // independent legs (quality-scored, LM-scored, dup-matches) —
        // persist once so each source file is read and tokenized once
        // per trigger, not two-to-three times (the quarantine sinks'
        // established discipline)
        val b = batch.persist()
        try {
          val scored = graft.Caching.spreadIfNarrow(b, col("doc_id"))
            .withColumn("__toks", TextOps.tokens(col("text")))
            .withColumn("__stats", TextOps.tokenStats(col("__toks")))
            .select(col("doc_id"), col("text"),
              TextOps.langFromVotes(col("__stats.votes")).as("__lang"),
              TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats")).as("__q"))
            .where(col("__lang") === lang && col("__q") >= minQuality)
          val lmGated = lmModel match {
            case Some(m) =>
              val ok = TextOps.charLmScore(b, m, col("text"))
                .where(col("lm_score") >= minLmScore)
                .select("doc_id")
              scored.join(ok, Seq("doc_id"), "left_semi")
            case None => scored
          }
          val dups = matches(b, corpusBanded, corpusHashes,
            shingleN = shingleN, perms = perms, bands = bands, threshold = threshold)
            .select("doc_id").distinct()
          lmGated.join(dups, Seq("doc_id"), "left_anti")
            .select("doc_id", "text")
            .write.mode("append").parquet(storePath)
        } finally b.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming EXACT-dedup admission via custom keyed state
    * (`flatMapGroupsWithState`): the first document carrying a given
    * text hash is emitted, every later arrival — same micro-batch (min
    * doc_id wins, deterministic) or any later batch — is suppressed.
    * This is the streaming twin of the batch `dedup_exact` groupBy with
    * keep-first-arrival semantics, and the state survives restarts via
    * the checkpoint, so an admission pipeline restarted mid-corpus never
    * re-admits a duplicate.
    *
    * Scale shape: state is ONE boolean per distinct text hash, keyed by
    * sha-256 — the SAME collision-resistant key as the batch twin
    * (`Dedup.exact`): md5 collisions are practically constructible, and
    * an adversarial pair of distinct documents must not silently merge
    * (the second would be suppressed forever, breaking stream == batch
    * under hostile input). The state store shuffles and holds hashes,
    * never documents; back it with RocksDB
    * (`spark.sql.streaming.stateStore.providerClass`) once distinct
    * count exceeds executor heap. The near-dup gate ([[startAdmission]])
    * stays a stream-static join because ITS corpus side is a maintained
    * table; exact dedup has no verification step, so keyed state is the
    * tighter fit. */
  def exactDedupStream(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs
      .select(sha2(col("text"), 256).as("_1"), col("doc_id").as("_2"), col("text").as("_3"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, String)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = rows.minBy(_._2)
            Iterator.single((first._2, first._3))
          }
      }
      .toDF("doc_id", "text")
  }

  /** [[exactDedupStream]] wired to an append parquet sink — restartable
    * exactly-once admission of first occurrences. */
  def startExactDedup(
      spark: SparkSession,
      dir: String,
      storePath: String,
      checkpointPath: String): StreamingQuery =
    exactDedupStream(readDocs(spark, dir))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", storePath)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The COMPOSED ingest pipeline in ONE streaming query (9th door) —
    * the streaming twin of the batch `corpus_assemble_dedup` gate chain:
    * quality gate → stateful exact-dedup admission → near-dup drop
    * against the corpus index → NB language routing, sharing one
    * checkpoint and one pass over each micro-batch. The individually
    * pinned doors compose without new machinery because each stage keeps
    * its own scale shape:
    *
    *   1. QUALITY — stateless map expressions before the state store, so
    *      rejected docs never enter keyed state (state is bounded by
    *      ADMITTED-quality distinct hashes, not arrivals);
    *   2. EXACT DEDUP — [[exactDedupStream]]'s keyed first-arrival state
    *      (restart-durable; a replayed duplicate stays suppressed);
    *   3. NEAR-DUP — the stream-static band join of [[matches]] against
    *      the maintained corpus index, anti-joined per micro-batch;
    *   4. ROUTING — [[graft.operators.TextOps.nbClassify]] against the
    *      broadcast model, landing under `(pred_lang, batch_id)` with
    *      dynamic overwrite (the [[startLangRouting]] idempotence
    *      discipline, same model-stability caveat).
    *
    * Stream == batch (the same four gates composed over the union of all
    * waves) is pinned in StreamingSpec, including across a restart on the
    * same checkpoint. Exact-dedup contract: KEEP-FIRST-ARRIVAL per hash —
    * min doc_id only WITHIN a micro-batch ([[exactDedupStream]]); if a
    * smaller doc_id for the same text arrives in a later micro-batch the
    * stream keeps the earlier (larger) id, so the stream == batch pin
    * assumes doc_id-ordered arrivals (the batch twin keeps the global
    * min). Production arrival order IS admission order, so first-arrival
    * is the semantically-right gate; the ordered-arrival assumption only
    * matters for the equality test. */
  def startComposedAdmission(
      spark: SparkSession,
      dir: String,
      corpusBanded: DataFrame,
      corpusHashes: DataFrame,
      model: TextOps.NbModel,
      storePath: String,
      checkpointPath: String,
      minQuality: Double = 0.45,
      // MUST match the corpus index's build parameters (startAdmission's
      // rule: a mismatch silently disables the near-dup gate)
      shingleN: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): StreamingQuery = {
    val scored = readDocs(spark, dir)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__stats", TextOps.tokenStats(col("__toks")))
      .withColumn("__q",
        TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats")))
      .where(col("__q") >= minQuality)
      .select(col("doc_id"), col("text"))
    exactDedupStream(scored)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // three legs read the (already quality-gated, exact-deduped)
        // micro-batch: dup matches, the anti-join, the classifier
        val b = batch.persist()
        try {
          val dups = matches(b, corpusBanded, corpusHashes,
            shingleN = shingleN, perms = perms, bands = bands,
            threshold = threshold)
            .select("doc_id").distinct()
          val kept = b.join(dups, Seq("doc_id"), "left_anti")
          val pred = TextOps.nbClassify(kept, col("text"), model)
            .select(col("doc_id"), col("pred_label"))
          Commit.writeBatch(kept.join(pred, Seq("doc_id"), "left_outer")
            .select(col("doc_id"), col("text"),
              coalesce(col("pred_label"), lit("und")).as("pred_lang")),
            batchId, storePath, "pred_lang")
        } finally b.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming CORPUS-INDEX MAINTENANCE (10th door) — the refresh job
    * behind the maintained near-dup gate tables ([[corpusIndex]]'s "at
    * warehouse scale both are stored tables refreshed by the
    * corpus-maintenance job"; the batch query `dedup_incremental_store`
    * serves from exactly this layout): each micro-batch of admitted
    * documents lands its banded LSH rows (band_idx nested under the
    * batch — still a partition column, so band scans prune) and its
    * per-doc shingle identities in the store. Map-only per batch: ONE
    * fused signature pass, no stream state, no join — maintenance
    * throughput scales with executors and is independent of index size.
    *
    * STAGED publish ([[graft.sources.Commit.publishStaged]]): each batch
    * writes to hidden `.staging` dirs,
    * then checked renames land `hashes/batch_id=N` FIRST and
    * `banded/batch_id=N` LAST — a hash row without its banded twin is
    * inert (the candidate join is driven by banded), so a reader
    * opening between the two renames sees exactly the store as of the
    * previous batch. A crash anywhere before the final rename leaves
    * only invisible staging debris, which the batch RETRY (same
    * batch_id off the checkpoint) deletes before re-landing — the
    * dynamic-partition-overwrite idempotency this replaces let a
    * concurrent reader observe a half-written batch partition.
    *
    * The store holds the UNCAPPED index: the viral-bucket cap is a
    * property of a WHOLE bucket and cannot be applied batch-locally
    * without losing exactness — readers apply it at open
    * ([[corpusIndexFromStore]]), which makes store-then-read equal
    * [[corpusIndex]] over the union of every batch (spec-pinned across
    * a restart). */
  def startCorpusIndexMaintenance(
      spark: SparkSession,
      dir: String,
      storePath: String,
      checkpointPath: String,
      shingleN: Int = 3,
      perms: Int = 16,
      bands: Int = 4): StreamingQuery =
    readDocs(spark, dir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // two sink legs (banded, hashes) read the one signature pass
        val sig = Dedup.minhashSignature(batch, shingleN, perms)
          .select(col("doc_id"), col("__sig"), col("__shh")).persist()
        try {
          val hashesTmp = s"$storePath/.staging/hashes_batch_$batchId"
          val bandedTmp = s"$storePath/.staging/banded_batch_$batchId"
          Commit.publishStaged(spark,
              hashesTmp -> s"$storePath/hashes/batch_id=$batchId",
              bandedTmp -> s"$storePath/banded/batch_id=$batchId") {
            Dedup.bandedSignature(sig, perms, bands)
              .select(col("doc_id").as("dup_of"), col("band_idx"), col("band_hash"))
              .write.mode("overwrite")
              .partitionBy("band_idx").parquet(bandedTmp)
            sig.select(col("doc_id").as("dup_of"), col("__shh").as("__corpus_shh"))
              .write.mode("overwrite").parquet(hashesTmp)
          }
        } finally sig.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Open a [[startCorpusIndexMaintenance]] store as the `(banded,
    * hashes)` pair every gate consumer expects — the read-side twin of
    * [[corpusIndex]]: the viral-bucket cap applies HERE, over the whole
    * stored bucket population, so the maintained store answers exactly
    * like a from-scratch index build over everything ever streamed. */
  def corpusIndexFromStore(
      spark: SparkSession,
      storePath: String,
      maxBucket: Int = Dedup.DefaultPipelineMaxBucket): (DataFrame, DataFrame) = {
    val banded = Dedup.dropHotBuckets(
      spark.read.parquet(s"$storePath/banded")
        .select(col("dup_of"), col("band_idx").cast("int").as("band_idx"),
          col("band_hash")),
      Seq("band_idx", "band_hash"), maxBucket)
    val hashes = spark.read.parquet(s"$storePath/hashes")
      .select(col("dup_of"), col("__corpus_shh"))
    (banded, hashes)
  }

  /** Streaming DECONTAMINATION hits — the ingest-door half of
    * [[graft.operators.Corpus.decontaminate]]: each incoming document's
    * DISTINCT word-`n`-gram hashes (`array_distinct` BEFORE the explode —
    * per-doc dedup with NO streaming state; a streaming `distinct()`
    * would need an unbounded state store) stream-static-join the
    * maintained benchmark gram set and emit one `(doc_id, h)` row per
    * leaked gram. The benchmark side is the standing gram index
    * ([[graft.operators.Corpus.gramIndex]] — built once per benchmark
    * version, a stored table at warehouse scale); its rows must be
    * DISTINCT on `h`, the same precondition as the batch FromGrams
    * consumers, so per-doc leak counts are plain `count(1)`s.
    *
    * Works identically on batch and streaming inputs (stateless
    * projections + one stream-static join) — [[startDecontamination]]
    * aggregates per micro-batch in `foreachBatch`. */
  def contaminationHits(
      newDocs: DataFrame,
      benchGrams: DataFrame,
      n: Int = 8): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    newDocs
      .select(col("doc_id"), explode(array_distinct(
        TextOps.shingleHashes(
          TextOps.shinglesFromTokens(TextOps.tokens(col("text")), n)))).as("h"))
      .join(benchGrams.select(col("h")), Seq("h"))
      .select(col("doc_id"), col("h"))
  }

  /** Streaming decontamination ADMISSION — the 5th ingest-door gate:
    * documents sharing more than `maxShared` distinct `n`-grams with the
    * benchmark are quarantined to `flaggedPath` as `(doc_id, n_shared)`
    * (the audit trail an eval team reads); clean documents append to
    * `storePath`. Per micro-batch: one map-only gram pass, one
    * stream-static hash join, one count per flagged doc — throughput
    * scales with executors and is independent of benchmark size.
    * Stream == batch ([[graft.operators.Corpus.decontaminate]] over the
    * union of waves) is pinned in StreamingSpec, including across a
    * restart on the same checkpoint. */
  def startDecontamination(
      spark: SparkSession,
      dir: String,
      benchGrams: DataFrame,
      storePath: String,
      flaggedPath: String,
      checkpointPath: String,
      n: Int = 8,
      maxShared: Long = 0L): StreamingQuery =
    readDocs(spark, dir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // two sink legs (flagged, admitted) read the micro-batch — persist
        // once so each source file is read and tokenized once per trigger
        val b = batch.persist()
        try {
          val flagged = contaminationHits(b, benchGrams, n)
            .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
            .where(col("n_shared") > maxShared)
          flagged.write.mode("append").parquet(flaggedPath)
          b.join(flagged, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("text"))
            .write.mode("append").parquet(storePath)
        } finally b.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming LANGUAGE ROUTING — the fitted NB classifier
    * ([[graft.operators.TextOps.nbClassify]]) applied at the ingest door
    * (the 7th streaming door): each micro-batch is scored against the
    * STATIC model frames (broadcast joins only — no keyed state, so the
    * model can be refreshed between batches) and lands PARTITIONED BY
    * PREDICTED LANGUAGE — the physical layout a multilingual training
    * pipeline reads per-language mixtures from, routed at write time so
    * no downstream job ever rescans other languages' bytes. Documents
    * too short to carry a gram route to `pred_lang=und` instead of
    * silently dropping (ingest must be total — the admission-door
    * convention). Runs in `foreachBatch` (the scorer aggregates per
    * doc); per-batch cost is one score pass over the batch.
    *
    * Replay idempotence: rows land under `(pred_lang, batch_id)` with
    * DYNAMIC partition overwrite, so a micro-batch replayed after a
    * crash rewrites exactly its own partitions instead of appending
    * duplicates (the CSV-quarantine door's discipline — the built-in
    * file sink's commit log covers only single-sink jobs). Caveat: the
    * guarantee assumes the model frames are unchanged across the replay
    * — a model refreshed BETWEEN the failed attempt and the replay can
    * re-route a doc to a different language, leaving the old attempt's
    * row in the other language's partition (refresh the model at batch
    * boundaries you checkpoint, or compact by batch_id downstream). */
  def startLangRouting(
      spark: SparkSession,
      dir: String,
      model: TextOps.NbModel,
      storePath: String,
      checkpointPath: String): StreamingQuery =
    readDocs(spark, dir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          val pred = TextOps.nbClassify(b, col("text"), model)
            .select(col("doc_id"), col("pred_label"))
          Commit.writeBatch(b.join(pred, Seq("doc_id"), "left_outer")
            .select(col("doc_id"), col("text"),
              coalesce(col("pred_label"), lit("und")).as("pred_lang")),
            batchId, storePath, "pred_lang")
        } finally b.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming CONTINUOUS TRAINING (8th door): maintain the NB
    * classifier's sufficient statistics from a LABELED document stream.
    * Each micro-batch counts its own (label, gram) and per-label doc
    * occurrences ([[graft.operators.TextOps.nbCharGramCounts]] — the
    * only corpus-proportional pass) and merges them into the versioned
    * count store; by the merge law (spec-pinned), the classifier
    * derived from the maintained store equals retraining on every
    * document ever streamed — continuous refresh without re-reading
    * old shards. The store itself is MODEL-BOUNDED (≤ charsetⁿ ×
    * |labels| rows), so the per-batch read-merge-rewrite is
    * constant-cost at any corpus scale.
    *
    * Exactly-once on the store without keyed state: version `v=batchId`
    * is derived by merging the batch onto the newest version STRICTLY
    * BELOW `batchId` ([[nbCountsAt]]), so a replayed batch rewrites
    * byte-identical content instead of double-counting. Unlabeled
    * (null-lang) docs are skipped — they cannot supervise. Readers take
    * the max version; older versions are retained for time travel and
    * compactable like any snapshot chain. */
  def startNbCountsMaintenance(
      spark: SparkSession,
      dir: String,
      storePath: String,
      checkpointPath: String,
      n: Int = 3): StreamingQuery =
    readCorpusDocs(spark, dir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bc = TextOps.nbCharGramCounts(
          batch.where(col("lang").isNotNull), col("text"), col("lang"), n)
        val merged = nbCountsAt(spark, storePath, beforeBatch = batchId)
          .map(prev => TextOps.nbMergeCounts(prev, bc)).getOrElse(bc)
        // COMMIT ORDER: both legs staged, then docs published first and
        // grams LAST — version discovery ([[nbCountsAt]]) keys on the
        // grams directory, so a version becomes visible only once BOTH
        // frames are complete; a failed write leaves only staging debris
        // that the batch replay clears
        val docsTmp = s"$storePath/.staging/docs_v$batchId"
        val gramsTmp = s"$storePath/.staging/grams_v$batchId"
        Commit.publishStaged(spark,
            docsTmp -> s"$storePath/docs/v=$batchId",
            gramsTmp -> s"$storePath/grams/v=$batchId") {
          merged.docCounts.write.mode("overwrite").parquet(docsTmp)
          merged.gramCounts.write.mode("overwrite").parquet(gramsTmp)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Newest count-store version strictly below `beforeBatch`
    * (`Long.MaxValue` = the current state a reader trains from).
    * Version discovery goes through the HADOOP FileSystem API resolved
    * from the store path itself — `java.io.File.listFiles` (the r11
    * form) silently returns null on hdfs:// / s3a:// URIs, which would
    * have disabled merging (every version holding only its own batch)
    * with no error anywhere. Discovery keys on `grams/` — the LAST
    * directory [[startNbCountsMaintenance]] publishes, by checked rename
    * of a completely written stage — so a version is listed only once
    * both its legs are complete, and a failed or crashed write is never
    * visible. */
  def nbCountsAt(
      spark: SparkSession,
      storePath: String,
      beforeBatch: Long = Long.MaxValue): Option[TextOps.NbCounts] = {
    val grams = new org.apache.hadoop.fs.Path(s"$storePath/grams")
    val fs = grams.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions =
      if (!fs.exists(grams)) Seq.empty[Long]
      else fs.listStatus(grams).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("v=")).map(_.drop(2).toLong)
        .filter(_ < beforeBatch)
    if (versions.isEmpty) None
    else {
      val v = versions.max
      Some(graft.operators.TextOps.NbCounts(
        spark.read.parquet(s"$storePath/grams/v=$v"),
        spark.read.parquet(s"$storePath/docs/v=$v")))
    }
  }

  /** Streaming DSIR admission — importance resampling at the ingest
    * door: each incoming document is scored for target-likeness with the
    * map-only [[graft.operators.Corpus.dsirScore]] expression over a
    * model fitted offline ([[graft.operators.Corpus.dsirModel]]), and
    * admitted iff `logw >= threshold`. The model is a ≤`nBuckets`-entry
    * literal riding the plan, so the gate is STATELESS: no stream-static
    * join, no keyed state, exactly-once comes free from the file sink +
    * checkpoint, and per-batch cost is one map pass regardless of corpus
    * size — the cheapest possible "is this crawl batch worth its
    * training tokens" filter. Admitted rows keep `(doc_id, text, logw)`
    * so downstream mixing can re-weight without re-scoring. */
  def startDsirAdmission(
      spark: SparkSession,
      dir: String,
      lam: Map[Long, Double],
      nBuckets: Int,
      threshold: Double,
      storePath: String,
      checkpointPath: String): StreamingQuery =
    readDocs(spark, dir)
      .withColumn("logw", graft.operators.Corpus.dsirScore(col("text"), lam, nBuckets))
      .where(col("logw") >= threshold)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", storePath)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming Gopher-rule admission gate: documents flow in, only those
    * passing the full Rae et al. rule battery
    * ([[graft.operators.TextOps.gopherFlags]]) are admitted to the
    * store. Like [[startDsirAdmission]] the rule set is pure per-row
    * arithmetic (no fitted state at all here), so the gate is
    * STATELESS — one map pass per batch, exactly-once from the file
    * sink + checkpoint, per-batch cost independent of corpus size.
    * Admitted rows keep the full flag struct so downstream audits can
    * aggregate attrition without re-scoring. */
  def startGopherAdmission(
      spark: SparkSession,
      dir: String,
      storePath: String,
      checkpointPath: String): StreamingQuery =
    readDocs(spark, dir)
      .withColumn("__t", graft.operators.TextOps.tokens(col("text")))
      .withColumn("gopher",
        graft.operators.TextOps.gopherFlags(col("text"), col("__t")))
      .where(col("gopher.pass"))
      .drop("__t")
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", storePath)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream the gate into a memory sink for testing (match rows, possibly
    * repeated across bands — consumers dedupe, like every other reader of
    * [[matches]]). Production sinks swap this for [[startAdmission]]. */
  def startToMemory(
      spark: SparkSession,
      dir: String,
      corpusBanded: DataFrame,
      corpusHashes: DataFrame,
      name: String,
      // MUST match the index's build parameters, like [[startAdmission]]
      shingleN: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): StreamingQuery =
    matches(readDocs(spark, dir), corpusBanded, corpusHashes,
      shingleN = shingleN, perms = perms, bands = bands, threshold = threshold)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Continuous CSV document ingest with the quarantine lane — the CSV
    * twin of [[graft.streaming.VectorIngest.startJsonlQuarantined]].
    * ONE split definition ([[graft.sources.Records.splitCsvValidated]])
    * serves batch and streaming (the streaming==batch rule); both sinks
    * partition by `batch_id` with dynamic overwrite, so a micro-batch
    * replay is idempotent — the built-in file sink's commit log covers
    * only single-sink jobs. */
  def startCsvQuarantined(
      spark: SparkSession,
      dir: String,
      goodPath: String,
      quarantinePath: String,
      checkpointPath: String): StreamingQuery =
    spark.readStream
      .schema(graft.sources.Records.csvSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(dir)
      .writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // persist once: both lanes filter the same parsed frame, and CSV
        // with multiLine re-parses whole files per action otherwise
        val parsed = batch.persist()
        try {
          val (good, bad) = graft.sources.Records.splitCsvValidated(parsed)
          Commit.writeBatch(good, batchId, goodPath)
          Commit.writeBatch(bad, batchId, quarantinePath)
        } finally parsed.unpersist()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming CHECKSUM manifest — the reproducibility gate
    * ([[graft.operators.Corpus.checksum]]) maintained INCREMENTALLY at
    * the ingest door. Every folded component is a commutative monoid
    * (doc count, the exact DECIMAL(38,0) hash sum, char mass —
    * [[graft.operators.Corpus.checksumPartials]]; the non-mergeable
    * distinct count stays batch-only), so the cumulative manifest is
    * independent of micro-batch boundaries: stream == batch for any
    * arrival order, pinned in StreamingSpec.
    *
    * State: one parquet row per (batch_id, source) — the newest
    * batch_id is the authoritative manifest, the partition history is
    * the audit trail; a foreachBatch replay is idempotent ([[Fold]]).
    * Scale: state is bounded by sources × retained batches, never data;
    * the per-batch fold is one map-side-combinable aggregate over the
    * batch plus a sources-sized union. */
  def startChecksum(
      spark: SparkSession,
      dir: String,
      stateDir: String,
      checkpointPath: String): StreamingQuery =
    Fold.start(readCorpusDocs(spark, dir), stateDir, checkpointPath, ChecksumState) {
      graft.operators.Corpus.checksumPartials(_, col("source"), col("text"), col("n_chars"))
    } {
      _.groupBy(col("source"))
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("hash_sum")).cast("decimal(38,0)").as("hash_sum"),
          sum(col("total_chars")).cast("long").as("total_chars"))
    }

  private val ChecksumState = StructType.fromDDL("source STRING NOT NULL, " +
    "n_docs BIGINT NOT NULL, hash_sum DECIMAL(38,0) NOT NULL, total_chars BIGINT NOT NULL")

  /** A directory of full documents-table parquet ([[corpusDocSchema]])
    * as a stream. */
  private def readCorpusDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(corpusDocSchema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(dir)

  /** The newest cumulative manifest from a [[startChecksum]] state dir,
    * in [[graft.operators.Corpus.checksum]]'s hash-robust two-BIGINT
    * surface (minus the batch-only `n_unique`). A state dir that does
    * not exist, or holds no committed fold (stream started but no batch
    * landed, or a crashed first write), yields an EMPTY manifest frame —
    * the "no manifest yet" signal — instead of an AnalysisException/NPE. */
  def checksumManifest(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.Corpus.checksumSurface(Fold.state(spark, stateDir, ChecksumState))
}
