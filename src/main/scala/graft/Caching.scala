package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** How intermediates persist: the scoped-persist helper shared by the
  * operators that cache reusable intermediates ([[operators.Dedup]]'s
  * signature/candidate frames, [[streaming.DocIngest.corpusIndex]],
  * `catalog.Shared.fixedModel`'s assignment), [[truncate]] — the one lineage
  * cut every checkpoint site goes through — and [[SessionMemo]], the one
  * per-session memo every session fixture goes through.
  *
  * `DataFrame.storageLevel` resolves through the session's CacheManager
  * BY LOGICAL PLAN, so a fresh frame whose plan is already cached (a
  * second invocation of the same operator over the same input — every
  * repeated bench/serving query) reports the existing level and is NOT
  * re-persisted. That removes the `CacheManager: Asked to cache already
  * cached data` warning spam AND stops duplicate cache registrations
  * from accumulating over a long-lived session: each distinct plan is
  * registered once, reused thereafter, and reclaimable by one
  * `spark.catalog.clearCache()` (or targeted unpersist) when the caller
  * is done with the query family. Frames cleared that way simply
  * re-persist on next use.
  */
object Caching {

  /** Cut `df`'s lineage at a local checkpoint and reset the plan's
    * statistics to the session default — the one lineage truncation in
    * the library. `eager = true` materializes now (a converged result, a
    * session fixture); `eager = false` cuts the logical plan now and
    * materializes on first use (an iterative loop's per-round frame).
    *
    * Why the stats reset: Spark 4's `Dataset.localCheckpoint` rewrites
    * the ORIGIN plan's statistics onto the checkpointed `LogicalRDD`
    * (`LogicalRDD.rewriteStatsAndConstraints`, sql/core
    * ExistingRDD.scala). Lineage is truncated but statistics are not: in
    * an iterative algorithm that joins the previous round's checkpoint
    * several times, the join-MULTIPLIED `sizeInBytes` BigInts compound
    * doubly-exponentially — the digit count multiplies by the per-round
    * join count — and after a few rounds the stats rewrite itself grinds
    * the driver on million-digit `BigInteger.multiply` calls (observed: a
    * single `localCheckpoint` pinning a core for 15+ minutes inside
    * `SizeInBytesOnlyStatsPlanVisitor`). Rewrapping the checkpointed rows
    * in a fresh `LogicalRDD` ([[org.apache.spark.sql.graft.PlanBridge
    * .statsReset]]) drops the inherited statistics back to the session
    * default, which is what a checkpoint boundary should report anyway —
    * the optimizer must not claim join-derived estimates for a
    * materialized intermediate it never measured.
    *
    * Executor-loss caveat: the checkpoint blocks live on executors and
    * the lineage that could recompute them is gone, so a lost block
    * (executor loss, dynamic allocation) fails every later consumer with
    * Spark's "Checkpoint block … not found" — loudly, never with wrong
    * rows — and nothing rebuilds it within the session. Fine for
    * `local[n]`; a cluster deployment should write a table instead. */
  def truncate(df: DataFrame, eager: Boolean): DataFrame =
    org.apache.spark.sql.graft.PlanBridge.statsReset(df.localCheckpoint(eager))

  /** Persist `df` at MEMORY_AND_DISK unless its plan is already cached
    * in this session; returns `df` for chaining. */
  def ensureCached(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Repartition `df` on `key` ONLY when its planned partition count is
    * below the session's parallelism floor — the conditional form of the
    * "single-file input → spread CPU work" repartition the CPU-heavy
    * text queries used to apply UNCONDITIONALLY. Unconditional was wrong
    * at scale: a 100 TB documents table arrives in thousands of splits,
    * and a blanket `repartition(doc_id)` is a full shuffle OF THE TEXT
    * COLUMN (banned — text moves through shuffle exactly never; only
    * hashes/ids do) that buys nothing the scan's own parallelism doesn't
    * already provide. Narrow inputs — a single-file local fixture, a
    * tiny micro-batch — still get spread so per-row CPU kernels
    * (tokenize, hash, quality) use every core.
    *
    * `df.rdd.getNumPartitions` plans the physical scan (file listing +
    * split arithmetic — no job, no data read) — the same number of
    * input tasks Spark would launch; `>= floor` means the scan is
    * already as parallel as the session can exploit, and the returned
    * frame is `df` itself (reference-equal), so the no-shuffle plan
    * shape is pinnable (PlanShapeSpec). */
  def spreadIfNarrow(df: DataFrame, key: Column): DataFrame =
    if (df.isStreaming)
      // a streaming plan has no resolvable partition count at build time
      // (`.rdd` throws); micro-batches are bounded by the trigger, so the
      // unconditional spread is a bounded per-batch cost, not a corpus
      // shuffle — foreachBatch sinks pass their (batch) frame here and
      // take the conditional path instead
      df.repartition(key)
    else {
      val floor = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= floor) df
      else df.repartition(floor, key)
    }
}

/** A session fixture's memo: one value per `(session, key)`, built once.
  *
  * Concurrent callers of one key block on the single build and share its
  * result (`ConcurrentHashMap.computeIfAbsent`); a build that throws
  * leaves no entry, so the next call builds again. Entries whose session
  * has stopped are evicted on access — keyed by SESSION, not application,
  * so a later session never reuses a frame bound to a stopped one (the
  * stopped context's blocks died with it; nothing to unpersist).
  *
  * One instance per fixture: a build may call another fixture's memo (a
  * nested `computeIfAbsent` on one shared map would throw "Recursive
  * update"). The memo decides only identity and lifetime; how the value
  * persists stays with the caller — [[Caching.ensureCached]] around the
  * memo on every access, or [[Caching.truncate]] inside the build. */
final class SessionMemo[K, V] {
  private val entries = new ConcurrentHashMap[(SparkSession, K), V]()

  def apply(s: SparkSession, key: K)(build: => V): V = {
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    entries.computeIfAbsent((s, key), _ => build)
  }
}
