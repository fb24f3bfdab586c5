package graft.operators

import graft.functions.NativeExprs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy string matching (entity resolution): SymSpell deletion-
  * neighborhood blocking + capped byte-level edit-distance verification.
  *
  * The reference engine has no fuzzy-match operator; this is a
  * training-data-pipeline extension (matching near-identical entity
  * names / titles across sources before they become duplicate training
  * rows the exact and MinHash dedups both miss — too short for
  * shingles, not byte-identical).
  *
  * Algorithm (SymSpell, public domain technique): two strings within
  * edit distance k share at least one member of their radius-k deletion
  * neighborhoods (see [[NativeExprs.DeletionVariantsExpr]] for the
  * byte-distance completeness argument), so
  *
  *   1. BLOCK: explode each string's O(prefixLen^k) deletion variants as
  *      join keys and self-join on key equality — never the O(n²) cross
  *      product;
  *   2. VERIFY: run the banded O(k·len) distance kernel
  *      ([[NativeExprs.editDistanceCapped]]) on each candidate pair and
  *      keep distances ≤ k.
  *
  * Scale shape: the exploded key frame is O(n · prefixLen^k) SHORT rows
  * (keys are at most prefixLen codepoints — the matched strings are
  * names/titles, never documents; the never-shuffle-text rule applies to
  * the corpus, not to key-sized strings, and carrying the string beside
  * its keys is cheaper than two join-backs to re-fetch it). The
  * key-equality join shuffles both sides by key hash; per-key work is
  * |bucket|², bounded by how many strings share a deletion variant —
  * data-dependent, so callers matching adversarial corpora should meter
  * bucket sizes first (the [[Dedup]] LSH families' `maxBucket`
  * discipline); the verify kernel then rejects in O(k·len) per pair. */
object Fuzzy {

  /** All pairs `(id_a < id_b)` whose strings are within byte edit
    * distance `maxDist`, with the exact distance.
    *
    * Input columns: `id` (long, unique), `s` (string; NULL rows are
    * dropped — a NULL name matches nothing on either engine). Output:
    * `id_a, id_b, s_a, s_b, dist`.
    *
    * Exactness contract: complete for strings of at most `prefixLen`
    * codepoints; longer strings degrade to SymSpell's prefix heuristic
    * (documented on [[NativeExprs.DeletionVariantsExpr]]) — oracle-gated
    * callers bound the string length in the query instead. */
  def matchPairs(
      df: DataFrame,
      maxDist: Int,
      prefixLen: Int = 24,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3, s"maxDist must be in [0, 3], got $maxDist")
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    val keyed = df
      .where(col("s").isNotNull)
      .select(col("id"), col("s"),
        explode(NativeExprs.deletionVariants(col("s"), maxDist, prefixLen)).as("key"))
    // Hot-bucket cap (the LSH dropHotBuckets discipline): a deletion key
    // shared by m strings yields m² candidates, and a viral name (10⁶
    // copies of one boilerplate entity) turns the join quadratic in join
    // CARDINALITY — AQE can't help. Dropping a hot key loses only pairs
    // whose EVERY shared variant is hot; exact duplicates of a viral
    // string are better collapsed by exact dedup first (the corpus_clean
    // composition order). Default = uncapped: unlike banded LSH the
    // default inputs are bounded name frames — meter `keyed` above with
    // a `groupBy(key)` count before capping (sf0.1: max bucket 322, far
    // under any useful cap).
    val blocked =
      if (maxBucket == Int.MaxValue) keyed
      else {
        val hot = keyed.groupBy(col("key")).agg(count(lit(1)).as("__bn"))
          .where(col("__bn") > maxBucket).select(col("key"))
        keyed.join(broadcast(hot), Seq("key"), "left_anti")
      }
    val a = blocked.select(col("key"), col("id").as("id_a"), col("s").as("s_a"))
    val b = blocked.select(col("key"), col("id").as("id_b"), col("s").as("s_b"))
    // distinct() collapses pairs that met under several shared variants;
    // the strings are functionally determined by the ids, so the 4-column
    // distinct equals a pair-key distinct without a second join-back.
    a.join(b, Seq("key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
      .distinct()
      .withColumn("dist",
        NativeExprs.byteEditDistance(col("s_a"), col("s_b"), maxDist))
      .where(col("dist") <= maxDist)
  }
}
