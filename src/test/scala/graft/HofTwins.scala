package graft

import graft.operators.TextOps.{GopherStopwords, gopherFlagsFromCounters, shingleHashes, shinglesFromTokens}
import graft.operators.VectorOps.{BinaryBitValues, OpqDirection}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The interpreted higher-order-function twins of the native text and
  * vector kernels: the formulations the DuckDB oracles mirror, kept whole
  * as the executable specification the kernels are fuzzed against in
  * [[NativeExprsSpec]]. No library code calls them. */
object HofTwins {
  /** The HOF twin of [[graft.operators.TextOps.repetitionStats]]: top
    * token as the longest equal run of the sorted copy (an O(n log n) fold), dup fractions via
    * `array_distinct` on the 56-bit shingle hashes. ~4× the kernel's
    * cost (interpreted HOF lambdas + the sort) — kept as the
    * twin-contract witness, not the hot path. */
  def repetitionStatsHof(t: Column): Column = {
    val n = size(t)
    val best = aggregate(
      array_sort(t),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + lit(1L)).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))
    def dupFrac(ngr: Column): Column = {
      val m = size(ngr)
      when(m > 0, (m - size(array_distinct(ngr))).cast("double") / m)
        .otherwise(lit(0.0))
    }
    struct(
      when(n > 0, best.cast("double") / n).otherwise(lit(0.0)).as("top_token_frac"),
      dupFrac(shingleHashes(shinglesFromTokens(t, 2))).as("dup_2gram_frac"),
      dupFrac(shingleHashes(shinglesFromTokens(t, 3))).as("dup_3gram_frac"))
  }

  /** Interpreted HOF twin of [[graft.operators.TextOps.gopherFlags]] —
    * the formulation the DuckDB oracle mirrors (four token passes + two line filters),
    * retained as the native kernels' executable specification and fuzz
    * oracle (integer counters — exact equality pinned in
    * NativeExprsSpec). */
  def gopherFlagsHof(text: Column, t: Column): Column = {
    val tokenStats = struct(
      size(t).cast("long").as("n_words"),
      aggregate(t, lit(0L), (acc, x) => acc + length(x).cast("long")).as("len_sum"),
      size(filter(t, w => w.rlike("[a-z]"))).cast("long").as("n_alpha"),
      size(array_intersect(t, array(GopherStopwords.map(lit): _*)))
        .cast("long").as("stop_hits"))
    val lines = split(text, "\n")
    val lineStats = struct(
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l => {
        val h = substring(ltrim(l), 1, 1)
        h === "-" || h === "*" || h === "•"
      })).cast("long").as("n_bullet"),
      size(filter(lines, l => {
        val r = rtrim(l)
        r.endsWith("...") || r.endsWith("…")
      })).cast("long").as("n_ellend"))
    gopherFlagsFromCounters(text, tokenStats, lineStats)
  }

  /** Interpreted HOF twin of [[graft.operators.TextOps.charNgrams]] —
    * the formulation the DuckDB oracle mirrors (`substr(text, i, n)` over `generate_series`),
    * retained as the native kernel's executable spec and fuzz oracle.
    * The `length < n` guard matters: `sequence(1, 0)` descends. */
  def charNgramsHof(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))

  /** Interpreted HOF twin of [[graft.operators.VectorOps.pqCodes]] —
    * the formulation the DuckDB oracle SQL mirrors, retained as the native kernel's executable
    * specification (and its fuzz oracle). Not used on any hot path. */
  def pqCodesHof(v: Column, books: Column): Column =
    transform(books, (book, sub) => {
      val dsub = size(element_at(book, 1).getField("cvec"))
      val sv = slice(v, sub * dsub + lit(1), dsub)
      val init = struct(lit(-1).as("code"), lit(Double.MaxValue).as("d"))
      aggregate(book, init, (acc, e) => {
        val d = graft.functions.NativeExprs.sqEuclidean(sv, e.getField("cvec"))
        val better = !isnan(d) && (d < acc.getField("d") ||
          (d === acc.getField("d") && e.getField("code") < acc.getField("code")))
        when(better, struct(e.getField("code").as("code"), d.as("d")))
          .otherwise(acc)
      }, acc => acc.getField("code"))
    })

  /** Declarative HOF twin of
    * [[graft.operators.VectorOps.householderReflect]] — the formulation
    * the DuckDB oracle mirrors (left-fold dot product, then one
    * element-wise map); retained as the kernel's executable spec and
    * fuzz oracle. */
  def householderReflectHof(v: Column, w: Seq[Double] = OpqDirection): Column = {
    val wl = array(w.map(lit): _*)
    val wv = aggregate(zip_with(v, wl, (a, b) => a.cast("double") * b),
      lit(0.0), (acc, x) => acc + x)
    val ww = lit(w.map(x => x * x).sum)
    zip_with(v, wl, (a, b) => a.cast("double") - lit(2.0) * wv / ww * b)
  }

  /** Interpreted HOF twin of [[graft.operators.VectorOps.binaryCodes]] —
    * the formulation the DuckDB oracle SQL mirrors, retained as the native kernel's
    * executable specification (and its fuzz oracle). Not used on any
    * hot path. Guarded for empty vectors (Spark's `sequence(0, -1)`
    * would otherwise DESCEND and index out of bounds). */
  def binaryCodesHof(v: Column): Column = {
    val bitVals = array(BinaryBitValues.map(lit): _*)
    val nWords = floor((size(v).cast("double") + 63.0) / 64.0).cast("int")
    when(size(v) === 0, array().cast("array<long>")).otherwise(
      transform(sequence(lit(0), nWords - lit(1)), w =>
        aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, i) =>
          when(w * lit(64) + i < size(v) &&
              element_at(v, w * lit(64) + i + lit(1)).cast("double") > lit(0.0),
            acc.bitwiseOR(element_at(bitVals, i + lit(1)))).otherwise(acc))))
  }
}
