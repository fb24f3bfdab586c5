package graft.types

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Distance metrics over `array<float>` embedding columns.
  *
  * Mirrors the reference's two kernels (reference `src/types/metric.rs:19-32`):
  *   - Euclidean is the **squared** L2 distance — no sqrt — which is
  *     rank-equivalent and cheaper (`metric.rs:10-13`).
  *   - Cosine is the cosine **distance** (1 − similarity) (`metric.rs:14-16`).
  *
  * Implemented as native Catalyst expressions
  * ([[graft.functions.NativeExprs]]: `SqEuclideanExpr`,
  * `CosineDistanceExpr`), NOT UDFs: one compiled loop per row over the
  * unsafe arrays, null-safe, and bit-identical to the higher-order-function
  * form (`zip_with` + `aggregate`) that the DuckDB oracle mirrors 1:1.
  * Elements are cast to double before arithmetic so Spark and the oracle
  * accumulate identically (sequential left-to-right double sums).
  *
  * They are `CodegenFallback` kernels, so they do NOT run inside
  * whole-stage codegen: an operator that evaluates a distance (the
  * serving plan's `Filter` and `Project`) has no `*(n)` codegen stage and
  * calls the kernel's `eval` per row.
  *
  * At 100 TB scale this is a narrow map-side computation — no shuffle; the
  * scan reads only the embedding column (column pruning).
  */
sealed trait Metric {
  /** Distance between two `array<float>` columns as a `double` Column. */
  def distance(a: Column, b: Column): Column
  def name: String
}

object Metric {

  /** Squared L2: sum((a_i - b_i)^2). Reference `src/types/metric.rs:29`.
    * Native kernel ([[graft.functions.NativeExprs.SqEuclideanExpr]]),
    * bit-identical to the HOF form
    * `aggregate(zip_with(a,b,(x,y)->(xd-yd)*(xd-yd)), 0.0, +)` that the
    * DuckDB oracle mirrors. */
  case object Euclidean extends Metric {
    val name = "euclidean"
    def distance(a: Column, b: Column): Column =
      graft.functions.NativeExprs.sqEuclidean(a, b)
  }

  /** Cosine distance: 1 − dot(a,b)/(‖a‖‖b‖).
    * Reference `src/types/metric.rs:30-31` (simsimd cosine distance).
    * Native kernel, bit-identical to the three-aggregate HOF form the
    * oracle mirrors. */
  case object Cosine extends Metric {
    val name = "cosine"
    def distance(a: Column, b: Column): Column =
      graft.functions.NativeExprs.cosineDistance(a, b)
  }

  def fromString(s: String): Metric = s.toLowerCase match {
    case "euclidean" => Euclidean
    case "cosine"    => Cosine
    case other       => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** Dimension validation (reference `src/cores/database.rs:189-199`):
    * rows whose embedding length ≠ `dim` are rejected. */
  def validDimension(embedding: Column, dim: Int): Column =
    size(embedding) === lit(dim)

  /** Domain bound for the exact-integer analytics lane: every component
    * must be finite and within ±[[MaxAbsComponent]]. Real embedding
    * models emit O(1)–O(100) components; values beyond this bound are
    * corrupt payloads. The binding constraint is the q4-SQUARED
    * dashboards (per-dimension variance sums `Σ(x·10⁴)²` in a long): at
    * the bound one row contributes (100·10⁴)² = 10¹², leaving ~9·10⁶
    * rows of headroom even if EVERY row sits at the bound and ~9·10¹⁰
    * rows at O(1) magnitudes — while a single unvalidated 10¹⁸ payload
    * overflows the very first multiplication (adversarial-data finding,
    * r8). NaN/Inf also fail (NaN comparisons are false) — they would
    * otherwise poison distance heaps. Reject at the door, like
    * dimension (O20) — validation is a codegen'd map predicate, one
    * comparison per component. */
  val MaxAbsComponent: Double = 100.0

  /** Dimension AND component-domain validation: the full ingest gate.
    * NaN/Inf fail the range check (NaN comparisons are false). */
  def validRecord(embedding: Column, dim: Int): Column =
    validDimension(embedding, dim) &&
      forall(embedding, x =>
        x.cast("double") >= lit(-MaxAbsComponent) &&
          x.cast("double") <= lit(MaxAbsComponent))
}
