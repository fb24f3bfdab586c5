package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector storage transforms for ANN at scale.
  *
  * The reference stores raw f32 vectors (`src/types/vector.rs:8-9`); at
  * 100 TB the standard memory levers are symmetric per-vector int8
  * quantization (4× smaller posting lists, SIMD-friendly dot products)
  * and product quantization (one code per subspace — 64× at m=4 over
  * 64 float dims). Everything here except [[pqTrain]] is a pure Catalyst
  * expression: map-only, codegen-friendly, and reproducible 1:1 in the
  * DuckDB oracle (all arithmetic in double, round-half-up via
  * `floor(x + 0.5)` — the same convention as [[graft.Queries]]'s r4).
  */
object VectorOps {

  /** Per-vector symmetric scale: `max(|x_i|) / 127` — the dequant factor
    * mapping int8 [-127, 127] back to the vector's value range. Zero for
    * an all-zero vector (handled by [[quantizeInt8]]). */
  def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x.cast("double")))) / lit(127.0)

  /** Symmetric int8 quantization: `q_i = round_half_up(x_i / scale)`,
    * clamped implicitly to [-127, 127] by the scale choice; an all-zero
    * vector (scale 0) quantizes to zeros instead of NaN-poisoning. */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v, x =>
      when(scale > 0, floor(x.cast("double") / scale + lit(0.5)).cast("int"))
        .otherwise(lit(0)))

  /** Dequantization: `q_i * scale` (double). Reconstruction error is
    * bounded by `scale / 2` per element — asserted in VectorOpsSpec. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  // ---------- product quantization ----------
  //
  // PQ splits each vector into `m` contiguous subspaces and stores, per
  // subspace, only the index of the nearest codebook entry: storage is
  // m·log2(|book|) bits per vector (m=4 books of 16 codes over 64 float
  // dims = 2 bytes vs 256 — the lever that fits a 100 TB corpus's
  // posting lists in cluster memory). Search is ADC: distance from the
  // query to the RECONSTRUCTION (per-subspace codebook lookup), which
  // for squared L2 decomposes as Σ_sub ‖q_sub − book[code_sub]‖² — so
  // scanning codes costs m lookups per record, never a full d-dim
  // kernel. Everything below is expression-level (whole-stage codegen;
  // the packed books ride a broadcast, never a shuffle).

  /** Pack a `(sub_idx, code, cvec)` codebook frame into ONE row
    * `books[sub][code] = struct(code, cvec)`, positionally indexed on
    * both levels (codes must be dense 0..|book|−1 per subspace; enforced
    * by construction in both producers). The one-row frame is the
    * broadcast-side input of [[pqCodes]]/[[pqReconstruct]] consumers. */
  def pqPack(codebooks: DataFrame): DataFrame =
    codebooks
      .groupBy(col("sub_idx"))
      .agg(array_sort(collect_list(struct(col("code"), col("cvec")))).as("book"))
      .agg(array_sort(collect_list(struct(col("sub_idx"), col("book")))).as("__sb"))
      .select(transform(col("__sb"), e => e.getField("book")).as("books"))

  /** PQ encode: per subspace, the code of the squared-L2-nearest
    * codebook entry (ties → smaller code; NaN distances never win).
    * `books` is the packed column from [[pqPack]]; the subspace width is
    * inferred from each book's first entry, so one expression serves any
    * (m, dsub) split. Returns `array<int>` of length m.
    *
    * Runs the fused native kernel
    * ([[graft.functions.NativeExprs.PqCodesExpr]]): the code scan is the
    * per-row hot loop of the PQ serving path, and the HOF formulation
    * below walks an interpreted expression tree per (entry × component).
    * Bit-identity between the two is fuzz-pinned in NativeExprsSpec. */
  def pqCodes(v: Column, books: Column): Column =
    graft.functions.NativeExprs.pqCodes(v, books)

  /** Interpreted HOF twin of [[pqCodes]] — the formulation the DuckDB
    * oracle SQL mirrors, retained as the native kernel's executable
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

  /** Pinned OPQ-lite reflection direction: 64 small integers from a
    * fixed formula (`((i·7 + 3) mod 13) − 6` — dense, mixed-sign,
    * exactly representable). A Householder reflection over it is the
    * cheapest orthogonal transform: applied to vectors AND codebook
    * sources before PQ encoding it redistributes energy across the
    * subspace split while preserving all distances — the plumbing of
    * OPQ (Ge et al. 2013) with the trained rotation replaced by a
    * pinned one (the literal-model rule: the oracle must restate the
    * transform verbatim). */
  val OpqDirection: Seq[Double] =
    (0 until 64).map(i => (((i * 7 + 3) % 13) - 6).toDouble)

  /** Householder reflection by [[OpqDirection]] (native kernel —
    * [[graft.functions.NativeExprs.HouseholderExpr]]); array<double>. */
  def householderReflect(v: Column, w: Seq[Double] = OpqDirection): Column =
    graft.functions.NativeExprs.householder(v, w)

  /** Declarative HOF twin of [[householderReflect]] — the formulation
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

  /** PQ decode: concatenate each subspace's looked-up codebook entry.
    * `‖q − reconstruction‖²` IS the ADC distance for squared L2. */
  def pqReconstruct(codes: Column, books: Column): Column =
    flatten(zip_with(books, codes, (book, code) =>
      element_at(book, code + lit(1)).getField("cvec")))

  /** Per-QUERY ADC lookup tables: `luts[sub][code] = ‖q_sub −
    * books[sub][code]‖²` — built ONCE per query vector (m·|book| doubles)
    * and broadcast. With squared L2, `Σ_sub luts[sub][codes[sub]]`
    * equals the distance to the reconstruction, grouped per subspace —
    * so the code scan ([[adcDistance]]) costs m array lookups + m−1
    * adds per record and NEVER touches a d-dim vector: the 100 TB
    * serving shape where the store holds 2-byte codes and the full
    * embedding is neither reconstructed nor scanned. Interpreted HOF is
    * fine here — the expression runs once per (query, codebook), not per
    * record. */
  def pqLuts(q: Column, books: Column): Column =
    transform(books, (book, sub) => {
      val dsub = size(element_at(book, 1).getField("cvec"))
      val sv = slice(q, sub * dsub + lit(1), dsub)
      transform(book, e =>
        graft.functions.NativeExprs.sqEuclidean(sv, e.getField("cvec")))
    })

  /** Element-wise residual `v − c`, computed in DOUBLE (each element
    * cast before subtraction — the same convention the DuckDB oracle
    * mirrors 1:1). Residual encoding is what makes IVF-PQ accurate at
    * scale: within a cluster the residuals `v − centroid` occupy a much
    * tighter ball than the raw vectors, so the same code budget spends
    * its resolution where the data actually lives (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011, §IV.B — the
    * IVFADC system). The reference stores raw f32 vectors only
    * (`src/types/vector.rs:8-9`); this is the compressed-store extension
    * of its IVF probe. */
  def residual(v: Column, c: Column): Column =
    zip_with(v, c, (a, b) => a.cast("double") - b.cast("double"))

  /** L2 normalization in DOUBLE. On unit vectors, cosine DISTANCE is
    * half the squared L2 distance (`‖a−b‖² = 2 − 2·a·b`), so every L2
    * serving path in this file — ADC scans included — serves cosine
    * queries from a normalized store with a final `/2`; no separate
    * cosine kernel is needed on the compressed path. A zero vector
    * normalizes to zeros instead of NaN-poisoning. */
  def l2Normalize(v: Column): Column = {
    val n = sqrt(aggregate(
      transform(v, x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, x) => a + x))
    transform(v, x => when(n > 0, x.cast("double") / n).otherwise(lit(0.0)))
  }

  /** ADC distance from codes alone: `Σ_sub luts[sub][codes[sub]]`.
    * O(m) per record (m = 4 in the demo geometry), so the interpreted
    * fold is a handful of tree-walks per row — nothing like the
    * m·|book|·dsub encode loop that justified [[pqCodes]]'s native
    * kernel. Equal to `sqEuclidean(q, pqReconstruct(codes, books))` up
    * to floating-point regrouping (per-subspace partial sums); the
    * equality is asserted to 1e-9 in VectorOpsSpec.
    *
    * Invalid codes yield NULL, never a crash: [[pqCodes]] emits a −1
    * sentinel when a subspace can't be encoded (geometry mismatch), and
    * an externally-written code store can carry out-of-range or null
    * codes — under ANSI mode (Spark 4 default) a raw `element_at` on
    * any of those throws and kills the whole scan. The range guard maps
    * every such sub-distance to NULL, which poisons the fold, so the
    * record surfaces as `distance = NULL` and the serving paths'
    * invalid-candidate filters drop it — the same degrade-don't-crash
    * contract as the float kernels. */
  def adcDistance(codes: Column, luts: Column): Column =
    aggregate(
      zip_with(luts, codes, (lut, c) =>
        when(c.isNotNull && c >= lit(0) && c < size(lut), element_at(lut, c + lit(1)))),
      lit(0.0), (acc, x) => acc + x)

  /** Trained codebooks — the production path ([[pqPack]] the result):
    * one seeded MLlib k-means per subspace over the subvectors, `k`
    * codes each. The m fits run over n·dsub-sized inputs (a driver loop
    * of m jobs, not a shuffle); at 100 TB the fit input would be a
    * bounded deterministic sample exactly as in [[IvfIndex.build]] —
    * callers pass a sampled frame. Returns `(sub_idx, code, cvec)` with
    * dense codes 0..k−1. */
  def pqTrain(
      records: DataFrame,
      m: Int,
      dsub: Int,
      k: Int,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = records.sparkSession
    import spark.implicits._
    val rows = (0 until m).flatMap { sub =>
      val sv = records
        .select(slice(col("embedding"), sub * dsub + 1, dsub).as("sv"))
        .withColumn("__features", array_to_vector(col("sv")))
      val model = new KMeans()
        .setK(k).setSeed(seed + sub).setMaxIter(50).setTol(1e-4)
        .setFeaturesCol("__features").setPredictionCol("__c")
        .fit(sv)
      model.clusterCenters.zipWithIndex.map { case (c, code) =>
        (sub, code, c.toArray.map(_.toFloat).toSeq)
      }
    }
    rows.toDF("sub_idx", "code", "cvec")
      .withColumn("cvec", col("cvec").cast("array<float>"))
  }

  /** L2 norm — sequential-fold dot then one IEEE sqrt, so the double is
    * engine-identical. */
  def l2Norm(v: Column): Column =
    sqrt(graft.functions.NativeExprs.dot(v, v))

  // ---------- 1-bit binary quantization ----------
  //
  // The most aggressive point on the compression ladder (int8 → PQ →
  // sign bits): one BIT per dimension, packed 64 dims to a long — a
  // 64-dim f32 embedding (256 bytes) becomes ONE 8-byte word, a 32×
  // reduction that fits a 100 TB corpus's vectors in ~tens of GB per
  // thousand executors. Hamming distance between sign patterns is a
  // monotone proxy for angular distance (Charikar 2002, SimHash with
  // identity hyperplanes), so the serving shape is the standard cheap
  // funnel: Hamming shortlist over packed words (XOR + POPCNT — both
  // codegen'd integer ops), exact rerank of the shortlist at full
  // precision. The reference stores raw f32 only (src/types/vector.rs:
  // 8-9); this is the compressed-store extension of its search surface.

  /** Bit value of position i (0..63) as a Long — `1L << i`, with bit 63
    * the sign bit. Declared as data (not shifts) because the DuckDB
    * oracle must restate the same 64 constants: DuckDB's checked
    * arithmetic rejects `1::BIGINT << 63` outright, so BOTH engines
    * consume this literal table (the literal-model rule). */
  val BinaryBitValues: Seq[Long] = (0 until 64).map(i => 1L << i)

  /** Sign-bit pack: word w of the result has bit i set iff component
    * `w·64 + i` is strictly positive (zero and −0.0 → 0; NaN compares
    * greater than 0 in BOTH Spark and DuckDB's total order, so a NaN
    * component sets its bit identically in both engines). Output length
    * is `ceil(d / 64)` longs; trailing bits of a ragged last word stay
    * 0. Map-only, no shuffle.
    *
    * Runs the fused native kernel
    * ([[graft.functions.NativeExprs.BinaryCodesExpr]]): the encode is
    * the store-side hot loop of the binary serving path, and the HOF
    * formulation below walks a 64-step interpreted fold per word per
    * row — the same overhead class the PQ-encode kernel killed.
    * Bit-identity between the two is fuzz-pinned in NativeExprsSpec. */
  def binaryCodes(v: Column): Column =
    graft.functions.NativeExprs.binaryCodes(v)

  /** Interpreted HOF twin of [[binaryCodes]] — the formulation the
    * DuckDB oracle SQL mirrors, retained as the native kernel's
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

  /** Hamming distance between two packed codes: `Σ_w popcount(a_w XOR
    * b_w)` — exact integers, so the oracle hash-compares with no
    * rounding convention at all. Per-record serve cost is one XOR +
    * one POPCNT per word (d/64 of them): the cheapest distance kernel
    * in the engine, and the reason the binary funnel scans the full
    * corpus without touching a float.
    *
    * EQUAL-WIDTH PRECONDITION: both codes must have the same word
    * count (one store, one encode dimension). Ragged inputs yield NULL
    * — `zip_with` pads the shorter side with null and the fold
    * propagates it — and the SQL twin (`Queries.sqlHamming`) guards on
    * `len(a) = len(b)` to return NULL identically, never a partial
    * sum over the overlapping prefix. */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  // ---------- PCA from exact integer moments ----------

  /** q3 quantization: `floor(x·1000 + 0.5)` as long — the exact-integer
    * encoding that makes the covariance's sufficient statistics
    * ([[graft.functions.GramSumAgg]]) a pure function of the input
    * multiset (partition-order-independent, oracle-hashable). The
    * 5·10⁻⁴ per-component quantization error is far below what a
    * principal-direction QC dashboard resolves. */
  def quantizeQ3(v: Column): Column =
    transform(v, x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast("long"))

  /** Top principal component by `iters` power iterations, from the
    * exact-integer moment sums — the embedding-health/whitening
    * primitive ("is one direction eating the variance?").
    *
    * Scale shape: ONE distributed pass ([[graft.functions.GramSumAgg]]:
    * d + d² exact longs per partition through the shuffle, corpus-size-
    * independent); the covariance is model-bounded, so the iteration is
    * plain driver arithmetic (small-support-model rule) — never `iters`
    * Spark jobs.
    *
    * Determinism contract (every double op fixed-order, so the DuckDB
    * oracle replays it bit-for-bit): `C[i][j] = (s2 − s1ᵢ·s1ⱼ/n)/n`
    * with the longs cast to double exactly; start vector `1/√d`;
    * per-step matvec as ascending-j folds from 0.0, L2 normalization
    * (IEEE sqrt), zero-norm guard keeps y; final sign fixed so the
    * loadings sum non-negative. Returns `(loadings, explainedShare)` —
    * share = Rayleigh quotient / trace, scale-free so the q3 units
    * cancel. The result is "the `iters`-step power iterate" (a pinned
    * deterministic object), with convergence asserted separately in
    * VectorOpsSpec rather than claimed by the operator. */
  def pcaTop(embeddings: DataFrame, vecCol: String, iters: Int): (Seq[Double], Double) = {
    val r = pcaTopK(embeddings, vecCol, k = 1, iters).head
    (r._1, r._2)
  }

  /** The one distributed pass: collected `(n, Σq, Σq·qᵀ)` in q3 units. */
  private def gramMoments(
      embeddings: DataFrame, vecCol: String): (Long, Seq[Long], Seq[Long]) = {
    val g = embeddings
      .agg(graft.functions.GramSumAgg.gramSum(quantizeQ3(col(vecCol))).as("g"))
      .select(col("g.n"), col("g.s1"), col("g.s2"))
      .head()
    (g.getLong(0), g.getSeq[Long](1), g.getSeq[Long](2))
  }

  /** Top-k principal components by Hotelling deflation: extract a
    * component as in [[pcaTop]], then subtract its rank-1 contribution
    * (`C ← C − λ·v·vᵀ`, fixed operand order `λ·vᵢ·vⱼ` left-assoc) and
    * repeat — the scree view ("is the embedding space anisotropic, and
    * how fast does the spectrum fall?"). Each share divides by the
    * ORIGINAL trace, so shares across components are comparable and sum
    * toward 1. One [[gramMoments]] pass, then the [[pcaFromMoments]]
    * deflation loop as driver math; k is model-bounded (k ≤ d). */
  def pcaTopK(
      embeddings: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int): Seq[(Seq[Double], Double)] = {
    val (n, s1, s2) = gramMoments(embeddings, vecCol)
    pcaFromMoments(n, s1, s2, k, iters)
  }

  /** Deflation loop on collected `(n, Σq, Σq·qᵀ)` moments (driver math;
    * see [[pcaTopK]]). Public so streaming monitors that accumulate
    * moments incrementally (exact integer adds — streaming ≡ batch by
    * construction) can refit without a second distributed pass. */
  def pcaFromMoments(
      n: Long,
      s1: Seq[Long],
      s2: Seq[Long],
      k: Int,
      iters: Int): Seq[(Seq[Double], Double)] = {
    require(iters >= 0, "iters must be non-negative")
    require(k > 0, "k must be positive")
    val d = s1.length
    require(n > 0 && d > 0, "empty input")
    require(k <= d, s"k=$k exceeds dimension $d")
    val nD = n.toDouble
    var c = Array.tabulate(d, d)((i, j) =>
      (s2(i * d + j).toDouble - s1(i).toDouble * s1(j).toDouble / nD) / nD)
    val trace = (0 until d).foldLeft(0.0)((acc, i) => acc + c(i)(i))
    val out = Seq.newBuilder[(Seq[Double], Double)]
    for (_ <- 0 until k) {
      var x: IndexedSeq[Double] = IndexedSeq.fill(d)(1.0 / math.sqrt(d.toDouble))
      for (_ <- 0 until iters) {
        val cc = c
        val y = (0 until d).map(i =>
          (0 until d).foldLeft(0.0)((acc, j) => acc + cc(i)(j) * x(j)))
        val norm = math.sqrt(y.foldLeft(0.0)((acc, v) => acc + v * v))
        x = if (norm > 0) y.map(_ / norm) else y
      }
      val xs = if (x.foldLeft(0.0)(_ + _) < 0) x.map(v => -v) else x
      val cc = c
      val z = (0 until d).map(i =>
        (0 until d).foldLeft(0.0)((acc, j) => acc + cc(i)(j) * xs(j)))
      val lambda = (0 until d).foldLeft(0.0)((acc, i) => acc + xs(i) * z(i))
      out += ((xs, lambda / trace))
      c = Array.tabulate(d, d)((i, j) => cc(i)(j) - lambda * xs(i) * xs(j))
    }
    out.result()
  }

  /** Materialized PCA projection: per-vector scores on the top-k
    * components — the dimension-reduction write path (store 3 doubles
    * per vector instead of d floats for clustering/viz/coarse search).
    *
    * Scale shape: [[pcaTopK]]'s one distributed moment pass fits the
    * model; the mean and loadings are then model-bounded LITERALS
    * riding the plan (small-support-model rule), so the projection
    * itself is map-only — no join, no second aggregate, embarrassingly
    * parallel at any corpus size. Score m = Σᵢ (xᵢ − μᵢ)·v⁽ᵐ⁾ᵢ as an
    * ascending fold; μ = s1/n/1000 returns the q3-space means to input
    * units (the loadings are unit vectors, so their q3 fit is
    * directly applicable). */
  def pcaProject(
      embeddings: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame = {
    val (n, s1, s2) = gramMoments(embeddings, vecCol)
    val mu = s1.map(s => s.toDouble / n.toDouble / 1000.0)
    val comps = pcaFromMoments(n, s1, s2, k, iters)
    val muLit = array(mu.map(lit): _*)
    val scores = comps.zipWithIndex.map { case ((loadings, _), m) =>
      val vLit = array(loadings.map(lit): _*)
      aggregate(
        zip_with(
          zip_with(col(vecCol), muLit, (x, u) => x.cast("double") - u),
          vLit, (cxu, v) => cxu * v),
        lit(0.0), (acc, t) => acc + t).as(s"pc$m")
    }
    embeddings.select(col("*") +: scores: _*)
  }

  // ---------- random projection ----------

  /** splitmix64 — the standard public-domain 64-bit mixer (Steele et
    * al. 2014); drives the deterministic ±1 sign matrix below. */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic ±1 sign matrix (dOut × dIn) for database-friendly
    * random projection (Achlioptas 2003's ±1 scheme — satisfies the JL
    * lemma with the same distortion bounds as Gaussian entries). Seeded
    * splitmix64 per cell, so the matrix is a pure function of
    * `(seed, dIn, dOut)`: model-bounded (rule: a small-support model is
    * a literal, not a join), it rides BOTH engines' plans as identical
    * integer literals. */
  def rpSigns(seed: Long, dIn: Int, dOut: Int): Seq[Seq[Int]] =
    (0 until dOut).map { j =>
      (0 until dIn).map { i =>
        if ((splitmix64(seed + j.toLong * dIn + i) & 1L) == 0L) 1 else -1
      }
    }

  /** Project `v` (array<float|double>) to `signs.size` dims:
    * `p_j = (Σ_i v_i · s_{j,i}) / sqrt(dOut)` — the JL scaling that
    * makes squared distances approximately preserved in expectation.
    * Map-only (one fold per output dim over literal sign rows); the
    * fold is sequential in both engines, so the oracle (same literals,
    * `list_sum` over `list_zip`) reproduces every bit. */
  def randomProject(v: Column, signs: Seq[Seq[Int]]): Column = {
    require(signs.nonEmpty, "need at least one projection row")
    val scale = 1.0 / math.sqrt(signs.size.toDouble)
    array(signs.map { row =>
      val rl = array(row.map(s => lit(s.toDouble)): _*)
      aggregate(zip_with(v, rl, (a, b) => a.cast("double") * b),
        lit(0.0), (acc, x) => acc + x) * lit(scale)
    }: _*)
  }

  /** Greedy k-center coreset selection (farthest-point traversal,
    * Gonzalez 1985) — the diversity-maximizing subset selector a
    * training-data curator runs to pick k MAXIMALLY-SPREAD exemplars
    * (seed documents for labeling, eval probes, codebook inits); the
    * classic 2-approximation of the k-center objective. The dual of
    * [[graft.operators.Corpus.sampleDiverse]]'s per-cluster quota: this
    * selects ACROSS the space with no pre-clustering.
    *
    * Scale shape: k−1 passes, each a map (one distance against the
    * broadcast newest center, a `least` fold into the running min) plus
    * ONE bounded argmax (TakeOrdered over the quantized min-distance) —
    * the same per-round bill as a Lloyd iteration, linear in n·k with
    * no shuffle of vectors; lineage truncated per round. Driver state:
    * k centers (model-bounded).
    *
    * Determinism contract: seed = lowest id; each round's argmax orders
    * by the r4-QUANTIZED min-distance (desc, id asc tiebreak) so the
    * selection boundary is engine-independent (the DSIR/BM25 rank
    * discipline); NaN min-distances never win (the [[IvfIndex.assign]]
    * rule — defensive, the validated domain admits no NaN). Returns
    * `(step, id, radius)`: `radius` is the selected point's distance to
    * the prior centers — the k-center coverage radius of the first
    * step−1 centers — NULL for the seed. */
  def greedyKCenters(records: DataFrame, k: Int,
      metric: graft.types.Metric): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = records.sparkSession
    val base = records.select(col("id"), col("embedding"))
      .where(col("embedding").isNotNull)
    val seed = base.orderBy(col("id").asc).limit(1).collect()
    require(seed.nonEmpty, "no records to select from")
    val seedId = seed.head.getLong(0)
    val seedVec = seed.head.getSeq[Float](1)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, seedId, None))
    var cur = graft.Caching.truncate(base
      .withColumn("__mind", metric.distance(col("embedding"), typedLit(seedVec)))
      .where(col("id") =!= lit(seedId)), eager = false)
    for (step <- 2 to k) {
      val q4 = floor(col("__mind") * lit(10000.0) + lit(0.5))
      val best = cur.where(!isnan(col("__mind")))
        .orderBy(q4.desc, col("id").asc).limit(1).collect()
      require(best.nonEmpty, s"fewer than $k selectable records (step $step)")
      val bid = best.head.getLong(0)
      val bvec = best.head.getSeq[Float](1)
      out += ((step, bid, Some(best.head.getDouble(2))))
      cur = graft.Caching.truncate(cur
        .withColumn("__mind",
          least(col("__mind"), metric.distance(col("embedding"), typedLit(bvec))))
        .where(col("id") =!= lit(bid)), eager = false)
    }
    import spark.implicits._
    out.toSeq.toDF("step", "id", "radius")
  }
}
