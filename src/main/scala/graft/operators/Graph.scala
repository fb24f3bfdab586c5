package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the similarity graphs the dedup family emits.
  *
  * The reference has no graph surface (its `duplicateGroups` analog is
  * the whole story); this family is brief-driven: once a pipeline holds
  * a verified near-duplicate pair list, link analysis over it answers
  * "which document is the CANONICAL one" better than the min-id
  * representative rule — a highly-connected hub inside a duplicate
  * family is the original; satellites are the scrapes. PageRank over
  * the pair graph is the standard formalization (Page et al. 1999).
  */
object Graph {

  /** Fixed-point scale for integer PageRank mass: ranks are BIGINT
    * multiples of 10⁻¹², so every arithmetic step is EXACT integer
    * math — order-independent sums, engine-portable, hash-comparable.
    * Headroom: total mass stays ≤ SCALE (mass only leaks to floors),
    * so `rank_q * 85` ≤ 8.5·10¹³ — far inside checked-long range even
    * before the per-degree split. */
  val RankScale: Long = 1000000000000L

  /** Damping numerator/denominator (d = 85/100 = the classic 0.85) as
    * exact integers — the fixed-point twin of the float damping. */
  val DampNum: Long = 85L
  val DampDen: Long = 100L

  /** PageRank over an UNDIRECTED pair list, in exact integer
    * fixed-point arithmetic.
    *
    * Numeric contract (what makes this oracle-exact): every quantity is
    * a BIGINT count of 10⁻¹²-quanta. Init `r₀ = SCALE div n`; teleport
    * `t = (15·SCALE) div (100·n)`; per iteration each node sends every
    * neighbor `(r·85) div (100·deg)` and receives `t + Σ incoming`.
    * Integral `div` truncates (all operands non-negative, so truncate =
    * floor); the discarded remainders mean total mass drifts slightly
    * BELOW SCALE — deterministic on both engines, unlike float sums
    * whose value depends on reduction order. The oracle unrolls the
    * same `iters` steps as chained CTEs with DuckDB's integer `//`.
    *
    * Scale shape: edges are bounded by the verified-duplicate subset
    * (the caller's pair list is the converged LSH result, memoized).
    * Each iteration is ONE shuffle: an equi-join of ranks onto edges
    * (both keyed by node) + a map-side-combinable sum — the standard
    * Pregel step, linear in |E| per round with no driver traffic
    * beyond the loop counter. Lineage is truncated per round
    * ([[Dedup.duplicateGroups]]'s discipline) so round k's plan scans
    * round k−1's materialized result, not the whole loop history.
    *
    * Isolated nodes cannot occur (every node of a pair list has
    * degree ≥ 1). Empty pair list → empty result (no 0-division on n:
    * guarded). */
  def pageRank(
      pairs: DataFrame,
      iters: Int = 8,
      srcCol: String = "doc_id_a",
      dstCol: String = "doc_id_b"): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    // one eager materialization of the (typically pipeline-backed) pair
    // list, then symmetric edges — same rationale as duplicateGroups
    val p = graft.Caching.truncate(
      pairs.select(col(srcCol).as("src"), col(dstCol).as("dst")), eager = true)
    val edges = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val n = deg.count()
    if (n == 0L)
      return pairs.sparkSession.emptyDataFrame
        .withColumn("doc_id", lit(null).cast("long"))
        .withColumn("rank_q", lit(null).cast("long"))
        .limit(0)
    val teleport = (15L * RankScale) / (100L * n)
    // edges pre-joined with the sender's degree ONCE (the degree never
    // changes); each round then only joins the current ranks on
    val edgesDeg = graft.Caching.truncate(edges.join(deg, Seq("src")), eager = false)
    var ranks = graft.Caching.truncate(deg.select(col("src").as("node"),
      lit(RankScale / n).as("rank_q")), eager = false)
    for (_ <- 0 until iters) {
      val contrib = edgesDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .selectExpr("dst", s"(rank_q * $DampNum) DIV ($DampDen * deg) AS c")
        .groupBy(col("dst")).agg(sum(col("c")).as("__in"))
      ranks = graft.Caching.truncate(
        ranks.select(col("node"))
          .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
          .select(col("node"),
            (lit(teleport) + coalesce(col("__in"), lit(0L))).as("rank_q")), eager = false)
    }
    ranks.select(col("node").as("doc_id"), col("rank_q"))
  }

  /** Personalized PageRank: [[pageRank]] with the teleport mass pinned
    * to a SEED set — "how close is every document to the trusted ones,
    * through the duplicate graph" (Jeh & Widom 2003's topic-sensitive
    * variant in the same integer fixed point). Rank concentrates around
    * seeds instead of global degree: the trust-propagation selector for
    * picking which member of a scraped family descends from the curated
    * source.
    *
    * Same numeric contract as [[pageRank]]; differences: init mass
    * `SCALE div |seeds|` on seeds (0 elsewhere) and teleport
    * `(15·SCALE) div (100·|seeds|)` only to seeds. Seeds outside the
    * graph are ignored; no seed in the graph → empty result. */
  def personalizedPageRank(
      pairs: DataFrame,
      seeds: DataFrame, // one column "node"
      iters: Int = 8,
      srcCol: String = "doc_id_a",
      dstCol: String = "doc_id_b"): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val p = graft.Caching.truncate(
      pairs.select(col(srcCol).as("src"), col(dstCol).as("dst")), eager = true)
    val edges = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = deg.select(col("src").as("node"))
      .join(seeds.select(col("node")).distinct()
        .withColumn("__seed", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(false)).as("is_seed"))
    val nSeeds = nodes.where(col("is_seed")).count()
    if (nSeeds == 0L)
      return pairs.sparkSession.emptyDataFrame
        .withColumn("doc_id", lit(null).cast("long"))
        .withColumn("rank_q", lit(null).cast("long"))
        .limit(0)
    val teleport = (15L * RankScale) / (100L * nSeeds)
    val init = RankScale / nSeeds
    val edgesDeg = graft.Caching.truncate(edges.join(deg, Seq("src")), eager = false)
    val nodesT = graft.Caching.truncate(nodes.select(col("node"),
      when(col("is_seed"), lit(teleport)).otherwise(lit(0L)).as("__t")), eager = false)
    var ranks = graft.Caching.truncate(nodes.select(col("node"),
      when(col("is_seed"), lit(init)).otherwise(lit(0L)).as("rank_q")), eager = false)
    for (_ <- 0 until iters) {
      val contrib = edgesDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .selectExpr("dst", s"(rank_q * $DampNum) DIV ($DampDen * deg) AS c")
        .groupBy(col("dst")).agg(sum(col("c")).as("__in"))
      ranks = graft.Caching.truncate(
        nodesT
          .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
          .select(col("node"),
            (col("__t") + coalesce(col("__in"), lit(0L))).as("rank_q")), eager = false)
    }
    ranks.select(col("node").as("doc_id"), col("rank_q"))
  }

  /** Triangle / wedge census of an undirected pair list — the global
    * clustering coefficient `3T/W` that meters LSH-family integrity:
    * genuine duplicate families are near-cliques (coefficient → 1); a
    * low value means chains of borderline pairs are BRIDGING unrelated
    * documents and the verify threshold needs raising.
    *
    * Exactness: edges are DEGREE-ORIENTED (low-degree endpoint →
    * high-degree endpoint, ties by id — a strict total order, so each
    * undirected edge gets exactly one direction) and the path join
    * `(u→v) ⋈ (v→w)` checked against `(u→w)` counts every triangle
    * exactly once: a triangle's three nodes have a unique ≺-ordering
    * u ≺ v ≺ w, and only that rotation survives the orientation. Exact
    * BIGINTs throughout; the wedge count `Σ d(d−1)/2` divides an
    * always-even integer with integral `DIV`. One nullable double (the
    * coefficient, NULL when the graph has no wedges) in the final
    * 1-row select.
    *
    * Why degree order and not id order: the path join fans out per
    * node as (out-degree)², and under id order a low-id hub keeps all
    * its edges outgoing — one viral doc with d neighbors materializes
    * ~d² path rows on id luck alone. Low→high degree orientation
    * bounds every node's out-degree by the graph's degeneracy
    * (arboricity-class bound, Chiba–Nishizeki 1985): a hub's edges all
    * point INTO it, so it fans out nothing, independent of id
    * assignment. Same count either way — GraphSpec pins both the
    * equality and the hub-fanout bound.
    *
    * Scale shape: two equi-joins on the verified-pair graph (bounded by
    * the duplicate subset, eagerly materialized once); degree table via
    * one map-side-combinable count. */
  def triangleCensus(
      pairs: DataFrame,
      srcCol: String = "doc_id_a",
      dstCol: String = "doc_id_b"): DataFrame = {
    val p = graft.Caching.truncate(
      pairs.select(col(srcCol).as("a"), col(dstCol).as("b")), eager = true)
    val o = graft.Caching.truncate(orientByDegree(p), eager = true)
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.dst") === col("e2.src"))
      .join(o.as("e3"),
        col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = p.select(col("a").as("n")).unionByName(p.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .selectExpr("CAST(sum(d * (d - 1)) DIV 2 AS BIGINT) AS n_wedges")
    tri.crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0L,
          (col("n_triangles") * lit(3L)).cast("double")
            / col("n_wedges").cast("double"))
          .otherwise(lit(null).cast("double")).as("global_cc"))
  }

  /** Orient a once-per-edge `(a, b)` list low-degree → high-degree
    * (ties by id): `src` is the ≺-smaller endpoint under the strict
    * total order (degree, id). Package-private so GraphSpec can assert
    * the fan-out bound directly. */
  private[graft] def orientByDegree(p: DataFrame): DataFrame = {
    val deg = p.select(col("a").as("n")).unionByName(p.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // a < b by construction, so on a degree tie the stored order is
    // already the (degree, id) order
    p.join(deg.select(col("n").as("a"), col("d").as("__da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("__db")), Seq("b"))
      .select(
        when(col("__da") <= col("__db"), col("a")).otherwise(col("b")).as("src"),
        when(col("__da") <= col("__db"), col("b")).otherwise(col("a")).as("dst"))
  }
}
