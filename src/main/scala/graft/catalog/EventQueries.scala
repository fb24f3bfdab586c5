package graft
package catalog

import graft.operators.Temporal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** The event-stream family: sessionization, funnels, retention, sketches, anomaly and
  * bot detection over `events`. */
object EventQueries {
  /** The MMR greedy loop UNROLLED as generated SQL (the BPE-oracle
    * technique): a ≤`shortlist`-row candidate CTE, its pairwise
    * distance matrix, then one MATERIALIZED one-row CTE per selection
    * step — each step excludes the previous picks and orders by the
    * same `lam·dq − (1−lam)·min-dist-to-selected` objective the
    * expression evaluates, with the identical id tiebreak. */
  /** Tertile boundaries for `events_rfm` — ONE Scala definition feeds
    * both engines' percentile calls (shortest-round-trip toString
    * parses back to identical double bits in DuckDB). */
  private val RfmP1: Double = 1.0 / 3
  private val RfmP2: Double = 2.0 / 3

  /** The `events_markov` oracle: the power iteration UNROLLED as
    * `iters` chained MATERIALIZED CTE list folds (the BPE-oracle
    * technique). Every double op restates the Spark driver loop in
    * [[operators.Events.stationaryDistribution]] verbatim: exact-long
    * count/rowsum casts, `CAST(1.0 AS DOUBLE)/n` uniform fill (a bare
    * `1.0` would be DECIMAL — the literal-typing trap), and
    * `list_sum` over an ascending-i product list == the ascending fold
    * from 0.0 (0.0 + a == a for the non-negative terms here). */
  private def markovOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""x$k AS MATERIALIZED (SELECT list_transform(generate_series(1, len(x)), j ->
         |  list_sum(list_transform(generate_series(1, len(x)), i -> x[i] * p[i][j]))) AS x, p
         |  FROM x${k - 1})""".stripMargin
    }
    s"""WITH tr AS MATERIALIZED (SELECT event_type AS f,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
       |  FROM events WHERE user_id IS NOT NULL),
       |c AS MATERIALIZED (SELECT f, t, CAST(count(*) AS BIGINT) AS n
       |  FROM tr WHERE t IS NOT NULL GROUP BY f, t),
       |ty AS MATERIALIZED (SELECT t, CAST(row_number() OVER (ORDER BY t) AS INT) AS idx
       |  FROM (SELECT f AS t FROM c UNION SELECT t FROM c)),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS INT) AS n FROM ty),
       |rs AS MATERIALIZED (SELECT ti.idx AS i, CAST(coalesce(sum(c.n), 0) AS BIGINT) AS s
       |  FROM ty ti LEFT JOIN c ON c.f = ti.t GROUP BY ti.idx),
       |cell AS MATERIALIZED (SELECT ti.idx AS i, tj.idx AS j,
       |    CASE WHEN rs.s = 0 THEN CAST(1.0 AS DOUBLE) / CAST(nn.n AS DOUBLE)
       |         ELSE CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(rs.s AS DOUBLE) END AS v
       |  FROM ty ti CROSS JOIN ty tj CROSS JOIN nn
       |  JOIN rs ON rs.i = ti.idx
       |  LEFT JOIN c ON c.f = ti.t AND c.t = tj.t),
       |pm AS MATERIALIZED (SELECT list(rw ORDER BY i) AS p FROM
       |  (SELECT i, list(v ORDER BY j) AS rw FROM cell GROUP BY i)),
       |x0 AS MATERIALIZED (SELECT list_transform(generate_series(1, nn.n), i ->
       |    CAST(1.0 AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS x, pm.p AS p FROM nn, pm),
       |${steps.mkString(",\n")}
       |SELECT ty.t AS event_type, ${sqlR4(s"x[ty.idx]")} AS prob
       |FROM x$iters, ty ORDER BY event_type""".stripMargin
  }

  /** The events_attribution_markov oracle: journey extraction with the
    * same window passes, then the removal dimension as a fanned matrix
    * frame — one (removal × state × state) dense probability grid,
    * `iters` matrix-vector steps as nested ascending list folds
    * (the [[operators.Events.markovRemovalEffects]] operand order). */
  private def markovRemovalOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""x$t AS MATERIALIZED (SELECT r, list_transform(generate_series(1, len(x)), j ->
         |    list_sum(list_transform(generate_series(1, len(x)), i -> x[i] * m[i][j]))) AS x, m
         |  FROM x${t - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN event_type = 'view' AND props IS NOT NULL AND json_valid(props)
       |         THEN CAST(json_extract(props, '$$.k') AS BIGINT) END AS camp
       |  FROM events WHERE user_id IS NOT NULL),
       |cum AS (SELECT user_id, ts, event_id, event_type, camp,
       |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_p
       |  FROM ev),
       |kept AS (SELECT user_id, ts, event_id,
       |    CASE WHEN event_type = 'purchase' THEN 'conv' ELSE 'c' || CAST(camp AS VARCHAR) END AS state
       |  FROM cum WHERE prior_p = 0 AND (event_type = 'purchase' OR (event_type = 'view' AND camp IS NOT NULL))),
       |sq AS (SELECT user_id, state,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ord,
       |    lead(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM kept),
       |tr AS (SELECT f, t FROM (
       |    SELECT state AS f, coalesce(nxt, CASE WHEN state = 'conv' THEN NULL ELSE 'drop' END) AS t FROM sq
       |    UNION ALL SELECT 'start', state FROM sq WHERE ord = 1)
       |  WHERE t IS NOT NULL),
       |cb AS (SELECT f, t, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY f, t),
       |sts AS (SELECT DISTINCT s FROM (SELECT f AS s FROM cb UNION ALL SELECT t FROM cb
       |  UNION ALL SELECT unnest(['start', 'conv', 'drop']))),
       |sl AS (SELECT list(s ORDER BY s) AS ss FROM sts),
       |rs AS (SELECT f, CAST(sum(c) AS BIGINT) AS rs FROM cb GROUP BY f),
       |rml AS (SELECT s AS r FROM sts WHERE s NOT IN ('start', 'conv', 'drop')
       |  UNION ALL SELECT '<none>'),
       |cr AS (SELECT rml.r AS r, cb.f AS f,
       |    CASE WHEN cb.t = rml.r THEN 'drop' ELSE cb.t END AS t,
       |    CAST(sum(cb.c) AS BIGINT) AS c
       |  FROM rml, cb GROUP BY 1, 2, 3),
       |grid AS (SELECT rml.r AS r, u.i AS i, v.j AS j, sl.ss AS ss
       |  FROM rml CROSS JOIN sl
       |  CROSS JOIN unnest(generate_series(1, len(sl.ss))) AS u(i)
       |  CROSS JOIN unnest(generate_series(1, len(sl.ss))) AS v(j)),
       |dn AS (SELECT g.r, g.i, g.j,
       |    CASE WHEN g.ss[g.i] IN ('conv', 'drop') OR rs.rs IS NULL
       |         THEN CASE WHEN g.i = g.j THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
       |         ELSE coalesce(CAST(cr.c AS DOUBLE), CAST(0.0 AS DOUBLE)) / CAST(rs.rs AS DOUBLE) END AS p
       |  FROM grid g
       |  LEFT JOIN rs ON rs.f = g.ss[g.i]
       |  LEFT JOIN cr ON cr.r = g.r AND cr.f = g.ss[g.i] AND cr.t = g.ss[g.j]),
       |rowl AS (SELECT r, i, list(p ORDER BY j) AS pr FROM dn GROUP BY r, i),
       |mat AS MATERIALIZED (SELECT r, list(pr ORDER BY i) AS m FROM rowl GROUP BY r),
       |x0 AS MATERIALIZED (SELECT mat.r AS r,
       |    list_transform(generate_series(1, len(sl.ss)), j ->
       |      CASE WHEN sl.ss[j] = 'start' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS x,
       |    mat.m AS m
       |  FROM mat, sl),
       |$steps,
       |cv AS (SELECT r, x[(SELECT list_position(ss, 'conv') FROM sl)] AS cp FROM x$iters),
       |bs AS (SELECT cp AS b FROM cv WHERE r = '<none>')
       |SELECT cv.r AS channel, ${sqlR4("bs.b")} AS conv_base,
       |  ${sqlR4("cv.cp")} AS conv_without,
       |  CASE WHEN bs.b > 0 THEN ${sqlR4("(bs.b - cv.cp) / bs.b")} ELSE NULL END AS removal_effect
       |FROM cv, bs WHERE cv.r <> '<none>' ORDER BY channel""".stripMargin
  }
  /** events.parquet's physical `ts` encoding has varied across testdata
    * generations (raw int64 nanos vs native TIMESTAMP micros);
    * [[graft.streaming.EventStream.loadEvents]] is the single
    * footer-driven decoder both batch and stream readers share. */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.loadEvents(s, dir)

  /** The event-type TRANSITION-COUNT matrix `(from_type, to_type, n)` —
    * the fitted Markov model of the event log, memoized per
    * (session, dir) with the [[lmModel]]/[[nbModelOf]] checkpoint
    * discipline (r15, granted by the r14 verdict): a production session
    * fits the chain ONCE per log version, and the matrix is
    * vocabulary²-bounded (tiny), so each of its THREE consumers —
    * `events_conversion_matrix` (shares), `events_markov` (stationary
    * distribution) and `events_markov_acc` (argmax predictor + scoring)
    * — re-running the full per-user lead window + aggregation per pass
    * was pure recompute of a converged result. Counting stays
    * distributed (one window + one map-side-combinable aggregate, here
    * once per session); consumers do driver math or tiny-frame joins.
    * Session-scoped only: every bench/verify JVM recomputes from
    * parquet. */
  private val typeTransitionsCache = new SessionMemo[String, DataFrame]
  private def typeTransitions(s: SparkSession, dir: String): DataFrame =
    typeTransitionsCache(s, dir)(Caching.truncate(
      operators.Events.transitionCounts(events(s, dir)), eager = true))

  /** The keyed count frame the Count-Min queries sketch: events per
    * non-NULL user (a NULL key has no hashable identity — excluded on
    * both engines, the null-keys-out-of-content-keyed-paths convention). */
  private def cmUserCounts(s: SparkSession, dir: String): DataFrame =
    events(s, dir).where(col("user_id").isNotNull)
      .groupBy(col("user_id").cast("long").as("key"))
      .agg(count(lit(1)).as("n"))

  /** Oracle twin of [[cmUserCounts]] + [[operators.Events.cmSketch]] /
    * [[operators.Events.cmEstimates]]: the hash-row coefficients arrive
    * as a VALUES list from the SAME Scala constants
    * ([[operators.Events.CmHashes]], the literal-model rule), and the
    * cell index spells out pmod explicitly (`%` keeps the dividend's
    * sign on both engines, so the double-mod must be parenthesized
    * identically). */
  private val sqlCmHashRows: String = operators.Events.CmHashes.zipWithIndex
    .map { case ((a, b), r) => s"($r, ${a}::BIGINT, ${b}::BIGINT)" }
    .mkString(", ")

  private val sqlCmCtes: String = {
    val hashRows = sqlCmHashRows
    val p = operators.Events.CmPrime
    s"""u AS (SELECT CAST(user_id AS BIGINT) AS key, CAST(count(*) AS BIGINT) AS n
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |h(r, a, b) AS (SELECT * FROM (VALUES $hashRows) v(r, a, b)),
       |cells AS (SELECT u.key, u.n, h.r,
       |    ((((h.a * (((u.key % $p) + $p) % $p) + h.b) % $p) + $p) % $p) % 64 AS cell
       |  FROM u CROSS JOIN h),
       |sk AS (SELECT r, cell, CAST(sum(n) AS BIGINT) AS cell_n
       |  FROM cells GROUP BY r, cell),
       |est AS (SELECT c.key, CAST(max(c.n) AS BIGINT) AS n_true,
       |    CAST(min(sk.cell_n) AS BIGINT) AS n_est
       |  FROM cells c JOIN sk ON c.r = sk.r AND c.cell = sk.cell
       |  GROUP BY c.key)""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    // extension: event-type TRANSITION matrix — per user-timeline
    // (ts, event_id)-ordered next-event counts with per-from-type
    // shares: the Markov-chain view of user behavior. The lead window
    // partitions on the user key (fine-grained — never a global rank);
    // shares divide exact counts
    QueryDef("events_conversion_matrix", ((s, dir) => {
      // rides the [[typeTransitions]] session fixture (r15): the counts
      // are identical to the old inline window+aggregate — only the
      // per-pass recompute of the converged matrix is gone
      val trans = typeTransitions(s, dir)
      val totals = trans.groupBy(col("from_type")).agg(sum(col("n")).as("__t"))
      trans.join(broadcast(totals), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          r4(col("n").cast("double") / col("__t")).as("share"))
        .orderBy("from_type", "to_type")
    }),
      s"""WITH t AS (SELECT event_type AS from_type,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         |  FROM events WHERE user_id IS NOT NULL),
         |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         |  FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         |tt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY from_type)
         |SELECT c.from_type, c.to_type, c.n,
         |  ${sqlR4("CAST(c.n AS DOUBLE) / tt.t")} AS share
         |FROM c JOIN tt USING (from_type) ORDER BY from_type, to_type""".stripMargin),

    // extension: user-journey Markov chain — stationary distribution
    // of the type-transition matrix via 12 power iterations; counting
    // is distributed, the vocabulary-bounded matrix iterates on the
    // driver (small-support-model rule), oracle unrolls the same steps
    QueryDef("events_markov", ((s, dir) =>
      // the power iteration reads the [[typeTransitions]] session
      // fixture (r15) — identical matrix, identical driver math
      operators.Events.stationaryFromCounts(typeTransitions(s, dir), iters = 12)
        .select(col("event_type"), r4(col("prob")).as("prob"))
        .orderBy("event_type")),
      markovOracleSql(iters = 12)),

    // extension: top session PATHS — the most common first-5-event type
    // sequences per 30-min session: the "how do users actually move"
    // product analytic. Session ids by the lag/cumsum shape (one
    // shuffle), per-session order fixed by (ts, event_id), exact counts,
    // bounded top-k heap. Whale contract: the per-session collect_list
    // is bounded by session length — a bot session with millions of
    // events should be pre-gated by the events_user_cap rate limiter
    // (the documented upstream), same skew contract as the as-of join
    QueryDef("events_paths", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cum = w.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
      events(s, dir)
        .withColumn("__new", when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("__sid", sum(col("__new")).over(cum))
        .groupBy(col("user_id"), col("__sid"))
        .agg(array_sort(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))).as("__evs"))
        .select(concat_ws(" > ", slice(
          transform(col("__evs"), e => e.getField("event_type")),
          lit(1), lit(5))).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc).limit(20)
    }),
      s"""WITH o AS (SELECT user_id, ts, event_id, event_type,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |sx AS (SELECT user_id, ts, event_id, event_type,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM o),
         |p AS (SELECT array_to_string(list_slice(
         |    list(event_type ORDER BY ts, event_id), 1, 5), ' > ') AS path
         |  FROM sx GROUP BY user_id, sid)
         |SELECT path, CAST(count(*) AS BIGINT) AS n FROM p
         |GROUP BY path ORDER BY n DESC, path ASC LIMIT 20""".stripMargin),

    // extension: cohort LTV matrix — users cohorted by first-event
    // epoch week, q4-exact revenue by weeks-since-cohort: the lifetime
    // value dual of events_retention. Two reductions + one narrow join,
    // week index by integer floor-division (no window function)
    QueryDef("events_ltv", ((s, dir) => {
      val e2 = events(s, dir).where(col("user_id").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 604800000000").as("__wk"),
          floor(coalesce(col("value").cast("double"), lit(0.0))
            * lit(10000.0) + lit(0.5)).cast("long").as("__v4"))
      val coh = e2.groupBy(col("user_id")).agg(min(col("__wk")).as("__c"))
      e2.join(coh, Seq("user_id"))
        .groupBy(col("__c").as("cohort_week"),
          (col("__wk") - col("__c")).as("week_n"))
        .agg(count_distinct(col("user_id")).as("n_active"),
          r4(sum(col("__v4")).cast("double") / lit(10000.0)).as("revenue"))
        .orderBy("cohort_week", "week_n")
    }),
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
         |    CAST(floor(coalesce(CAST(value AS DOUBLE), 0.0) * 10000.0 + 0.5) AS BIGINT) AS v4
         |  FROM events WHERE user_id IS NOT NULL),
         |c AS (SELECT user_id, min(wk) AS c FROM e GROUP BY user_id)
         |SELECT c.c AS cohort_week, e.wk - c.c AS week_n,
         |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
         |  ${sqlR4("CAST(sum(e.v4) AS DOUBLE) / 10000.0")} AS revenue
         |FROM e JOIN c USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // extension: next-event prediction accuracy — the argmax of the
    // transition matrix as a 1-gram Markov predictor, scored on the
    // log itself (vocabulary-bounded argmax map rides the plan as a
    // literal; counting stays distributed; tie → lexicographic type)
    QueryDef("events_markov_acc", ((s, dir) => {
      // both the argmax predictor AND the scoring aggregate derive from
      // the [[typeTransitions]] fixture (r15): over exact longs,
      // n_trans(f) = Σ_t n(f,t) and n_correct(f) = n(f, pred(f)) are
      // identities of the old per-transition-row form — which re-ran
      // the per-user lead window TWICE per pass (once collecting the
      // matrix, once scoring)
      val trans = typeTransitions(s, dir)
      val cells = trans.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val predMap = cells.groupBy(_._1).map { case (f, cs) =>
        f -> cs.minBy(c => (-c._3, c._2))._2
      }
      val pred = typedLit(predMap)
      trans
        .groupBy(col("from_type"))
        .agg(sum(col("n")).as("n_trans"),
          sum(when(element_at(pred, col("from_type")) === col("to_type"),
            col("n")).otherwise(0L)).as("n_correct"))
        .select(col("from_type"),
          element_at(pred, col("from_type")).as("predicted"),
          col("n_trans"), col("n_correct"),
          r4(col("n_correct").cast("double") / col("n_trans").cast("double"))
            .as("accuracy"))
        .orderBy("from_type")
    }),
      s"""WITH tr AS (SELECT event_type AS f,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
         |  FROM events WHERE user_id IS NOT NULL),
         |tt AS (SELECT f, t FROM tr WHERE t IS NOT NULL),
         |c AS (SELECT f, t, count(*) AS n FROM tt GROUP BY f, t),
         |pm AS (SELECT f, t AS pred FROM (
         |  SELECT f, t, row_number() OVER (PARTITION BY f ORDER BY n DESC, t ASC) AS rn FROM c)
         |  WHERE rn = 1)
         |SELECT tt.f AS from_type, pm.pred AS predicted,
         |  CAST(count(*) AS BIGINT) AS n_trans,
         |  CAST(sum(CASE WHEN tt.t = pm.pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  ${sqlR4("CAST(sum(CASE WHEN tt.t = pm.pred THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS accuracy
         |FROM tt JOIN pm USING (f) GROUP BY tt.f, pm.pred ORDER BY from_type""".stripMargin),

    // extension: RFM segmentation — per-user recency (micros since the
    // corpus-max ts), frequency, and q4-exact monetary sum bucketed
    // into tertiles by interpolated percentiles over exact longs; the
    // 27-cell segment census is the classic lifecycle-marketing rollup.
    // One per-user reduction, a 1-row threshold broadcast, exact counts
    QueryDef("events_rfm", ((s, dir) => {
      val ev = events(s, dir).where(col("user_id").isNotNull)
      val mx = ev.agg(max(unix_micros(col("ts"))).as("__mx"))
      val per = ev.groupBy(col("user_id")).agg(
          max(unix_micros(col("ts"))).as("__last"),
          count(lit(1)).as("__f"),
          sum(floor(coalesce(col("value").cast("double"), lit(0.0))
            * lit(10000.0) + lit(0.5)).cast("long")).as("__m"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"), (col("__mx") - col("__last")).as("__r"),
          col("__f"), col("__m"))
      val th = per.agg(
        expr(s"percentile(__r, ${RfmP1}D)").as("r1"),
        expr(s"percentile(__r, ${RfmP2}D)").as("r2"),
        expr(s"percentile(__f, ${RfmP1}D)").as("f1"),
        expr(s"percentile(__f, ${RfmP2}D)").as("f2"),
        expr(s"percentile(__m, ${RfmP1}D)").as("m1"),
        expr(s"percentile(__m, ${RfmP2}D)").as("m2"))
      def b(v: Column, t1: Column, t2: Column) =
        when(v.cast("double") <= t1, 0).when(v.cast("double") <= t2, 1)
          .otherwise(2)
      per.crossJoin(broadcast(th))
        .select(b(col("__r"), col("r1"), col("r2")).as("r_bucket"),
          b(col("__f"), col("f1"), col("f2")).as("f_bucket"),
          b(col("__m"), col("m1"), col("m2")).as("m_bucket"))
        .groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("r_bucket", "f_bucket", "m_bucket")
    }),
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events WHERE user_id IS NOT NULL),
         |per AS (SELECT user_id, mx.m - max(epoch_us(ts)) AS r,
         |    CAST(count(*) AS BIGINT) AS f,
         |    CAST(sum(CAST(floor(coalesce(CAST(value AS DOUBLE), 0.0) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS m
         |  FROM events, mx WHERE user_id IS NOT NULL GROUP BY user_id, mx.m),
         |th AS (SELECT
         |    quantile_cont(CAST(r AS DOUBLE), CAST($RfmP1 AS DOUBLE)) AS r1,
         |    quantile_cont(CAST(r AS DOUBLE), CAST($RfmP2 AS DOUBLE)) AS r2,
         |    quantile_cont(CAST(f AS DOUBLE), CAST($RfmP1 AS DOUBLE)) AS f1,
         |    quantile_cont(CAST(f AS DOUBLE), CAST($RfmP2 AS DOUBLE)) AS f2,
         |    quantile_cont(CAST(m AS DOUBLE), CAST($RfmP1 AS DOUBLE)) AS m1,
         |    quantile_cont(CAST(m AS DOUBLE), CAST($RfmP2 AS DOUBLE)) AS m2
         |  FROM per)
         |SELECT
         |  CAST(CASE WHEN CAST(r AS DOUBLE) <= r1 THEN 0 WHEN CAST(r AS DOUBLE) <= r2 THEN 1 ELSE 2 END AS INT) AS r_bucket,
         |  CAST(CASE WHEN CAST(f AS DOUBLE) <= f1 THEN 0 WHEN CAST(f AS DOUBLE) <= f2 THEN 1 ELSE 2 END AS INT) AS f_bucket,
         |  CAST(CASE WHEN CAST(m AS DOUBLE) <= m1 THEN 0 WHEN CAST(m AS DOUBLE) <= m2 THEN 1 ELSE 2 END AS INT) AS m_bucket,
         |  CAST(count(*) AS BIGINT) AS n_users
         |FROM per, th GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // extension: robust volume anomalies — median/MAD instead of
    // mean/σ (events_anomaly's dual: one outage day cannot drag the
    // threshold). Interpolated medians over exact hour-count longs;
    // the 1.4826 normal-consistency constant and the 3.0 gate are
    // shared literals; flagged hours are exact comparisons
    QueryDef("events_anomaly_mad", ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(window(col("ts"), "1 hour")("start").as("hour"))
        .agg(count(lit(1)).as("n"))
      val med = hourly.agg(expr("percentile(n, 0.5D)").as("med"))
      val mad = hourly.crossJoin(broadcast(med))
        .select(abs(col("n").cast("double") - col("med")).as("__d"), col("med"))
        .agg(expr("percentile(__d, 0.5D)").as("mad"), first(col("med")).as("med"))
      hourly.crossJoin(broadcast(mad))
        .where(col("n").cast("double") >
          col("med") + lit(3.0) * lit(1.4826) * col("mad"))
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n"),
          r4(col("med")).as("med"), r4(col("mad")).as("mad"))
        .orderBy("hour")
    }),
      s"""WITH h AS (SELECT date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY hour),
         |md AS (SELECT quantile_cont(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE)) AS med FROM h),
         |ma AS (SELECT quantile_cont(abs(CAST(h.n AS DOUBLE) - md.med), CAST(0.5 AS DOUBLE)) AS mad,
         |    any_value(md.med) AS med FROM h, md)
         |SELECT strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour, h.n,
         |  ${sqlR4("ma.med")} AS med, ${sqlR4("ma.mad")} AS mad
         |FROM h, ma
         |WHERE CAST(h.n AS DOUBLE) > ma.med + CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * ma.mad
         |ORDER BY hour""".stripMargin),

    // extension: Holt linear-trend forecast of daily volume — dyadic
    // smoothing coefficients (0.5/0.25) make the recursion exactly
    // replayable; day counting distributed, recursion on the driver
    QueryDef("events_forecast", ((s, dir) =>
      operators.Events.holtForecast(events(s, dir), horizon = 7)
        .select(col("horizon").cast("int").as("horizon"),
          r4(col("forecast")).as("forecast"))
        .orderBy("horizon")),
      // the Holt recursion as ONE list_reduce fold: state packed [l, b],
      // the new l recomputed inline (pure expression, identical bits),
      // every coefficient CAST to DOUBLE (decimal-literal trap); zero
      // days filled over the full calendar range
      s"""WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS DOUBLE) AS n
         |  FROM events GROUP BY d),
         |bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM dc),
         |filled AS (SELECT u.d AS d, coalesce(dc.n, CAST(0.0 AS DOUBLE)) AS n
         |  FROM bounds, unnest(generate_series(bounds.mn, bounds.mx)) AS u(d)
         |  LEFT JOIN dc ON dc.d = u.d),
         |ys AS (SELECT list(n ORDER BY d) AS y FROM filled),
         |st AS (SELECT list_reduce(
         |    list_prepend([y[1], y[2] - y[1]], list_transform(list_slice(y, 2, len(y)), v -> [v])),
         |    (acc, x) -> [
         |      CAST(0.5 AS DOUBLE) * x[1] + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |      CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * x[1] + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
         |        + CAST(0.75 AS DOUBLE) * acc[2]
         |    ]) AS s FROM ys)
         |SELECT CAST(u.h AS INT) AS horizon, ${sqlR4("s[1] + CAST(u.h AS DOUBLE) * s[2]")} AS forecast
         |FROM st, unnest(generate_series(1, 7)) AS u(h) ORDER BY horizon""".stripMargin),

    // extension: BOT-CADENCE detection — machine traffic beats human
    // traffic in REGULARITY: per-user coefficient of variation of the
    // inter-event gap (exact whole-second integer gaps; the 30-day
    // domain filter keeps epoch-apart sessions out of cadence math and
    // the squared sums in long headroom). Lowest-CV high-volume users
    // surface first (quantize-then-rank, id tiebreak) — the traffic-
    // cleaning dual of events_interarrival's global profile
    QueryDef("events_bot_cadence", ((s, dir) => {
      // chunkSec = 1 day: bot traffic is exactly where one user can carry
      // 10⁷+ events, so the gap scan runs the segmented whale-safe path
      val gaps = operators.Events.userGaps(events(s, dir), chunkSec = 86400L)
        .where(col("gap_s") <= lit(2592000L))
      // s1 > 0 excludes the all-zero-gap burst user (CV undefined at
      // mean 0); such bursts surface via events_key_skew/user_cap, and
      // a NULL-cv row here would hit the NULLS FIRST/LAST divergence
      val a = gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("gap_s")).as("s1"),
          sum(col("gap_s") * col("gap_s")).as("s2"))
        .where(col("n") >= 20 && col("s1") > 0)
      val mean = col("s1").cast("double") / col("n")
      val sd = sqrt(greatest(lit(0.0),
        col("s2").cast("double") / col("n") - mean * mean))
      a.select(col("user_id"), col("n").as("n_gaps"),
          r4(mean).as("mean_gap_s"), r4(sd).as("std_gap_s"),
          r4(sd / mean).as("cv"))
        .orderBy(col("cv").asc, col("user_id").asc)
        .limit(20)
    }),
      // whole-second integer gaps, the value-stats variance operand
      // shape, quantize-then-rank on cv with id tiebreak
      s"""WITH g AS (SELECT user_id,
         |    (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) // 1000000 AS gap_s
         |  FROM events WHERE user_id IS NOT NULL),
         |g2 AS (SELECT user_id, gap_s FROM g WHERE gap_s IS NOT NULL AND gap_s <= 2592000),
         |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(gap_s) AS BIGINT) AS s1, CAST(sum(gap_s * gap_s) AS BIGINT) AS s2
         |  FROM g2 GROUP BY user_id),
         |b AS (SELECT user_id, n, CAST(s1 AS DOUBLE) / n AS mean,
         |    sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) AS sd
         |  FROM a WHERE n >= 20 AND s1 > 0)
         |SELECT user_id, n AS n_gaps, ${sqlR4("mean")} AS mean_gap_s,
         |  ${sqlR4("sd")} AS std_gap_s, ${sqlR4("sd / mean")} AS cv
         |FROM b ORDER BY ${sqlR4("sd / mean")} ASC, user_id ASC LIMIT 20""".stripMargin),

    // extension: Holt–Winters additive seasonal forecast — the
    // seasonality-aware upgrade of events_forecast that events_acf's
    // lag-7 spike calls for. Dyadic smoothing coefficients; rotating
    // seasonal state (consume head, append tail) keeps the recursion
    // index-free so the oracle replays it as one list fold
    QueryDef("events_holt_winters", ((s, dir) =>
      operators.Events.holtWintersForecast(events(s, dir), horizon = 7)
        .select(col("horizon").cast("int").as("horizon"),
          r4(col("forecast")).as("forecast"))
        .orderBy("horizon")),
      // the Holt–Winters recursion as ONE list fold: state [l, b, s₁..s₇]
      // with the rotating-seasonal layout (head = the factor due now), new
      // l recomputed inline wherever b/s need it — pure expressions,
      // identical bits to the engine's driver fold
      s"""WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS DOUBLE) AS n
         |  FROM events GROUP BY d),
         |bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM dc),
         |filled AS (SELECT u.d AS d, coalesce(dc.n, CAST(0.0 AS DOUBLE)) AS n
         |  FROM bounds, unnest(generate_series(bounds.mn, bounds.mx)) AS u(d)
         |  LEFT JOIN dc ON dc.d = u.d),
         |ys AS (SELECT list(n ORDER BY d) AS y FROM filled),
         |-- short-span gate (shared convention with the engine): fewer than
         |-- two seasons of days -> zero init rows -> zero output rows
         |init AS (SELECT y,
         |    list_reduce(list_slice(y, 1, 7), (a, b) -> a + b) / CAST(7.0 AS DOUBLE) AS m1,
         |    list_reduce(list_slice(y, 8, 14), (a, b) -> a + b) / CAST(7.0 AS DOUBLE) AS m2
         |  FROM ys WHERE len(y) >= 14),
         |st AS (SELECT list_reduce(
         |    list_prepend(
         |      list_concat([m1, (m2 - m1) / CAST(7.0 AS DOUBLE)],
         |        list_transform(list_slice(y, 1, 7), v -> v - m1)),
         |      list_transform(list_slice(y, 8, len(y)), v -> [v])),
         |    (acc, x) -> list_concat(
         |      [CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |       CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1]) + CAST(0.75 AS DOUBLE) * acc[2]],
         |      list_append(list_slice(acc, 4, len(acc)),
         |        CAST(0.25 AS DOUBLE) * (x[1] - (CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]))) + CAST(0.75 AS DOUBLE) * acc[3]))
         |  ) AS s FROM init)
         |SELECT CAST(u.h AS INT) AS horizon,
         |  ${sqlR4("s[1] + CAST(u.h AS DOUBLE) * s[2] + s[3 + ((u.h - 1) % 7)]")} AS forecast
         |FROM st, unnest(generate_series(1, 7)) AS u(h) ORDER BY horizon""".stripMargin),

    // extension: data-driven MULTI-TOUCH attribution — Markov removal
    // effects (how much does 16-step conversion probability fall when a
    // channel's inbound transitions redirect to drop), the principled
    // complement to events_attribution's last-touch rule. Journey
    // extraction is one partitioned window pass; the chain model is
    // campaign-vocabulary-bounded driver math the oracle replays as
    // nested list folds
    QueryDef("events_attribution_markov", ((s, dir) =>
      operators.Events.markovRemovalEffects(events(s, dir), iters = 16,
          chunkSec = 86400L)
        .select(col("channel"), r4(col("conv_base")).as("conv_base"),
          r4(col("conv_without")).as("conv_without"),
          r4(col("removal_effect")).as("removal_effect"))
        .orderBy("channel")),
      markovRemovalOracleSql(iters = 16)),

    // extension: seasonality-ADJUSTED anomaly report — one-step-ahead
    // Holt–Winters forecast errors, centered and ranked: the detector
    // that doesn't flag every Sunday on weekly traffic. Top-3 days by
    // |error − μ| (quantized, day tiebreak) so calm corpora still
    // exercise the contract; is_anomaly pins the kσ gate
    QueryDef("events_seasonal_anomaly", ((s, dir) =>
      operators.Events.holtWintersAnomalies(events(s, dir))
        .select(col("rank"), col("day_index"), col("n"),
          r4(col("expected")).as("expected"), r4(col("error")).as("error"),
          col("is_anomaly"))
        .orderBy("rank")),
      // the HW fold extended with an error tail (positions 10+ of the
      // fold state), run over blocks of 256 days: a recursive CTE carries
      // the 9-value state from block to block and folds each block with the
      // same step, so the IEEE operations and their order are the
      // engine's, in time linear in the day span (one fold over all days
      // copied the growing tail at every day). μ/σ reductions replay the
      // engine's exact ascending operand order; the rows unnest the error
      // and count lists side by side instead of indexing them per row
      s"""WITH RECURSIVE dc AS (SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS DOUBLE) AS n
         |  FROM events GROUP BY d),
         |bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM dc),
         |filled AS (SELECT u.d AS d, coalesce(dc.n, CAST(0.0 AS DOUBLE)) AS n
         |  FROM bounds, unnest(generate_series(bounds.mn, bounds.mx)) AS u(d)
         |  LEFT JOIN dc ON dc.d = u.d),
         |ys AS (SELECT list(n ORDER BY d) AS y FROM filled),
         |-- short-span gate (shared convention with the engine): fewer than
         |-- two seasons of days -> zero init rows -> zero output rows
         |init AS (SELECT y,
         |    list_reduce(list_slice(y, 1, 7), (a, b) -> a + b) / CAST(7.0 AS DOUBLE) AS m1,
         |    list_reduce(list_slice(y, 8, 14), (a, b) -> a + b) / CAST(7.0 AS DOUBLE) AS m2
         |  FROM ys WHERE len(y) >= 14),
         |blocks AS MATERIALIZED (SELECT t.b AS b,
         |    list_transform(list_slice(y, 8 + 256 * t.b, 7 + 256 * (t.b + 1)), v -> [v]) AS xs
         |  FROM init, unnest(generate_series(0, (len(y) - 8) // 256)) AS t(b)),
         |hw(b, s) AS (
         |  SELECT CAST(-1 AS BIGINT), list_concat([m1, (m2 - m1) / CAST(7.0 AS DOUBLE)],
         |    list_transform(list_slice(y, 1, 7), v -> v - m1)) FROM init
         |  UNION ALL
         |  SELECT blocks.b, list_reduce(list_prepend(list_slice(hw.s, 1, 9), blocks.xs),
         |    (acc, x) -> list_concat(
         |      list_concat(
         |        [CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |         CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1]) + CAST(0.75 AS DOUBLE) * acc[2]],
         |        list_append(list_slice(acc, 4, 9),
         |          CAST(0.25 AS DOUBLE) * (x[1] - (CAST(0.5 AS DOUBLE) * (x[1] - acc[3]) + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]))) + CAST(0.75 AS DOUBLE) * acc[3])),
         |      list_append(list_slice(acc, 10, len(acc)),
         |        x[1] - (acc[1] + acc[2] + acc[3]))))
         |  FROM hw JOIN blocks ON blocks.b = hw.b + 1),
         |er AS (SELECT y, (SELECT flatten(list(list_slice(s, 10, len(s)) ORDER BY b)) FROM hw WHERE b >= 0) AS errs
         |  FROM init),
         |mo AS (SELECT y, errs,
         |    list_reduce(errs, (a, b) -> a + b) / CAST(len(errs) AS DOUBLE) AS mu
         |  FROM er),
         |si AS (SELECT y, errs, mu,
         |    sqrt(list_reduce(list_transform(errs, v -> (v - mu) * (v - mu)), (a, b) -> a + b) / CAST(len(errs) AS DOUBLE)) AS sg
         |  FROM mo),
         |rws AS (SELECT unnest(generate_series(1, len(errs))) AS i, unnest(errs) AS e,
         |    unnest(list_slice(y, 8, len(y))) AS yv, mu, sg FROM si),
         |b2 AS (SELECT (SELECT mn FROM bounds) + 7 + i - 1 AS day_index,
         |    CAST(yv AS BIGINT) AS n, yv - e AS expected, e AS error,
         |    abs(e - mu) > CAST(3.0 AS DOUBLE) * sg AS is_anomaly,
         |    floor(abs(e - mu) * 10000.0 + 0.5) AS q
         |  FROM rws)
         |SELECT CAST(row_number() OVER (ORDER BY q DESC, day_index ASC) AS INT) AS rank,
         |  day_index, n, ${sqlR4("expected")} AS expected,
         |  ${sqlR4("error")} AS error, is_anomaly
         |FROM b2 ORDER BY q DESC, day_index ASC LIMIT 3""".stripMargin),

    // extension: Kaplan–Meier retention survival — the censoring-aware
    // churn curve (a user first seen 3 days before the log ends hasn't
    // churned, they haven't had time to). Exact integer day durations,
    // exact at-risk/churned counts; the survival product folds in one
    // fixed ascending order on BOTH engines (driver fold here, list
    // fold in the oracle), so the doubles agree bit-for-bit pre-r4
    QueryDef("events_survival", ((s, dir) =>
      operators.Events.survivalCurve(events(s, dir), churnDays = 1)
        .select(col("t_days"), col("n_risk"), col("n_churned"),
          r4(col("survival")).as("survival"))
        .orderBy("t_days")),
      // the KM fold replayed ascending: factors (1 − d/n) from exact ints,
      // left-fold product with a prepended 1.0 — the same IEEE ops in the
      // same order as the engine's driver fold, bit-identical pre-r4
      s"""WITH ue AS (SELECT user_id, min(ts) AS f, max(ts) AS l
         |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
         |mx AS (SELECT max(l) AS e FROM ue),
         |u2 AS (SELECT CASE WHEN ue.l <= mx.e - INTERVAL 1 DAY THEN 1 ELSE 0 END AS churn,
         |    CASE WHEN ue.l <= mx.e - INTERVAL 1 DAY
         |         THEN (epoch_us(ue.l) - epoch_us(ue.f)) // 86400000000
         |         ELSE (epoch_us(mx.e) - epoch_us(ue.f)) // 86400000000 END AS t
         |  FROM ue, mx),
         |dt AS (SELECT t, CAST(sum(churn) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS c
         |  FROM u2 GROUP BY t),
         |ev AS (SELECT t, d,
         |    (SELECT CAST(sum(c) AS BIGINT) FROM dt x WHERE x.t >= dt.t) AS nr
         |  FROM dt WHERE d > 0),
         |ord AS (SELECT list(struct_pack(t := t, d := d, nr := nr) ORDER BY t) AS xs FROM ev),
         |rws AS (SELECT u.i AS i, xs FROM ord, unnest(generate_series(1, len(xs))) AS u(i))
         |SELECT CAST(xs[i].t AS BIGINT) AS t_days, xs[i].nr AS n_risk, xs[i].d AS n_churned,
         |  ${sqlR4("list_reduce(list_prepend(CAST(1.0 AS DOUBLE), list_transform(list_slice(xs, 1, i), y -> CAST(1.0 AS DOUBLE) - CAST(y.d AS DOUBLE) / CAST(y.nr AS DOUBLE))), (a, b) -> a * b)")} AS survival
         |FROM rws ORDER BY t_days""".stripMargin),

    // extension: cohort-STRATIFIED survival — the retention-curve
    // comparison across signup months ("is March churning faster than
    // January"), with one GLOBAL observation end so late cohorts don't
    // look artificially loyal. Same exact-integer KM machinery, risk
    // sets and product per cohort
    QueryDef("events_survival_cohort", ((s, dir) =>
      operators.Events.survivalCurveByCohort(events(s, dir), churnDays = 1)
        .select(col("cohort"), col("t_days"), col("n_risk"), col("n_churned"),
          r4(col("survival")).as("survival"))
        .orderBy("cohort", "t_days")),
      // the KM fold per cohort: suffix sums and the ascending product
      // both PARTITIONED by the signup month; strftime twins date_format
      s"""WITH ue AS (SELECT user_id, min(ts) AS f, max(ts) AS l
         |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
         |mx AS (SELECT max(l) AS e FROM ue),
         |u2 AS (SELECT strftime(date_trunc('month', ue.f), '%Y-%m') AS cohort,
         |    CASE WHEN ue.l <= mx.e - INTERVAL 1 DAY THEN 1 ELSE 0 END AS churn,
         |    CASE WHEN ue.l <= mx.e - INTERVAL 1 DAY
         |         THEN (epoch_us(ue.l) - epoch_us(ue.f)) // 86400000000
         |         ELSE (epoch_us(mx.e) - epoch_us(ue.f)) // 86400000000 END AS t
         |  FROM ue, mx),
         |dt AS (SELECT cohort, t, CAST(sum(churn) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS c
         |  FROM u2 GROUP BY cohort, t),
         |ev AS (SELECT cohort, t, d,
         |    (SELECT CAST(sum(x.c) AS BIGINT) FROM dt x
         |      WHERE x.cohort = dt.cohort AND x.t >= dt.t) AS nr
         |  FROM dt WHERE d > 0),
         |ord AS (SELECT cohort, list(struct_pack(t := t, d := d, nr := nr) ORDER BY t) AS xs
         |  FROM ev GROUP BY cohort),
         |rws AS (SELECT cohort, u.i AS i, xs FROM ord, unnest(generate_series(1, len(xs))) AS u(i))
         |SELECT cohort, CAST(xs[i].t AS BIGINT) AS t_days, xs[i].nr AS n_risk, xs[i].d AS n_churned,
         |  ${sqlR4("list_reduce(list_prepend(CAST(1.0 AS DOUBLE), list_transform(list_slice(xs, 1, i), y -> CAST(1.0 AS DOUBLE) - CAST(y.d AS DOUBLE) / CAST(y.nr AS DOUBLE))), (a, b) -> a * b)")} AS survival
         |FROM rws ORDER BY cohort, t_days""".stripMargin),

    // extension: daily-series autocorrelation at lags 1..7 — the
    // periodicity detector (weekly traffic shows the lag-7 spike) that
    // says whether a trend-only forecast is admissible. Five exact
    // BIGINT sums per lag; doubles only in the final 7-row select, in
    // one operand shape shared with the oracle. Degenerate variance →
    // NULL (a constant series has no correlation, not r = 1)
    QueryDef("events_acf", ((s, dir) =>
      operators.Events.dailyAcf(events(s, dir), maxLag = 7)
        .select(col("lag"), col("n_pairs"), r4(col("acf")).as("acf"))
        .orderBy("lag")),
      // five exact BIGINT sums per lag; the Pearson arithmetic runs in
      // the same double operand shape as the engine's final select
      s"""WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS y
         |  FROM events GROUP BY d),
         |b AS (SELECT min(d) AS mn, max(d) AS mx FROM dc),
         |f AS (SELECT u.d AS d, coalesce(dc.y, 0) AS y
         |  FROM b, unnest(generate_series(b.mn, b.mx)) AS u(d) LEFT JOIN dc ON dc.d = u.d),
         |l AS (SELECT unnest(generate_series(1, 7)) AS lag),
         |p AS (SELECT l.lag AS lag, a.y AS x, c.y AS z
         |  FROM l CROSS JOIN f a JOIN f c ON c.d = a.d + l.lag),
         |s AS (SELECT lag, CAST(count(*) AS BIGINT) AS k,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(z) AS BIGINT) AS sz,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(z * z) AS BIGINT) AS szz,
         |    CAST(sum(x * z) AS BIGINT) AS sxz
         |  FROM p GROUP BY lag)
         |SELECT CAST(lag AS INT) AS lag, k AS n_pairs,
         |  CASE WHEN (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
         |        AND (CAST(k AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz) > 0
         |    THEN ${sqlR4("(CAST(k AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz) / sqrt((CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * (CAST(k AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))")}
         |    ELSE NULL END AS acf
         |FROM s ORDER BY lag""".stripMargin),

    // extension: CUSUM changepoint on the daily series — the regime-
    // shift locator ("traffic changed level on day X") complementing
    // the single-day spike detectors. The statistic is scaled by the
    // day count so it stays exact-integer (Σ(m·y − S) = m·CUSUM);
    // argmax |C| at the earliest tied day; before/after means divide
    // exact sums in the final 1-row select
    QueryDef("events_cusum", ((s, dir) =>
      operators.Events.cusumChangepoint(events(s, dir))
        .select(col("day_index"), col("cusum_scaled"), col("n_days"),
          r4(col("mean_before")).as("mean_before"),
          r4(col("mean_after")).as("mean_after"))),
      // exact-integer CUSUM (scaled by the day count), earliest tied
      // argmax, before/after means from exact sums in the 1-row select
      s"""WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS y
         |  FROM events GROUP BY d),
         |b AS (SELECT min(d) AS mn, max(d) AS mx FROM dc),
         |f AS (SELECT u.d AS d, coalesce(dc.y, 0) AS y
         |  FROM b, unnest(generate_series(b.mn, b.mx)) AS u(d) LEFT JOIN dc ON dc.d = u.d),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(y) AS BIGINT) AS s FROM f),
         |c AS (SELECT f.d AS d, t.m AS m, t.s AS s,
         |    CAST(sum(t.m * f.y - t.s) OVER (ORDER BY f.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
         |    CAST(sum(f.y) OVER (ORDER BY f.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS yc,
         |    CAST(count(*) OVER (ORDER BY f.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nc
         |  FROM f, t)
         |SELECT d AS day_index, cc AS cusum_scaled, m AS n_days,
         |  ${sqlR4("CAST(yc AS DOUBLE) / nc")} AS mean_before,
         |  CASE WHEN nc < m THEN ${sqlR4("CAST(s - yc AS DOUBLE) / (m - nc)")} ELSE NULL END AS mean_after
         |FROM c ORDER BY abs(cc) DESC, d ASC LIMIT 1""".stripMargin),

    // extension: per-user sessionization via the built-in session_window
    // operator (identical semantics batch/streaming; stream==batch is
    // asserted in StreamingSpec)
    QueryDef("events_sessionize", ((s, dir) =>
      graft.streaming.EventStream.sessionAgg(events(s, dir))
        .select(
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("user_id"), col("n_events"), r4(col("value_sum")).as("value_sum"))
        .orderBy("user_id", "session_start")),
      // session boundary: a gap of >= 30 min starts a new session (Spark
      // session windows are half-open [start, last_ts + gap))
      s"""WITH o AS (SELECT user_id, ts, value,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (SELECT user_id, ts, value,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o)
         |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, user_id,
         |  count(*) AS n_events, ${sqlR4("sum(value)")} AS value_sum
         |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),

    // extension: session-DURATION statistics — the engagement rollup on
    // top of sessionization: session counts, singleton share, and exact
    // duration percentiles. Durations are exact micro diffs / 1e6, so
    // the interpolated percentiles are engine-identical (the
    // events_quantiles pattern); one sessionize pass, one 1-row agg
    QueryDef("events_session_stats", ((s, dir) => {
      val sess = events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          unix_micros(min(col("ts"))).as("__t0"),
          unix_micros(max(col("ts"))).as("__t1"))
        .withColumn("__dur", (col("__t1") - col("__t0")) / lit(1000000.0))
      sess.agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("singleton_sessions"),
        sum(col("n_events")).as("n_events_total"),
        r4(expr("percentile(__dur, 0.5D)")).as("p50_dur_sec"),
        r4(expr("percentile(__dur, 0.9D)")).as("p90_dur_sec"))
    }),
      // the sessionize CTE + a duration rollup; durations are exact micro
      // diffs / 1e6
      s"""WITH o AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (SELECT user_id, ts,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o),
         |g AS (SELECT user_id, sid, count(*) AS n_events,
         |  (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS dur
         |  FROM s GROUP BY user_id, sid)
         |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_sessions,
         |  CAST(sum(n_events) AS BIGINT) AS n_events_total,
         |  ${sqlR4("quantile_cont(dur, 0.5)")} AS p50_dur_sec,
         |  ${sqlR4("quantile_cont(dur, 0.9)")} AS p90_dur_sec
         |FROM g""".stripMargin),

    // extension: Z-ORDERED layout scan — the two-axis data-skipping
    // layout (Morton interleave of normalized (ts, user_id) ranks →
    // repartitionByRange): each file is a rectangle in (time, user)
    // space, so parquet footer min/max prune on EITHER predicate; a
    // ts-only sort cannot serve the user axis (locality pinned in
    // ZOrderSpec). Store written once per (session, sf), like the
    // id-bucketed store; layout can only prune, never change results —
    // which is exactly what the oracle (the same filter on the raw
    // table) checks
    QueryDef("events_zorder_scan", ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_zstore_" +
        s"${s.sparkContext.applicationId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        graft.sources.ZOrder.writeZOrdered(
          events(s, dir).withColumn("ts_us", unix_micros(col("ts"))),
          path, "ts_us", "user_id", nFiles = 16)
      graft.sources.ZOrder.open(s, path)
        .where(col("user_id").between(40, 60) &&
          col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
          col("ts") < to_timestamp(lit("2024-01-20 00:00:00")))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("event_type"))
        .orderBy("event_id")
    }),
      // the layout cannot change results: the oracle is the same filter
      // over the raw table
      """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
        |FROM events
        |WHERE user_id BETWEEN 40 AND 60
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY event_id""".stripMargin),

    // extension: INTERVAL-OVERLAP join (the batch form of Flink's
    // interval join) — user sessions × hourly error-incident windows:
    // for every incident hour with >= 5 errors, how many user sessions
    // were in flight during the incident's actual error span, how many
    // distinct users, and for how many total session-seconds. Executed
    // by Temporal.intervalJoinBinned — an equi-join on 15-min time
    // buckets with first-common-bucket dedup, never an inequality join
    // (which Catalyst would plan as a BroadcastNestedLoopJoin); the
    // rollup is the Expand-free two-stage distinct (per-user partials,
    // then per-incident)
    QueryDef("events_incident_overlap", ((s, dir) => {
      val ev = events(s, dir)
      val inc = ev.where(col("event_type") === "error")
        .groupBy(window(col("ts"), "1 hour").as("__w"))
        .agg(count(lit(1)).as("n_errors"),
          min(col("ts")).as("__t0"), max(col("ts")).as("__t1"))
        .where(col("n_errors") >= 5)
        .select(col("n_errors"), col("__t0"), col("__t1"))
      val sess = ev
        .groupBy(session_window(col("ts"), "30 minutes").as("__sw"), col("user_id"))
        .agg(min(col("ts")).as("__s0"), max(col("ts")).as("__s1"))
        .select(col("user_id"), col("__s0"), col("__s1"))
        // the binned join's span contract, enforced as a DOMAIN filter:
        // a whale session outliving the incident scale (> 6 h) is its own
        // anomaly (events_session_stats reports it), not an overlap row —
        // and without this filter the join's raise_error guard fires
        // DATA-DEPENDENTLY (only when a long session meets a candidate
        // bucket; found by the sf0.01-based hostile gate, note 61)
        .where(unix_micros(col("__s1")) - unix_micros(col("__s0"))
          <= lit(6L * 3600 * 1000000))
      val pairs = Temporal.intervalJoinBinned(sess, inc, Seq.empty,
        ("__s0", "__s1"), ("__t0", "__t1"), bucketSec = 900L, maxSpanSec = 6L * 3600)
      pairs
        .select(
          col("interval_match.__t0").as("__i0"),
          col("interval_match.n_errors").as("n_errors"),
          col("user_id"),
          (unix_micros(least(col("__s1"), col("interval_match.__t1"))) -
            unix_micros(greatest(col("__s0"), col("interval_match.__t0")))).as("__ov"))
        .groupBy(col("__i0"), col("n_errors"), col("user_id"))
        .agg(count(lit(1)).as("__ns"), sum(col("__ov")).as("__ovs"))
        .groupBy(col("__i0"), col("n_errors"))
        .agg(sum(col("__ns")).as("n_sessions"), count(lit(1)).as("n_users"),
          r4(sum(col("__ovs")).cast("double") / lit(1000000.0)).as("overlap_sec"))
        .select(date_format(col("__i0"), "yyyy-MM-dd HH:mm:ss").as("incident_start"),
          col("n_errors"), col("n_sessions"), col("n_users"), col("overlap_sec"))
        .orderBy("incident_start")
    }),
      // the sessionize CTE + hourly error incidents (>= 5 errors), paired
      // by a plain inequality overlap join — DuckDB at oracle scale can
      // afford the quadratic plan the Spark side's binned join avoids
      s"""WITH inc AS (SELECT date_trunc('hour', ts) AS w, count(*) AS n_errors,
         |    min(ts) AS t0, max(ts) AS t1
         |  FROM events WHERE event_type = 'error' GROUP BY 1 HAVING count(*) >= 5),
         |o AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (SELECT user_id, ts,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o),
         |sess AS (SELECT user_id, sid, min(ts) AS s0, max(ts) AS s1 FROM s GROUP BY 1, 2
         |  HAVING epoch_us(max(ts)) - epoch_us(min(ts)) <= 21600000000),
         |p AS (SELECT inc.t0, inc.n_errors, sess.user_id,
         |    epoch_us(least(sess.s1, inc.t1)) - epoch_us(greatest(sess.s0, inc.t0)) AS ov
         |  FROM sess JOIN inc ON sess.s0 <= inc.t1 AND inc.t0 <= sess.s1),
         |u AS (SELECT t0, n_errors, user_id, count(*) AS ns, sum(ov) AS ovs
         |  FROM p GROUP BY 1, 2, 3)
         |SELECT strftime(t0, '%Y-%m-%d %H:%M:%S') AS incident_start, n_errors,
         |  CAST(sum(ns) AS BIGINT) AS n_sessions, count(*) AS n_users,
         |  ${sqlR4("CAST(sum(ovs) AS DOUBLE) / 1000000.0")} AS overlap_sec
         |FROM u GROUP BY 1, 2 ORDER BY incident_start""".stripMargin),

    // extension: hourly user-activity rollup with EXACT distinct users —
    // two-stage aggregation (per (hour, user) partials, then per hour),
    // the Expand-free shape of count-distinct: a single agg with
    // count(DISTINCT user_id) would double every event row pre-shuffle
    // (same design as vocab_top)
    QueryDef("events_user_activity", ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("__n"), sum(col("value")).as("__v"))
        .groupBy(col("w"))
        .agg(sum(col("__n")).as("n_events"), count(lit(1)).as("n_users"),
          r4(sum(col("__v"))).as("value_sum"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n_events"), col("n_users"), col("value_sum"))
        .orderBy("hour")),
      s"""WITH pu AS (SELECT date_trunc('hour', ts) AS h, user_id,
         |    count(*) AS n, sum(value) AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
         |  CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_users,
         |  ${sqlR4("sum(v)")} AS value_sum
         |FROM pu GROUP BY h ORDER BY hour""".stripMargin),

    // extension: hourly windowed aggregation over the events stream table
    // (same plan Structured Streaming produces for the streaming variant)
    QueryDef("events_window_agg", ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("value_sum"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("value_sum"))
        .orderBy("hour", "event_type")),
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  count(*) AS n, ${sqlR4("sum(value)")} AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),

    // extension: INTER-ARRIVAL stats — mean gap between a user's
    // consecutive same-type events (the engagement-cadence metric). The
    // lag window is partitioned per (user, type) — parallel, bounded by
    // one user's one-type history; gaps are exact integer microseconds
    QueryDef("events_interarrival", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("__prev", lag(unix_micros(col("ts")), 1).over(w))
        .where(col("__prev").isNotNull)
        .withColumn("__gap", unix_micros(col("ts")) - col("__prev"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          r4((sum(col("__gap")).cast("double") / count(lit(1))) / lit(1000000.0))
            .as("avg_gap_sec"))
        .orderBy("event_type")
    }),
      s"""WITH g AS (SELECT event_type,
         |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
         |  FROM events)
         |SELECT event_type, count(*) AS n_gaps,
         |  ${sqlR4("(CAST(sum(gap) AS DOUBLE) / count(*)) / 1000000.0")} AS avg_gap_sec
         |FROM g WHERE gap IS NOT NULL GROUP BY event_type ORDER BY event_type""".stripMargin),

    // extension: ROLLING trend — daily counts with the trailing-7-row
    // moving average per event type (ROWS semantics: the last 7 OBSERVED
    // days). The window runs over the daily rollup (days × types rows),
    // never the raw events; integer sums keep the averages oracle-exact
    QueryDef("events_rolling", ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(window(col("ts"), "1 day").as("__w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("__w.start").as("day"), col("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day")).rowsBetween(-6, 0)
      daily
        .withColumn("__s7", sum(col("n")).over(w))
        .withColumn("__c7", count(lit(1)).over(w))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
          r4(col("__s7").cast("double") / col("__c7")).as("avg7"))
        .orderBy("event_type", "day")
    }),
      s"""WITH d AS (SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, day, n,
         |  sum(n) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
         |  count(*) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS c7
         |  FROM d)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
         |  ${sqlR4("CAST(s7 AS DOUBLE) / c7")} AS avg7
         |FROM r ORDER BY event_type, day""".stripMargin),

    // extension: DAU / trailing-7-day WAU / stickiness — the
    // active-user staple. No distinct-count window anywhere: one
    // two-stage (user, day) distinct, then each user-day feeds its 7
    // trailing anchor days by a BOUNDED ×7 explode and a second
    // two-stage distinct; ratios divide exact integers
    QueryDef("events_dau_wau", ((s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), window(col("ts"), "1 day")("start").as("day"))
        .distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"), explode(sequence(col("day"),
          col("day") + expr("INTERVAL 6 DAYS"), expr("INTERVAL 1 DAY"))).as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"),
          r4(col("dau").cast("double") / col("wau")).as("stickiness"))
        .orderBy("day")
    }),
      // the same two distincts + bounded day fan-out; stickiness divides
      // exact integers
      s"""WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
         |an AS (SELECT DISTINCT user_id, day + INTERVAL (u.k) DAY AS day
         |  FROM ud, unnest(generate_series(0, 6)) AS u(k)),
         |wau AS (SELECT day, count(*) AS wau FROM an GROUP BY day)
         |SELECT strftime(d.day, '%Y-%m-%d') AS day, CAST(d.dau AS BIGINT) AS dau,
         |  CAST(w.wau AS BIGINT) AS wau,
         |  ${sqlR4("CAST(d.dau AS DOUBLE) / w.wau")} AS stickiness
         |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin),

    // extension: per-type VALUE statistics — mean/std from moments of
    // r4-QUANTIZED values summed as exact integers (sum-of-squares in
    // DECIMAL(38,0), the checksum trick): the only way a double mean/
    // stddev can be partition-order-independent and hash-exact. The
    // variance expression is mirrored verbatim (same regrouping) in
    // both engines
    QueryDef("events_value_stats", ((s, dir) =>
      events(s, dir)
        .where(col("value").isNotNull)
        .select(col("event_type"),
          floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("__q"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("__q").cast("decimal(38,0)")).as("__s1"),
          sum((col("__q") * col("__q")).cast("decimal(38,0)")).as("__s2"),
          min(col("__q")).as("__mn"), max(col("__q")).as("__mx"))
        .select({
          val mean = col("__s1").cast("double") / col("n")
          val varq = col("__s2").cast("double") / col("n") - mean * mean
          Seq(col("event_type"), col("n"),
            r4(mean / lit(10000.0)).as("mean_value"),
            r4(sqrt(greatest(lit(0.0), varq)) / lit(10000.0)).as("std_value"),
            (col("__mn").cast("double") / lit(10000.0)).as("min_value"),
            (col("__mx").cast("double") / lit(10000.0)).as("max_value"))
        }: _*)
        .orderBy("event_type")),
      // same quantize-then-exact-moments derivation; the variance
      // expression is regrouped identically
      s"""WITH q AS (SELECT event_type, CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS q
         |  FROM events WHERE value IS NOT NULL),
         |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         |    CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2,
         |    CAST(min(q) AS BIGINT) AS mn, CAST(max(q) AS BIGINT) AS mx
         |  FROM q GROUP BY event_type)
         |SELECT event_type, n,
         |  ${sqlR4("(CAST(s1 AS DOUBLE) / n) / 10000.0")} AS mean_value,
         |  ${sqlR4("sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) / 10000.0")} AS std_value,
         |  CAST(mn AS DOUBLE) / 10000.0 AS min_value,
         |  CAST(mx AS DOUBLE) / 10000.0 AS max_value
         |FROM a ORDER BY event_type""".stripMargin),

    // extension: traffic HEATMAP — day-of-week × hour counts with exact
    // shares: the ops-dashboard staple. One map-side-combinable count;
    // the total rides a 1-row broadcast
    QueryDef("events_heatmap", ((s, dir) => {
      val b = events(s, dir)
        .groupBy(dayofweek(col("ts")).cast("int").as("dow"),
          hour(col("ts")).cast("int").as("hour"))
        .agg(count(lit(1)).as("n"))
      val t = b.agg(sum(col("n")).as("__t"))
      b.crossJoin(broadcast(t))
        .select(col("dow"), col("hour"), col("n"),
          r4(col("n").cast("double") / col("__t")).as("share"))
        .orderBy("dow", "hour")
    }),
      // DuckDB dayofweek is 0 (Sunday) – 6; Spark is 1 – 7 → +1
      s"""WITH b AS (SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow, CAST(hour(ts) AS INT) AS hour,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM b)
         |SELECT b.dow, b.hour, b.n, ${sqlR4("CAST(b.n AS DOUBLE) / t.t")} AS share
         |FROM b, t ORDER BY b.dow, b.hour""".stripMargin),

    // extension: user-CONCENTRATION report — exact Gini coefficient and
    // top-10% share of events without ANY global sort or window: both
    // derive from the per-user-count VALUE frame (rows bounded by
    // distinct count values, not users). Gini uses the mean-absolute-
    // difference pairs formulation over that tiny frame (value-pair
    // cross products in DECIMAL, exact); the top-share boundary comes
    // from a ≥-join cumulative on the same frame. At 100 TB the only
    // data-sized operation is the first per-user count
    QueryDef("events_gini", ((s, dir) => {
      val pu = events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val vf = pu.groupBy(col("c")).agg(count(lit(1)).as("u"))
      val tot = vf.agg(sum(col("u")).as("n"),
        sum((col("u") * col("c")).cast("decimal(38,0)")).as("s"))
      val a = vf.select(col("c").as("va"), col("u").as("ua"))
      val b = vf.select(col("c").as("vb"), col("u").as("ub"))
      val mad = a.crossJoin(b)
        .agg(sum((col("ua") * col("ub")).cast("decimal(38,0)") *
          abs(col("va") - col("vb")).cast("decimal(38,0)")).as("mad"))
      // cumulative-from-above via a >=-join on the tiny value frame
      val cum = a.join(b, col("vb") >= col("va"))
        .groupBy(col("va"), col("ua"))
        .agg(sum(col("ub")).as("cum_u"),
          sum((col("ub") * col("vb")).cast("decimal(38,0)")).as("cum_e"))
      tot.crossJoin(broadcast(mad)).crossJoin(broadcast(
        cum.crossJoin(tot.select(floor(col("n") / lit(10)).cast("long").as("__k")))
          .where(col("cum_u") >= col("__k") && col("__k") > 0)
          .orderBy(col("va").desc).limit(1)
          .select(col("va"), col("ua"), col("cum_u"), col("cum_e"), col("__k"))))
        .select(col("n").cast("long").as("n_users"),
          col("s").cast("long").as("total_events"),
          r4(col("mad").cast("double") /
            (lit(2.0) * col("n").cast("double") * col("s").cast("double"))).as("gini"),
          r4((col("cum_e").cast("double") - col("ua").cast("double") * col("va")
            + (col("__k") - (col("cum_u") - col("ua"))).cast("double") * col("va"))
            / col("s").cast("double")).as("top10_share"))
    }),
      // same tiny value-frame derivations; every product in DECIMAL
      s"""WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events
         |  WHERE user_id IS NOT NULL GROUP BY user_id),
         |vf AS (SELECT c, CAST(count(*) AS BIGINT) AS u FROM pu GROUP BY c),
         |tot AS (SELECT CAST(sum(u) AS BIGINT) AS n,
         |  CAST(sum(CAST(u * c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s FROM vf),
         |mad AS (SELECT CAST(sum(CAST(a.ua * b.ub AS DECIMAL(38,0)) *
         |    CAST(abs(a.va - b.vb) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS mad
         |  FROM (SELECT c AS va, u AS ua FROM vf) a,
         |       (SELECT c AS vb, u AS ub FROM vf) b),
         |cum AS (SELECT a.va, a.ua, CAST(sum(b.ub) AS BIGINT) AS cum_u,
         |    CAST(sum(CAST(b.ub * b.vb AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS cum_e
         |  FROM (SELECT c AS va, u AS ua FROM vf) a
         |  JOIN (SELECT c AS vb, u AS ub FROM vf) b ON b.vb >= a.va
         |  GROUP BY a.va, a.ua),
         |bd AS (SELECT cum.va, cum.ua, cum.cum_u, cum.cum_e, tot.n // 10 AS k
         |  FROM cum, tot WHERE cum.cum_u >= tot.n // 10 AND tot.n // 10 > 0
         |  ORDER BY cum.va DESC LIMIT 1)
         |SELECT CAST(tot.n AS BIGINT) AS n_users, CAST(tot.s AS BIGINT) AS total_events,
         |  ${sqlR4("CAST(mad.mad AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(tot.n AS DOUBLE) * CAST(tot.s AS DOUBLE))")} AS gini,
         |  ${sqlR4("(CAST(bd.cum_e AS DOUBLE) - CAST(bd.ua AS DOUBLE) * bd.va + CAST(bd.k - (bd.cum_u - bd.ua) AS DOUBLE) * bd.va) / CAST(tot.s AS DOUBLE)")} AS top10_share
         |FROM tot, mad, bd""".stripMargin),

    // extension: the SKETCH twin of events_gini's rank-based cells —
    // the 100 TB swap-in: events_gini's exact machinery (the vf×vf
    // cross join for mean absolute difference, the exact cumulative
    // rank for top10_share) is value-frequency-bounded, which a 100 TB
    // activity distribution (millions of distinct per-user counts)
    // outgrows. The scale path keeps the per-user count reduction
    // (map-side combinable at any SF) and swaps the rank machinery for
    // ONE mergeable quantile sketch over the counts (p50/p90/p99 —
    // the activity deciles any rank-based share is then derived from).
    // Invariant oracle (events_sketch_check pattern): each sketch
    // quantile must satisfy its rank contract stated directly —
    // below-counts within ±(δ·n + 2 ranks) of the target rank
    // (δ = 0.08/0.05/0.04) — with exact n_users/total_events as the
    // oracle-derivable cells. Booleans are vacuously TRUE on an empty
    // population (coalesce), matching the oracle's constant row.
    QueryDef("events_gini_sketch", ((s, dir) => {
      val pu = events(s, dir).where(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val sk = pu.agg(percentile_approx(col("c"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(5000)).as("__qs"))
      val n = col("__n").cast("double")
      pu.crossJoin(broadcast(sk))
        .agg(count(lit(1)).as("__n"),
          coalesce(sum(col("c")), lit(0L)).as("__tot"),
          sum(when(col("c") < col("__qs")(0), 1L).otherwise(0L)).as("__p50_lt"),
          sum(when(col("c") <= col("__qs")(0), 1L).otherwise(0L)).as("__p50_le"),
          sum(when(col("c") < col("__qs")(1), 1L).otherwise(0L)).as("__p90_lt"),
          sum(when(col("c") <= col("__qs")(1), 1L).otherwise(0L)).as("__p90_le"),
          sum(when(col("c") <= col("__qs")(2), 1L).otherwise(0L)).as("__p99_le"))
        .select(col("__n").as("n_users"), col("__tot").as("total_events"),
          coalesce(col("__p50_lt") <= n * 0.58 + 2 &&
            col("__p50_le") >= n * 0.42 - 2, lit(true)).as("p50_ok"),
          coalesce(col("__p90_lt") <= n * 0.95 + 2 &&
            col("__p90_le") >= n * 0.85 - 2, lit(true)).as("p90_ok"),
          coalesce(col("__p99_le") >= n * 0.95 - 2, lit(true)).as("p99_ok"))
    }),
      // sketch-twin contract booleans pinned TRUE; exact population cells
      """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS total_events,
        |  true AS p50_ok, true AS p90_ok, true AS p99_ok
        |FROM events WHERE user_id IS NOT NULL""".stripMargin),

    // extension: SALTED equi-join — the whale-key join shape the
    // events_key_skew diagnostic decides on: the per-user signup-month
    // dim (data-proportional — NOT broadcastable at 100 TB) joins back
    // onto the fact stream with each user's rows spread across 16 salt
    // lanes (dim replicated ×16, facts routed by pmod(event_id, 16)),
    // so the whale user's history occupies 16 tasks instead of one.
    // Result == the plain join row-for-row (law-pinned in EventsSpec);
    // the oracle replays the UNSALTED join — same rows by construction
    QueryDef("events_salted_enrich", ((s, dir) => {
      val ev = events(s, dir).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      val dim = ev.groupBy(col("user_id")).agg(min(col("ts")).as("__f"))
        .select(col("user_id"),
          date_format(date_trunc("month", col("__f")), "yyyy-MM").as("cohort"))
      operators.Skew.saltedEquiJoin(ev, dim, "user_id", col("event_id"), salts = 16)
        .groupBy(col("cohort"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "event_type")
    }),
      // salting is invisible to semantics: the oracle is the plain join
      """WITH ev AS (SELECT user_id, event_id, event_type, ts FROM events WHERE user_id IS NOT NULL),
        |dim AS (SELECT user_id, strftime(date_trunc('month', min(ts)), '%Y-%m') AS cohort
        |  FROM ev GROUP BY user_id)
        |SELECT d.cohort, e.event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM ev e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY 1, 2 ORDER BY cohort, event_type""".stripMargin),

    // extension: key-SKEW diagnostic — the pre-join probe that decides
    // salting/AQE-skew handling: the 10 hottest join keys with their
    // share of all rows and the whale ratio vs a uniform spread. One
    // map-side-combinable count + a bounded heap + a 1-row broadcast:
    // nothing scales past the count shuffle
    QueryDef("events_key_skew", ((s, dir) => {
      val counts = events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val totals = counts.agg(sum(col("n")).as("__t"),
        count(lit(1)).as("__k"))
      counts.orderBy(col("n").desc, col("user_id").asc_nulls_first).limit(10)
        .crossJoin(broadcast(totals))
        .select(col("user_id"), col("n"),
          r4(col("n").cast("double") / col("__t")).as("share"),
          r4(col("n").cast("double") * col("__k") / col("__t")).as("skew_ratio"))
        .orderBy(col("n").desc, col("user_id").asc_nulls_first)
    }),
      s"""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS k FROM c),
         |top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id ASC NULLS FIRST LIMIT 10)
         |SELECT top.user_id, top.n,
         |  ${sqlR4("CAST(top.n AS DOUBLE) / t.t")} AS share,
         |  ${sqlR4("CAST(top.n AS DOUBLE) * t.k / t.t")} AS skew_ratio
         |FROM top, t ORDER BY top.n DESC, top.user_id ASC NULLS FIRST""".stripMargin),

    // extension: per-(user, day) event cap — keep the first 3 events of
    // each user-day by (ts, event_id): the deterministic rate-limit /
    // bot-throttle pass. The window partitions on the fine-grained cap
    // key, so a whale user-day costs one bounded sort, never a global
    // rank
    QueryDef("events_user_cap", ((s, dir) =>
      graft.operators.Events.capPerKey(
          events(s, dir).where(col("user_id").isNotNull)
            .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
          keys = Seq(col("user_id"), col("day")),
          order = Seq(col("ts"), col("event_id")), k = 3)
        .select(col("user_id"), col("day"), col("rn"), col("event_id"))
        .orderBy("user_id", "day", "rn")),
      """WITH r AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, event_id,
        |    row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT user_id, day, CAST(rn AS INT) AS rn, event_id
        |FROM r WHERE rn <= 3 ORDER BY user_id, day, rn""".stripMargin),

    // extension: A/B conversion report — per-arm exposed/converted user
    // counts (arm = user_id % 2), conversion rates, lift, and the
    // two-proportion z statistic. One per-user max-reduction, then a
    // 2-row fold: past the first shuffle nothing scales with events.
    // Every double derives from exact integer counts in a fixed op
    // order, so even the z statistic is oracle-exact
    QueryDef("events_ab_test", ((s, dir) =>
      graft.operators.Events.abTest(events(s, dir),
          variant = col("user_id") % 2,
          converted = col("event_type") === "purchase" && col("value") > 90)
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          r4(col("rate_a")).as("rate_a"), r4(col("rate_b")).as("rate_b"),
          r4(col("lift")).as("lift"), r4(col("z")).as("z"))),
      // same fixed derivation order: exact counts → divisions → sqrt
      s"""WITH pu AS (SELECT user_id, CAST(user_id % 2 AS BIGINT) AS v,
         |    CAST(max(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END) AS BIGINT) AS conv
         |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
         |a AS (SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
         |  FROM pu GROUP BY v),
         |w AS (SELECT
         |  max(CASE WHEN v = 0 THEN n END) AS n_a, max(CASE WHEN v = 0 THEN c END) AS conv_a,
         |  max(CASE WHEN v = 1 THEN n END) AS n_b, max(CASE WHEN v = 1 THEN c END) AS conv_b
         |  FROM a),
         |f AS (SELECT n_a, conv_a, n_b, conv_b,
         |  CAST(conv_a AS DOUBLE) / n_a AS ra, CAST(conv_b AS DOUBLE) / n_b AS rb,
         |  CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp FROM w)
         |SELECT n_a, conv_a, n_b, conv_b,
         |  ${sqlR4("ra")} AS rate_a, ${sqlR4("rb")} AS rate_b,
         |  ${sqlR4("rb - ra")} AS lift,
         |  CASE WHEN sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)) <> 0.0
         |    THEN ${sqlR4("(rb - ra) / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))")} END AS z
         |FROM f""".stripMargin),

    // extension: volume-ANOMALY detection — hourly windows whose count
    // sits > 2σ above their event type's mean (the traffic-spike /
    // ingest-stall monitor). Moments from exact integer sums, so the
    // double z-scores are partition-order-independent and oracle-exact
    QueryDef("events_anomaly", ((s, dir) =>
      graft.operators.Events.anomalousWindows(
          events(s, dir), col("ts"), col("event_type"))
        .select(col("event_type"),
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n"), r4(col("z")).as("z"))
        .orderBy("event_type", "window_start")),
      // same moments-from-integer-sums formula, replayed term for term
      s"""WITH c AS (SELECT event_type, date_trunc('hour', ts) AS w, count(*) AS n FROM events GROUP BY 1, 2),
         |st AS (SELECT event_type, count(*) AS nw, sum(n) AS s1, sum(n * n) AS s2 FROM c GROUP BY 1),
         |j AS (SELECT c.event_type, c.w, c.n,
         |  CAST(st.s1 AS DOUBLE) / st.nw AS mean,
         |  (CAST(st.s2 AS DOUBLE) - CAST(st.s1 AS DOUBLE) * st.s1 / st.nw) / st.nw AS v
         |  FROM c JOIN st USING (event_type))
         |SELECT event_type, strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start, n,
         |  ${sqlR4("(n - mean) / sqrt(v)")} AS z
         |FROM j WHERE v > 0 AND n > mean + 2.0 * sqrt(v)
         |ORDER BY event_type, window_start""".stripMargin),

    // extension: pruned time-window analytics over the date-partitioned
    // event-log layout (EventLog.snapshotByDay): the store is written
    // once per (session, sf); the 3-day window read statically prunes to
    // 3 of 30 day directories (plan pinned in PlanShapeSpec) — layout,
    // not an index, is what makes the 100 TB time scan cheap
    QueryDef("events_time_pruned", ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_eventlog_" +
        s"${s.sparkContext.applicationId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        graft.sources.EventLog.snapshotByDay(events(s, dir), path)
      graft.sources.EventLog
        .timeRange(s, path, "2024-01-10 00:00:00", "2024-01-13 00:00:00")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("value_sum"))
        .orderBy("event_type")
    }),
      // the day-partitioned layout changes the files, never the rows
      s"""SELECT event_type, count(*) AS n, ${sqlR4("sum(value)")} AS value_sum
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // extension: cohort retention — users bucketed by first-seen week,
    // counted per activity week offset. Two map-side-combinable aggs +
    // one distinct; no window, no self-join over the event log
    QueryDef("events_retention", ((s, dir) => {
      val ev = events(s, dir)
      val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("__first"))
      ev.join(first, Seq("user_id"))
        .select(col("user_id"),
          date_trunc("week", col("__first")).as("__cohort"),
          floor((col("ts").cast("long")
            - date_trunc("week", col("__first")).cast("long")) / lit(604800L))
            .cast("long").as("week_n"))
        .distinct()
        .groupBy(col("__cohort"), col("week_n"))
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("__cohort"), "yyyy-MM-dd").as("cohort"),
          col("week_n"), col("n_users"))
        .orderBy("cohort", "week_n")
    }),
      // both engines truncate weeks to Monday; week offset via floor-epoch
      // integer arithmetic (Spark's CAST(ts AS LONG) == floor(epoch(ts)))
      s"""WITH f AS (SELECT user_id, min(ts) AS fts FROM events GROUP BY user_id),
         |a AS (SELECT DISTINCT e.user_id, date_trunc('week', f.fts) AS cohort,
         |  CAST(floor((floor(epoch(e.ts)) - floor(epoch(date_trunc('week', f.fts)))) / 604800.0) AS BIGINT) AS week_n
         |  FROM events e JOIN f ON e.user_id = f.user_id)
         |SELECT strftime(cohort, '%Y-%m-%d') AS cohort, week_n, count(*) AS n_users
         |FROM a GROUP BY cohort, week_n ORDER BY cohort, week_n""".stripMargin),

    // extension: WINSORIZATION audit — cap each type's values at its
    // own exact p99 (the standard outlier treatment before value sums
    // feed dashboards/models) and report what the cap would change:
    // clipped-row count and the quantized-exact value mass removed.
    // One exact-percentile rollup (types × 1 rows) broadcast back over
    // the log — the same two-step shape as events_anomaly; nothing
    // after the first aggregate is data-proportional
    QueryDef("events_winsorize", ((s, dir) => {
      val e = events(s, dir)
      val caps = e.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.99D)").as("__cap"))
      e.join(broadcast(caps), Seq("event_type"))
        .select(col("event_type"), col("__cap"),
          when(col("value") > col("__cap"), 1L).otherwise(0L).as("__clip"),
          when(col("value") > col("__cap"),
            floor((col("value") - col("__cap")) * lit(10000.0) + lit(0.5))
              .cast("long")).otherwise(lit(0L)).as("__qd"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("__clip")).as("n_clipped"),
          max(col("__cap")).as("__c"), sum(col("__qd")).as("__mass"))
        .select(col("event_type"), col("n"), col("n_clipped"),
          r4(col("__c")).as("p99"),
          r4(col("__mass").cast("double") / lit(10000.0)).as("mass_removed"))
        .orderBy("event_type")
    }),
      // quantile_cont == Spark's exact percentile (events_quantiles
      // precedent); the clipped mass from the same quantized longs
      s"""WITH caps AS (SELECT event_type, quantile_cont(value, 0.99) AS cap
         |  FROM events GROUP BY 1),
         |j AS (SELECT e.event_type, caps.cap,
         |  CASE WHEN e.value > caps.cap THEN 1 ELSE 0 END AS clip,
         |  CASE WHEN e.value > caps.cap
         |       THEN CAST(floor((e.value - caps.cap) * 10000.0 + 0.5) AS BIGINT)
         |       ELSE 0 END AS qd
         |  FROM events e JOIN caps ON e.event_type = caps.event_type)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(clip) AS BIGINT) AS n_clipped,
         |  ${sqlR4("max(cap)")} AS p99,
         |  ${sqlR4("CAST(sum(qd) AS DOUBLE) / 10000.0")} AS mass_removed
         |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin),

    // extension: session AFFINITY (market-basket lift) — which event
    // types co-occur in the same session beyond chance: per unordered
    // type pair, co-occurring-session count and lift
    // n_both·N / (n_a·n_b). Session ids from the lag/cumsum sessionizer
    // (the sessionize oracle's own construction; tied timestamps land
    // in the same session under any tie order, so the (user, sid, type)
    // set is order-stable). Pair fan-out per session is bounded by the
    // TYPE VOCABULARY (≤ C(5,2) here), never by session length —
    // the self-join runs on the distinct (user, sid, type) frame
    QueryDef("events_affinity", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      val cum = w.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
      // one session-keyed aggregate builds each session's distinct TYPE
      // SET (vocabulary-bounded state), reusing the window pass's
      // user_id partitioning (HashPartitioning(user) satisfies the
      // (user, sid) clustering) — the pair table then fans out of the
      // tiny per-session array map-side, replacing what was a distinct
      // + session self-join (three more shuffles of the event mass).
      // collect_set drops null types like the old pair/per joins did;
      // an all-null-type session still counts in __N (empty set row)
      // cached: three consumers (total, per-type, pairs) would otherwise
      // re-run the sessionization window over the event mass each — the
      // frame itself is tiny (one row per session, vocabulary-bounded set)
      val sess = Caching.ensureCached(events(s, dir)
        .withColumn("__new", when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("__sid", sum(col("__new")).over(cum))
        .groupBy(col("user_id"), col("__sid"))
        .agg(sort_array(collect_set(col("event_type"))).as("__ts")))
      val total = sess.agg(count(lit(1)).as("__N"))
      val per = sess.select(explode(col("__ts")).as("event_type"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("__c"))
      val pairs = sess.select(explode(col("__ts")).as("type_a"), col("__ts"))
        .select(col("type_a"),
          explode(filter(col("__ts"), t => t > col("type_a"))).as("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(per.select(col("event_type").as("type_a"), col("__c").as("__ca")),
          Seq("type_a"))
        .join(per.select(col("event_type").as("type_b"), col("__c").as("__cb")),
          Seq("type_b"))
        .crossJoin(broadcast(total))
        .select(col("type_a"), col("type_b"), col("n_both"),
          r4(col("n_both").cast("double") * col("__N").cast("double")
            / (col("__ca").cast("double") * col("__cb").cast("double")))
            .as("lift"))
        .orderBy("type_a", "type_b")
    }),
      // the same lag/cumsum session ids; lift from the identical
      // integer-count operand order
      s"""WITH o AS (SELECT user_id, ts, event_type,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |sx AS (SELECT user_id, event_type,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o),
         |st AS (SELECT DISTINCT user_id, sid, event_type FROM sx),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (SELECT DISTINCT user_id, sid FROM st)),
         |per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM st GROUP BY 1),
         |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    CAST(count(*) AS BIGINT) AS n_both
         |  FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
         |    AND a.event_type < b.event_type GROUP BY 1, 2)
         |SELECT type_a, type_b, n_both,
         |  ${sqlR4("CAST(n_both AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(pa.c AS DOUBLE) * CAST(pb.c AS DOUBLE))")} AS lift
         |FROM pr JOIN per pa ON pr.type_a = pa.event_type
         |JOIN per pb ON pr.type_b = pb.event_type, tot
         |ORDER BY type_a, type_b""".stripMargin),

    // extension: semi-structured props — JSON field extraction
    // (codegen'd get_json_object, no UDF) rolled up per event type;
    // the "parse the payload" step every event pipeline has
    QueryDef("events_props_stats", ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("__k"))
        .groupBy(col("event_type"))
        .agg(count(col("__k")).as("n_parsed"),
          sum(col("__k")).as("k_sum"),
          min(col("__k")).as("k_min"), max(col("__k")).as("k_max"))
        .orderBy("event_type")),
      s"""SELECT event_type,
         |  count(k) AS n_parsed, CAST(sum(k) AS BIGINT) AS k_sum,
         |  CAST(min(k) AS BIGINT) AS k_min, CAST(max(k) AS BIGINT) AS k_max
         |FROM (SELECT event_type,
         |        CASE WHEN props IS NOT NULL AND json_valid(props)
         |             THEN CAST(json_extract(props, '$$.k') AS BIGINT) END AS k
         |      FROM events)
         |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // extension: the events-side domain gate — the expectations report
    // a pipeline publishes BEFORE trusting the event stream. The value
    // domain is "finite or NULL" by convention: a NaN/Inf value would
    // fail both engines' quantize casts LOUDLY (ANSI), which is the
    // correct behavior for corrupt revenue — this report is how a run
    // pre-screens for it. The props contract is "NULL or a JSON
    // object"; the timestamp window is the operating epoch range
    // (pre-1970 and far-future rows are data errors at this pipeline's
    // domain — the hostile fixture carries both, so the report's
    // violation counts are pinned nonzero cross-engine)
    QueryDef("events_expectations", ((s, dir) => {
      val e = events(s, dir)
      graft.operators.Corpus.expectations(e, Seq(
          "event_id_not_null" -> col("event_id").isNotNull,
          "user_known" -> col("user_id").isNotNull,
          // id magnitude domain: |user_id| < 2⁵³ keeps ids EXACT through
          // any float64-rendering lane (pandas/JSON render nullable
          // BIGINT result columns as float64) — the bound under which
          // cross-engine id comparison is loss-free. The CM/LC sketch
          // hashes need no domain (they pre-reduce mod p); this row
          // names the id-portability contract instead. No abs(): ANSI
          // abs(Long.MinValue) itself overflows
          "user_id_in_domain" -> (col("user_id").isNull ||
            (col("user_id") > lit(-9007199254740992L)
              && col("user_id") < lit(9007199254740992L))),
          "ts_in_epoch_range" -> (col("ts") >= lit("1970-01-01 00:00:00").cast("timestamp")
            && col("ts") < lit("2100-01-01 00:00:00").cast("timestamp")),
          "value_finite_or_null" -> (col("value").isNull ||
            (!isnan(col("value")) && abs(col("value")) < lit(Double.PositiveInfinity))),
          // quantization headroom (the Metric.validRecord discipline for
          // the value column): every exact-stats query quantizes
          // value·10⁴ into a checked BIGINT, so |value| ≥ ~9.2e14 would
          // fail loudly on both engines — the gate names the domain
          "value_in_domain" -> (col("value").isNull ||
            abs(col("value")) < lit(9.0e14)),
          "type_known" -> col("event_type").isin("view", "click", "purchase", "error"),
          "props_null_or_object" -> (col("props").isNull ||
            (get_json_object(col("props"), "$").isNotNull
              && trim(col("props")).startsWith("{")))))
        .unionByName(
          graft.operators.Corpus.expectUnique(e, col("event_id"), "event_id_unique"))
        .orderBy("check")
    }),
      // same stacked-counters layout as corpus_expectations; json_valid +
      // a leading-brace test twins Spark's get_json_object('$') probe
      // (both reject non-object and malformed payloads identically)
      s"""WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN NOT coalesce(event_id IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         |  CAST(sum(CASE WHEN NOT coalesce(user_id IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         |  CAST(sum(CASE WHEN NOT coalesce(user_id IS NULL OR (user_id > -9007199254740992 AND user_id < 9007199254740992), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2b,
         |  CAST(sum(CASE WHEN NOT coalesce(ts >= TIMESTAMP '1970-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
         |  CAST(sum(CASE WHEN NOT coalesce(value IS NULL OR isfinite(value), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4,
         |  CAST(sum(CASE WHEN NOT coalesce(value IS NULL OR abs(value) < 9.0e14, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4b,
         |  CAST(sum(CASE WHEN NOT coalesce(event_type IN ('view','click','purchase','error'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v5,
         |  CAST(sum(CASE WHEN NOT coalesce(props IS NULL OR (json_valid(props) AND trim(props) LIKE '{%'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v6,
         |  CAST(count(DISTINCT event_id) AS BIGINT) AS d FROM events)
         |SELECT * FROM (
         |  SELECT 'event_id_not_null' AS "check", n AS n_rows, v1 AS n_violations, v1 = 0 AS pass FROM base
         |  UNION ALL SELECT 'user_known', n, v2, v2 = 0 FROM base
         |  UNION ALL SELECT 'user_id_in_domain', n, v2b, v2b = 0 FROM base
         |  UNION ALL SELECT 'ts_in_epoch_range', n, v3, v3 = 0 FROM base
         |  UNION ALL SELECT 'value_finite_or_null', n, v4, v4 = 0 FROM base
         |  UNION ALL SELECT 'value_in_domain', n, v4b, v4b = 0 FROM base
         |  UNION ALL SELECT 'type_known', n, v5, v5 = 0 FROM base
         |  UNION ALL SELECT 'props_null_or_object', n, v6, v6 = 0 FROM base
         |  UNION ALL SELECT 'event_id_unique', n, n - d, n = d FROM base)
         |ORDER BY "check"""".stripMargin),

    // extension: STRING-valued props extraction — per-page event rollup
    // (the page-analytics twin of events_props_stats's numeric path).
    // Pins cross-engine JSON STRING decoding: a raw astral emoji in the
    // payload and its escaped-surrogate-pair spelling must decode to
    // the same page key. Missing key / empty / invalid props group
    // under NULL on both engines
    QueryDef("events_props_pages", ((s, dir) =>
      events(s, dir)
        .select(get_json_object(col("props"), "$.page").as("page"),
          floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("__qv"))
        .groupBy(col("page"))
        .agg(count(lit(1)).as("n_events"),
          r4(sum(col("__qv")).cast("double") / lit(10000.0)).as("value_sum"))
        .orderBy("page")),
      // json_extract_string decodes escaped surrogate pairs to the same
      // UTF-8 as Spark's get_json_object — the unicode JSON-lane pin
      s"""SELECT page, CAST(count(*) AS BIGINT) AS n_events,
         |  ${sqlR4("CAST(sum(qv) AS DOUBLE) / 10000.0")} AS value_sum
         |FROM (SELECT CASE WHEN props IS NOT NULL AND json_valid(props)
         |        THEN json_extract_string(props, '$$.page') END AS page,
         |      CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS qv
         |      FROM events)
         |GROUP BY page ORDER BY page""".stripMargin),

    // extension: LAST-TOUCH ATTRIBUTION — each purchase credited to the
    // campaign (props.k) of the user's most recent view at or before it,
    // via the zero-join as-of pass; revenue rolled up per campaign from
    // quantized-int sums (order-independent). Unattributed purchases
    // surface as campaign −1 — auditability over brevity
    QueryDef("events_attribution", ((s, dir) => {
      val e = events(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("__qv"))
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          get_json_object(col("props"), "$.k").cast("long").as("campaign"))
      Temporal.asofJoin(purchases, views, "user_id", "ts",
          rightCols = Seq("campaign"), tieBreak = "view_id")
        .groupBy(coalesce(col("asof_campaign"), lit(-1L)).as("campaign"))
        .agg(count(lit(1)).as("n_conversions"),
          r4(sum(col("__qv")).cast("double") / lit(10000.0)).as("total_value"))
        .orderBy("campaign")
    }),
      // the as-of credit replayed as rn=1 over (ts DESC, view_id DESC);
      // revenue from the same quantized longs
      s"""WITH p AS (SELECT event_id, user_id, ts,
         |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS qv
         |  FROM events WHERE event_type = 'purchase'),
         |v AS (SELECT user_id, ts, event_id AS view_id,
         |    CASE WHEN props IS NOT NULL AND json_valid(props)
         |         THEN CAST(json_extract(props, '$$.k') AS BIGINT) END AS campaign
         |  FROM events WHERE event_type = 'view'),
         |a AS (SELECT event_id, qv, campaign FROM (
         |  SELECT p.event_id, p.qv, v.campaign,
         |    row_number() OVER (PARTITION BY p.event_id
         |      ORDER BY v.ts DESC, v.view_id DESC) AS rn
         |  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts)
         |  WHERE rn = 1)
         |SELECT coalesce(campaign, -1) AS campaign,
         |  CAST(count(*) AS BIGINT) AS n_conversions,
         |  ${sqlR4("CAST(sum(qv) AS DOUBLE) / 10000.0")} AS total_value
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: WINDOWED funnel — view → click within 1 h of the first
    // view → purchase within 1 h of that click (the attribution-window
    // semantics product funnels actually use; the unwindowed funnel
    // counts any later event). Three chained per-user min-reductions
    // with the window constraint folded into each stage's filter —
    // whale-user safe, no window function, no event-log self-join
    QueryDef("events_funnel_windowed", ((s, dir) => {
      val e = events(s, dir)
      val winUs = 3600L * 1000000L
      val tv = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("__tv"))
      val tc = e.where(col("event_type") === "click")
        .join(tv, Seq("user_id"))
        .where(unix_micros(col("ts")) >= col("__tv") &&
          unix_micros(col("ts")) <= col("__tv") + winUs)
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("__tc"))
      val tp = e.where(col("event_type") === "purchase")
        .join(tc, Seq("user_id"))
        .where(unix_micros(col("ts")) >= col("__tc") &&
          unix_micros(col("ts")) <= col("__tc") + winUs)
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("__tp"))
      tv.join(tc, Seq("user_id"), "left_outer")
        .join(tp, Seq("user_id"), "left_outer")
        .agg(count(col("__tv")).as("n_view"),
          count(col("__tc")).as("n_click_1h"),
          count(col("__tp")).as("n_purchase_1h"))
    }),
      // same three chained reductions with the hour window in each stage
      s"""WITH tv AS (SELECT user_id, min(epoch_us(ts)) AS tv FROM events
         |  WHERE event_type = 'view' GROUP BY 1),
         |tc AS (SELECT e.user_id, min(epoch_us(e.ts)) AS tc
         |  FROM events e JOIN tv ON e.user_id = tv.user_id
         |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= tv.tv
         |    AND epoch_us(e.ts) <= tv.tv + 3600000000
         |  GROUP BY e.user_id),
         |tp AS (SELECT e.user_id, min(epoch_us(e.ts)) AS tp
         |  FROM events e JOIN tc ON e.user_id = tc.user_id
         |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= tc.tc
         |    AND epoch_us(e.ts) <= tc.tc + 3600000000
         |  GROUP BY e.user_id)
         |SELECT CAST(count(tv.tv) AS BIGINT) AS n_view,
         |  CAST(count(tc.tc) AS BIGINT) AS n_click_1h,
         |  CAST(count(tp.tp) AS BIGINT) AS n_purchase_1h
         |FROM tv LEFT JOIN tc ON tv.user_id = tc.user_id
         |LEFT JOIN tp ON tv.user_id = tp.user_id""".stripMargin),

    // extension: the sketch path — HyperLogLog distinct + quantile
    // sketch, the mergeable O(1)-state operators the exact twins
    // (events_user_activity, events_quantiles) swap to at 100 TB.
    // Invariant oracle: the sketch must land within its contract
    // (±5% of exact distinct; approx-median inside the exact
    // [p49, p51] band), asserted Spark-side as booleans
    QueryDef("events_sketch_check", ((s, dir) => {
      val ev = events(s, dir)
      // distinct-then-count (two-stage, Expand-free) joined with the
      // exact band; see events_user_activity for the same shape. The
      // exact leg drops null users so it measures the SAME population
      // approx_count_distinct does (HLL ignores nulls; an unfiltered
      // distinct() would count the null group and the two sides would
      // disagree by exactly the null-user presence — adversarial-data
      // finding, r8)
      val exact = ev.where(col("user_id").isNotNull)
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("__ed"))
        .join(ev.groupBy(col("event_type"))
          .agg(expr("percentile(value, array(0.49D, 0.51D))").as("__band")),
          Seq("event_type"))
      val approx = ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("__ad"),
          percentile_approx(col("value"), lit(0.5), lit(5000)).as("__ap"))
      exact.join(approx, Seq("event_type"))
        .select(col("event_type"),
          (abs(col("__ad") - col("__ed")) <= col("__ed") * 0.05).as("hll_ok"),
          (col("__ap") >= col("__band")(0) && col("__ap") <= col("__band")(1))
            .as("quantile_ok"))
        .orderBy("event_type")
    }),
      // invariant-style oracle (same family as ivf_build_stats): the
      // booleans are the sketch error contracts, computed Spark-side
      """SELECT DISTINCT event_type, true AS hll_ok, true AS quantile_ok
        |FROM events ORDER BY event_type""".stripMargin),

    // extension: MERGEABLE sketch rollup — per-day HLL sketches
    // (DataSketches binaries) unioned into weekly distinct-user
    // estimates: the incremental-distinct architecture where a 100 TB
    // pipeline STORES the per-partition sketch column and answers any
    // coarser rollup by merging, never re-scanning raws. Two stateful
    // levels in one plan (day sketches → week union); the estimate is
    // checked against the exact two-stage distinct, so the oracle's
    // TRUE flag fails if the sketch path ever drifts past 5%
    QueryDef("events_hll_rollup", ((s, dir) => {
      val ev = events(s, dir)
      val weekly = ev
        .groupBy(date_trunc("week", col("ts")).as("__wk"),
          date_trunc("day", col("ts")).as("__day"))
        .agg(hll_sketch_agg(col("user_id"), 14).as("__sk"))
        .groupBy(col("__wk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"))
      val exact = ev.select(date_trunc("week", col("ts")).as("__wk"), col("user_id"))
        .distinct()
        .groupBy(col("__wk")).agg(count(lit(1)).as("wau_exact"))
      exact.join(weekly, Seq("__wk"))
        .select(date_format(col("__wk"), "yyyy-MM-dd").as("week"),
          col("wau_exact"),
          (abs(col("__est").cast("double") - col("wau_exact").cast("double")) <=
            col("wau_exact").cast("double") * lit(0.05) + lit(1.0)).as("sketch_ok"))
        .orderBy("week")
    }),
      // exact weekly distinct in SQL + the invariant TRUE flag (the
      // sketch estimate itself is engine-specific; the flag pins it to
      // within 5% of exact — events_sketch_check's documented style)
      """WITH w AS (SELECT date_trunc('week', ts) AS wk, user_id FROM events GROUP BY 1, 2)
        |SELECT strftime(wk, '%Y-%m-%d') AS week, count(*) AS wau_exact, TRUE AS sketch_ok
        |FROM w GROUP BY wk ORDER BY week""".stripMargin),

    // extension: ordered funnel (view → click → purchase): stage k's
    // timestamp is the EARLIEST event of that type at-or-after stage
    // k−1. Per-stage per-user min-reductions chained by equi-joins (each
    // map-side combinable, per-user state O(1)) — not a per-user
    // collect_list, which a whale user would blow up at 100 TB. The
    // operator ([[operators.Events.funnel]]) takes any stage list; this
    // row pins the 3-stage instance
    QueryDef("events_funnel", ((s, dir) =>
      operators.Events.funnel(events(s, dir), Seq("view", "click", "purchase"))
        .select(col("user_id"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("stage"))
        .orderBy("user_id")),
      s"""WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
         |  WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
         |  JOIN v ON e.user_id = v.user_id
         |  WHERE e.event_type = 'click' AND e.ts >= v.view_ts GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
         |  JOIN c ON e.user_id = c.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts GROUP BY e.user_id)
         |SELECT v.user_id,
         |  strftime(v.view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
         |  strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
         |  strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
         |    + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS stage
         |FROM v LEFT JOIN c ON v.user_id = c.user_id
         |LEFT JOIN p ON v.user_id = p.user_id
         |ORDER BY v.user_id""".stripMargin),

    // extension: the stage-list generality of [[operators.Events.funnel]]
    // exercised at FOUR stages (signup → view → click → purchase),
    // summarized as users-per-depth — the same chained min-reduction
    // shape at any funnel length (the 3-stage row pins per-user detail).
    // On this synthetic corpus every active user completes the chain
    // (events are dense over the month), so the row is a single
    // (stage=4, n) cell — the windowed funnel is where attrition shows
    QueryDef("events_funnel4", ((s, dir) =>
      operators.Events.funnel(events(s, dir),
          Seq("signup", "view", "click", "purchase"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
        .orderBy("stage")),
      // four chained reductions, depth from the monotone null chain
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
         |  WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'view' AND e.ts >= s1.t1 GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
         |  JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = 'click' AND e.ts >= s2.t2 GROUP BY 1),
         |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
         |  JOIN s3 ON e.user_id = s3.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts >= s3.t3 GROUP BY 1),
         |u AS (SELECT s1.user_id,
         |  1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
         |    + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END
         |    + CASE WHEN s4.user_id IS NULL THEN 0 ELSE 1 END AS stage
         |  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
         |  LEFT JOIN s3 ON s1.user_id = s3.user_id
         |  LEFT JOIN s4 ON s1.user_id = s4.user_id)
         |SELECT CAST(stage AS INT) AS stage, CAST(count(*) AS BIGINT) AS n_users
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: top-N per group without a ranking window — per-user
    // totals (map-side combinable), then the bounded heap (TopKPairsAgg,
    // O(k) memory per group) on negated totals; the corpus-scale
    // "top earners per segment" shape
    QueryDef("events_top_users", ((s, dir) => {
      import graft.functions.TopKPairsAgg.topKPairs
      events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("value")).as("__total"))
        .groupBy(col("event_type"))
        .agg(topKPairs(-col("__total"), col("user_id"), 3).as("__top"))
        .select(col("event_type"), posexplode(col("__top")).as(Seq("rank", "p")))
        .select(col("event_type"), (col("rank") + 1).cast("long").as("rank"),
          col("p.id").as("user_id"), r4(-col("p.distance")).as("total_value"))
        .orderBy("event_type", "rank")
    }),
      s"""WITH per AS (SELECT event_type, user_id, sum(value) AS total
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, user_id, total,
         |  row_number() OVER (PARTITION BY event_type
         |    ORDER BY total DESC, user_id ASC) AS rank FROM per)
         |SELECT event_type, CAST(rank AS BIGINT) AS rank, user_id,
         |  ${sqlR4("total")} AS total_value
         |FROM r WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin),

    // extension: Count-Min sketch point estimates for the top-10 true
    // heavy hitters — est ≥ true always (cells are sums of non-negative
    // counts), and every number is a deterministic exact integer (cells
    // are order-independent SUMS, unlike merge-order-sensitive
    // Misra-Gries summaries), so the oracle replays the full sketch.
    // NULL users are excluded on both engines (no hashable identity).
    // w = 64 is deliberately small so collisions actually occur and the
    // overestimates are a live code path, not structurally zero.
    QueryDef("events_cm_topk", ((s, dir) =>
      operators.Events.cmEstimates(cmUserCounts(s, dir), w = 64)
        .orderBy(col("n_true").desc, col("key").asc)
        .limit(10)
        .select(col("key").as("user_id"), col("n_true"), col("n_est"),
          (col("n_est") - col("n_true")).as("n_over"))),
      s"""WITH $sqlCmCtes
         |SELECT key AS user_id, n_true, n_est, (n_est - n_true) AS n_over
         |FROM est ORDER BY n_true DESC, key ASC LIMIT 10""".stripMargin),

    // extension: the sketch's global error report — exact-integer
    // max/total overestimate and how many keys the depth-4 min already
    // resolves exactly at w = 64
    QueryDef("events_cm_error", ((s, dir) =>
      operators.Events.cmEstimates(cmUserCounts(s, dir), w = 64)
        .agg(count(lit(1)).as("n_keys"),
          sum(col("n_true")).as("n_total"),
          max(col("n_est") - col("n_true")).as("max_over"),
          sum(col("n_est") - col("n_true")).as("sum_over"),
          sum(when(col("n_est") === col("n_true"), lit(1L)).otherwise(lit(0L)))
            .as("n_exact"))),
      s"""WITH $sqlCmCtes
         |SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(n_true) AS BIGINT) AS n_total,
         |  CAST(max(n_est - n_true) AS BIGINT) AS max_over,
         |  CAST(sum(n_est - n_true) AS BIGINT) AS sum_over,
         |  CAST(sum(CASE WHEN n_est = n_true THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
         |FROM est""".stripMargin),

    // extension: sketch-based distribution drift — per-user activity on
    // even vs odd days summarized as two CM sketches, compared cell-wise.
    // Each row's L1 cell distance LOWER-bounds the true L1 distance
    // between the key distributions (a cell merges its keys' masses —
    // opposite-sign changes can cancel, never inflate), so max over the
    // 4 rows is the tightest certificate; the monitor holds d×w state
    // per window instead of a per-key frame. Exact integers throughout.
    QueryDef("events_cm_drift", ((s, dir) => {
      val ev = events(s, dir).where(col("user_id").isNotNull)
        .withColumn("__day", expr("unix_micros(ts) DIV 86400000000"))
      def cnts(par: Int) = ev.where(pmod(col("__day"), lit(2L)) === par)
        .groupBy(col("user_id").cast("long").as("key"))
        .agg(count(lit(1)).as("n"))
      val a = operators.Events.cmSketch(cnts(0), w = 64)
        .withColumnRenamed("cell_n", "n_even")
      val b = operators.Events.cmSketch(cnts(1), w = 64)
        .withColumnRenamed("cell_n", "n_odd")
      a.join(b, Seq("row", "cell"), "full_outer")
        .select(col("row"),
          coalesce(col("n_even"), lit(0L)).as("n_even"),
          coalesce(col("n_odd"), lit(0L)).as("n_odd"))
        .groupBy(col("row"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("n_even")).as("mass_even"), sum(col("n_odd")).as("mass_odd"),
          sum(abs(col("n_even") - col("n_odd"))).as("l1"))
        .orderBy("row")
    }),
      // the two day-parity sketches replayed as conditional sums over one
      // (r, cell) grouping; a cell empty on BOTH sides exists in neither
      // engine's frame (full-outer union == any-count union)
      {
      val p = operators.Events.CmPrime
      s"""WITH h(r, a, b) AS (SELECT * FROM (VALUES $sqlCmHashRows) v(r, a, b)),
         |c AS (SELECT CAST(user_id AS BIGINT) AS key,
         |    (epoch_us(ts) // 86400000000) % 2 AS par, CAST(count(*) AS BIGINT) AS n
         |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
         |cells AS (SELECT h.r, ((((h.a * (((c.key % $p) + $p) % $p) + h.b) % $p) + $p) % $p) % 64 AS cell,
         |    c.par, c.n
         |  FROM c CROSS JOIN h),
         |sk AS (SELECT r, cell,
         |    CAST(sum(CASE WHEN par = 0 THEN n ELSE 0 END) AS BIGINT) AS n_even,
         |    CAST(sum(CASE WHEN par = 1 THEN n ELSE 0 END) AS BIGINT) AS n_odd
         |  FROM cells GROUP BY r, cell)
         |SELECT CAST(r AS INT) AS row, CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(n_even) AS BIGINT) AS mass_even,
         |  CAST(sum(n_odd) AS BIGINT) AS mass_odd,
         |  CAST(sum(abs(n_even - n_odd)) AS BIGINT) AS l1
         |FROM sk GROUP BY r ORDER BY row""".stripMargin
    }),

    // extension: point-in-time ("as-of") join — each purchase attached to
    // the same user's most recent prior-or-simultaneous click, the
    // leakage-free feature-attachment join. Plan: zero joins — one
    // window pass over the union (Temporal.asofJoin), one shuffle on
    // user_id (pinned in TemporalSpec)
    QueryDef("events_asof_join", ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value"))
      Temporal.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("click_id", "value"), tieBreak = "click_id")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("asof_click_id").as("click_id"),
          r4(col("asof_value")).as("click_value"))
        .orderBy("purchase_id")
    }),
      // ties on click ts resolved to the greatest click_id (the operator's
      // deterministic tieBreak); <= is the inclusive as-of bound
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT event_id AS click_id, user_id, ts, value FROM events
         |      WHERE event_type = 'click')
         |SELECT purchase_id, user_id,
         |  strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  click_id, click_value
         |FROM (
         |  SELECT p.purchase_id, p.user_id, p.ts AS p_ts, c.click_id,
         |    ${sqlR4("c.value")} AS click_value,
         |    row_number() OVER (PARTITION BY p.purchase_id
         |      ORDER BY c.ts DESC, c.click_id DESC) AS rn
         |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
         |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),

    // the SAME join through the segmented-scan skew path (chunkSec > 0:
    // per-(key, day-chunk) windows + the cross-chunk carry aggregate —
    // the whale-key mitigation). The results contract says any chunk
    // width yields identical output, so this row shares
    // events_asof_join's oracle verbatim — the skew path is now
    // CORRECTNESS-gated, not only spec-pinned
    QueryDef("events_asof_chunked", ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value"))
      Temporal.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("click_id", "value"), tieBreak = "click_id", chunkSec = 86400L)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("asof_click_id").as("click_id"),
          r4(col("asof_value")).as("click_value"))
        .orderBy("purchase_id")
    }),
      // identical-results contract: the chunked skew path shares the
      // plain as-of oracle verbatim
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT event_id AS click_id, user_id, ts, value FROM events
         |      WHERE event_type = 'click')
         |SELECT purchase_id, user_id,
         |  strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  click_id, click_value
         |FROM (
         |  SELECT p.purchase_id, p.user_id, p.ts AS p_ts, c.click_id,
         |    ${sqlR4("c.value")} AS click_value,
         |    row_number() OVER (PARTITION BY p.purchase_id
         |      ORDER BY c.ts DESC, c.click_id DESC) AS rn
         |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
         |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),

    // the SAME join under a 1-hour staleness bound (toleranceSec) — the
    // feature-store contract that a feature older than the bound must
    // NOT be attached: matches outside it become nulls, never dropped
    // rows (left-outer cardinality preserved). Exercises all three
    // branches at this SF: within-bound match, nulled stale match, and
    // never-matched purchase.
    QueryDef("events_asof_tolerance", ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
          col("value"))
      Temporal.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("click_id", "value"), tieBreak = "click_id",
          toleranceSec = 3600L)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("asof_click_id").as("click_id"),
          r4(col("asof_value")).as("click_value"))
        .orderBy("purchase_id")
    }),
      // staleness bound: the most-recent-prior match is found FIRST, then
      // nulled when its floored-seconds gap exceeds the bound (with
      // backward direction the nearest prior minimizes the gap, so the
      // two formulations coincide); rows are never dropped
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT event_id AS click_id, user_id, ts, value FROM events
         |      WHERE event_type = 'click')
         |SELECT purchase_id, user_id,
         |  strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  CASE WHEN ok THEN click_id END AS click_id,
         |  CASE WHEN ok THEN click_value END AS click_value
         |FROM (
         |  SELECT p.purchase_id, p.user_id, p.ts AS p_ts, c.click_id,
         |    ${sqlR4("c.value")} AS click_value,
         |    CAST(floor(epoch(p.ts)) AS BIGINT)
         |      - CAST(floor(epoch(c.ts)) AS BIGINT) <= 3600 AS ok,
         |    row_number() OVER (PARTITION BY p.purchase_id
         |      ORDER BY c.ts DESC, c.click_id DESC) AS rn
         |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
         |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),

    // extension: FORWARD as-of — each click attributed to the next
    // purchase by the same user (conversion latency), same zero-join
    // window pass with the time axis reversed
    QueryDef("events_next_purchase", ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      Temporal.asofJoin(clicks, purchases, "user_id", "ts",
          Seq("purchase_id", "ts"), tieBreak = "purchase_id", direction = "forward")
        .select(col("event_id").as("click_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("asof_purchase_id").as("purchase_id"),
          (col("asof_ts").cast("long") - col("ts").cast("long")).as("gap_sec"))
        .orderBy("click_id")
    }),
      // forward ties: earliest purchase ts, then greatest purchase_id
      s"""WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         |p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |      WHERE event_type = 'purchase')
         |SELECT click_id, user_id, click_ts, purchase_id, gap_sec FROM (
         |  SELECT c.event_id AS click_id, c.user_id,
         |    strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts, p.purchase_id,
         |    CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_sec,
         |    row_number() OVER (PARTITION BY c.event_id
         |      ORDER BY p.ts ASC, p.purchase_id DESC) AS rn
         |  FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.ts >= c.ts)
         |WHERE rn = 1 ORDER BY click_id""".stripMargin),

    // PAIR-LEVEL contract of the range join: count(*) does not skip
    // nulls, so a phantom null-extended row beside real matches (the
    // probe-side fan-out bug fixed in round 7) breaks this row even
    // though the aggregated events_range_join below would stay green
    QueryDef("events_range_pairs", ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value"))
      Temporal.rangeJoinBinned(purchases, errors, "user_id", "ts", windowSec = 600L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_rows"), count(col("range_match")).as("n_matches"))
        .select(col("event_id").as("purchase_id"), col("n_rows"), col("n_matches"))
        .orderBy("purchase_id")
    }),
      // count(*) vs count(col): exact left-outer pair cardinality
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |           WHERE event_type = 'purchase'),
         |e AS (SELECT user_id, ts, value FROM events WHERE event_type = 'error')
         |SELECT p.purchase_id, count(*) AS n_rows, count(e.ts) AS n_matches
         |FROM p LEFT JOIN e ON p.user_id = e.user_id
         |  AND e.ts > p.ts - INTERVAL 600 SECOND AND e.ts <= p.ts
         |GROUP BY p.purchase_id ORDER BY p.purchase_id""".stripMargin),

    // extension: bounded look-back range join — errors in the 10 minutes
    // up to each purchase, executed as an equi-join on (user, time
    // bucket) with constant 2× probe fan-out instead of an inequality
    // join (which Spark plans as a per-key nested loop)
    QueryDef("events_range_join", ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value"))
      Temporal.rangeJoinBinned(purchases, errors, "user_id", "ts", windowSec = 600L)
        .groupBy(col("event_id"), col("user_id"), col("ts"))
        .agg(count(col("range_match")).as("n_errors"),
          r4(coalesce(sum(col("range_match.value")), lit(0.0))).as("err_value_sum"))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("n_errors"), col("err_value_sum"))
        .orderBy("purchase_id")
    }),
      // look-back window is (p.ts − 600 s, p.ts] — left-open, right-closed
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
         |           WHERE event_type = 'purchase'),
         |e AS (SELECT user_id, ts, value FROM events WHERE event_type = 'error')
         |SELECT p.purchase_id, p.user_id,
         |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  count(e.ts) AS n_errors,
         |  ${sqlR4("coalesce(sum(e.value), 0.0)")} AS err_value_sum
         |FROM p LEFT JOIN e ON p.user_id = e.user_id
         |  AND e.ts > p.ts - INTERVAL 600 SECOND AND e.ts <= p.ts
         |GROUP BY p.purchase_id, p.user_id, p.ts
         |ORDER BY p.purchase_id""".stripMargin),

    // extension: exact interpolated per-type quantiles of the value
    // stream (Spark `percentile` == DuckDB `quantile_cont`, both
    // NIST-linear on pos = p·(n−1)). Exact is the oracle-comparable
    // variant; at 100 TB the same query swaps in approx_percentile
    // (a mergeable KLL-style sketch) with identical plan shape
    QueryDef("events_quantiles", ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.25D, 0.5D, 0.9D, 0.99D))").as("qs"))
        .select(col("event_type"),
          r4(col("qs")(0)).as("p25"), r4(col("qs")(1)).as("p50"),
          r4(col("qs")(2)).as("p90"), r4(col("qs")(3)).as("p99"))
        .orderBy("event_type")),
      s"""SELECT event_type,
         |  ${sqlR4("quantile_cont(value, 0.25)")} AS p25,
         |  ${sqlR4("quantile_cont(value, 0.50)")} AS p50,
         |  ${sqlR4("quantile_cont(value, 0.90)")} AS p90,
         |  ${sqlR4("quantile_cont(value, 0.99)")} AS p99
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // extension: deterministic DISTINCT sketch — linear probabilistic
    // counting per event type (Events.lcCells/lcEstimates): the occupied-
    // cell set is an OR-monoid bounded by k = 4096 cells per group, and
    // unlike HLL++ (engine-internal hashing) the whole sketch replays in
    // SQL, so estimate AND exact AND relative error are all oracle-gated.
    // NULL users are excluded (no hashable identity); saturation (every
    // cell occupied) surfaces as NULL est on both engines.
    QueryDef("events_lc_distinct", ((s, dir) => {
      val tu = events(s, dir).where(col("user_id").isNotNull)
        .select(col("event_type").as("grp"), col("user_id").cast("long").as("key"))
        .distinct()
      val est = operators.Events.lcEstimates(
        operators.Events.lcCells(tu, k = 4096), k = 4096)
      val ex = tu.groupBy(col("grp")).agg(count(lit(1)).as("n_exact"))
      ex.join(est, Seq("grp"))
        .select(col("grp").as("event_type"), col("n_exact"), col("occupied"),
          r4(col("est")).as("est"),
          r4(abs(col("est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double")).as("rel_err"))
        .orderBy("event_type")
    }),
      // linear counting replayed: same first hash row as the CM oracle,
      // est = -k*ln(z/k) in the identical double-op order on the RAW
      // estimate (r4 applied at the surface only)
      s"""WITH kk AS (SELECT DISTINCT event_type AS grp, CAST(user_id AS BIGINT) AS key
         |  FROM events WHERE user_id IS NOT NULL),
         |${sqlLcCtes(4096)}
         |SELECT grp AS event_type, n_exact, occupied, ${sqlR4("est")} AS est,
         |  ${sqlR4("abs(est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)")} AS rel_err
         |FROM j ORDER BY event_type""".stripMargin),

    // extension: MERGEABLE quantiles — the decimal-digit fixed-bucket
    // histogram (Events.ddHistogram: deterministic, merges by count
    // addition, ≤ ~1700 buckets of state) read at p50/90/95/99, each
    // estimate verified in-row against the exact interpolated percentile
    // of the SAME quantized population with the relative error as an
    // exact-arithmetic column. The exact legs are the verification twin
    // (a full sort at scale); the sketch legs are the 100 TB path.
    QueryDef("events_value_sketch", ((s, dir) => {
      val vals = events(s, dir).select(col("value"))
      val qs = operators.Events.ddQuantiles(
        operators.Events.ddHistogram(vals), Seq(50, 90, 95, 99))
      val ex = operators.Events.ddQuantized(vals).agg(
        expr("percentile(q2, 0.50D)").as("__e50"),
        expr("percentile(q2, 0.90D)").as("__e90"),
        expr("percentile(q2, 0.95D)").as("__e95"),
        expr("percentile(q2, 0.99D)").as("__e99"))
      qs.crossJoin(broadcast(ex))
        .withColumn("__ex",
          when(col("p") === 50, col("__e50"))
            .when(col("p") === 90, col("__e90"))
            .when(col("p") === 95, col("__e95"))
            .otherwise(col("__e99")) / lit(100.0))
        .select(col("p"), col("n"), r4(col("est")).as("est"),
          r4(col("__ex")).as("exact"),
          r4(abs(col("est") - col("__ex")) / col("__ex")).as("rel_err"))
        .orderBy("p")
    }),
      // the decimal-digit histogram replayed: bucket = (digit count,
      // first two digits) of the 1e-2-quantized value, width via the
      // string trick (pure integer math, no float pow), midpoint and
      // rank probe in the identical double-op order
      s"""WITH v AS (SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS q2 FROM events
         |  WHERE value IS NOT NULL AND value > 0 AND value < 9.0e16
         |    AND CAST(floor(value * 100.0 + 0.5) AS BIGINT) >= 1),
         |h AS (SELECT CAST(length(CAST(q2 AS VARCHAR)) AS BIGINT) AS digits,
         |    CAST(substr(CAST(q2 AS VARCHAR), 1, 2) AS BIGINT) AS first2,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM v GROUP BY 1, 2),
         |c AS (SELECT digits, first2, cnt,
         |    CAST(sum(cnt) OVER (ORDER BY digits, first2 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(concat('1', repeat('0', CAST(greatest(digits - 2, 0) AS INT))) AS BIGINT) AS width
         |  FROM h),
         |m AS (SELECT cum,
         |    (CAST(first2 * width AS DOUBLE) + CAST(width AS DOUBLE) / 2.0) / 100.0 AS mid
         |  FROM c),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
         |ex AS (SELECT quantile_cont(q2, 0.50) AS e50, quantile_cont(q2, 0.90) AS e90,
         |    quantile_cont(q2, 0.95) AS e95, quantile_cont(q2, 0.99) AS e99 FROM v),
         |p(p) AS (VALUES (50), (90), (95), (99)),
         |e AS (SELECT p.p, n.n, min(m.mid) AS est
         |  FROM p, n, m WHERE m.cum >= (n.n * p.p + 99) // 100 GROUP BY 1, 2),
         |f AS (SELECT e.p, e.n, e.est,
         |    (CASE e.p WHEN 50 THEN ex.e50 WHEN 90 THEN ex.e90
         |      WHEN 95 THEN ex.e95 ELSE ex.e99 END) / 100.0 AS exv
         |  FROM e, ex)
         |SELECT p, n, ${sqlR4("est")} AS est, ${sqlR4("exv")} AS exact,
         |  ${sqlR4("abs(est - exv) / exv")} AS rel_err
         |FROM f ORDER BY p""".stripMargin),

    // extension: the GROUPED sketch read — per-event-type p50/p95 from
    // per-group bucket frames (partitioned prefix-sum window, broadcast
    // group totals), the production monitoring shape; same in-row
    // exactness audit as the global sketch
    QueryDef("events_value_sketch_by_type", ((s, dir) => {
      val vals = events(s, dir)
        .select(col("event_type").as("grp"), col("value"))
      val qs = operators.Events.ddQuantilesBy(
        operators.Events.ddHistogramBy(vals), Seq(50, 95))
      val ex = operators.Events.ddQuantizedBy(vals).groupBy(col("grp"))
        .agg(expr("percentile(q2, 0.50D)").as("__e50"),
          expr("percentile(q2, 0.95D)").as("__e95"))
      qs.join(broadcast(ex), Seq("grp"))
        .withColumn("__ex",
          (when(col("p") === 50, col("__e50")).otherwise(col("__e95")))
            / lit(100.0))
        .select(col("grp").as("event_type"), col("p"), col("n"),
          r4(col("est")).as("est"), r4(col("__ex")).as("exact"),
          r4(abs(col("est") - col("__ex")) / col("__ex")).as("rel_err"))
        .orderBy("event_type", "p")
    }),
      // the grouped dd-histogram replayed with a PARTITIONED prefix sum
      s"""WITH v AS (SELECT event_type AS grp, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS q2
         |  FROM events
         |  WHERE value IS NOT NULL AND value > 0 AND value < 9.0e16
         |    AND CAST(floor(value * 100.0 + 0.5) AS BIGINT) >= 1),
         |h AS (SELECT grp, CAST(length(CAST(q2 AS VARCHAR)) AS BIGINT) AS digits,
         |    CAST(substr(CAST(q2 AS VARCHAR), 1, 2) AS BIGINT) AS first2,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM v GROUP BY 1, 2, 3),
         |c AS (SELECT grp, digits, first2, cnt,
         |    CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY digits, first2
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(concat('1', repeat('0', CAST(greatest(digits - 2, 0) AS INT))) AS BIGINT) AS width
         |  FROM h),
         |m AS (SELECT grp, cum,
         |    (CAST(first2 * width AS DOUBLE) + CAST(width AS DOUBLE) / 2.0) / 100.0 AS mid
         |  FROM c),
         |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY grp),
         |ex AS (SELECT grp, quantile_cont(q2, 0.50) AS e50, quantile_cont(q2, 0.95) AS e95
         |  FROM v GROUP BY grp),
         |p(p) AS (VALUES (50), (95)),
         |e AS (SELECT m.grp, p.p, n.n, min(m.mid) AS est
         |  FROM p, n, m WHERE m.grp = n.grp AND m.cum >= (n.n * p.p + 99) // 100
         |  GROUP BY 1, 2, 3),
         |f AS (SELECT e.grp, e.p, e.n, e.est,
         |    (CASE e.p WHEN 50 THEN ex.e50 ELSE ex.e95 END) / 100.0 AS exv
         |  FROM e JOIN ex ON e.grp = ex.grp)
         |SELECT grp AS event_type, p, n, ${sqlR4("est")} AS est, ${sqlR4("exv")} AS exact,
         |  ${sqlR4("abs(est - exv) / exv")} AS rel_err
         |FROM f ORDER BY event_type, p""".stripMargin),

    // extension: view→purchase CONVERSION-TIME distribution — per user,
    // the latency from first view to the first purchase at or after it;
    // summarized as exact interpolated quantiles + mean. Two per-user
    // reductions and one (broadcastable) join — no window, no event-log
    // self-join; deltas are exact micros longs so the mean is
    // order-independent
    QueryDef("events_conversion_time", ((s, dir) => {
      val e = events(s, dir)
      val tv = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("__tv"))
      val d = e.where(col("event_type") === "purchase")
        .join(tv, Seq("user_id"))
        .where(unix_micros(col("ts")) >= col("__tv"))
        .groupBy(col("user_id"))
        .agg((min(unix_micros(col("ts"))) - min(col("__tv"))).as("__dus"))
      d.agg(count(lit(1)).as("n_users"),
        r4(expr("percentile(__dus, 0.5D)") / lit(1000000.0)).as("p50_sec"),
        r4(expr("percentile(__dus, 0.9D)") / lit(1000000.0)).as("p90_sec"),
        r4((sum(col("__dus")).cast("double") / count(lit(1))) / lit(1000000.0))
          .as("mean_sec"))
    }),
      // the same two reductions; min(tv.tv) is the per-user constant
      s"""WITH tv AS (SELECT user_id, min(epoch_us(ts)) AS tv FROM events
         |  WHERE event_type = 'view' GROUP BY 1),
         |d AS (SELECT e.user_id, min(epoch_us(e.ts)) - min(tv.tv) AS dus
         |  FROM events e JOIN tv ON e.user_id = tv.user_id
         |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= tv.tv
         |  GROUP BY e.user_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_users,
         |  ${sqlR4("quantile_cont(dus, 0.5) / 1000000.0")} AS p50_sec,
         |  ${sqlR4("quantile_cont(dus, 0.9) / 1000000.0")} AS p90_sec,
         |  ${sqlR4("(CAST(sum(dus) AS DOUBLE) / count(*)) / 1000000.0")} AS mean_sec
         |FROM d""".stripMargin),

    // extension: fixed-width value HISTOGRAM per event type — the
    // observability staple exact quantiles don't give (shape, not just
    // points). Bin ids are exact floor(value / w) longs; the rollup is
    // the map-side-combinable two-stage count, shuffle ∝ |types × bins|
    QueryDef("events_histogram", ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"),
          floor(col("value") / lit(5.0)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bin"),
          r4(col("bin") * lit(5.0)).as("lo"), col("n"))
        .orderBy("event_type", "bin")),
      // bin = exact floor(value / w) in both engines; counts are integers
      s"""SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin,
         |  ${sqlR4("CAST(floor(value / 5.0) AS BIGINT) * 5.0")} AS lo,
         |  count(*) AS n
         |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin)
  )
}
