package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming ingest of the `events` table.
  *
  * The reference has no streaming operators (SURVEY.md §2.2) — its only
  * periodic behavior is the 600 s snapshot thread (`src/main.rs:57-61`).
  * This module is the north-star extension: the same windowed aggregation
  * [[graft.catalog.EventQueries]] runs in batch (`events_window_agg`),
  * executed as an incremental streaming query with event-time
  * watermarking, so batch and stream share one semantic definition
  * (verified equal in ScalaTest).
  *
  * Scale notes: the aggregation state is keyed by (window, event_type) —
  * bounded by the watermark horizon; at 100 TB/day the same plan shards
  * state across executors via the shuffle on the group key, and the
  * 10-minute watermark bounds state size regardless of input volume.
  */
object EventStream {

  /** Events schema of the LEGACY layout: `ts` stored as Parquet
    * TIMESTAMP(NANOS), which Spark's reader rejects outright — so it is
    * declared BIGINT (raw nanos) and converted by [[normalizeTs]].
    * Current testdata stores a native TIMESTAMP(MICROS) instead; this
    * schema remains only as the fallback for stores written the old way. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Canonicalize whatever physical `ts` the events table carries into a
    * TIMESTAMP column — the one place the storage encoding is decoded, so
    * no operator or test ever branches on layout:
    *  - int64 (legacy raw nanos): exact integer `div 1000` → micros,
    *    never through double;
    *  - TIMESTAMP_NTZ (current testdata): cast reinterprets the wall
    *    clock in the session zone (these sessions pin UTC) — bit-exact
    *    micros, and the output type matches what every oracle compared
    *    against historically;
    *  - TIMESTAMP: already canonical. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    // FLOOR division, not `div` (truncation toward zero): a pre-epoch
    // nano timestamp like -1500 ns must floor to -2 µs, not round up to
    // -1 µs. For the non-negative common case the two are identical;
    // pmod keeps the arithmetic exact-integer either way.
    case LongType =>
      df.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
    case _                => df
  }

  /** Is this footer-probe failure the ONE condition the legacy fallback
    * exists for — Spark refusing a TIMESTAMP(NANOS) parquet footer? Any
    * other failure (transient IO, permissions, missing dir) must
    * propagate: swallowing it would silently pick the legacy int64
    * decode for a current-layout file and corrupt every timestamp 1000×.
    *
    * Matches the STABLE error condition (`SparkThrowable.getCondition`,
    * the machine-readable error class a Spark upgrade keeps even when it
    * rewords the message) first, with the message substrings as a
    * fallback for wrappers that drop the class; walks the cause chain
    * because the refusal can arrive wrapped in a job-level exception.
    * The exact condition AND message shape are pinned against a real
    * parquet-mr-written TIMESTAMP(NANOS) fixture in StreamingSpec, so
    * an upgrade that changes either fails the suite instead of silently
    * disabling the fallback. */
  private[graft] def isNanosFooterRefusal(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { t =>
      val cond = t match {
        case st: org.apache.spark.SparkThrowable =>
          Option(st.getCondition).getOrElse("")
        case _ => ""
      }
      val m = Option(t.getMessage).getOrElse("")
      // message fallback requires BOTH tokens: a bare "NANOS" anywhere
      // in an 8-deep cause chain (a path name, a TIME(NANOS) column
      // error) must not route a current-layout file onto the 1000×
      // legacy decode — the fixture pins the stable condition, so the
      // substring path only covers wrappers that drop the class
      cond == "ILLEGAL_PARQUET_TYPE" ||
        (m.contains("NANOS") && m.contains("Illegal Parquet type"))
    }

  /** Batch read of `dir/events.parquet` with canonical TIMESTAMP `ts`.
    * Footer-driven: the file's own schema decides the decode path; only
    * a legacy TIMESTAMP(NANOS) file (whose footer Spark refuses to even
    * infer) falls back to the explicit [[rawSchema]] read. */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val df =
      try spark.read.parquet(path)
      catch {
        case e: Exception if isNanosFooterRefusal(e) =>
          spark.read.schema(rawSchema).parquet(path)
      }
    normalizeTs(df)
  }

  /** The shared transformation: hourly tumbling window per event type. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("value_sum"))

  /** Per-user sessionization via the built-in `session_window` operator —
    * an event at or before the session's end (`last_ts + gap`) extends
    * it; only a gap STRICTLY greater than `gap` starts a new session
    * (verified empirically: events exactly `gap` apart merge — the
    * window end is inclusive for merging). This platform-native
    * boundary is the repo-wide session convention; every lag-based
    * sessionization (engine and oracle) uses the matching strict `>`.
    * Identical semantics in batch and streaming; in streaming, state per
    * open session is bounded by the watermark horizon and sharded by the
    * group key, the `mapGroupsWithState` state pattern without the
    * hand-rolled state machine. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("value_sum"))

  /** Streaming DAU: distinct users per day, the streaming-DISTINCT state
    * pattern. `dropDuplicatesWithinWatermark` keeps one state row per
    * (user, day) and expires it once the watermark passes the row's
    * event time + horizon — so state is bounded by |distinct (user,
    * day)| inside the horizon, independent of event volume (the plain
    * streaming `dropDuplicates` would never expire a derived-column key
    * and grow without bound). The windowed count that follows is an
    * ordinary append-mode agg: a day's row emits exactly once, when the
    * watermark passes the day's end. Two chained stateful operators —
    * supported in append mode; batch runs the same plan as a plain
    * distinct + groupBy (stream==batch pinned in StreamingSpec on the
    * emitted, watermark-closed days). */
  def dailyActiveUsers(events: DataFrame, watermark: String = "1 day"): DataFrame = {
    // The dedup key is (user, DAY): a watermark horizon shorter than a
    // day would evict a user's state row mid-day, and their next
    // (non-late) event would pass dedup again — silent double-counting.
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.safeStringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    require(iv != null &&
      (iv.months > 0 || iv.days >= 1 || iv.microseconds >= 86400000000L),
      s"dailyActiveUsers watermark '$watermark' is shorter than the 1-day " +
        "dedup key granularity — the (user, day) state would expire " +
        "mid-day and users would be double-counted")
    events
      .withWatermark("ts", watermark)
      .withColumn("day", date_trunc("day", col("ts")))
      .dropDuplicatesWithinWatermark("user_id", "day")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("dau"))
      .select(col("window.start").as("day"), col("dau"))
  }

  /** [[dailyActiveUsers]] to a memory sink (append: only watermark-closed
    * days emit). */
  def startDauToMemory(spark: SparkSession, dir: String, name: String): StreamingQuery =
    dailyActiveUsers(readEvents(spark, dir))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Open the events dir as a stream (file-source; at scale this is the
    * same code against Kafka — only the `format` changes). The testdata
    * layout is one FILE per table, and FileStreamSource wants a directory,
    * so stream the directory with a glob filter. The stream source needs
    * an explicit schema up front; take it from the file's own footer (a
    * driver-only batch-read of the same path) so the decode path tracks
    * the physical layout exactly as [[loadEvents]] does. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema =
      try spark.read.parquet(s"$dir/events.parquet").schema
      catch { case e: Exception if isNanosFooterRefusal(e) => rawSchema }
    normalizeTs(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Run the streaming aggregation into an in-memory sink and return the
    * query handle (caller calls `processAllAvailable()` then reads the
    * `queryName` table). Update mode: windows re-emit as they refine. */
  def startToMemory(spark: SparkSession, dir: String, name: String): StreamingQuery =
    hourlyAgg(readEvents(spark, dir))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-static enrichment: attach a per-key dimension snapshot (the
    * batch-computed latest value per key — the serving-time feature
    * snapshot) to each arriving event. A stream-static left equi-join is
    * stateless (no watermark, no state store) and its per-batch cost is
    * independent of stream history — the streaming counterpart of
    * [[graft.operators.Temporal.asofJoin]] at snapshot granularity (the
    * union+window trick needs a total order, which an unbounded stream
    * cannot provide; production re-broadcasts the snapshot on the dim's
    * refresh cadence). */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left_outer")

  /** STREAM-STREAM time-bounded correlation join — the streaming twin of
    * [[graft.operators.Temporal.rangeJoinBinned]]: pair each left event
    * with the same-key right events in its look-back window
    * (`left.ts - lookBackSec < right.ts <= left.ts`, same bounds as the
    * batch operator). Both sides carry an event-time watermark and the
    * join predicate bounds `right.ts` relative to `left.ts` from BOTH
    * sides, which is exactly what Structured Streaming needs to derive a
    * state watermark: buffered rows are dropped once they can no longer
    * match anything the other stream may still deliver, so state is
    * bounded by `watermark + lookBackSec` of history per side — never by
    * stream length. Inner join, append mode.
    *
    * Right columns arrive prefixed `r_` (the two sides share the events
    * schema). At 100 TB/day the same plan runs against two Kafka topics;
    * the file source here is the test harness. */
  def correlatedPairs(
      left: DataFrame,
      right: DataFrame,
      key: String = "user_id",
      lookBackSec: Long = 600L,
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right
      .select(col(key).as("__rk"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"), col("event_type").as("r_event_type"),
        col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r,
        l(key) === r("__rk") &&
          r("r_ts") > l("ts") - expr(s"INTERVAL $lookBackSec SECONDS") &&
          r("r_ts") <= l("ts"),
        "inner")
      .drop("__rk")
  }

  /** [[correlatedPairs]] instance to a memory sink: purchases paired
    * with the same user's errors in the preceding 10 minutes — the
    * "what went wrong just before this conversion" correlation. */
  def startCorrelatedToMemory(spark: SparkSession, dir: String, name: String): StreamingQuery = {
    val ev = readEvents(spark, dir)
    correlatedPairs(
        ev.where(col("event_type") === "purchase"),
        ev.where(col("event_type") === "error"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("r_event_id"), col("r_ts"), col("r_value"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The dimension snapshot [[enrichWithDim]] expects: latest value per
    * key from a batch table (max_by reduction — no window); ties on `ts`
    * break deterministically by `tieBreak`. */
  def latestPerKey(batch: DataFrame, key: String, ts: String,
      tieBreak: String, valueCols: Seq[String]): DataFrame =
    batch.groupBy(col(key))
      .agg(max_by(struct(valueCols.map(col): _*),
        struct(col(ts), col(tieBreak))).as("__v"))
      .select(col(key) +: valueCols.map(c => col(s"__v.$c").as(s"dim_$c")): _*)

  /** Streaming sessionization into a memory sink. APPEND mode — the only
    * mode streaming session windows support: a session row is emitted
    * exactly once, when the watermark passes its end. Sessions still open
    * within the watermark horizon of the last event stay in state (they
    * would close on further input), so a drained bounded stream emits a
    * strict subset of the batch result — asserted in StreamingSpec. */
  def startSessionsToMemory(spark: SparkSession, dir: String, name: String): StreamingQuery =
    sessionAgg(readEvents(spark, dir))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Per-user event for the funnel state machine. `ts` carries the
    * WATERMARKED column through the typed projection (the event-time
    * timeout checker requires it to survive to the state op); the logic
    * reads `ts_us` (micros keep the state row fixed-width — no
    * timestamp objects in the state store). */
  final case class FunnelEvent(
      user_id: Long, ts: java.sql.Timestamp, ts_us: Long, event_type: String)
  /** State: stages reached so far + the ts that reached the last one. */
  final case class FunnelProgress(stage: Int, last_us: Long)
  /** Emitted once per user, when the final stage is reached. */
  final case class FunnelHit(user_id: Long, completed_at_us: Long)

  /** Streaming funnel: per-user ordered stage progression as an explicit
    * event-time state machine (`flatMapGroupsWithState`) — the custom-
    * state shape [[sessionAgg]]'s built-in windows can't express. Emits
    * `(user_id, completed_at)` EXACTLY ONCE, when a user's events have
    * traversed `stages` in timestamp order (same inclusive `ts >=
    * previous stage` bound as the batch [[graft.operators.Events.funnel]];
    * equality with the batch result is asserted in StreamingSpec).
    *
    * State per user is ONE (int, long) row regardless of event volume,
    * sharded by the group key; completed users keep a done-marker row
    * (so later events cannot restart the funnel and double-emit) and
    * every row — done or in-flight — is garbage-collected by an
    * event-time timeout `stateTtlMs` past its last progress (or the
    * current watermark if later) — at 100 TB/day the store holds only
    * funnels inside the TTL horizon, not the event history.
    *
    * Each micro-batch's events are folded in `(ts, type)` order;
    * progression across batches assumes batches arrive in event-time
    * order (the watermark bounds the reorder window, the standard
    * funnel-attribution contract). */
  def funnelCompletions(
      events: DataFrame,
      stages: Seq[String],
      watermark: String = "10 minutes",
      stateTtlMs: Long = 24L * 3600 * 1000): DataFrame = {
    require(stages.size >= 2, s"a funnel needs at least 2 stages, got $stages")
    require(stages.distinct.size == stages.size,
      s"duplicate stage names: ${stages.mkString(", ")}")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      // non-stage events are ignored by the fold — filter them BEFORE
      // the shuffle so state rows exist only for funnel PARTICIPANTS:
      // unfiltered, every user ever seen (heartbeats included) would
      // cost a shuffled row and a TTL-held state entry
      .where(col("event_type").isin(stages: _*))
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[FunnelEvent]
    val step = (user: Long, it: Iterator[FunnelEvent],
        state: GroupState[FunnelProgress]) => {
      if (state.hasTimedOut) { state.remove(); Iterator.empty[FunnelHit] }
      else {
        var st = state.getOption.getOrElse(FunnelProgress(0, Long.MinValue))
        var hit: Option[FunnelHit] = None
        // same-timestamp ordering must follow STAGE order, not event-type
        // alphabet: the batch funnel's inclusive `ts >=` bound lets a
        // user pass two stages at one timestamp, so the state machine
        // must see the earlier stage first or stream diverges from batch
        val stageIdx = stages.zipWithIndex.toMap
        it.toSeq.sortBy(e =>
          (e.ts_us, stageIdx.getOrElse(e.event_type, stages.size))).foreach { e =>
          // stage == stages.size is the DONE marker: kept (not removed)
          // so a completed user's later events cannot restart the funnel
          // and double-emit; the TTL timeout reclaims it
          if (st.stage < stages.size && e.event_type == stages(st.stage)
              && e.ts_us >= st.last_us) {
            st = FunnelProgress(st.stage + 1, e.ts_us)
            if (st.stage == stages.size) hit = Some(FunnelHit(user, e.ts_us))
          }
        }
        state.update(st)
        state.setTimeoutTimestamp(
          math.max(st.last_us / 1000L, state.getCurrentWatermarkMs()) + stateTtlMs)
        hit.iterator
      }
    }
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step)
      .select(col("user_id"),
        timestamp_micros(col("completed_at_us")).as("completed_at"))
  }

  /** [[funnelCompletions]] into a memory sink (append — each completion
    * row is final by construction). */
  def startFunnelToMemory(spark: SparkSession, dir: String,
      stages: Seq[String], name: String): StreamingQuery =
    funnelCompletions(readEvents(spark, dir), stages)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Count-Min sketch of per-user event counts maintained incrementally
    * at the ingest door: [[graft.operators.Events.cmSketch]]'s merge law
    * (cells are order-independent SUMS, so shard/batch sketches fold
    * cell-wise — pinned in EventsSpec) applied per micro-batch, the
    * streaming twin of `events_cm_topk`'s batch build.
    *
    * State: one `(row, cell, cell_n)` frame per `batch_id` partition —
    * bounded by depth × w CELLS regardless of stream history or key
    * cardinality (the whole point of sketching the stream instead of
    * keeping per-key counts). The newest batch_id is the authoritative
    * sketch; replay after a crash is idempotent ([[Fold]]). */
  def startCmSketch(
      spark: SparkSession,
      dir: String,
      stateDir: String,
      checkpointPath: String,
      w: Int = 64): StreamingQuery =
    Fold.start(readEventIngestDir(spark, dir), stateDir, checkpointPath, CmState) { batch =>
      graft.operators.Events.cmSketch(batch.where(col("user_id").isNotNull)
        .groupBy(col("user_id").cast("long").as("key"))
        .agg(count(lit(1)).as("n")), w)
    } {
      _.groupBy(col("row"), col("cell")).agg(sum(col("cell_n")).cast("long").as("cell_n"))
    }

  /** Event INGEST-DIR stream: unlike [[readEvents]] (pinned to the
    * testdata layout's single `events.parquet`), this watches every
    * parquet file landing in a dedicated arrival directory — the
    * multi-wave production shape the checksum/dedup doc streams use.
    * Schema from the footer of what's already there (same decode-tracks-
    * physical-layout rule as [[readEvents]]). */
  private def readEventIngestDir(spark: SparkSession, dir: String): DataFrame = {
    val schema =
      try spark.read.parquet(dir).schema
      catch { case e: Exception if isNanosFooterRefusal(e) => rawSchema }
    normalizeTs(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(dir))
  }

  /** Linear-counting distinct sketch maintained at the ingest door —
    * the OR-monoid twin of [[startCmSketch]]'s SUM-monoid fold:
    * per-(group, cell) occupancy is a SET, so the per-batch fold is
    * union + distinct and replay is idempotent twice over (marking is
    * idempotent AND the fold reads only `batch_id < current`). State is
    * ≤ groups × k cells regardless of stream history; read the newest
    * partition with [[lcState]] and estimate via
    * [[graft.operators.Events.lcEstimates]]. */
  def startLcSketch(
      spark: SparkSession,
      dir: String,
      stateDir: String,
      checkpointPath: String,
      k: Int = 4096): StreamingQuery =
    Fold.start(readEventIngestDir(spark, dir), stateDir, checkpointPath, LcState) { batch =>
      graft.operators.Events.lcCells(
        batch.where(col("user_id").isNotNull)
          .select(col("event_type").as("grp"), col("user_id").cast("long").as("key")), k)
    }(_.distinct())

  /** Decimal-digit value histogram maintained at the ingest door — the
    * third monitor of the streaming sketch trio (CM frequencies: SUM
    * cells; LC distincts: OR occupancy; DD quantiles: SUM buckets).
    * Buckets are fixed and data-independent, so the per-batch fold is
    * the same cell-wise addition as the CM fold; quantile reads come
    * off the state via [[graft.operators.Events.ddQuantilesBy]]. */
  def startDdHistogram(
      spark: SparkSession,
      dir: String,
      stateDir: String,
      checkpointPath: String): StreamingQuery =
    Fold.start(readEventIngestDir(spark, dir), stateDir, checkpointPath, DdState) { batch =>
      graft.operators.Events.ddHistogramBy(
        batch.select(col("event_type").as("grp"), col("value")))
    } {
      _.groupBy(col("grp"), col("digits"), col("first2"))
        .agg(sum(col("cnt")).cast("long").as("cnt"))
    }

  /** Daily event-count series maintained at the ingest door — the
    * FOURTH monitor beside the sketch trio, and the one whose state is
    * not an approximation: per-day counts are a SUM monoid over fixed
    * day keys, so the fold is exact and the whole time-series family
    * ([[graft.operators.Events.cusumFromDayCounts]] changepoints,
    * [[graft.operators.Events.dailyAcfFromDayCounts]] periodicity,
    * [[graft.operators.Events.holtWintersFromDayCounts]] forecasts)
    * reads off committed state with results IDENTICAL to the batch
    * queries over the same events — no re-scan of history. State is
    * bounded by the calendar span in days, never event count; replay
    * after a crash is idempotent ([[Fold]]). */
  def startDayCounts(
      spark: SparkSession,
      dir: String,
      stateDir: String,
      checkpointPath: String): StreamingQuery =
    Fold.start(readEventIngestDir(spark, dir), stateDir, checkpointPath, DayState) {
      graft.operators.Events.dayCounts
    }(_.groupBy(col("d")).agg(sum(col("y")).cast("long").as("y")))

  private val CmState = StructType.fromDDL(
    "`row` INT NOT NULL, cell BIGINT NOT NULL, cell_n BIGINT NOT NULL")
  private val LcState = StructType.fromDDL("grp STRING NOT NULL, cell BIGINT NOT NULL")
  private val DdState = StructType.fromDDL(
    "grp STRING NOT NULL, digits BIGINT NOT NULL, first2 BIGINT NOT NULL, cnt BIGINT NOT NULL")
  private val DayState = StructType.fromDDL("d BIGINT NOT NULL, y BIGINT NOT NULL")

  /** The newest committed `(d, y)` day-count series from a
    * [[startDayCounts]] state dir — empty when no fold committed. */
  def dayCountState(spark: SparkSession, stateDir: String): DataFrame =
    Fold.state(spark, stateDir, DayState)

  /** The newest committed `(grp, digits, first2, cnt)` histogram from a
    * [[startDdHistogram]] state dir — empty when no fold committed. */
  def ddHistogramState(spark: SparkSession, stateDir: String): DataFrame =
    Fold.state(spark, stateDir, DdState)

  /** The newest committed `(grp, cell)` occupancy set from a
    * [[startLcSketch]] state dir — empty when no fold committed. */
  def lcState(spark: SparkSession, stateDir: String): DataFrame =
    Fold.state(spark, stateDir, LcState)

  /** The newest committed sketch in a [[startCmSketch]] state dir —
    * empty (a valid all-zeros sketch: estimates come out 0) when no
    * fold has committed yet. */
  def cmSketchState(spark: SparkSession, stateDir: String): DataFrame =
    Fold.state(spark, stateDir, CmState)
}
