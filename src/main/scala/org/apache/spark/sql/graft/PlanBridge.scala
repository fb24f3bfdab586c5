package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType

/** Bridge to `private[sql]` plan plumbing, sibling of [[ColumnBridge]]. */
object PlanBridge {

  private def classic(df: DataFrame): Dataset[Row] = df.asInstanceOf[Dataset[Row]]

  /** Rewrap `df`'s physical rows as a new DataFrame whose plan carries
    * DEFAULT statistics (and no inherited constraints). Lazy: call on an
    * already-materialized frame so the rewrap never recomputes upstream
    * work. Its one caller is [[graft.Caching.truncate]], whose doc says
    * why a checkpoint needs it. */
  def statsReset(df: DataFrame): DataFrame = {
    val ds = classic(df)
    ds.sparkSession.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema)
  }

  /** The cache entry that serves `df`'s plan in its session's
    * CacheManager, as the entry's `CachedRDDBuilder`: `None` when the
    * plan is not cached. That object is the identity of one
    * registration — `unpersist` or `clearCache()` drops it, and caching
    * the plan again registers a new one. A streaming frame has none. */
  def cacheEntry(df: DataFrame): Option[AnyRef] =
    if (df.isStreaming) None
    else {
      val ds = classic(df)
      ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
        .map(_.cachedRepresentation.cacheBuilder)
    }

  /** Whether `plan`, the physical plan of `df`, gives the answer a fresh
    * plan of `df` would when it is run again later with other bound
    * values: it runs as one stage (no exchange, and no subquery, whose
    * result the plan keeps after its first run), and `df` holds no value
    * that Spark fixes while planning — a current time, date, time zone,
    * user, database or catalog, which the optimizer turns into literals,
    * or a nondeterministic expression, whose seed the analyzer may pick. */
  def reusable(df: DataFrame, plan: SparkPlan): Boolean =
    !plan.exists(p => p.isInstanceOf[Exchange] || p.subqueries.nonEmpty) &&
      !classic(df).queryExecution.withCachedData.exists(_.expressions.exists(e =>
        !e.deterministic || e.containsPattern(TreePattern.CURRENT_LIKE)))

  /** The physical plan of `df`, prepared for execution without adaptive
    * execution: an adaptive plan wraps the cached scan in a query stage
    * that holds its first run, so it cannot be run again with new
    * values. */
  def physicalPlan(df: DataFrame): SparkPlan = {
    val ds = classic(df)
    QueryExecution.prepareExecutedPlan(ds.sparkSession, ds.queryExecution.sparkPlan.clone())
  }

  /** Build a physical plan with `plan` and run it in `df`'s session,
    * collecting its rows to the driver as a local frame with `schema`.
    * `plan` is built with the session active, because a physical operator
    * captures the active session when it is constructed, and the job runs
    * with the session's SQL conf propagated to its tasks. No SQL
    * execution is registered for the job (registering one posts the
    * plan's explain string and plan info on every call), so
    * `QueryExecutionListener`s, the SQL UI and per-execution SQL metrics
    * do not see it; `SparkListener`s see its job and stages. */
  def collectLocal(df: DataFrame, schema: StructType)(plan: => SparkPlan): DataFrame = {
    val session = classic(df).sparkSession
    val rows: Array[InternalRow] = session.withActive {
      val p = plan
      SQLExecution.withSQLConfPropagated(session)(p.executeCollect())
    }
    Dataset.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows.toSeq))
  }
}
