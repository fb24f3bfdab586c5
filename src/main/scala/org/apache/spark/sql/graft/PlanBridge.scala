package org.apache.spark.sql.graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.collection.{Utils => CollectionUtils}

/** Bridge to `private[sql]` plan plumbing, sibling of [[ColumnBridge]],
  * and the prepared serving plans' top-k runner ([[takeOrdered]]), which
  * lives in this package to reach Spark's `private[spark]` bounded heap. */
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
    * collecting its rows to the driver as a local frame with `schema`: a
    * top-k root with no offset through [[takeOrdered]], any other root
    * through its own `executeCollect`. `plan` is built with the session
    * active, because a physical operator captures the active session
    * when it is constructed, and the job runs with the session's SQL conf
    * propagated to its tasks. No SQL execution is registered for the job
    * (registering one posts the plan's explain string and plan info on
    * every call), so `QueryExecutionListener`s, the SQL UI and
    * per-execution SQL metrics do not see it; `SparkListener`s see its
    * job and stages. */
  def collectLocal(df: DataFrame, schema: StructType)(plan: => SparkPlan): DataFrame = {
    val session = classic(df).sparkSession
    val rows: Array[InternalRow] = session.withActive {
      val p = plan
      SQLExecution.withSQLConfPropagated(session)(p match {
        case top: TakeOrderedAndProjectExec if top.offset == 0 => takeOrdered(top)
        case other => other.executeCollect()
      })
    }
    Dataset.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows.toSeq))
  }

  /** The rows `plan.executeCollect()` returns, for a top-k root with no
    * offset, from one job: one stage and one task per partition of the
    * child. Each task keeps its k smallest copied rows under the node's
    * own ordering, in the bounded heap `RDD.takeOrdered` uses; the driver
    * merges them with the same ordering and applies the projection only
    * when it is not the child's output.
    *
    * `executeCollect` runs the same heaps through `RDD.takeOrdered`,
    * which hands three closures defined in Spark to `mapPartitions`,
    * `reduce` and `runJob`. Spark's closure cleaner reads and scans the
    * class file that defines each closure, `RDD` (184 KB) twice and
    * `SparkContext` (204 KB) once, on every call: a fixed cost of every
    * warm single-vector query. Here the job's one closure is defined in
    * this small object, and it goes to the `(TaskContext, Iterator)`
    * overload of `runJob`, which does not wrap it in a second closure to
    * clean. */
  def takeOrdered(plan: TakeOrderedAndProjectExec): Array[InternalRow] = {
    require(plan.offset == 0, s"a top-k plan with offset ${plan.offset}")
    val child = plan.child
    val k = plan.limit
    val ord = new LazilyGeneratedOrdering(plan.sortOrder, child.output)
    val heads: (TaskContext, Iterator[InternalRow]) => Array[InternalRow] =
      (_, rows) => CollectionUtils.takeOrdered(rows.map(_.copy()), k)(ord).toArray
    val rdd = child.execute()
    val perPartition = rdd.sparkContext.runJob(rdd, heads, 0 until rdd.getNumPartitions)
    val top = CollectionUtils.takeOrdered(perPartition.iterator.flatMap(_.iterator), k)(ord).toArray
    if (plan.projectList == child.output) top
    else {
      val project = UnsafeProjection.create(plan.projectList, child.output)
      project.initialize(0)
      top.map(r => project(r).copy())
    }
  }
}
