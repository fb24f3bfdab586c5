package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}

/** Bridge to `private[sql]` plan plumbing, sibling of [[ColumnBridge]]. */
object PlanBridge {

  /** Rewrap `df`'s physical rows as a new DataFrame whose plan carries
    * DEFAULT statistics (and no inherited constraints). Lazy: call on an
    * already-materialized frame so the rewrap never recomputes upstream
    * work. Its one caller is [[graft.Caching.truncate]], whose doc says
    * why a checkpoint needs it. */
  def statsReset(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema)
  }
}
