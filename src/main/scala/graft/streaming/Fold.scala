package graft.streaming

import graft.sources.Commit
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The ingest-door monitor fold: a cumulative state kept as one
  * [[Commit.writeBatch]] partition per micro-batch, each the fold of the
  * batch onto the newest committed state strictly below it — committed
  * state is folded forward instead of history being re-read (the reuse
  * of committed state in "Incremental Based Framework for Efficient
  * Top-K Similarity Search…", EDBT 2020, PAPERS.md). The newest
  * partition is the authoritative state and the older ones are the audit
  * trail. A batch replayed after a crash reads the same prior state and
  * rewrites its own partition, so it recomputes identical content
  * instead of counting itself twice. State is bounded by the monoid's
  * key space per retained batch, never by the stream's history. */
private[streaming] object Fold {

  /** Stream `input` through the fold: each micro-batch's partials
    * (`parts`, with `schema`'s columns) are unioned with the prior state
    * and combined by `merge` (the monoid's group-and-add); the first
    * batch's partials are the state as they are. */
  def start(input: DataFrame, stateDir: String, checkpointPath: String, schema: StructType)(
      parts: DataFrame => DataFrame)(merge: DataFrame => DataFrame): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val p = parts(batch)
        val folded = Commit.newestBatch(input.sparkSession, stateDir, Some(batchId),
          schema.fieldNames.toSeq).fold(p)(prior => merge(prior.unionByName(p)))
        Commit.writeBatch(folded, batchId, stateDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** The newest committed state in `stateDir`; an empty frame of
    * `schema` when no fold has committed yet. */
  def state(spark: SparkSession, stateDir: String, schema: StructType): DataFrame =
    Commit.newestBatch(spark, stateDir, None, schema.fieldNames.toSeq).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
}
