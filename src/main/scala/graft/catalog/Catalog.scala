package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its Spark build over a scale-factor directory and the
  * DuckDB SQL that must return the same rows over the same parquet tables. */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** The declared query inventory (SURVEY.md §2.3) plus the training-data
  * pipeline extensions, each paired with DuckDB oracle SQL.
  *
  * Conventions for oracle hash-parity:
  *   - every computed double is rounded to 4 decimals via the SAME double
  *     expression in both engines ([[Shared.r4]]/[[Shared.sqlR4]]); ordering
  *     is done on the UNROUNDED value plus an id tiebreak;
  *   - both engines cast float vector elements to double BEFORE arithmetic
  *     and accumulate sequentially, so sums are bit-identical;
  *   - counts/len are bigint in both engines (DuckDB `len`/`count` are
  *     BIGINT; Spark `size` is cast).
  */
object Catalog {
  /** Every query, each defined once: fails at construction on a name that
    * two definitions share. */
  val all: Seq[QueryDef] = requireDistinct(Seq(
    ReferenceQueries.all, EventQueries.all, CorpusQueries.all, IvfQueries.all,
    DedupQueries.all, TextQueries.all, EmbedQueries.all, AnnQueries.all,
    SnapshotQueries.all, MediaQueries.all).flatten)

  private[graft] def requireDistinct(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"query defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }
}
