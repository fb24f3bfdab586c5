package graft
import graft.catalog.Catalog
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Both maps are built once from [[graft.catalog.Catalog.all]], where each
  * query and its oracle SQL are one [[graft.catalog.QueryDef]]. */
object SparkEntry {
  /** Flagship query (filtered ANN — reference `src/cores/index.rs:197-199`)
    * on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("knn_filtered")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = Catalog.all.map(q => q.name -> q.oracleSql).toMap
}
