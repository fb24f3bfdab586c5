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

  /** The session `Verify` and `Bench` run in, so both run one program:
    * `local[$SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition per
    * core, the UTC session time zone (the queries that format times read
    * it) and no UI. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
