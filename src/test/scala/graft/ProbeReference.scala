package graft

import graft.functions.NativeExprs
import graft.operators.IvfIndex
import graft.types.Metric
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayContains, In, InSet, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** Test-side references for the single-query probe. */
object ProbeReference extends AdaptiveSparkPlanHelper {

  /** The Spark-side probe ranking the single-query paths ran before the
    * probe moved to the driver: rank every centroid by distance to the
    * one-row query (null distances excluded, NaN last, ties to the lower
    * cluster_id) and keep the nearest `probes` cluster ids. */
  def probedIds(centroids: DataFrame, query: DataFrame, probes: Int, metric: Metric): Seq[Int] =
    centroids
      .crossJoin(broadcast(query))
      .withColumn("__cdist", metric.distance(col("centroid"), col("qvec")))
      .where(col("__cdist").isNotNull)
      .orderBy(isnan(col("__cdist")).asc, col("__cdist").asc, col("cluster_id").asc)
      .limit(probes)
      .select(col("cluster_id"))
      .collect().map(_.getInt(0)).toSeq

  /** A one-row query frame's `qvec` in the norm-augmented MIPS geometry:
    * widened to doubles and padded with a 0. */
  def padded(query: DataFrame): DataFrame =
    query.select(concat(col("qvec").cast("array<double>"), array(lit(0.0))).as("qvec"))

  /** A norm-augmented MIPS index over `records` (the geometry of
    * `IvfQueries.mipsFixedIndex`): the records with id < `nCentroids` as
    * AUGMENTED centroids, every record assigned in augmented space and
    * stored with its ORIGINAL embedding and its other columns. */
  def mipsIndex(records: DataFrame, nCentroids: Int): IvfIndex.Model = {
    val n2 = NativeExprs.dot(col("embedding"), col("embedding"))
    val m2 = records.agg(max(n2)).head().getDouble(0)
    val aug = records.withColumn("__aug",
      concat(col("embedding").cast("array<double>"), array(sqrt(lit(m2) - n2))))
    val cents = aug.where(col("id") < nCentroids)
      .select(col("id").cast("int").as("cluster_id"), col("__aug").as("centroid"))
    val assigned = IvfIndex.assign(
        aug.withColumnRenamed("embedding", "__orig").withColumnRenamed("__aug", "embedding"),
        cents, Metric.Euclidean)
      .drop("embedding").withColumnRenamed("__orig", "embedding")
    IvfIndex.Model(cents, assigned)
  }

  /** The parquet scans in `df`'s executed plan, adaptive query stages
    * included. Run `df` first, so the adaptive plan is final and the scan
    * metrics are filled in. */
  def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  /** The operator names of `df`'s executed plan, adaptive query stages
    * included (a cached relation's own build plan is not part of it). */
  def operatorNames(df: DataFrame): Seq[String] =
    operatorNames(df.queryExecution.executedPlan)

  /** The operator names of a physical plan, adaptive query stages
    * included. */
  def operatorNames(plan: SparkPlan): Seq[String] =
    collect(plan) { case p => p.nodeName }

  /** `pf` over every operator of a physical plan, adaptive query stages
    * included. */
  def collectPlan[B](plan: SparkPlan)(pf: PartialFunction[SparkPlan, B]): Seq[B] =
    collect(plan)(pf)

  /** The cluster ids a scan's static partition filters admit: the values
    * of its `array_contains(<int array literal>, cluster_id)` or
    * `cluster_id IN (...)` filter, or `None` when it has none. */
  def partitionFilterIds(scan: FileSourceScanExec): Option[Set[Int]] =
    scan.partitionFilters.collectFirst {
      case ArrayContains(Literal(ids: ArrayData, ArrayType(IntegerType, _)), a)
          if a.references.exists(_.name == "cluster_id") =>
        ids.toIntArray().toSet
      case In(a, values) if a.references.exists(_.name == "cluster_id") =>
        values.map { case l: Literal => l.value.asInstanceOf[Int] }.toSet
      case InSet(a, values) if a.references.exists(_.name == "cluster_id") =>
        values.map(_.asInstanceOf[Int])
    }

  /** The `cluster_id=<n>` partition directories under a store path. */
  def storeClusters(path: String): Set[Int] =
    new java.io.File(path).listFiles().map(_.getName)
      .collect { case n if n.startsWith("cluster_id=") => n.stripPrefix("cluster_id=").toInt }
      .toSet
}
