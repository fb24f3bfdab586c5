package graft.streaming

import graft.types.Metric
import org.apache.spark.sql.functions._

/** Per-cluster refine-suppression state of [[MaintainedIngest]]: a
  * degenerate cluster's failed refine must not suppress a DIFFERENT
  * cluster's later (smaller) violation — the r7 global-max regression.
  * Drives `processBatch` directly (same-package access) so both batches
  * hit one long-lived driver state, which is where the suppression
  * logic lives; the restart path is covered in StreamingSpec. */
class MaintainedSuppressionSpec extends graft.SparkSpec {
  import spark.implicits._

  test("failed refine on a degenerate cluster does not suppress another cluster's smaller violation") {
    val dim = 8
    val base = java.nio.file.Files.createTempDirectory("graft_suppr")
    val c0 = Seq.fill(dim)(0.1f)
    val c1 = Seq.fill(dim)(5.0f)
    val centroids = Seq((0, c0), (1, c1)).toDF("cluster_id", "centroid")
    val job = new MaintainedIngest(spark, centroids, Metric.Euclidean, dim,
      s"$base/store", density = 10)

    // batch 1: 25 IDENTICAL records at c0 — the cluster violates density
    // but 2-means cannot split identical points: refine attempt fails,
    // recording the per-cluster suppression entry (0 -> 25)
    val degenerate = (0 until 25)
      .map(i => (i.toLong, c0, Map("k" -> i.toString)))
      .toDF("id", "embedding", "metadata")
    job.processBatch(degenerate)
    assert(job.refineCount === 0, "degenerate cluster must not produce a rewrite")

    // batch 2: 15 distinct records near c1 — cluster 1 violates at a
    // size BELOW the recorded failed max (15 < 25). The old global-max
    // suppression skipped this productive split; per-cluster state must
    // fire it.
    val rnd = new scala.util.Random(7)
    val fresh = (100 until 115)
      .map(i => (i.toLong, c1.map(_ + rnd.nextFloat() * 0.5f), Map("k" -> i.toString)))
      .toDF("id", "embedding", "metadata")
    job.processBatch(fresh)
    assert(job.refineCount === 1,
      "fresh violation on a different cluster was suppressed by the degenerate one")
    val sizes = job.model.assigned.groupBy(col("cluster_id")).count()
      .as[(Int, Long)].collect().toMap
    assert(sizes.values.sum === 40L, "records lost across ingest + refine")
    // every cluster except the unsplittable degenerate one honors density
    val (degClusters, splitClusters) = sizes.partition(_._2 === 25L)
    assert(degClusters.size === 1, s"expected exactly one 25-member degenerate cluster: $sizes")
    assert(splitClusters.values.forall(_ <= 10), s"density not restored: $sizes")

    // batch 3: nothing new — the degenerate cluster still violates at
    // exactly its RECORDED size, so no refine attempt re-fires
    val empty = Seq.empty[(Long, Seq[Float], Map[String, String])]
      .toDF("id", "embedding", "metadata")
    job.processBatch(empty)
    assert(job.refineCount === 1, "suppressed degenerate violation re-fired a refine")
  }
}
