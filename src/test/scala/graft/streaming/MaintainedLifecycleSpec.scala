package graft.streaming

import graft.types.Metric
import org.apache.spark.sql.functions._

/** Crash-safety and recovery of the [[MaintainedIngest]] store
  * lifecycle (round-8 streaming review): version publish must be staged
  * (a crash mid-rewrite never makes a partial or centroid-less version
  * the authoritative newest), restart must tolerate a crashed FIRST
  * append's debris, and the drift monitor's cross-restart state fold
  * must fail loudly on geometry mismatch instead of zip-truncating. */
class MaintainedLifecycleSpec extends graft.SparkSpec {
  import spark.implicits._

  private val dim = 8

  private def wave(ids: Range, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat()),
      Map("k" -> i.toString))).toDF("id", "embedding", "metadata")
  }

  test("refine publish is staged: crashed-attempt debris (stale staging " +
    "dirs, a half-published centroids target) is replaced, no tmp survives, " +
    "every listed version carries centroids") {
    val base = java.nio.file.Files.createTempDirectory("graft_staged")
    val inDir = s"$base/in"; val storeBase = s"$base/store"; val ckpt = s"$base/ckpt"
    val fs = new org.apache.hadoop.fs.Path(storeBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // debris of a refine attempt that crashed BETWEEN the two renames:
    // centroids_v1 published (with garbage), data staging left behind,
    // v1 itself never appeared (so listVersions still says v0 is newest)
    Seq((99, Seq.fill(dim)(9.9f))).toDF("cluster_id", "centroid")
      .write.parquet(s"$storeBase/centroids_v1")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$storeBase/.v1.tmp"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$storeBase/.centroids_v1.tmp"))

    wave(0 until 120, seed = 7).write.mode("append").parquet(inDir)
    val centroids = Seq((0, Seq.fill(dim)(0.2f)), (1, Seq.fill(dim)(0.8f)))
      .toDF("cluster_id", "centroid")
    val job = VectorIngest.startMaintained(spark, inDir, centroids,
      Metric.Euclidean, dim, storeBase, ckpt, density = 40)
    job.streamingQuery.awaitTermination()
    assert(job.refineCount >= 1, "fixture must trip the density trigger")
    assert(job.storePath.endsWith("/v1"))

    // the stale garbage target was replaced by the real refined centroids
    val m = job.model
    val cents = m.centroids.select("cluster_id").as[Int].collect().toSet
    assert(!cents.contains(99), "stale crashed-attempt centroids survived the publish")
    val storeClusters = m.assigned.select("cluster_id").distinct()
      .as[Int].collect().toSet
    assert(storeClusters.subsetOf(cents),
      "published store references cluster ids missing from its centroids")

    // no staging debris, and every listable version has its companion
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(storeBase))
      .map(_.getPath.getName).toSet
    assert(!names.exists(_.endsWith(".tmp")), s"staging debris left: $names")
    // v0 is the append-created initial version (centroids live with the
    // caller); every PUBLISHED version must carry its companion
    graft.sources.Commit.listVersions(fs, storeBase).filter(_ > 0).foreach { v =>
      assert(names.contains(s"centroids_v$v"),
        s"listable v$v lacks its centroids companion")
    }
  }

  test("restart tolerates a crashed FIRST append: v0 holding only " +
    "_temporary debris reads as an empty store, not a wedged job") {
    val base = java.nio.file.Files.createTempDirectory("graft_debris")
    val inDir = s"$base/in"; val storeBase = s"$base/store"; val ckpt = s"$base/ckpt"
    val fs = new org.apache.hadoop.fs.Path(storeBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // v0 exists (listable) but no parquet ever committed
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$storeBase/v0/_temporary"))

    wave(0 until 25, seed = 11).write.mode("append").parquet(inDir)
    val centroids = Seq((0, Seq.fill(dim)(0.2f)), (1, Seq.fill(dim)(0.8f)))
      .toDF("cluster_id", "centroid")
    // pre-fix this constructor threw UNABLE_TO_INFER_SCHEMA and the job
    // could never restart without manual cleanup
    val job = VectorIngest.startMaintained(spark, inDir, centroids,
      Metric.Euclidean, dim, storeBase, ckpt, density = 40)
    job.streamingQuery.awaitTermination()
    assert(job.model.assigned.count() === 25L)
  }

  test("drift monitor refuses a state dir written at a different dim " +
    "(zip would silently truncate the moment fold)") {
    val base = java.nio.file.Files.createTempDirectory("graft_dimswap")
    val dir = s"$base/in"; val state = s"$base/state"
    val rnd = new scala.util.Random(5)
    (0 until 50).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat()),
        Map.empty[String, String]))
      .toDF("id", "embedding", "metadata").write.mode("append").parquet(dir)
    VectorIngest.startDriftMonitor(spark, dir, dim,
        (0 until dim).map(k => if (k == 0) 1.0 else 0.0), state, s"$base/ckpt1")
      .awaitTermination()
    assert(spark.read.parquet(state).count() === 1L)

    // second wave at HALF the dim, restarted on the SAME checkpoint (so
    // the fold sees the prior batch): it must fail loudly, not mix
    // moments from two geometries
    val half = dim / 2
    (100 until 150).map(i => (i.toLong, Seq.fill(half)(rnd.nextFloat()),
        Map.empty[String, String]))
      .toDF("id", "embedding", "metadata").write.mode("append").parquet(dir)
    val q = VectorIngest.startDriftMonitor(spark, dir, half,
      (0 until half).map(k => if (k == 0) 1.0 else 0.0), state, s"$base/ckpt1")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("dim") || e.getCause != null)
    // state dir still holds exactly the wave-1 fold — nothing corrupted
    assert(spark.read.parquet(state).count() === 1L)
  }
}
