package graft.operators

import graft.{ProbeReference, SparkSpec}
import graft.types.Metric
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** The driver-side probe ([[IvfIndex.probe]]) must pick exactly the
  * clusters the Spark-side ranking picked ([[ProbeReference.probedIds]]),
  * for arbitrary centroid sets — including null, ragged and
  * NaN-component centroids, duplicate centroids (distance ties), probe
  * budgets at and beyond the centroid count, and an empty centroid set —
  * under both metrics — and the batch window ([[IvfIndex.probeBatch]])
  * must cut every query of a frame exactly as the driver probe cuts that
  * query alone. Deterministic seeded generators, the CrudPropSpec
  * discipline. */
class ProbePropSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 4

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, rng.Seed(seed))

  /** One centroid: mostly a plain vector, sometimes null, ragged, with a
    * NaN component, or a copy of an earlier centroid (a tie). */
  private def centroid(rnd: scala.util.Random, earlier: Seq[Seq[Float]]): Seq[Float] =
    rnd.nextInt(10) match {
      case 0 => null
      case 1 => Seq.fill(dim + 1)(rnd.nextFloat())
      case 2 => Seq.fill(dim)(rnd.nextFloat()).updated(rnd.nextInt(dim), Float.NaN)
      case 3 | 4 if earlier.exists(_ != null) => earlier.filter(_ != null)(rnd.nextInt(earlier.count(_ != null)))
      // few distinct values: distance ties between distinct vectors
      case _ => Seq.fill(dim)(rnd.nextInt(3).toFloat)
    }

  private val caseGen: Gen[(Int, Long)] = for {
    k <- Gen.chooseNum(0, 12)
    vseed <- Gen.chooseNum(1L, 1000000L)
  } yield (k, vseed)

  /** The seeded cases: a centroid frame with its printed rows, the
    * generator for its queries, and its probe budgets. */
  private def cases: Seq[(Long, DataFrame, String, scala.util.Random, Seq[Int])] =
    (1L to 20L).map { seed =>
      val (k, vseed) = sample(caseGen, seed)
      val rnd = new scala.util.Random(vseed)
      val vecs = (0 until k).foldLeft(Seq.empty[Seq[Float]])((acc, _) => acc :+ centroid(rnd, acc))
      // shuffled ids, so the id tiebreak is not the row order
      val ids = rnd.shuffle((0 until k).map(_ * 3 + 1))
      val cents = ids.zip(vecs).toDF("cluster_id", "centroid")
        .withColumn("centroid", col("centroid").cast("array<float>"))
      val budgets = Seq(1, 2, k / 2, k, k + 3).distinct
      (seed, cents, s"k $k, centroids ${ids.zip(vecs)}", rnd, budgets)
    }

  private def queryVec(rnd: scala.util.Random): Seq[Float] = Seq.fill(dim)(rnd.nextInt(3).toFloat)

  test("driver probe == the Spark-side ranking, for arbitrary centroid sets, " +
    "budgets and both metrics") {
    cases.foreach { case (seed, cents, shown, rnd, budgets) =>
      val q = Seq(Tuple1(queryVec(rnd))).toDF("qvec")
      val held = IvfIndex.ProbeCentroids(cents)
      val row = Knn.QueryRow(q)
      for (metric <- Seq(Metric.Euclidean, Metric.Cosine); probes <- budgets) {
        val got = IvfIndex.probe(held, row, metric).take(probes).map(held.ids).toSeq
        val want = ProbeReference.probedIds(cents, q, probes, metric)
        assert(got === want,
          s"seed $seed, probes $probes, ${metric.name}, $shown")
      }
    }
  }

  test("the batch window (probeBatch) cuts each query's probe list exactly as " +
    "the driver probe does for that query alone") {
    cases.foreach { case (seed, cents, shown, rnd, budgets) =>
      // plain queries, one with a NaN component, one ragged (no distance)
      val qvecs = Seq(queryVec(rnd), queryVec(rnd),
        queryVec(rnd).updated(rnd.nextInt(dim), Float.NaN), Seq.fill(dim + 1)(1.0f))
      val queries = qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("query_id", "qvec")
      val held = IvfIndex.ProbeCentroids(cents)
      for (metric <- Seq(Metric.Euclidean, Metric.Cosine); probes <- budgets) {
        val batch = IvfIndex.probeBatch(cents, queries, col("qvec"), metric, probes)
          .select("query_id", "cluster_id").as[(Long, Int)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
        qvecs.indices.foreach { i =>
          val alone = Knn.QueryRow(Seq(Tuple1(qvecs(i))).toDF("qvec"))
          val want = IvfIndex.probe(held, alone, metric).take(probes).map(held.ids).toSeq
          assert(batch.getOrElse(i.toLong, Seq.empty) === want.sorted,
            s"seed $seed, probes $probes, ${metric.name}, query $i, $shown")
        }
      }
    }
  }

  test("an empty centroid set probes nothing, on the driver as in Spark") {
    val cents = Seq.empty[(Int, Seq[Float])].toDF("cluster_id", "centroid")
    val q = Seq(Tuple1(Seq.fill(dim)(1.0f))).toDF("qvec")
    val held = IvfIndex.ProbeCentroids(cents)
    for (metric <- Seq(Metric.Euclidean, Metric.Cosine)) {
      assert(IvfIndex.probe(held, Knn.QueryRow(q), metric).isEmpty)
      assert(ProbeReference.probedIds(cents, q, 3, metric).isEmpty)
    }
  }
}
