package graft

import graft.functions.FilterDsl
import graft.operators.{IvfIndex, Knn}
import graft.types.Metric
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** The law of the prepared plans' top-k runner: on a bound copy of the
  * IVF, filtered-IVF and exact prepared plans, [[PlanBridge.takeOrdered]]
  * returns the rows the plan's own `executeCollect()` returns, bit for
  * bit and in order, on a store with ties, an empty cached partition and
  * stored NaN embeddings; and so it does on a top-k root whose
  * projection is not its child's output. */
class PlanBridgeSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 4

  /** Six distinct vectors, each stored eight times (ids 0–47), so every
    * query's distances tie in runs of eight; four clusters holding every
    * vector; one NaN embedding per cluster (ids 100–103). */
  private lazy val store: DataFrame = {
    val rnd = new scala.util.Random(11)
    val vectors = Seq.fill(6)(Seq.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until 48).map(i =>
      (i.toLong, vectors(i % 6), Map("label" -> (i % 3).toString), (i / 6) % 4)) ++
      (0 until 4).map(c =>
        (100L + c, Seq(Float.NaN, 0f, 0f, 0f), Map("label" -> "2"), c))
    // five partitions, the last one empty
    val parts = spark.sparkContext.parallelize(rows, 4)
      .union(spark.sparkContext.parallelize(rows.take(0), 1))
    val df = Caching.ensureCached(parts.toDF("id", "embedding", "metadata", "cluster_id"))
    df.count()
    df
  }

  private lazy val centroids: DataFrame =
    (0 until 4).map(c => (c, Seq.tabulate(dim)(j => (c * dim + j).toFloat / 8)))
      .toDF("cluster_id", "centroid")

  private lazy val model = IvfIndex.Model(centroids, store)

  private def query(id: Long): DataFrame =
    store.where(col("id") === id).select(col("embedding").as("qvec"))

  private def label(v: Int): Column = FilterDsl.predicate(col("metadata"), s"label = $v")

  /** The prepared plan `serve` ran, bound with `q`'s values: the IVF
    * plan over `probes` clusters, or the exact plan. Its root is the
    * top-k heap. */
  private def boundPlan(q: DataFrame, probes: Option[Int]): TakeOrderedAndProjectExec = {
    val plans = Knn.Prepared.plans(store)
    assert(plans.nonEmpty, "the call was not served from a prepared plan")
    Knn.Prepared.bind(plans.last, Knn.QueryRow(q),
      probes.map(p => ProbeReference.probedIds(centroids, q, p, Metric.Euclidean))) match {
      case top: TakeOrderedAndProjectExec if top.offset == 0 => top
      case other => fail(s"not a top-k root: $other")
    }
  }

  /** Serve `call`, then run its bound plan with the runner and with
    * `executeCollect`; the two must be the same rows in the same order. */
  private def sameRows(name: String, q: DataFrame, probes: Option[Int])(call: => DataFrame)
      : Seq[(Long, Double)] = {
    val served = call.select("id", "distance").as[(Long, Double)].collect().toSeq
    val bound = boundPlan(q, probes)
    val ran = PlanBridge.takeOrdered(bound).toSeq
    val collected = bound.executeCollect().toSeq
    assert(ran === collected, name)
    assert(ran.map(r => (r.getLong(0), r.getDouble(2))) === served, name)
    served
  }

  /** The three prepared shapes at `k` under `filter`. */
  private def shapes(k: Int, filter: Column): Seq[(String, DataFrame => DataFrame, Option[Int])] =
    Seq(
      ("ivf", q => IvfIndex.query(model, q, k, probes = 3), Some(3)),
      ("filtered ivf", q => IvfIndex.query(model, q, k, probes = 3, filter = filter), Some(3)),
      ("exact", q => Knn.search(store, q, k, filter = filter), None))

  test("the store has an empty cached partition and NaN embeddings") {
    val sizes = store.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length === 5 && sizes.contains(0), sizes.toSeq)
    assert(store.where(isnan(col("embedding")(0))).count() === 4)
  }

  test("ties at the k-th distance are broken by id, as executeCollect breaks them") {
    Seq(0L, 7L).foreach { id =>
      val q = query(id)
      shapes(10, label(1)).foreach { case (name, run, probes) =>
        val got = sameRows(s"$name, query $id", q, probes)(run(q))
        assert(got.size === 10, name)
        // the k-th distance is shared by a row the top-k leaves out
        val wider = sameRows(s"$name k = 40, query $id", q, probes)(
          shapes(40, label(1)).find(_._1 == name).get._2(q))
        assert(wider.count(_._2 == got.last._2) > got.count(_._2 == got.last._2), name)
        assert(got.map(_._1) === got.sortBy(r => (r._2, r._1)).map(_._1), name)
      }
    }
  }

  test("fewer candidates than k: every candidate, no NaN distance") {
    val q = query(3)
    shapes(200, label(2)).foreach { case (name, run, probes) =>
      val got = sameRows(name, q, probes)(run(q))
      assert(got.nonEmpty && got.size < 200, name)
      assert(got.forall(r => !r._2.isNaN && r._1 < 100), name)
    }
  }

  test("a projection that is not the child's output is applied as executeCollect applies it") {
    val df = spark.range(0, 50, 1, 3).selectExpr("id", "id % 7 AS m", "CAST(id AS STRING) AS s")
      .orderBy(col("m"), col("id").desc).limit(9)
      .select(col("s"), (col("m") + 1).as("m1"))
    val top = PlanBridge.physicalPlan(df) match {
      case t: TakeOrderedAndProjectExec => t
      case other => fail(s"not a top-k root: $other")
    }
    assert(top.projectList !== top.child.output)
    val ran = PlanBridge.takeOrdered(top).toSeq
    assert(ran === top.executeCollect().toSeq)
    assert(ran.map(r => (r.getUTF8String(0).toString, r.getLong(1))) ===
      Seq(49, 42, 35, 28, 21, 14, 7, 0, 43).map(i => (i.toString, i % 7 + 1L)))
  }

  test("a filter that admits nothing answers empty") {
    val q = query(3)
    shapes(10, label(9)).filter(_._1 != "ivf").foreach { case (name, run, probes) =>
      assert(sameRows(name, q, probes)(run(q)).isEmpty, name)
    }
  }
}
