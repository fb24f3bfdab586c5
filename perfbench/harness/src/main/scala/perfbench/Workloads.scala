package perfbench

import java.io.File

import scala.collection.mutable.LinkedHashMap

import graft.Caching
import graft.functions.FilterDsl
import graft.operators.{Crud, IvfIndex, Knn}
import graft.sources.Records
import graft.types.Metric
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The workloads. Each one opens its inputs, sets up [[SetupWarm]] times
  * untimed (reader and JIT start-up) and then [[SetupRepeats]] times, so
  * the median set-up time is steady, warms the code paths it will time, and
  * then runs its client operations in a closed loop for the run's
  * seconds. Spans wrap every call into a graft layer; their names start
  * with the layer: `operators`, `exec` (the action that runs a plan),
  * `sources`, `caching`, `ivf`, `functions` and `queries`. */
object Workloads {
  /** The generator's vector dimension (`gen.DIM`). */
  val Dim = 64
  val K = 10
  val Probes = 32
  val Density = 256
  val SetupWarm = 2
  val SetupRepeats = 5

  val all: Map[String, Run => Unit] = Map("ann_serve" -> annServe, "catalog" -> catalog)

  /** A raw little-endian array the generator wrote (`<name>.f4` / `.i4`)
    * among the vector inputs. */
  private def raw(r: Run, file: String): java.nio.ByteBuffer =
    java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${r.vectorInputs}/$file"))).order(java.nio.ByteOrder.LITTLE_ENDIAN)

  private def vectors(r: Run, name: String): Array[Array[Float]] = {
    val fb = raw(r, s"$name.f4").asFloatBuffer()
    Array.fill(fb.remaining / Dim) { val v = new Array[Float](Dim); fb.get(v); v }
  }

  private def ints(r: Run, name: String): Array[Int] = {
    val ib = raw(r, s"$name.i4").asIntBuffer()
    Array.fill(ib.remaining)(ib.get())
  }

  private def queryFrame(r: Run, v: Array[Float]): DataFrame = {
    import r.spark.implicits._
    Seq(v.toSeq).toDF("qvec")
  }

  private def centroids(r: Run): DataFrame =
    r.spark.read.parquet(s"${r.vectorInputs}/centroids.parquet")

  /** Run `df` and record its (id, distance) rows on the operation record. */
  private def collectTopK(r: Run, df: DataFrame, rec: LinkedHashMap[String, Any]): Unit = {
    val rows = r.tracer.span("exec.action")(df.select("id", "distance").collect())
    rec("ids") = rows.map(_.getLong(0)).toSeq
    rec("dists") = rows.map(_.getDouble(1)).toSeq
  }

  /** Scan-plus-distance pass: every stored vector against
    * [[ScanQueries]] queries with
    * the native kernel, reduced to a count so nothing but the kernel and
    * the scan is timed. Traced runs only. */
  private def distanceScan(r: Run, store: DataFrame, queries: Array[Array[Float]]): Unit =
    if (r.tracer.enabled) {
      import r.spark.implicits._
      val qs = queries.take(ScanQueries).map(_.toSeq).toSeq.toDF("qvec")
      val pass = r.tracer.span("operators.plan_build")(
        store.crossJoin(broadcast(qs))
          .select(Metric.Euclidean.distance(col("embedding"), col("qvec")).as("d"))
          .agg(count(when(col("d") >= 0, 1)).as("n")))
      val t = System.nanoTime()
      val n = r.tracer.span("functions.distance_scan")(pass.collect()(0).getLong(0))
      r.extra("distance_pairs_per_s") = n / ((System.nanoTime() - t) / 1e9)
    }

  /** Rows one query scans at the serving probe budget, from the
    * program's own probe-cost report. Traced runs only. */
  private def probeCost(r: Run, model: IvfIndex.Model, queries: Array[Array[Float]]): Unit =
    if (r.tracer.enabled) {
      r.extra("rows_scanned_per_query") = r.tracer.span("ivf.probe_cost")(
        IvfIndex.probeCost(model, queryFrame(r, queries(0)), Seq(Probes))
          .select("rows_scanned").collect()(0).getLong(0).toDouble)
    }

  /** The serving index: the generated store assigned to the generator's
    * centroids and held in the session cache. */
  private def openIndex(r: Run): IvfIndex.Model = {
    val cents = centroids(r)
    val store = r.tracer.span("sources.open")(Records.open(r.spark, s"${r.vectorInputs}/store"))
    val assigned = r.tracer.span("caching.ensure_cached")(
      Caching.ensureCached(IvfIndex.assign(store, cents, Metric.Euclidean)))
    r.tracer.span("exec.action")(assigned.count())
    r.extra("cached_mb") = cachedMb(r)
    IvfIndex.Model(cents, assigned)
  }

  /** The layers no workload loop reaches, probed once at the end of every
    * traced run so that each workload reports every per-layer metric:
    * the IVF probe cost, the distance kernels, an index build from scratch
    * and the store's write path. */
  private def layerProbes(r: Run, model: IvfIndex.Model): Unit =
    if (r.tracer.enabled) {
      val queries = vectors(r, "queries")
      probeCost(r, model, queries)
      distanceScan(r, model.assigned, queries)
      buildProbe(r, model.assigned.drop("cluster_id"))
      writeProbe(r, model)
    }

  /** Sequential single-vector queries against an index assigned from the
    * generator's centroids and held in the session cache: IVF top-10 at
    * probes = 32, the same with a metadata filter, and exact search. */
  def annServe(r: Run): Unit = {
    val queries = vectors(r, "queries")
    val labels = ints(r, "queries.label")
    var model: IvfIndex.Model = null
    def setUp(timed: Boolean): Unit = {
      if (model != null) model.assigned.unpersist(true)
      model = if (timed) r.setup(openIndex(r)) else openIndex(r)
    }
    (1 to SetupWarm).foreach(_ => setUp(timed = false))
    (1 to SetupRepeats).foreach(_ => setUp(timed = true))
    // the fixed mix: 2 IVF, 1 filtered IVF, 1 exact per 4 operations
    def kindOf(i: Int): String = i % 4 match {
      case 1 => "ivf_filtered"
      case 3 => "knn_exact"
      case _ => "ivf"
    }
    def step(i: Int, warm: Boolean): Unit = {
      val qid = (i * 7919) % queries.length
      val q = queries(qid)
      val kind = kindOf(i)
      val body: LinkedHashMap[String, Any] => Unit = rec => {
        rec("q") = qid
        val df = r.tracer.span("operators.plan_build") {
          val qdf = queryFrame(r, q)
          kind match {
            case "ivf" => IvfIndex.query(model, qdf, K, Probes)
            case "ivf_filtered" =>
              rec("label") = labels(qid)
              IvfIndex.query(model, qdf, K, Probes,
                filter = FilterDsl.predicate(col("metadata"), s"label = ${labels(qid)}"))
            case _ => Knn.search(model.assigned, qdf, K)
          }
        }
        collectTopK(r, df, rec)
      }
      if (warm) body(LinkedHashMap.empty) else r.op(i, kind)(body)
    }
    (0 until WarmOps).foreach(i => step(i + 100000, warm = true))
    r.timed(30, refEvery = 4) { i => step(i, warm = false); true }
    layerProbes(r, model)
  }

  /** Untimed serving operations before the timed loop. The JIT keeps
    * compiling Spark's planner for tens of seconds (IVF latency falls from
    * about 250 ms to 150 ms over the first 60 queries), and with 16
    * warm-up queries the run-to-run spread of the p50 was 18%, with 60
    * about 5%. */
  val WarmOps = 48

  /** Index build from scratch, traced runs only: the k-means fit over the
    * whole store (`ivf.fit`) and the assignment materialized in the
    * session cache (`ivf.assign`). */
  private def buildProbe(r: Run, store: DataFrame): Unit =
    if (r.tracer.enabled) {
      val model = r.tracer.span("ivf.fit")(IvfIndex.build(store, Density, maxIter = BuildIters))
      r.tracer.span("ivf.assign") {
        val a = Caching.ensureCached(model.assigned)
        a.count()
        a.unpersist(true)
      }
    }

  /** Fixed k-means iteration budget: MLlib stops early once centroids
    * move less than the tolerance, which would make the fit's length
    * depend on the seed rather than on the code. */
  val BuildIters = 5

  val ScanQueries = 100

  /** The store's write path, traced runs only: the generated change
    * batch (1% of the store) goes through `Crud.merge` into a new store
    * version (`Records.snapshot`) and through `IvfIndex.applyDiff` into a
    * new partitioned index (`writePartitioned`). The freshly written,
    * uncached index then serves the read-your-writes probes. */
  private def writeProbe(r: Run, model: IvfIndex.Model): Unit =
    if (r.tracer.enabled) {
      val changes = r.spark.read.parquet(s"${r.vectorInputs}/changes.parquet")
      val storeOut = s"${r.work}/store_v1"
      val indexOut = s"${r.work}/index_v1"
      val store = r.tracer.span("sources.open")(
        Records.open(r.spark, s"${r.vectorInputs}/store"))
      val merged = r.tracer.span("operators.merge")(Crud.merge(store, changes))
      r.tracer.span("sources.snapshot")(Records.snapshot(merged, storeOut))
      val next = r.tracer.span("operators.apply_diff")(
        IvfIndex.applyDiff(model, changes, Metric.Euclidean))
      r.tracer.span("sources.index_write")(IvfIndex.writePartitioned(next, indexOut))
      val written = IvfIndex.Model(model.centroids,
        r.tracer.span("sources.open")(Records.open(r.spark, indexOut)))
      val probes = vectors(r, "probes")
      probes.indices.foreach { p =>
        r.op(p, "store_read") { rec =>
          rec("probe") = p
          val df = r.tracer.span("operators.plan_build")(
            IvfIndex.query(written, queryFrame(r, probes(p)), K, Probes))
          collectTopK(r, df, rec)
        }
      }
      val files = Seq(storeOut, indexOut).flatMap(d => listFiles(new File(d)))
        .filter(_.getName.endsWith(".parquet"))
      r.extra("files_written") = files.length
      r.extra("bytes_written") = files.map(_.length).sum
      r.extra("live_rows") = Records.open(r.spark, storeOut).count()
    }

  /** A fixed slice of the query catalog (`SparkEntry.queries`), in sorted
    * order, each materialized into the noop sink, with the session cache
    * cleared at every family boundary. Session fixtures are not warmed,
    * so their builds land in the first consumer's time. */
  def catalog(r: Run): Unit = {
    val queries = graft.SparkEntry.queries
    val names = r.catalogQueries.sorted
    val dir = r.inputs
    r.extra("oracle_sql") = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    // set-up: a read of every table
    def readAll(): Unit = r.tracer.span("sources.open")(Tables.foreach(t =>
      r.spark.read.parquet(s"$dir/$t.parquet").write.format("noop").mode("overwrite").save()))
    (1 to SetupWarm).foreach(_ => readAll())
    (1 to SetupRepeats).foreach(_ => r.setup(readAll()))
    // one pass over the slice; a traced run makes a second, warm pass so
    // that its untraced loop (a third pass) has a like-for-like partner
    val passes = if (r.tracer.enabled) 2 else 1
    r.timed(passes, refEvery = 0) { p =>
      var prevFamily = ""
      names.zipWithIndex.foreach { case (name, j) =>
        val family = familyOf(name)
        if (family != prevFamily) { r.spark.catalog.clearCache(); prevFamily = family }
        var df: DataFrame = null
        r.op(p * names.length + j, "catalog_query") { rec =>
          rec("query") = name
          rec("family") = family
          rec("pass") = p
          r.tracer.span(s"queries.$family") {
            df = r.tracer.span("operators.plan_build")(queries(name)(r.spark, dir))
            r.tracer.span("exec.action")(df.write.format("noop").mode("overwrite").save())
          }
        }
        // the row count for the oracle check runs outside the timed operation
        if (p == 0 && df != null && !r.ops.last.contains("error"))
          r.ops.last("rows") = df.count()
        r.readHostSpeed()
      }
      p + 1 < passes
    }
    if (r.tracer.enabled) layerProbes(r, openIndex(r))
  }

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "embeddings", "documents")

  val Families = Seq("events", "corpus", "ivf", "dedup", "text", "embed", "ann", "snapshot")
  def familyOf(name: String): String = {
    val f = name.takeWhile(_ != '_')
    if (Families.contains(f)) f else "other"
  }

  private def cachedMb(r: Run): Double =
    r.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(listFiles) else Seq(f)
}
