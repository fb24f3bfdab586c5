package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** Streaming ≡ batch: the windowed aggregation produces the same result
  * incrementally (Structured Streaming) as in one batch pass. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hourly agg over events equals the batch result") {
    val batch = EventStream.loadEvents(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"),
        round(col("value_sum"), 6).as("value_sum"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet

    val q = EventStream.startToMemory(spark, sf0001, "stream_agg_test")
    q.awaitTermination() // AvailableNow terminates after draining
    val streamed = spark.table("stream_agg_test")
      .select(col("hour"), col("event_type"), col("n"),
        round(col("value_sum"), 6).as("value_sum"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
      .groupBy(r => (r._1, r._2))
      // update mode re-emits refined windows; the LAST emission per key is
      // the final state — memory sink appends, so dedupe keeping max n
      .map(_._2.maxBy(_._3)).toSet

    assert(streamed === batch)
  }

  test("streaming DAU (watermarked distinct) equals batch on closed days") {
    val batch = EventStream.loadEvents(spark, sf0001)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("dau"))
      .as[(java.sql.Timestamp, Long)].collect().toMap

    val q = EventStream.startDauToMemory(spark, sf0001, "stream_dau_test")
    q.awaitTermination()
    val streamed = spark.table("stream_dau_test")
      .as[(java.sql.Timestamp, Long)].collect()

    // append mode: only watermark-closed days emit; every emitted day
    // must match the batch count exactly, and most days must have closed
    assert(streamed.nonEmpty && streamed.length >= batch.size - 2,
      s"expected most of ${batch.size} days closed, got ${streamed.length}")
    streamed.foreach { case (day, dau) =>
      assert(batch.get(day).contains(dau), s"day $day: stream $dau vs batch ${batch.get(day)}")
    }
    // no day emitted twice (exactly-once per closed window)
    assert(streamed.map(_._1).distinct.length === streamed.length)

    // a watermark shorter than the 1-day dedup key granularity would
    // evict (user, day) state mid-day and double-count — rejected loudly
    val events = EventStream.loadEvents(spark, sf0001)
    intercept[IllegalArgumentException](
      EventStream.dailyActiveUsers(events, watermark = "1 hour"))
    // at-or-above the granularity is accepted, in any interval spelling
    EventStream.dailyActiveUsers(events, watermark = "25 hours")
    EventStream.dailyActiveUsers(events, watermark = "2 days")
  }

  test("streaming sessionization (session_window) equals the batch result") {
    val batch = EventStream.loadEvents(spark, sf0001)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("value_sum"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("value_sum"))
      .as[(java.sql.Timestamp, Long, Long, Double)].collect().toSet

    val q = EventStream.startSessionsToMemory(spark, sf0001, "stream_sessions_test")
    q.awaitTermination()
    val streamed = spark.table("stream_sessions_test")
      .select(col("session_start"), col("user_id"), col("n_events"),
        round(col("value_sum"), 6).as("value_sum"))
      .as[(java.sql.Timestamp, Long, Long, Double)].collect().toSet

    // append mode emits a session exactly once, when the watermark closes
    // it; sessions still open at end-of-input stay in state → streamed is
    // a strict-subset view that must agree row-for-row with batch
    assert(streamed.subsetOf(batch),
      s"rows not in batch: ${(streamed -- batch).take(3)}")
    assert(streamed.size >= (batch.size * 8) / 10,
      s"only ${streamed.size}/${batch.size} sessions closed")
  }

  test("streamed day-partitioned event log == snapshot layout; pruned reads agree") {
    import graft.sources.EventLog
    val base = java.nio.file.Files.createTempDirectory("graft_evstream").toString
    val q = EventLog.appendStream(
      EventStream.readEvents(spark, sf0001), s"$base/store", s"$base/ckpt")
    q.awaitTermination() // AvailableNow terminates after draining
    val windowed = EventLog.timeRange(spark, s"$base/store",
      "2024-01-10 00:00:00", "2024-01-13 00:00:00")
    val batch = EventStream.loadEvents(spark, sf0001)
      .where(col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
        col("ts") < to_timestamp(lit("2024-01-13 00:00:00")))
      .select("event_id").as[Long].collect().toSet
    assert(windowed.collect().map(_.getAs[Long]("event_id")).toSet === batch)
    // the streamed store prunes exactly like the snapshotted one
    val p = windowed.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("event_date"), p)
  }

  test("streaming vector ingest: validate+assign equals batch; invalid dims rejected") {
    import graft.operators.IvfIndex
    import graft.streaming.VectorIngest
    import graft.types.Metric
    val dim = 8
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val rnd = new scala.util.Random(3)
    val good = (0 until 200).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat()), Map("k" -> i.toString)))
    val bad = Seq((999L, Seq.fill(dim + 1)(0.5f), Map("k" -> "bad")))
    (good ++ bad).toDF("id", "embedding", "metadata")
      .write.mode("overwrite").parquet(dir)
    val centroids = good.take(4).map { case (i, e, _) => (i.toInt, e) }
      .toDF("cluster_id", "centroid")

    val q = VectorIngest.startToMemory(spark, dir, centroids, Metric.Euclidean, dim, "ingest_test")
    q.awaitTermination()
    val streamed = spark.table("ingest_test")
      .as[(Long, Int)].collect().toMap

    val batchDf = spark.read.parquet(dir)
    val batch = IvfIndex.assign(
      batchDf.where(size(col("embedding")) === dim), centroids, Metric.Euclidean)
      .select(col("id"), col("cluster_id")).as[(Long, Int)].collect().toMap
    assert(streamed === batch)
    assert(!streamed.contains(999L)) // wrong-width vector rejected
    assert(streamed.size === 200)
  }

  test("streaming MIPS serving: per-batch answers equal the batch operator, " +
    "waves survive a restart on the same checkpoint") {
    import graft.operators.IvfIndex
    import graft.streaming.VectorIngest
    import graft.types.Metric
    val dim = 8
    val rnd = new scala.util.Random(7)
    val recs = (0 until 120).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat())))
      .toDF("id", "embedding")
    // the fixed augmented geometry (IvfQueries.mipsFixedIndex's shape)
    val base = recs.withColumn("__n2",
      graft.functions.NativeExprs.dot(col("embedding"), col("embedding")))
    val m2 = base.agg(max(col("__n2"))).head().getDouble(0)
    val aug = base.select(col("id"), col("embedding"),
      concat(col("embedding").cast("array<double>"),
        array(sqrt(lit(m2) - col("__n2")))).as("__aug"))
    val cents = aug.where(col("id") < 4)
      .select(col("id").cast("int").as("cluster_id"), col("__aug").as("centroid"))
    val assigned = IvfIndex.assign(
        aug.select(col("id"), col("__aug").as("embedding"),
          col("embedding").as("__orig")),
        cents, Metric.Euclidean)
      .select(col("id"), col("cluster_id"), col("__orig").as("embedding"))

    val root = java.nio.file.Files.createTempDirectory("graft_mips_serve")
    val qDir = s"$root/queries"; val out = s"$root/results"; val ckpt = s"$root/ckpt"
    val w1 = (0 until 3).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat())))
    val w2 = (3 until 5).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat())))
    w1.toDF("query_id", "qvec").write.mode("append").parquet(qDir)
    VectorIngest.startMipsServing(spark, qDir, cents, assigned, out, ckpt,
      k = 5, probes = 2).awaitTermination()
    // restart on the same checkpoint: only wave 2 is a new batch
    w2.toDF("query_id", "qvec").write.mode("append").parquet(qDir)
    VectorIngest.startMipsServing(spark, qDir, cents, assigned, out, ckpt,
      k = 5, probes = 2).awaitTermination()

    val streamed = spark.read.parquet(out)
      .select("query_id", "id", "score").as[(Long, Long, Double)].collect().toSet
    val batch = IvfIndex.queryMipsBatch(cents, assigned,
        (w1 ++ w2).toDF("query_id", "qvec"), k = 5, probes = 2)
      .select("query_id", "id", "score").as[(Long, Long, Double)].collect().toSet
    assert(streamed === batch)
    assert(streamed.map(_._1) === (0L until 5L).toSet)
  }

  test("streaming JSONL ingest: good rows land, malformed lines quarantine, stream == batch split") {
    import graft.sources.Records
    import graft.streaming.VectorIngest
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "jsonl_stream").toString
    val inDir = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val lines = Seq(
      """{"id": 1, "embedding": [1.0, 2.0], "metadata": {"k": "v"}}""",
      """{"id": 2, "embedding": [3.0, 4.0]}""",
      """{"id": 3, "embedding": [1.0, 2.0, 3.0]}""",   // wrong dim
      """{"id": 4, "embedding": [5.0, BROKEN""")       // unparseable
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "w0.jsonl"),
      String.join("\n", lines: _*).getBytes)
    val q = VectorIngest.startJsonlQuarantined(spark, inDir, dim = 2,
      s"$base/good", s"$base/quarantine", s"$base/ckpt")
    q.awaitTermination()
    val good = spark.read.parquet(s"$base/good")
    assert(good.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    val quarantined = spark.read.parquet(s"$base/quarantine")
      .select("raw_line").as[String].collect()
    assert(quarantined.length === 2)
    assert(quarantined.exists(_.contains("BROKEN")))
    // ONE split definition: the streamed result equals the batch reader's
    val (bGood, bBad) = Records.fromJsonl(spark, inDir, dim = 2)
    assert(good.select("id", "embedding").as[(Long, Seq[Float])].collect().toSet
      === bGood.select("id", "embedding").as[(Long, Seq[Float])].collect().toSet)
    assert(bBad.count() === 2)
  }

  test("streaming ingest → cluster_id-partitioned store == batch store; probe query still prunes") {
    import graft.operators.IvfIndex
    import graft.streaming.VectorIngest
    import graft.types.Metric
    val dim = 8
    val base = java.nio.file.Files.createTempDirectory("graft_store_e2e")
    val inDir = s"$base/in"
    val rnd = new scala.util.Random(7)
    val good = (0 until 300).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat()), Map("k" -> i.toString)))
    val bad = Seq((999L, Seq.fill(dim + 3)(0.5f), Map("k" -> "bad")))
    (good ++ bad).toDF("id", "embedding", "metadata")
      .write.mode("overwrite").parquet(inDir)
    val centroids = good.take(4).map { case (i, e, _) => (i.toInt, e) }
      .toDF("cluster_id", "centroid")

    // stream: validate + assign + append to the partitioned store
    val streamStore = s"$base/stream_store"
    val q = VectorIngest.startToPartitionedStore(spark, inDir, centroids,
      Metric.Euclidean, dim, streamStore, s"$base/ckpt")
    q.awaitTermination()

    // batch twin: same validate+assign, written via writePartitioned
    val batchStore = s"$base/batch_store"
    val batchModel = IvfIndex.Model(centroids,
      VectorIngest.validateAndAssign(spark.read.parquet(inDir), centroids, Metric.Euclidean, dim))
    IvfIndex.writePartitioned(batchModel, batchStore)

    def storeRows(path: String): Set[(Long, Int, Seq[Float])] =
      spark.read.parquet(path)
        .select(col("id"), col("cluster_id"), col("embedding"))
        .as[(Long, Int, Seq[Float])].collect().toSet
    val streamedRows = storeRows(streamStore)
    assert(streamedRows === storeRows(batchStore))
    assert(streamedRows.size === 300 && !streamedRows.exists(_._1 == 999L))
    // the sink actually laid out hive-style cluster_id partitions
    assert(new java.io.File(streamStore).listFiles()
      .exists(_.getName.startsWith("cluster_id=")))

    // probe query over the STREAM-written store: static partition pruning
    // at the scan, and results identical to the in-memory model
    val disk = IvfIndex.Model(centroids, spark.read.parquet(streamStore))
    // query vector from a filtered scan (a computed query frame)
    val qv = spark.read.parquet(inDir).where(col("id") === 0)
      .select(col("embedding").as("qvec"))
    val probed = IvfIndex.query(disk, qv, 10, probes = 2, Metric.Euclidean)
    val got = probed.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("distance"))).toSet
    // the scan's partition filter names exactly the probed cluster ids,
    // and only those partitions are read
    val probedIds = ProbeReference.probedIds(centroids, qv, 2, Metric.Euclidean).toSet
    val scans = ProbeReference.fileScans(probed)
    val p = probed.queryExecution.executedPlan.toString
    assert(scans.size === 1, p)
    assert(ProbeReference.partitionFilterIds(scans.head) === Some(probedIds),
      p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    assert(scans.head.metrics("numPartitions").value ===
      (probedIds intersect ProbeReference.storeClusters(streamStore)).size)
    val want = IvfIndex.query(batchModel, qv, 10, probes = 2, Metric.Euclidean)
      .select("id", "distance").as[(Long, Double)].collect().toSet
    assert(got === want && got.nonEmpty)

    // maintenance half of the reference's adaptive split: refine the
    // stream-written store as a scheduled batch job and re-write the
    // partitioned layout — 300 rows over 4 clusters (~75 each) violates
    // density=60, so at least one cluster must split, and no record may
    // be lost across the split + rewrite
    val refined = IvfIndex.refine(
      IvfIndex.Model(centroids, spark.read.parquet(streamStore)),
      density = 60, Metric.Euclidean)
    val refinedStore = s"$base/refined_store"
    IvfIndex.writePartitioned(refined, refinedStore)
    val after = spark.read.parquet(refinedStore)
      .groupBy(col("cluster_id")).count()
      .as[(Int, Long)].collect().toMap
    assert(after.values.sum === 300L, "records lost in refine + rewrite")
    assert(after.size > 4, "no cluster split during maintenance")
  }

  test("index maintenance loop end-to-end: ingest waves → refine to density → probe stays exact") {
    // The reference's insert→adaptive-split lifecycle
    // (/root/reference/src/cores/database.rs:227-254 →
    // src/cores/index.rs:127-132) in its batch-native form: streaming
    // ingest appends assigned records to the partitioned store until the
    // density contract is violated, a scheduled refine pass restores it,
    // and the refined index still answers probe queries exactly.
    import graft.operators.{IvfIndex, Knn}
    import graft.streaming.VectorIngest
    import graft.types.Metric
    val dim = 8
    val base = java.nio.file.Files.createTempDirectory("graft_maint")
    val inDir = s"$base/in"
    val store = s"$base/store"
    val ckpt = s"$base/ckpt"
    val rnd = new scala.util.Random(11)
    def wave(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat()), Map("k" -> i.toString)))

    // wave 1: 150 records into a 2-centroid index (density 40 → violated)
    val w1 = wave(0 until 150)
    w1.toDF("id", "embedding", "metadata").write.mode("append").parquet(inDir)
    val centroids = w1.take(2).map { case (i, e, _) => (i.toInt, e) }
      .toDF("cluster_id", "centroid")
    VectorIngest.startToPartitionedStore(spark, inDir, centroids,
      Metric.Euclidean, dim, store, ckpt).awaitTermination()
    // wave 2 arrives later and flows through the SAME checkpoint — the
    // file source processes only the new files (restartable ingest)
    wave(1000 until 1150).toDF("id", "embedding", "metadata")
      .write.mode("append").parquet(inDir)
    VectorIngest.startToPartitionedStore(spark, inDir, centroids,
      Metric.Euclidean, dim, store, ckpt).awaitTermination()

    // maintenance: refine the store to the density fixed point (the
    // reference splits per insert; batch-side the scheduled job calls
    // refine until the contract holds — `eq` return marks the fixed point)
    val density = 40
    var m = IvfIndex.Model(centroids, spark.read.parquet(store))
    var prev: IvfIndex.Model = null
    var rounds = 0
    while (!(m eq prev) && rounds < 16) {
      prev = m
      m = IvfIndex.refine(m, density, Metric.Euclidean)
      rounds += 1
    }
    val sizes = m.assigned.groupBy(col("cluster_id")).count()
      .as[(Int, Long)].collect().toMap
    assert(sizes.values.sum === 300L, "records lost during maintenance")
    assert(sizes.values.max <= density,
      s"density contract not restored: max=${sizes.values.max}")
    assert(sizes.size > 2, "no cluster split during maintenance")

    // the refined index must still answer exactly: probing every cluster
    // equals brute-force top-10 over the ingested records
    val qv = spark.read.parquet(inDir).where(col("id") === 0)
      .select(col("embedding").as("qvec"))
    val viaIndex = IvfIndex.query(m, qv, 10, probes = Int.MaxValue, Metric.Euclidean)
      .select("id", "distance").as[(Long, Double)].collect().toSet
    val exact = Knn.search(
        spark.read.parquet(store).select("id", "embedding", "metadata"),
        qv, 10, Metric.Euclidean)
      .select("id", "distance").as[(Long, Double)].collect().toSet
    assert(viaIndex === exact && viaIndex.size === 10)

    // close the cycle: rewrite the partitioned layout from the refined
    // model; the re-opened store answers identically (ready for the next
    // ingest window)
    val refinedStore = s"$base/refined_store"
    IvfIndex.writePartitioned(m, refinedStore)
    val disk = IvfIndex.Model(m.centroids, spark.read.parquet(refinedStore))
    val viaDisk = IvfIndex.query(disk, qv, 10, probes = Int.MaxValue, Metric.Euclidean)
      .select("id", "distance").as[(Long, Double)].collect().toSet
    assert(viaDisk === exact)
  }

  test("startMaintained: density violation fires refine automatically; restart recovers state") {
    // Same lifecycle as the manual test above, but the refine trigger is
    // part of the job: no manual invocation anywhere.
    import graft.operators.{IvfIndex, Knn}
    import graft.streaming.VectorIngest
    import graft.types.Metric
    val dim = 8
    val base = java.nio.file.Files.createTempDirectory("graft_automaint")
    val inDir = s"$base/in"
    val storeBase = s"$base/store"
    val ckpt = s"$base/ckpt"
    val rnd = new scala.util.Random(23)
    def wave(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat()), Map("k" -> i.toString)))

    // wave 1: 30 records, density 40 — under contract, no refine fires
    val w1 = wave(0 until 30)
    w1.toDF("id", "embedding", "metadata").write.mode("append").parquet(inDir)
    val centroids = w1.take(2).map { case (i, e, _) => (i.toInt, e) }
      .toDF("cluster_id", "centroid")
    val job1 = VectorIngest.startMaintained(spark, inDir, centroids,
      Metric.Euclidean, dim, storeBase, ckpt, density = 40)
    job1.streamingQuery.awaitTermination()
    assert(job1.refineCount === 0, "refine must not fire under the contract")
    assert(job1.storePath.endsWith("/v0"))

    // wave 2 through a RESTARTED job (fresh driver state): 150 more
    // records push clusters past density — the trigger must fire without
    // any manual refine call, and the restart must see wave 1's sizes
    wave(1000 until 1150).toDF("id", "embedding", "metadata")
      .write.mode("append").parquet(inDir)
    val job2 = VectorIngest.startMaintained(spark, inDir, centroids,
      Metric.Euclidean, dim, storeBase, ckpt, density = 40)
    job2.streamingQuery.awaitTermination()
    assert(job2.refineCount >= 1, "density violation did not trigger refine")

    val m = job2.model
    val sizes = m.assigned.groupBy(col("cluster_id")).count()
      .as[(Int, Long)].collect().toMap
    assert(sizes.values.sum === 180L, "records lost across ingest + auto-refine")
    assert(sizes.values.max <= 40,
      s"density contract not restored: max=${sizes.values.max}")
    assert(sizes.size > 2, "no cluster split")

    // the auto-refined index still answers exactly
    val qv = spark.read.parquet(inDir).where(col("id") === 0)
      .select(col("embedding").as("qvec"))
    val viaIndex = IvfIndex.query(m, qv, 10, probes = Int.MaxValue, Metric.Euclidean)
      .select("id", "distance").as[(Long, Double)].collect().toSet
    val exact = Knn.search(
        spark.read.parquet(inDir).select("id", "embedding", "metadata"),
        qv, 10, Metric.Euclidean)
      .select("id", "distance").as[(Long, Double)].collect().toSet
    assert(viaIndex === exact && viaIndex.size === 10)

    // a third job restart with NO new data: recovers the refined version
    // (v>=1, refined centroids), fires nothing
    val job3 = VectorIngest.startMaintained(spark, inDir, centroids,
      Metric.Euclidean, dim, storeBase, ckpt, density = 40)
    job3.streamingQuery.awaitTermination()
    assert(job3.refineCount === 0)
    assert(job3.storePath === job2.storePath, "restart lost the refined store version")
  }

  test("startMaintained: file-count violation fires layout-only compaction") {
    // The complementary maintenance hazard to density: a store that never
    // violates density accretes append files forever. With maxStoreFiles
    // set, the watch (exact counts, listing only touched cluster dirs)
    // must fire a layout-only rewrite — same rows, same assignment, same
    // centroids, next version directory, one file per cluster.
    import graft.streaming.VectorIngest
    import graft.types.Metric
    val dim = 8
    val base = java.nio.file.Files.createTempDirectory("graft_autocompact")
    val inDir = s"$base/in"
    val storeBase = s"$base/store"
    val ckpt = s"$base/ckpt"
    val rnd = new scala.util.Random(31)
    def wave(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat()), Map("k" -> i.toString)))
    val w1 = wave(0 until 20)
    val centroids = w1.take(2).map { case (i, e, _) => (i.toInt, e) }
      .toDF("cluster_id", "centroid")
    def runWave(ids: Range): graft.streaming.MaintainedIngest = {
      // one input file per wave → one task per micro-batch → at most one
      // append file per touched cluster, so the trip point is predictable
      wave(ids).toDF("id", "embedding", "metadata")
        .repartition(1).write.mode("append").parquet(inDir)
      val job = VectorIngest.startMaintained(spark, inDir, centroids,
        Metric.Euclidean, dim, storeBase, ckpt,
        density = 1000, maxStoreFiles = 4)
      job.streamingQuery.awaitTermination()
      job
    }
    val j1 = runWave(0 until 20)
    assert(j1.compactionCount === 0 && j1.refineCount === 0)
    val preFiles = j1.storeFileCount
    assert(preFiles > 0)
    // keep appending until the watch trips (each wave adds ≥1 file per
    // touched cluster; the threshold is 4)
    var waves = 1
    var job = j1
    while (job.compactionCount === 0 && waves < 8) {
      job = runWave((waves * 1000) until (waves * 1000 + 20))
      waves += 1
    }
    assert(job.compactionCount >= 1, "file-count violation never fired compaction")
    assert(job.refineCount === 0, "compaction must not refine")
    assert(!job.storePath.endsWith("/v0"), "compaction must advance the version")
    // layout contract: one consolidated file per cluster directory
    val clusters = spark.read.parquet(job.storePath)
      .select("cluster_id").distinct().count().toInt
    assert(job.storeFileCount === clusters,
      s"expected $clusters consolidated files, found ${job.storeFileCount}")
    // no data loss, assignment preserved
    assert(spark.read.parquet(job.storePath).count() === waves * 20L)
    val ids = spark.read.parquet(job.storePath).select("id").as[Long].collect().toSet
    assert(ids.size === waves * 20)
  }

  test("streaming funnel state machine equals the batch funnel's completions") {
    val stages = Seq("view", "click", "purchase")
    val batchEvents = EventStream.loadEvents(spark, sf0001)
    val want = graft.operators.Events.funnel(batchEvents, stages)
      .where(col("stage") === stages.size)
      .select(col("user_id"), col("purchase_ts"))
      .as[(Long, java.sql.Timestamp)].collect().toSet
    assert(want.nonEmpty, "test corpus must contain completed funnels")

    val q = EventStream.startFunnelToMemory(spark, sf0001, stages, "stream_funnel_test")
    q.awaitTermination()
    val got = spark.table("stream_funnel_test")
      .select(col("user_id"), col("completed_at"))
      .as[(Long, java.sql.Timestamp)].collect().toSet
    assert(got === want)
    // exactly one emission per completed user
    assert(spark.table("stream_funnel_test").count() === got.size.toLong)
  }

  test("streaming funnel: same-timestamp stage pair completes like the " +
    "batch funnel's inclusive bound (stage order, not alphabet)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel_tie").toString
    val t0 = new java.sql.Timestamp(1704067200000L)
    val t1 = new java.sql.Timestamp(1704067260000L)
    // 'click' < 'view' alphabetically: an event-type sort would process
    // click first and never complete; stage-order processing must
    Seq((1L, t0, 1L, "view", 0.0, "{}"),
        (2L, t0, 1L, "click", 0.0, "{}"),
        (3L, t1, 1L, "purchase", 1.0, "{}"),
        (4L, t1, 2L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/w")
    // readEvents expects a FILE named events.parquet (testdata layout)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/w"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
    val q = EventStream.startFunnelToMemory(spark, dir,
      Seq("view", "click", "purchase"), "stream_funnel_tie_test")
    q.awaitTermination()
    val got = spark.table("stream_funnel_tie_test")
      .select("user_id").as[Long].collect().toSet
    assert(got === Set(1L), s"tied-timestamp funnel must complete: $got")
  }

  test("stream-stream time-bounded join equals the batch range join's pairs") {
    val batchEvents = EventStream.loadEvents(spark, sf0001)
    // batch twin: the binned range join with identical bounds — matched
    // pairs only (drop the left-outer null rows)
    val want = graft.operators.Temporal.rangeJoinBinned(
        batchEvents.where(col("event_type") === "purchase"),
        batchEvents.where(col("event_type") === "error"),
        "user_id", "ts", windowSec = 600L)
      .where(col("range_match").isNotNull)
      .select(col("event_id"), col("range_match.event_id"))
      .as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "test corpus must contain purchase-after-error pairs")

    val q = EventStream.startCorrelatedToMemory(spark, sf0001, "stream_corr_test")
    q.awaitTermination()
    val got = spark.table("stream_corr_test")
      .select(col("event_id"), col("r_event_id"))
      .as[(Long, Long)].collect().toSet
    assert(got === want)
    // inner join: exactly one row per matched pair, no duplicates
    assert(spark.table("stream_corr_test").count() === got.size.toLong)
  }

  test("stream-static dim enrichment equals the batch join; missing keys null") {
    // dim snapshot: latest (by ts, then event_id) value per user from the
    // batch table — the serving-time feature snapshot
    val batchEvents = EventStream.loadEvents(spark, sf0001)
    val dim = EventStream.latestPerKey(
      batchEvents.where(col("event_type") === "signup"),
      key = "user_id", ts = "ts", tieBreak = "event_id", valueCols = Seq("value"))
    val want = batchEvents.join(dim, Seq("user_id"), "left_outer")
      .select(col("event_id"), col("dim_value"))
      .as[(Long, Option[Double])].collect().toMap

    val q = EventStream.enrichWithDim(
        EventStream.readEvents(spark, sf0001), dim)
      .select(col("event_id"), col("dim_value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("enrich_test")
      .as[(Long, Option[Double])].collect().toMap
    assert(got === want)
    assert(got.size.toLong === batchEvents.count(), "every event enriched exactly once")
    assert(dim.count() > 0, "dim snapshot must be non-empty for the test to mean anything")
  }

  test("streaming near-dup gate equals the batch gate; distinct docs pass") {
    import graft.streaming.DocIngest
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps near the warm fire in the old house tonight"
    val corpus = Seq(
      (0L, base),
      (1L, "unrelated corpus text about catalyst optimizer rules and " +
        "physical plan selection in distributed query engines"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (100L, base.replace("lazy", "sleepy")),   // near-dup of corpus doc 0
      (101L, base),                              // exact dup of corpus doc 0
      (102L, "completely novel document with fresh tokens nothing shared " +
        "statistics estimation broadcast thresholds adaptive execution"))
    val dir = java.nio.file.Files.createTempDirectory("graft_gate").toString
    incoming.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)

    val (banded, hashes) = DocIngest.corpusIndex(corpus)
    val q = DocIngest.startToMemory(spark, dir, banded, hashes, "gate_test", threshold = 0.4)
    q.awaitTermination()
    val streamed = spark.table("gate_test")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet // dedupes bands

    val batch = DocIngest.matches(spark.read.parquet(dir), banded, hashes, threshold = 0.4)
      .select("doc_id", "dup_of").distinct().as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.contains((100L, 0L)) && streamed.contains((101L, 0L)))
    assert(!streamed.exists(_._1 == 102L), "novel doc must pass the gate unmatched")
  }

  test("streaming decontamination gate: flagged counts equal the batch " +
    "decontaminate across two waves and a restart; clean docs pass") {
    import graft.streaming.DocIngest
    import graft.operators.Corpus
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Files.createTempDirectory("graft_decon_stream")
    val inDir = s"$root/in"
    val store = s"$root/store"
    val flagged = s"$root/flagged"
    val ckpt = s"$root/ckpt"
    // benchmark: two eval items; leak = any shared 8-gram
    val bench = Seq(
      (900L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (901L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val benchGrams = Corpus.gramIndex(bench, 8).cache()
    // wave 1: doc 1 embeds a full benchmark 8-gram run (leaks), doc 2 is
    // clean, doc 3 shares only 7 consecutive tokens (NOT a leak at n=8)
    val w1 = Seq(
      (1L, "prefix alpha beta gamma delta epsilon zeta eta theta iota kappa suffix"),
      (2L, "completely novel text about catalyst rules and physical plans today"),
      (3L, "alpha beta gamma delta epsilon zeta eta padding padding padding"))
    // wave 2 (through a RESTARTED query, same checkpoint): doc 4 leaks
    // from the OTHER benchmark item, doc 5 has null text (no grams)
    val w2 = Seq(
      (4L, "noise one two three four five six seven eight nine ten eleven more"),
      (5L, null.asInstanceOf[String]))
    w1.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startDecontamination(spark, inDir, benchGrams, store, flagged, ckpt)
      .awaitTermination()
    w2.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startDecontamination(spark, inDir, benchGrams, store, flagged, ckpt)
      .awaitTermination()

    val streamedFlagged = spark.read.parquet(flagged)
      .as[(Long, Long)].collect().toSet
    val batchFlagged = Corpus.decontaminate(
        (w1 ++ w2).toDF("doc_id", "text"), bench, n = 8)
      .where(col("n_shared") > lit(0L))
      .as[(Long, Long)].collect().toSet
    assert(streamedFlagged === batchFlagged,
      s"stream flagged $streamedFlagged vs batch $batchFlagged")
    assert(streamedFlagged.map(_._1) === Set(1L, 4L))
    val admitted = spark.read.parquet(store)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(2L, 3L, 5L),
      s"7-token overlap and null text must pass, got $admitted")
  }

  test("streaming language routing: partitions equal the batch classifier " +
    "across two waves and a restart; gramless docs route to und") {
    import graft.streaming.DocIngest
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_langroute")
    val inDir = s"$root/in"
    val store = s"$root/store"
    val ckpt = s"$root/ckpt"
    val train = Seq(
      (1L, "aaab aaba abaa", "aa"), (2L, "aaaa baaa aaab", "aa"),
      (3L, "xxxy xyxx yxxx", "xx"), (4L, "xxxx xyxx xxxy", "xx"))
      .toDF("doc_id", "text", "lang")
    val model = TextOps.nbCharGramModel(train, col("text"), col("lang"))
    model.grams.cache(); model.labels.cache()
    val w1 = Seq((10L, "aaba abab aaaa"), (11L, "xyxy xxxx yxyx"))
    // wave 2 through a RESTARTED query on the same checkpoint: one more
    // classifiable doc, one too short to carry a trigram, one null
    val w2 = Seq((12L, "abab aaab"), (13L, "zq"), (14L, null.asInstanceOf[String]))
    w1.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startLangRouting(spark, inDir, model, store, ckpt).awaitTermination()
    w2.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startLangRouting(spark, inDir, model, store, ckpt).awaitTermination()

    val routed = spark.read.parquet(store)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toSet
    val batchPred = TextOps.nbClassify(
        (w1 ++ w2).toDF("doc_id", "text"), col("text"), model)
      .select("doc_id", "pred_label").as[(Long, String)].collect().toSet
    assert(routed === batchPred ++ Set(10L, 11L, 12L, 13L, 14L)
      .diff(batchPred.map(_._1)).map(_ -> "und"),
      s"stream routing $routed must equal batch predictions plus und rows")
    assert(routed.contains(10L -> "aa") && routed.contains(11L -> "xx")
      && routed.contains(12L -> "aa"))
    assert(routed.contains(13L -> "und") && routed.contains(14L -> "und"),
      "gramless and null docs must route to und, not drop")
  }

  test("streaming NB counts maintenance: store after two waves and a restart " +
    "equals retraining on everything streamed; unlabeled docs skipped") {
    import graft.streaming.DocIngest
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_nbcounts")
    val inDir = s"$root/in"
    val store = s"$root/store"
    val ckpt = s"$root/ckpt"
    def docsDF(rows: Seq[(Long, String, String)]) = rows
      .toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long"))
    val w1 = Seq((1L, "aaab aaba abaa", "aa"), (3L, "xxxy xyxx yxxx", "xx"))
    val w2 = Seq((2L, "aaaa baaa aaab", "aa"), (4L, "xxxx xyxx xxxy", "xx"),
      (5L, "unlabeled text here", null.asInstanceOf[String]))
    docsDF(w1).write.mode("append").parquet(inDir)
    DocIngest.startNbCountsMaintenance(spark, inDir, store, ckpt).awaitTermination()
    docsDF(w2).write.mode("append").parquet(inDir)
    DocIngest.startNbCountsMaintenance(spark, inDir, store, ckpt).awaitTermination()

    val maintained = DocIngest.nbCountsAt(spark, store).get
    val retrained = TextOps.nbCharGramCounts(
      docsDF(w1 ++ w2).where(col("lang").isNotNull), col("text"), col("lang"))
    def g(c: TextOps.NbCounts) = c.gramCounts
      .as[(String, String, Long)].collect().toSet
    def d(c: TextOps.NbCounts) = c.docCounts
      .as[(String, Long)].collect().toSet
    assert(g(maintained) === g(retrained),
      "maintained gram counts must equal retraining on everything streamed")
    assert(d(maintained) === d(retrained))
    assert(!d(maintained).exists(_._1 == null), "null-lang docs must not train")
    // the derived classifiers agree exactly (merge law, end to end)
    val test = Seq((10L, "aaba abab"), (11L, "xyxy xxxx")).toDF("doc_id", "text")
    val fromStore = TextOps.nbClassify(test, col("text"),
      TextOps.nbModelFromCounts(maintained))
      .select("doc_id", "pred_label").as[(Long, String)].collect().toSet
    val fromRetrain = TextOps.nbClassify(test, col("text"),
      TextOps.nbModelFromCounts(retrained))
      .select("doc_id", "pred_label").as[(Long, String)].collect().toSet
    assert(fromStore === fromRetrain)
    // versioned chain: wave-1's state is still readable (time travel)
    val versions = new java.io.File(s"$store/grams").listFiles()
      .map(_.getName).filter(_.startsWith("v=")).sorted
    assert(versions.length === 2, versions.mkString(","))
  }

  test("NB count store publish is STAGED: a failed wave is invisible to " +
    "readers, and the retry publishes it and clears the staging") {
    import graft.streaming.DocIngest
    import graft.operators.TextOps
    val root = java.nio.file.Files.createTempDirectory("graft_nbcounts_staged")
    val inDir = s"$root/in"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    def docsDF(rows: Seq[(Long, String, String)]) = rows
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val w1 = Seq((1L, "aaab aaba abaa", "aa"), (3L, "xxxy xyxx yxxx", "xx"))
    val w2 = Seq((2L, "aaaa baaa aaab", "aa"))
    docsDF(w1).write.mode("append").parquet(inDir)
    DocIngest.startNbCountsMaintenance(spark, inDir, store, ckpt).awaitTermination()

    // poison v=0 with a second row for one of its grams at Long.MaxValue:
    // batch 1's merge then overflows (ANSI sum) in the grams leg, after
    // its docs leg is complete — the write fails half-way through a wave
    val v0 = s"$store/grams/v=0"
    val v0Schema = spark.read.parquet(v0).schema
    val v0Rows = spark.read.parquet(v0).collect()
    val poison = v0Rows.head
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(poison.get(0), poison.get(1), Long.MaxValue)), v0Schema)
      .write.mode("append").parquet(v0)
    docsDF(w2).write.mode("append").parquet(inDir)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      DocIngest.startNbCountsMaintenance(spark, inDir, store, ckpt).awaitTermination())
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$store/$p"))
    assert(!exists("grams/v=1") && !exists("docs/v=1"),
      "a failed wave must publish neither leg")
    // readers still see v=0 — no listed version that cannot be read
    assert(DocIngest.nbCountsAt(spark, store).get.docCounts
      .as[(String, Long)].collect().toSet === Set("aa" -> 1L, "xx" -> 1L))

    // the retry (batch 1 again, off the checkpoint) over the repaired v=0
    spark.createDataFrame(java.util.List.of(v0Rows: _*), v0Schema)
      .write.mode("overwrite").parquet(v0)
    DocIngest.startNbCountsMaintenance(spark, inDir, store, ckpt).awaitTermination()
    val maintained = DocIngest.nbCountsAt(spark, store).get
    val retrained = TextOps.nbCharGramCounts(docsDF(w1 ++ w2), col("text"), col("lang"))
    assert(maintained.gramCounts.as[(String, String, Long)].collect().toSet ===
      retrained.gramCounts.as[(String, String, Long)].collect().toSet)
    assert(maintained.docCounts.as[(String, Long)].collect().toSet ===
      retrained.docCounts.as[(String, Long)].collect().toSet)
    assert(exists("grams/v=1") && exists("docs/v=1"))
    val staging = new org.apache.hadoop.fs.Path(s"$store/.staging")
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty,
      "the retry's publish must consume the staging debris")
  }

  test("streaming admission: quality + language + near-dup gates compose end-to-end") {
    import graft.streaming.DocIngest
    val base = "the quick brown fox jumps over the lazy dog and it is " +
      "a fine day in the old house of the hill it is warm and the fire is lit"
    val corpus = Seq((0L, base)).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, base.replace("lazy", "sleepy")), // near-dup → rejected
      (101L, "it is the best of the days and the worst of the days to be " +
        "in a house of fire and it is a fine day in the hills"), // novel en → admitted
      (102L, "el la de que y en un es el la de que y en un es el la de " +
        "que y en un es la casa es grande y el sol es")) // Spanish → rejected
    val root = java.nio.file.Files.createTempDirectory("graft_admit")
    val inDir = s"$root/in"
    incoming.toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)

    val (banded, hashes) = DocIngest.corpusIndex(corpus)
    val store = s"$root/admitted"
    val q = DocIngest.startAdmission(spark, inDir, banded, hashes, store,
      s"$root/ckpt", lang = "en", minQuality = 0.45, threshold = 0.4)
    q.awaitTermination()
    val admitted = spark.read.parquet(store).select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(101L),
      s"expected only the novel English doc admitted, got $admitted")
  }

  test("streaming admission LM gate: corpus-atypical text rejected, familiar text admitted") {
    import graft.operators.TextOps
    import graft.streaming.DocIngest
    val base = "the quick brown fox jumps over the lazy dog and it is " +
      "a fine day in the old house of the hill it is warm and the fire is lit"
    val corpus = Seq((0L, base)).toDF("doc_id", "text")
    val model = TextOps.charLmModel(corpus, col("text"))
    // both docs pass language (stopword-heavy) — only their CHARACTER
    // statistics differ: 201 reuses corpus words, 202 is consonant soup
    // wrapped in stopwords
    val familiar = (201L, "it is the day of the fox and the dog in the warm house")
    val weird = (202L, "the zxqvw of wkzzt and qqvxz in the vvkwq zzxqv")
    val incoming = Seq(familiar, weird).toDF("doc_id", "text")
    // threshold: midpoint of the two docs' batch scores — the gate must
    // reproduce the batch scorer exactly (same model, stream-static)
    val scores = TextOps.charLmScore(incoming, model, col("text"))
      .select("doc_id", "lm_score").as[(Long, Double)].collect().toMap
    assert(scores(201L) > scores(202L))
    val cut = (scores(201L) + scores(202L)) / 2
    val root = java.nio.file.Files.createTempDirectory("graft_admit_lm")
    val inDir = s"$root/in"
    incoming.write.mode("overwrite").parquet(inDir)
    val (banded, hashes) = DocIngest.corpusIndex(corpus)
    val store = s"$root/admitted"
    val q = DocIngest.startAdmission(spark, inDir, banded, hashes, store,
      s"$root/ckpt", lang = "en", minQuality = 0.0, threshold = 0.4,
      lmModel = Some(model), minLmScore = cut)
    q.awaitTermination()
    val admitted = spark.read.parquet(store).select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(201L),
      s"LM gate must reject the corpus-atypical doc, got $admitted")
  }

  test("stateful exact-dedup gate: first arrival wins, state survives a restart") {
    import graft.streaming.DocIngest
    val root = java.nio.file.Files.createTempDirectory("graft_exact_gate")
    val inDir = s"$root/in"
    val store = s"$root/store"
    val ckpt = s"$root/ckpt"

    // run 1: doc 1 and its same-batch duplicate (higher id loses)
    Seq((1L, "alpha beta gamma"), (5L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startExactDedup(spark, inDir, store, ckpt).awaitTermination()
    val afterRun1 = spark.read.parquet(store).select("doc_id").as[Long].collect().toSet
    assert(afterRun1 === Set(1L, 2L), s"min doc_id per text must win, got $afterRun1")

    // run 2 (fresh query, SAME checkpoint): a replayed duplicate of doc 1
    // must stay suppressed — the keyed state is durable — while the novel
    // doc passes
    Seq((9L, "alpha beta gamma"), (10L, "zeta eta theta"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startExactDedup(spark, inDir, store, ckpt).awaitTermination()
    val afterRun2 = spark.read.parquet(store).select("doc_id").as[Long].collect().toSet
    assert(afterRun2 === Set(1L, 2L, 10L),
      s"duplicate across restart must stay suppressed, got $afterRun2")
  }

  test("composed admission door: quality → exact dedup → near-dup → routing " +
    "equals the batch chain across two waves and a restart") {
    import graft.streaming.DocIngest
    import graft.operators.TextOps
    val base = "the quick brown fox jumps over the lazy dog and it is " +
      "a fine day in the old house of the hill it is warm and the fire is lit"
    val novelEn = "it is the best of the days and the worst of the days to " +
      "be in a house of fire and it is a fine day in the hills"
    val novelEs = "el la de que y en un es el la de que y en un es el la " +
      "de que y en un es la casa es grande y el sol es"
    val corpus = Seq((0L, base)).toDF("doc_id", "text")
    val (banded, hashes) = DocIngest.corpusIndex(corpus)
    // NB routing model: one label per "language" of the fixtures
    val model = TextOps.nbCharGramModel(
      Seq((0L, base, "en"), (1L, novelEn, "en"), (2L, novelEs, "es"))
        .toDF("doc_id", "text", "lang"),
      col("text"), col("lang"))
    model.grams.cache(); model.labels.cache()

    val w1 = Seq(
      (100L, base.replace("lazy", "sleepy")), // near-dup of corpus → dropped
      (101L, novelEn),                        // admitted, routed en
      (105L, novelEn),                        // same-batch exact dup → suppressed
      (102L, "zzz !!!! ???? ;;;; ...."))      // junk → quality gate drops
    val w2 = Seq(
      (109L, novelEn),                        // dup ACROSS restart → suppressed
      (110L, novelEs),                        // admitted, routed es
      // null text: quality is exactly 0.2 (every null-guarded term zeroes
      // out) — above this fixture's cut, gramless → routed to und (ingest
      // is total, the admission-door convention)
      (112L, null.asInstanceOf[String]))

    // quality threshold from the BATCH scorer: midpoint between the junk
    // doc and the worst non-junk (the gate must reproduce batch exactly)
    def qualityOf(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__stats", TextOps.tokenStats(col("__toks")))
      .select(col("doc_id"),
        TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats")).as("q"))
    val scores = qualityOf((w1 ++ w2).toDF("doc_id", "text"))
      .where(col("q").isNotNull)
      .as[(Long, Double)].collect().toMap
    val others = scores.view.filterKeys(_ != 102L).values
    assert(scores(102L) < others.min, "junk fixture must score lowest")
    val cut = (scores(102L) + others.min) / 2

    val root = java.nio.file.Files.createTempDirectory("graft_composed")
    val inDir = s"$root/in"
    val store = s"$root/store"
    val ckpt = s"$root/ckpt"
    w1.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startComposedAdmission(spark, inDir, banded, hashes, model,
      store, ckpt, minQuality = cut, threshold = 0.4).awaitTermination()
    w2.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startComposedAdmission(spark, inDir, banded, hashes, model,
      store, ckpt, minQuality = cut, threshold = 0.4).awaitTermination()

    val routed = spark.read.parquet(store)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toSet

    // BATCH TWIN: the same four gates over the union of both waves
    val union = (w1 ++ w2).toDF("doc_id", "text")
    val gated = union.join(
      qualityOf(union).where(col("q") >= cut).select("doc_id"), Seq("doc_id"))
    val keepIds = gated.groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val exDeduped = gated.join(keepIds, Seq("doc_id"), "left_semi")
    val dupIds = DocIngest.matches(exDeduped, banded, hashes, threshold = 0.4)
      .select("doc_id").distinct()
    val kept = exDeduped.join(dupIds, Seq("doc_id"), "left_anti")
    val batchRouted = kept
      .join(TextOps.nbClassify(kept, col("text"), model)
        .select(col("doc_id"), col("pred_label")), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("pred_label"), lit("und")).as("pred_lang"))
      .as[(Long, String)].collect().toSet

    assert(routed === batchRouted,
      s"composed stream $routed must equal the batch chain $batchRouted")
    assert(routed === Set(101L -> "en", 110L -> "es", 112L -> "und"),
      s"got $routed")
  }

  test("corpus-index maintenance door: store across two waves and a restart " +
    "answers exactly like a from-scratch index over everything streamed") {
    import graft.streaming.DocIngest
    val base = "the quick brown fox jumps over the lazy dog and it is " +
      "a fine day in the old house of the hill it is warm and the fire is lit"
    val root = java.nio.file.Files.createTempDirectory("graft_idx_maint")
    val inDir = s"$root/in"
    val store = s"$root/store"
    val ckpt = s"$root/ckpt"
    val w1 = Seq((0L, base),
      (1L, "it is the best of the days and the worst of the days to be here"))
    val w2 = Seq((2L, base.replace("lazy", "sleepy")),
      (3L, null.asInstanceOf[String])) // no shingles → indexes nothing
    w1.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startCorpusIndexMaintenance(spark, inDir, store, ckpt)
      .awaitTermination()
    w2.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startCorpusIndexMaintenance(spark, inDir, store, ckpt)
      .awaitTermination()

    val (sb, sh) = DocIngest.corpusIndexFromStore(spark, store)
    val (bb, bh) = DocIngest.corpusIndex((w1 ++ w2).toDF("doc_id", "text"))
    def bandSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("dup_of"), col("band_idx").cast("int"), col("band_hash"))
      .as[(Long, Int, String)].collect().toSet
    def hashSet(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Seq[Long])].collect().map { case (id, a) => (id, a.toList) }.toSet
    assert(bandSet(sb) === bandSet(bb),
      "maintained banded rows must equal the from-scratch index")
    assert(hashSet(sh) === hashSet(bh),
      "maintained shingle identities must equal the from-scratch index")
    // and the gate itself answers identically through the store
    val arriving = Seq((100L, base.replace("warm", "cold")))
      .toDF("doc_id", "text")
    def gate(b: org.apache.spark.sql.DataFrame, h: org.apache.spark.sql.DataFrame) =
      DocIngest.matches(arriving, b, h, threshold = 0.4)
        .select("doc_id", "dup_of").distinct()
        .as[(Long, Long)].collect().toSet
    val viaStore = gate(sb, sh)
    assert(viaStore === gate(bb, bh), "store-served gate must equal in-memory")
    assert(viaStore.contains(100L -> 0L), s"near-dup must be caught, got $viaStore")
  }

  test("corpusIndexFromStore applies the viral-bucket cap at open: a hot " +
    "bucket is dropped read-side, not half-dropped batch-side") {
    import graft.streaming.DocIngest
    val base = "the quick brown fox jumps over the lazy dog and it is " +
      "a fine day in the old house of the hill it is warm and the fire is lit"
    val root = java.nio.file.Files.createTempDirectory("graft_idx_cap")
    val inDir = s"$root/in"
    // two docs sharing band buckets, arriving in SEPARATE batches — a
    // batch-local cap could never see the whole bucket
    Seq((0L, base)).toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startCorpusIndexMaintenance(spark, inDir, s"$root/store", s"$root/ckpt")
      .awaitTermination()
    Seq((1L, base.replace("lazy", "sleepy"))).toDF("doc_id", "text")
      .write.mode("append").parquet(inDir)
    DocIngest.startCorpusIndexMaintenance(spark, inDir, s"$root/store", s"$root/ckpt")
      .awaitTermination()
    val arriving = Seq((100L, base.replace("warm", "cold"))).toDF("doc_id", "text")
    def hits(maxBucket: Int): Set[Long] = {
      val (b, h) = DocIngest.corpusIndexFromStore(spark, s"$root/store", maxBucket)
      DocIngest.matches(arriving, b, h, threshold = 0.4)
        .select("dup_of").distinct().as[Long].collect().toSet
    }
    assert(hits(graft.operators.Dedup.DefaultPipelineMaxBucket).contains(0L),
      "default cap must keep the 2-doc bucket and catch the near-dup")
    assert(hits(1) === Set.empty[Long],
      "cap=1 must drop every cross-batch 2-doc bucket at open")
  }

  test("corpus-index store publish is STAGED: an in-flight batch is invisible, " +
    "a half-published batch is inert, and the retry cleans the debris") {
    import graft.streaming.DocIngest
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog and it is " +
      "a fine day in the old house of the hill it is warm and the fire is lit"
    val root = java.nio.file.Files.createTempDirectory("graft_idx_staged")
    val inDir = s"$root/in"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    val w1 = Seq((0L, base))
    w1.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startCorpusIndexMaintenance(spark, inDir, store, ckpt)
      .awaitTermination()

    // ---- a batch whose staging is written but NOT yet renamed (crash, or
    // a reader racing the writer) must be invisible: the reader sees the
    // store exactly as of the previous batch ----
    val inflightText = base.replace("fox", "cat")
    val sig = Dedup.minhashSignature(
      Seq((50L, inflightText)).toDF("doc_id", "text"), 3, 16)
    Dedup.bandedSignature(sig, 16, 4)
      .select(col("doc_id").as("dup_of"), col("band_idx"), col("band_hash"))
      .write.partitionBy("band_idx").parquet(s"$store/.staging/banded_batch_1")
    sig.select(col("doc_id").as("dup_of"), col("__shh").as("__corpus_shh"))
      .write.parquet(s"$store/.staging/hashes_batch_1")
    val (b1, h1) = DocIngest.corpusIndexFromStore(spark, store)
    assert(!b1.select("dup_of").as[Long].collect().contains(50L),
      "staged-but-unpublished batch rows must be invisible to readers")
    assert(!h1.select("dup_of").as[Long].collect().contains(50L))

    // ---- between the two renames (hashes landed FIRST, banded not yet):
    // the hash leg without its banded twin is INERT — the gate answers
    // exactly as before the batch ----
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.mkdirs(p(s"$store/hashes"))
    assert(fs.rename(p(s"$store/.staging/hashes_batch_1"),
      p(s"$store/hashes/batch_id=1")))
    val arriving = Seq((100L, inflightText)).toDF("doc_id", "text")
    val (b2, h2) = DocIngest.corpusIndexFromStore(spark, store)
    assert(DocIngest.matches(arriving, b2, h2, threshold = 0.4)
        .where(col("dup_of") === 50L).isEmpty,
      "a hash leg without its banded twin must be inert (banded lands last)")

    // ---- the retry (real batch 1 off the checkpoint) deletes the crash
    // debris and lands atomically: store == from-scratch over the real
    // waves, and nothing of the phantom doc 50 survives anywhere ----
    val w2 = Seq((2L, base.replace("lazy", "sleepy")))
    w2.toDF("doc_id", "text").write.mode("append").parquet(inDir)
    DocIngest.startCorpusIndexMaintenance(spark, inDir, store, ckpt)
      .awaitTermination()
    val (sb, sh) = DocIngest.corpusIndexFromStore(spark, store)
    val (bb, bh) = DocIngest.corpusIndex((w1 ++ w2).toDF("doc_id", "text"))
    def bandSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("dup_of"), col("band_idx").cast("int"), col("band_hash"))
      .as[(Long, Int, String)].collect().toSet
    assert(bandSet(sb) === bandSet(bb),
      "after the retry the store must equal the from-scratch index")
    assert(!sh.select("dup_of").as[Long].collect().contains(50L),
      "the half-published hash leg must be overwritten by the retry")
    assert(!fs.exists(p(s"$store/.staging/banded_batch_1")),
      "staging debris must be consumed by the retry's publish")
    assert(!fs.exists(p(s"$store/.staging/hashes_batch_1")))
  }

  test("streaming checksum manifest: incremental fold across waves equals the batch manifest") {
    import graft.streaming.DocIngest
    import graft.operators.Corpus
    val root = java.nio.file.Files.createTempDirectory("graft_ck_stream")
    val inDir = s"$root/in"
    val state = s"$root/state"
    val ckpt = s"$root/ckpt"
    def docsDf(rows: Seq[(Long, String, String)]) = rows
      .map { case (id, t, src) =>
        (id, t, "en", src, Option(t).map(_.length.toLong).getOrElse(0L))
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    // wave 1, then wave 2 through a RESTARTED query (fresh driver, same
    // checkpoint + state dir): the fold must continue, not restart.
    // Wave 2 includes a cross-wave duplicate text (sums still move), a
    // null-text doc (hash skipped, count and chars still fold), and a
    // brand-new source (full-outer fold semantics via the union+groupBy)
    val w1 = Seq((1L, "alpha beta", "s0"), (2L, "gamma", "s0"), (3L, "delta", "s1"))
    val w2 = Seq((4L, "alpha beta", "s0"), (5L, null.asInstanceOf[String], "s1"),
      (6L, "epsilon zeta", "s2"))
    docsDf(w1).write.mode("append").parquet(inDir)
    DocIngest.startChecksum(spark, inDir, state, ckpt).awaitTermination()
    docsDf(w2).write.mode("append").parquet(inDir)
    DocIngest.startChecksum(spark, inDir, state, ckpt).awaitTermination()

    val streamed = DocIngest.checksumManifest(spark, state)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // batch twin over ALL docs, minus the non-mergeable n_unique
    val batch = Corpus.checksum(docsDf(w1 ++ w2),
        col("source"), col("text"), col("n_chars"))
      .select("source", "n_docs", "checksum_hi", "checksum_lo", "total_chars")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(streamed === batch,
      s"stream fold diverged from batch manifest:\n$streamed\nvs\n$batch")
    assert(streamed.map(_._1) === Seq("s0", "s1", "s2"))
    // the state dir keeps the per-batch audit trail (one partition per fold)
    assert(spark.read.parquet(state).select("batch_id").distinct().count() >= 2)

    // a manifest read BEFORE any fold committed is the "no manifest yet"
    // signal: an empty frame with the full surface, not an
    // AnalysisException (missing dir) or NPE (null max batch_id)
    val noState = DocIngest.checksumManifest(spark, s"$root/never_written")
    assert(noState.columns.toSeq ===
      Seq("source", "n_docs", "checksum_hi", "checksum_lo", "total_chars"))
    assert(noState.count() === 0L)
    // the crashed-FIRST-write shape: stateDir exists but holds no
    // committed parquet (only write-attempt debris) — same signal
    val crashed = s"$root/crashed_state"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$crashed/_temporary"))
    val crashedManifest = DocIngest.checksumManifest(spark, crashed)
    assert(crashedManifest.count() === 0L)
  }

  test("streaming CM sketch: cell-wise fold across a restart equals the batch sketch") {
    import graft.streaming.EventStream
    import graft.operators.Events
    val root = java.nio.file.Files.createTempDirectory("graft_cm_stream")
    val inDir = s"$root/in"
    val state = s"$root/state"
    val ckpt = s"$root/ckpt"
    def eventsDf(rows: Seq[(Long, Long)]) = rows.map { case (id, u) =>
      (id, java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), u, "click", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

    // wave 1, then wave 2 through a RESTARTED query (same checkpoint +
    // state): the fold must continue. Wave 2 repeats a wave-1 user
    // (cells must accumulate, not overwrite) and brings a new user whose
    // cell collides nowhere (w = 8 keeps collisions live anyway).
    val w1 = (0L until 40L).map(i => (i, i % 5))
    val w2 = (100L until 130L).map(i => (i, i % 3))
    eventsDf(w1).write.mode("append").parquet(inDir)
    EventStream.startCmSketch(spark, inDir, state, ckpt, w = 8).awaitTermination()
    eventsDf(w2).write.mode("append").parquet(inDir)
    EventStream.startCmSketch(spark, inDir, state, ckpt, w = 8).awaitTermination()

    val streamed = EventStream.cmSketchState(spark, state)
      .as[(Int, Long, Long)].collect().sorted.toSeq
    val batch = Events.cmSketch(
        eventsDf(w1 ++ w2).groupBy(col("user_id").cast("long").as("key"))
          .agg(count(lit(1)).as("n")), w = 8)
      .as[(Int, Long, Long)].collect().sorted.toSeq
    assert(streamed === batch,
      s"stream fold diverged from the batch sketch:\n$streamed\nvs\n$batch")
    // bounded state: never more than depth × w cells, whatever the stream
    assert(streamed.size <= Events.CmHashes.length * 8)
    // audit trail: one partition per committed fold
    assert(spark.read.parquet(state).select("batch_id").distinct().count() >= 2)
    // no state yet → a valid empty (all-zeros) sketch, not an exception
    assert(EventStream.cmSketchState(spark, s"$root/never").count() === 0L)
  }

  test("streaming day-count fold: the time-series family served off committed " +
    "state equals the batch queries, across a restart") {
    import graft.streaming.EventStream
    import graft.operators.Events
    val root = java.nio.file.Files.createTempDirectory("graft_days_stream")
    val inDir = s"$root/in"
    val state = s"$root/state"
    val ckpt = s"$root/ckpt"
    def eventsDf(rows: Seq[(Long, Int)]) = rows.map { case (id, day) =>
      (id, new java.sql.Timestamp(1709251200000L + day * 86400000L + id % 1000),
        1L, "view", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

    // two waves through a RESTARTED query; wave 2 adds events to days
    // wave 1 already counted (SUM fold, not overwrite) plus new days —
    // 15 days of a step series so CUSUM/HW read non-trivially
    val w1 = (0L until 200L).map(i => (i, (i % 8).toInt))
    val w2 = (1000L until 1160L).map(i => (i, (8 + i % 7).toInt))
    eventsDf(w1).write.mode("append").parquet(inDir)
    EventStream.startDayCounts(spark, inDir, state, ckpt).awaitTermination()
    eventsDf(w2).write.mode("append").parquet(inDir)
    EventStream.startDayCounts(spark, inDir, state, ckpt).awaitTermination()

    val st = EventStream.dayCountState(spark, state)
    val all = eventsDf(w1 ++ w2)
    // the state IS the batch day-count frame
    assert(st.as[(Long, Long)].collect().sorted.toSeq ===
      Events.dayCounts(all).as[(Long, Long)].collect().sorted.toSeq)
    // and every reader serves identically off it
    assert(Events.cusumFromDayCounts(st).collect().toSeq ===
      Events.cusumChangepoint(all).collect().toSeq)
    assert(Events.dailyAcfFromDayCounts(st).collect().toSeq ===
      Events.dailyAcf(all).collect().toSeq)
    assert(Events.holtWintersFromDayCounts(st).collect().toSeq ===
      Events.holtWintersForecast(all).collect().toSeq)
    assert(Events.holtWintersAnomaliesFromDayCounts(st).collect().toSeq ===
      Events.holtWintersAnomalies(all).collect().toSeq)
    // state bounded by calendar span, audit trail per committed fold
    assert(st.count() === 15L)
    assert(spark.read.parquet(state).select("batch_id").distinct().count() >= 2)
    assert(EventStream.dayCountState(spark, s"$root/never").count() === 0L)
  }

  test("streaming LC sketch: union fold across a restart equals the batch occupancy") {
    import graft.streaming.EventStream
    import graft.operators.Events
    val root = java.nio.file.Files.createTempDirectory("graft_lc_stream")
    val inDir = s"$root/in"
    val state = s"$root/state"
    val ckpt = s"$root/ckpt"
    def eventsDf(rows: Seq[(Long, Long, String)]) = rows.map { case (id, u, t) =>
      (id, java.sql.Timestamp.valueOf("2024-03-02 10:00:00"), u, t, 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

    // wave 2 repeats wave-1 users (idempotent marking: occupancy must
    // not change for them) and adds new users in an existing group
    val w1 = (0L until 60L).map(i => (i, i % 13, if (i % 2 == 0) "view" else "click"))
    val w2 = (100L until 130L).map(i => (i, i % 17, "view"))
    eventsDf(w1).write.mode("append").parquet(inDir)
    EventStream.startLcSketch(spark, inDir, state, ckpt, k = 64).awaitTermination()
    eventsDf(w2).write.mode("append").parquet(inDir)
    EventStream.startLcSketch(spark, inDir, state, ckpt, k = 64).awaitTermination()

    val streamed = EventStream.lcState(spark, state)
      .as[(String, Long)].collect().sorted.toSeq
    val batch = Events.lcCells(
        eventsDf(w1 ++ w2).where(col("user_id").isNotNull)
          .select(col("event_type").as("grp"), col("user_id").cast("long").as("key")),
        k = 64)
      .as[(String, Long)].collect().sorted.toSeq
    assert(streamed === batch, "stream occupancy diverged from the batch sketch")
    // estimates read straight off the streamed state
    val est = Events.lcEstimates(
        EventStream.lcState(spark, state).toDF("grp", "cell"), k = 64)
      .as[(String, Long, Double)].collect()
    assert(est.length === 2 && est.forall(_._3 > 0))
    assert(EventStream.lcState(spark, s"$root/never").count() === 0L)
  }

  test("streaming DD histogram: bucket fold across a restart equals batch; quantile reads work off state") {
    import graft.streaming.EventStream
    import graft.operators.Events
    val root = java.nio.file.Files.createTempDirectory("graft_dd_stream")
    val inDir = s"$root/in"
    val state = s"$root/state"
    val ckpt = s"$root/ckpt"
    val rnd = new scala.util.Random(9)
    def eventsDf(ids: Range) = ids.map { i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-03-03 08:00:00"), 1L,
        if (i % 2 == 0) "view" else "click", math.exp(rnd.nextGaussian() + 3))
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

    val w1 = eventsDf(0 until 300); val w2 = eventsDf(1000 until 1200)
    w1.write.mode("append").parquet(inDir)
    EventStream.startDdHistogram(spark, inDir, state, ckpt).awaitTermination()
    w2.write.mode("append").parquet(inDir)
    EventStream.startDdHistogram(spark, inDir, state, ckpt).awaitTermination()

    val streamed = EventStream.ddHistogramState(spark, state)
      .as[(String, Long, Long, Long)].collect().sorted.toSeq
    val batch = Events.ddHistogramBy(
        w1.unionByName(w2).select(col("event_type").as("grp"), col("value")))
      .as[(String, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed === batch, "stream bucket fold diverged from batch")
    // quantile reads straight off the streamed state
    val qs = Events.ddQuantilesBy(
        EventStream.ddHistogramState(spark, state), Seq(50, 95))
      .as[(String, Int, Long, Double)].collect()
    assert(qs.length === 4 && qs.forall(_._4 > 0))
  }

  test("streaming DSIR gate admits exactly the batch-filtered set, stateless across restarts") {
    import graft.streaming.DocIngest
    import graft.operators.Corpus
    val fitCorpus = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, s"alpha beta gamma token$i shared words")
      else (i, s"zulu yankee xray token$i different tongue")
    }.toDF("doc_id", "text")
    val target = fitCorpus.where(col("doc_id") % 2 === 0).select(col("text"))
    val lam = Corpus.dsirModel(fitCorpus, target, nBuckets = 32)

    val root = java.nio.file.Files.createTempDirectory("graft_dsir_gate")
    val inDir = s"$root/in"
    val store = s"$root/store"
    val ckpt = s"$root/ckpt"
    val wave1 = Seq(
      (100L, "alpha beta gamma shared words"),
      (101L, "zulu yankee xray different tongue")).toDF("doc_id", "text")
    // threshold from the DATA, not a sign guess: bucket collisions at 32
    // buckets can shift absolute scores, but the target-like doc must
    // outrank the off-target one, and the midpoint separates them
    val s = wave1.select(col("doc_id"), Corpus.dsirScore(col("text"), lam, 32).as("s"))
      .as[(Long, Double)].collect().toMap
    assert(s(100L) > s(101L), s"target-like doc must outrank: $s")
    val threshold = (s(100L) + s(101L)) / 2
    wave1.write.mode("append").parquet(inDir)
    DocIngest.startDsirAdmission(spark, inDir, lam, 32, threshold, store, ckpt)
      .awaitTermination()
    def admitted() = spark.read.parquet(store).select("doc_id").as[Long].collect().toSet
    def batchKeep(df: org.apache.spark.sql.DataFrame) = df
      .where(Corpus.dsirScore(col("text"), lam, 32) >= threshold)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted() === Set(100L) && admitted() === batchKeep(wave1),
      "target-like doc admitted, off-target rejected")

    // wave 2 on the SAME checkpoint: stateless gate, only new files scored
    val wave2 = Seq(
      (102L, "alpha beta gamma another one"),
      (103L, "zulu yankee xray more noise")).toDF("doc_id", "text")
    wave2.write.mode("append").parquet(inDir)
    DocIngest.startDsirAdmission(spark, inDir, lam, 32, threshold, store, ckpt)
      .awaitTermination()
    assert(admitted() === batchKeep(wave1.unionByName(wave2)),
      s"stream must equal the batch filter after both waves, got ${admitted()}")
  }

  test("streaming Gopher gate admits exactly the batch rule battery, " +
    "stateless across waves") {
    import graft.streaming.DocIngest
    import graft.operators.TextOps
    // one passing doc (>=50 words, stopword-rich), one failing (too short)
    def goodText(tag: String) =
      (s"the cat sat with a dog and that was fine to see $tag " * 5) + "be quick today"
    val root = java.nio.file.Files.createTempDirectory("graft_gopher_gate")
    val inDir = s"$root/in"
    val store = s"$root/store"
    val ckpt = s"$root/ckpt"
    val wave1 = Seq((1L, goodText("one")), (2L, "too short the of"))
      .toDF("doc_id", "text")
    wave1.write.mode("append").parquet(inDir)
    DocIngest.startGopherAdmission(spark, inDir, store, ckpt).awaitTermination()
    def admitted() = spark.read.parquet(store).select("doc_id").as[Long].collect().toSet
    def batchKeep(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("__t", TextOps.tokens(col("text")))
      .where(TextOps.gopherFlags(col("text"), col("__t")).getField("pass"))
      .select("doc_id").as[Long].collect().toSet
    assert(admitted() === Set(1L) && admitted() === batchKeep(wave1))
    // second wave on the same checkpoint — only the new files are scored
    val wave2 = Seq((3L, goodText("two")), (4L, "# # # the of " * 30))
      .toDF("doc_id", "text")
    wave2.write.mode("append").parquet(inDir)
    DocIngest.startGopherAdmission(spark, inDir, store, ckpt).awaitTermination()
    assert(admitted() === batchKeep(wave1.unionByName(wave2)),
      s"stream must equal the batch filter, got ${admitted()}")
    // the admitted rows carry the audit struct
    val flags = spark.read.parquet(store).select("gopher.pass").as[Boolean].collect()
    assert(flags.nonEmpty && flags.forall(identity))
  }

  test("streaming admission honors non-default index params (gate stays armed)") {
    import graft.streaming.DocIngest
    val base = "the quick brown fox jumps over the lazy dog and it is " +
      "a fine day in the old house of the hill it is warm and the fire is lit"
    val corpus = Seq((0L, base)).toDF("doc_id", "text")
    // an EXACT duplicate: under matched params its band hashes MUST
    // collide (jaccard 1), so rejection is deterministic — while under
    // the round-3 advice bug (gate hardcoding default params against a
    // non-default index) the band keys come from different signature
    // layouts and can never match, admitting the duplicate
    val incoming = Seq((100L, base))
    val root = java.nio.file.Files.createTempDirectory("graft_admit_params")
    val inDir = s"$root/in"
    incoming.toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)

    val (banded, hashes) = DocIngest.corpusIndex(corpus, shingleN = 2, perms = 8, bands = 2)
    val store = s"$root/admitted"
    val q = DocIngest.startAdmission(spark, inDir, banded, hashes, store,
      s"$root/ckpt", lang = "en", minQuality = 0.45,
      shingleN = 2, perms = 8, bands = 2, threshold = 0.4)
    q.awaitTermination()
    val admitted =
      try spark.read.parquet(store).select("doc_id").as[Long].collect().toSet
      catch { case _: org.apache.spark.sql.AnalysisException => Set.empty[Long] }
    assert(admitted.isEmpty, s"near-dup must be rejected under matched params, got $admitted")
  }

  test("streaming CSV ingest: quoted fields survive, malformed rows " +
    "quarantine, stream == batch split") {
    import graft.sources.Records
    import graft.streaming.DocIngest
    val base = java.nio.file.Files.createTempDirectory("graft_csvstream").toString
    val dir = s"$base/in"; val good = s"$base/good"
    val quar = s"$base/quar"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val csv = Seq(
      "doc_id,text,lang,source",
      "1,\"hello, world\",en,web",
      "oops,bad,en,web",
      "3,\"multi\nline\",fr,books",
      "4,,en,web",
      "5,ok,de,wiki").mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part.csv"), csv)
    DocIngest.startCsvQuarantined(spark, dir, good, quar, ckpt)
      .awaitTermination()
    val g = spark.read.parquet(good)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    assert(g.map(_._1).toSeq === Seq(1L, 3L, 5L))
    assert(g(1)._2 === "multi\nline")
    assert(spark.read.parquet(quar).count() === 2L)
    // stream == batch: the same split definition over the same files
    val (bg, bb) = Records.fromCsv(spark, dir)
    assert(bg.select("doc_id").as[Long].collect().sorted.toSeq ===
      g.map(_._1).toSeq)
    assert(bb.count() === 2L)
  }

  test("streaming drift monitor: cumulative moments exactly equal the batch " +
    "fit; a rotated second wave drops the baseline cosine") {
    import graft.streaming.VectorIngest
    val base = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val dir = s"$base/in"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    val dim = 8
    val rnd = new scala.util.Random(41)
    def wave(ids: Range, hot: Int) = ids.map { i =>
      val a = rnd.nextGaussian() * 3.0
      (i.toLong, (0 until dim).map(k =>
        ((if (k == hot) a else 0.0) + rnd.nextGaussian() * 0.1).toFloat),
        Map.empty[String, String])
    }.toDF("id", "embedding", "metadata")
    // baseline: wave 1's dominant direction is axis 0
    val baseline = (0 until dim).map(k => if (k == 0) 1.0 else 0.0)

    wave(0 until 1500, hot = 0).write.mode("append").parquet(dir)
    VectorIngest.startDriftMonitor(spark, dir, dim, baseline, state, ckpt)
      .awaitTermination()
    val r1 = spark.read.parquet(state).orderBy(col("batch_id").desc)
      .select("n", "cos_top", "share_top")
      .as[(Long, Double, Double)].head()
    assert(r1._1 === 1500L)
    assert(r1._2 > 0.98, s"wave-1 top component should be the baseline: ${r1._2}")

    // wave 2: the dominant direction rotates to axis 3
    wave(2000 until 5000, hot = 3).write.mode("append").parquet(dir)
    VectorIngest.startDriftMonitor(spark, dir, dim, baseline, state, ckpt)
      .awaitTermination()
    val rows = spark.read.parquet(state).orderBy(col("batch_id"))
      .select("batch_id", "n", "s1", "s2", "cos_top")
      .as[(Long, Long, Seq[Long], Seq[Long], Double)].collect()
    assert(rows.length === 2, s"one state row per batch: ${rows.length}")
    val last = rows.last
    assert(last._2 === 4500L)
    assert(last._5 < 0.5, s"drift undetected: cos ${last._5}")

    // the exactness law: cumulative streaming moments == one batch pass
    val g = spark.read.parquet(dir)
      .agg(graft.functions.GramSumAgg.gramSum(
        graft.operators.VectorOps.quantizeQ3(col("embedding"))).as("g"))
      .select(col("g.n"), col("g.s1"), col("g.s2"))
      .as[(Long, Seq[Long], Seq[Long])].head()
    assert(last._2 === g._1 && last._3 === g._2 && last._4 === g._3,
      "cumulative moments diverged from the single-pass batch moments")
  }

  test("monitor folds and the drift monitor are replay-idempotent: a batch " +
    "re-run over its own written partition counts nothing twice") {
    import graft.streaming.{DocIngest, VectorIngest}
    import graft.operators.{Corpus, Events}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQuery
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def events(ids: Range) = ids.map(i => (i.toLong, new java.sql.Timestamp(t0 + i * 7200000L),
        i % 7L, if (i % 2 == 0) "view" else "click", 1.0 + i % 13))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    def docs(ids: Range) = ids.map(i => (i.toLong, s"doc $i of ${i % 4}", "en", s"s${i % 3}",
        10L + i)).toDF("doc_id", "text", "lang", "source", "n_chars")
    def vecs(ids: Range) = ids.map(i => (i.toLong,
        Seq.tabulate(4)(k => ((i * 7 + k * 3) % 11).toFloat), Map.empty[String, String]))
      .toDF("id", "embedding", "metadata")
    val moments = (df: DataFrame) => df
      .agg(graft.functions.GramSumAgg.gramSum(
        graft.operators.VectorOps.quantizeQ3(col("embedding"))).as("g"))
      .select(col("g.n"), col("g.s1"), col("g.s2"))
    // (door, its two waves, start, committed state, batch twin over all waves)
    val doors: Seq[(String, Seq[DataFrame], (String, String, String) => StreamingQuery,
        String => DataFrame, DataFrame => DataFrame)] = Seq(
      ("cm", Seq(events(0 until 40), events(40 until 70)),
        EventStream.startCmSketch(spark, _, _, _, w = 8), EventStream.cmSketchState(spark, _),
        all => Events.cmSketch(all.groupBy(col("user_id").cast("long").as("key"))
          .agg(count(lit(1)).as("n")), w = 8)),
      ("lc", Seq(events(0 until 40), events(40 until 70)),
        EventStream.startLcSketch(spark, _, _, _, k = 64), EventStream.lcState(spark, _),
        all => Events.lcCells(all.select(col("event_type").as("grp"),
          col("user_id").cast("long").as("key")), k = 64)),
      ("dd", Seq(events(0 until 40), events(40 until 70)),
        EventStream.startDdHistogram(spark, _, _, _), EventStream.ddHistogramState(spark, _),
        all => Events.ddHistogramBy(all.select(col("event_type").as("grp"), col("value")))),
      ("days", Seq(events(0 until 40), events(40 until 70)),
        EventStream.startDayCounts(spark, _, _, _), EventStream.dayCountState(spark, _),
        Events.dayCounts),
      ("checksum", Seq(docs(0 until 12), docs(12 until 20)),
        DocIngest.startChecksum(spark, _, _, _), DocIngest.checksumManifest(spark, _),
        all => Corpus.checksum(all, col("source"), col("text"), col("n_chars"))
          .select("source", "n_docs", "checksum_hi", "checksum_lo", "total_chars")),
      ("drift", Seq(vecs(0 until 30), vecs(30 until 50)),
        VectorIngest.startDriftMonitor(spark, _, 4, Seq(1.0, 0.0, 0.0, 0.0), _, _),
        st => spark.read.parquet(st).orderBy(col("batch_id").desc).limit(1)
          .select("n", "s1", "s2"),
        moments))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    doors.foreach { case (name, waves, start, state, batch) =>
      val root = java.nio.file.Files.createTempDirectory(s"graft_replay_$name")
      val (in, st, ck) = (s"$root/in", s"$root/state", s"$root/ckpt")
      waves.foreach { w =>
        w.write.mode("append").parquet(in)
        start(in, st, ck).awaitTermination()
      }
      // un-commit the newest batch: the restart re-runs it over the
      // partition it already wrote
      val last = new java.io.File(s"$ck/commits/${waves.length - 1}")
      assert(last.exists(), s"$name: expected one batch per wave")
      assert(last.delete())
      new java.io.File(s"$ck/commits/.${last.getName}.crc").delete()
      start(in, st, ck).awaitTermination()
      assert(last.exists(), s"$name: the un-committed batch was not re-run")
      assert(rows(state(st)) === rows(batch(waves.reduce(_ unionByName _))),
        s"$name: the replayed batch changed the state")
      assert(spark.read.parquet(st).select("batch_id").distinct().count() === waves.length)
    }
  }

  test("legacy TIMESTAMP(NANOS) parquet: the refusal's error class and message " +
    "shape are pinned, and loadEvents takes the int64 fallback") {
    // Spark cannot WRITE a TIMESTAMP(NANOS) file, so build the legacy
    // fixture with parquet-mr directly — the real footer the fallback
    // path exists for, not a message-string simulation.
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.util.HadoopOutputFile

    val dir = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    val file = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val schema = new MessageType("events",
      Types.required(PrimitiveTypeName.INT64).named("event_id"),
      Types.required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS)).named("ts"),
      Types.optional(PrimitiveTypeName.INT64).named("user_id"),
      Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type"),
      Types.optional(PrimitiveTypeName.DOUBLE).named("value"),
      Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("props"))
    val writer = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(file,
          spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    // sub-microsecond residue (…789 ns) proves the exact integer
    // floor-div decode, and a pre-epoch nano pins the FLOOR (not
    // truncate-toward-zero) branch: -1500 ns → -2 µs
    Seq((1L, 1700000000123456789L, 10L, "view", 1.5),
        (2L, -1500L, 11L, "click", 2.5)).foreach { case (id, ns, u, t, v) =>
      val g = gf.newGroup()
      g.add("event_id", id); g.add("ts", ns); g.add("user_id", u)
      g.add("event_type", t); g.add("value", v)
      writer.write(g)
    }
    writer.close()

    // 1) the refusal fires at footer inference and matches the guard
    val ex = intercept[Exception] { spark.read.parquet(file.toString).collect() }
    assert(EventStream.isNanosFooterRefusal(ex),
      s"nanos refusal no longer matches the guard — fallback silently dead: $ex")
    // 2) pin the STABLE machine-readable condition: if an upgrade renames
    //    ILLEGAL_PARQUET_TYPE (and rewords the message), fail HERE, not by
    //    silently routing legacy files onto the erroring default read
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8).toList
    val conds = chain.collect {
      case st: org.apache.spark.SparkThrowable => Option(st.getCondition).getOrElse("")
    }
    val msgs = chain.map(t => Option(t.getMessage).getOrElse(""))
    assert(conds.contains("ILLEGAL_PARQUET_TYPE")
        || msgs.exists(_.contains("Illegal Parquet type")),
      s"refusal shape changed: conds=$conds msgs=${msgs.map(_.take(80))}")
    // 3) the fallback decodes the raw int64 nanos exactly
    import org.apache.spark.sql.functions.{col, unix_micros}
    val got = EventStream.loadEvents(spark, dir)
      .select(col("event_id"), unix_micros(col("ts"))) // µs since epoch
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === 1700000000123456L, s"nanos→micros decode drifted: $got")
    assert(got(2L) === -2L, s"pre-epoch floor decode drifted: $got")
  }
}
