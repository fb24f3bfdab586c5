package graft

import graft.operators.{IvfIndex, Knn}
import graft.types.Metric
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Assertions on PHYSICAL PLAN SHAPE — the properties that make these
  * operators survive a 100× scale-up. Correctness rows can stay green
  * while a plan silently degrades into a scale-killer (full sort instead
  * of bounded top-k, per-query funnel window, unpruned scans); these
  * tests pin the shape. */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** The columns each shuffle in `df`'s executed plan carries, adaptive
    * stages included: the exchange's own output, not its `toString`, which
    * holds its whole subtree (a scan below may read text the shuffle drops). */
  private def shuffledColumns(df: DataFrame): Seq[String] =
    ProbeReference.collectPlan(df.queryExecution.executedPlan) {
      case e if e.nodeName == "Exchange" || e.nodeName.contains("ShuffleExchange") =>
        e.output.mkString(", ")
    }

  test("single-query kNN plans a bounded TakeOrderedAndProject, not a global sort") {
    val p = plan(SparkEntry.queries("knn_euclidean")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(5).mkString("\n"))
  }

  test("batch kNN (two-phase top-k) has NO per-query ranking window") {
    val p = plan(SparkEntry.queries("ann_topk_batch")(spark, sf))
    assert(!p.contains("Window"), "ranking window would funnel each query through one task")
    assert(p.contains("BroadcastExchange"), "final metadata re-attach must broadcast the k-row side")
  }

  test("IVF batch query has a broadcast probe join and no data-table cross join") {
    val df = {
      val r = graft.sources.Records.fromEmbeddings(spark, sf)
      val c = r.where(col("id") < 8)
        .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
      val model = IvfIndex.Model(c, IvfIndex.assign(r, c, Metric.Euclidean))
      val q = r.where(col("id") < 5)
        .select(col("id").as("query_id"), col("embedding").as("qvec"))
      IvfIndex.queryBatch(model, q, 5, probes = 3, Metric.Euclidean)
    }
    val p = plan(df)
    assert(p.contains("BroadcastExchange"))
    // the only window runs over the tiny centroids × queries frame; the
    // candidate side must join on cluster_id, not cross-join the table
    assert(p.contains("BroadcastHashJoin"), "probe list must broadcast against the data table")
  }

  test("ivf_mips_batch: bounded-heap rerank (no ranking window over the " +
    "data) and a broadcast probe join, like ivf_adc_batch") {
    val p = plan(SparkEntry.queries("ivf_mips_batch")(spark, sf))
    // exactly one window shape is admissible: the probe ranking over the
    // tiny centroids × queries frame (partitioned by query_id); the dot
    // rerank itself must be the two-phase TopKPairsAgg heap
    assert(p.contains("TopKPairsAgg") || p.contains("topkpairsagg"),
      "MIPS rerank must run through the bounded heap\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin"),
      "the per-query probe list must broadcast against the data table")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("metadata-only queries never read the embedding column") {
    // filter_and scans the embeddings TABLE but only needs (vec_id, label)
    val p = plan(SparkEntry.queries("filter_and")(spark, sf))
    val schemas = "ReadSchema: (\\S+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, p.linesIterator.take(8).mkString("\n"))
    schemas.foreach(s => assert(!s.contains("embedding"), s"column pruning lost: $s"))
  }

  test("point lookup pushes the id predicate into the parquet scan") {
    val df = SparkEntry.queries("get_by_id")(spark, sf)
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,42)]")
      || p.contains("EqualTo(vec_id,42)"), p)
  }

  test("id-bucketed store: point lookup statically prunes to ONE file") {
    import graft.sources.Records
    val store = java.nio.file.Files.createTempDirectory("graft_idstore").toString + "/s"
    Records.snapshotById(Records.fromEmbeddings(spark, sf), store, buckets = 16)
    val df = Records.getById(spark, store, 42L)
    // correct row, canonical schema (no physical id_bucket column)
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq === Seq(42L))
    assert(!df.columns.contains("id_bucket"))
    val p = plan(df)
    // bucket predicate is STATIC partition pruning (planning-time, not
    // dynamic), id predicate reaches the parquet stats
    assert(p.contains("PartitionFilters") && p.contains("id_bucket"), p)
    assert(p.contains("EqualTo(id,42)"), p)
    // the reference's O(1) hashmap get, file-system edition: of the 16
    // bucket files only one is touched
    val scan = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty, p)
    assert(scan.head.metrics("numFiles").value === 1, p)
  }

  test("cluster_id-partitioned store: probe query prunes partitions at the scan") {
    val r = graft.sources.Records.fromEmbeddings(spark, sf)
    val c = r.where(col("id") < 8)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val mem = IvfIndex.Model(c, IvfIndex.assign(r, c, Metric.Euclidean))
    val path = java.nio.file.Files.createTempDirectory("graft_part").toString
    IvfIndex.writePartitioned(mem, path)
    val disk = IvfIndex.Model(c, spark.read.parquet(path))
    val q = r.where(col("id") === 0).select(col("embedding").as("qvec"))
    val df = IvfIndex.query(disk, q, 10, probes = 3, Metric.Euclidean)
    // the driver-side probe list must reach the scan as STATIC partition
    // pruning: a cluster_id filter naming exactly the probed ids, and only
    // those partitions read
    val got = df.collect()
      .map(r0 => (r0.getAs[Long]("id"), r0.getAs[Double]("distance"))).toSet
    val probed = ProbeReference.probedIds(c, q, 3, Metric.Euclidean).toSet
    val scans = ProbeReference.fileScans(df)
    assert(scans.size === 1, plan(df))
    assert(ProbeReference.partitionFilterIds(scans.head) === Some(probed),
      plan(df).linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    assert(scans.head.metrics("numPartitions").value ===
      (probed intersect ProbeReference.storeClusters(path)).size)
    // and the pruned-scan path returns exactly what the in-memory path does
    val want = IvfIndex.query(mem, q, 10, probes = 3, Metric.Euclidean)
      .select("id", "distance").collect().map(r0 => (r0.getLong(0), r0.getDouble(1))).toSet
    assert(got === want)
  }

  test("cluster-partitioned MIPS store: the augmented probe prunes partitions at the scan") {
    // the query writes the augmented posting lists once per (app, dir)
    // and reopens them; the driver-side probe list on the augmented
    // geometry must reach the parquet scan as STATIC partition pruning —
    // a cluster_id filter naming exactly the probed ids, and only those
    // partitions read — without it every MIPS serve reads the full store
    val df = SparkEntry.queries("ivf_mips_store_query")(spark, sf)
    assert(df.collect().length === 10)
    val index = catalog.IvfQueries.mipsFixedIndex(spark, sf).get
    val q = graft.sources.Records.fromEmbeddings(spark, sf).where(col("id") === 0)
      .select(col("embedding").as("qvec"))
    val probed = ProbeReference.probedIds(index.centroids, ProbeReference.padded(q), 3,
      Metric.Euclidean).toSet
    val scans = ProbeReference.fileScans(df)
    assert(scans.size === 1, plan(df))
    assert(ProbeReference.partitionFilterIds(scans.head) === Some(probed),
      plan(df).linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    val path = scans.head.relation.location.rootPaths.head.toUri.getPath
    assert(scans.head.metrics("numPartitions").value ===
      (probed intersect ProbeReference.storeClusters(path)).size)
  }

  test("cluster-partitioned CODE store: the ADC probe prunes partitions at the scan") {
    import graft.operators.{IvfIndex, VectorOps}
    val r = graft.sources.Records.fromEmbeddings(spark, sf)
    val c = r.where(col("id") < 8)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val assigned = IvfIndex.assign(r, c, Metric.Euclidean)
    val books = VectorOps.pqPack(
      r.where(col("id") < 16)
        .select(col("id").cast("int").as("code"), col("embedding"))
        .select(explode(sequence(lit(0), lit(3))).as("sub_idx"),
          col("code"), col("embedding"))
        .select(col("sub_idx"), col("code"),
          slice(col("embedding"), col("sub_idx") * 16 + 1, lit(16)).as("cvec")))
    val path = java.nio.file.Files.createTempDirectory("graft_adc_part").toString
    assigned.crossJoin(broadcast(books))
      .select(col("id"), col("cluster_id"),
        VectorOps.pqCodes(col("embedding"), col("books")).as("codes"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    val q = r.where(col("id") === 0).select(col("embedding").as("qvec"))
    val df = IvfIndex.queryAdc(c, spark.read.parquet(path), books, q, 10, probes = 3)
    assert(df.collect().length === 10)
    // static partition pruning from the driver-side probe list: the code
    // store's scan filters cluster_id on exactly the probed ids and reads
    // only those partitions
    val probed = ProbeReference.probedIds(c, q, 3, Metric.Euclidean).toSet
    val store = ProbeReference.fileScans(df).filter(_.relation.location.rootPaths
      .exists(_.toString.contains(new java.io.File(path).getName)))
    assert(store.size === 1, plan(df))
    assert(ProbeReference.partitionFilterIds(store.head) === Some(probed),
      plan(df).linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    assert(store.head.metrics("numPartitions").value ===
      (probed intersect ProbeReference.storeClusters(path)).size)
  }

  test("bucket-partitioned LSH store: probe query prunes partitions at the scan") {
    import graft.operators.SignLsh
    val r = graft.sources.Records.fromEmbeddings(spark, sf)
    val planes = SignLsh.planesFrom(r, nbits = 4)
    val path = java.nio.file.Files.createTempDirectory("graft_lsh_part").toString
    SignLsh.bucketize(r, planes).write.mode("overwrite").partitionBy("bucket").parquet(path)
    val store = spark.read.parquet(path)
    val q = r.where(col("id") === 0).select(col("embedding").as("qvec"))
    // query against the PRE-BUCKETED store: probe list semi-joins bucket
    val masks = Seq(0L, 1L, 2L, 4L, 8L)
    val probed = q.select(SignLsh.bucketId(col("qvec"), planes).as("__qb"))
      .select(explode(typedlit(masks)).as("__m"), col("__qb"))
      .select(col("__qb").bitwiseXOR(col("__m")).as("bucket"))
    val df = store.join(broadcast(probed), Seq("bucket"), "left_semi")
    val p = plan(df)
    assert(p.contains("dynamicpruning") || p.contains("PartitionFilters: [dynamic"),
      p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    // pruned-store candidates == in-memory bucketize candidates
    val got = df.select("id").collect().map(_.getLong(0)).toSet
    val want = SignLsh.bucketize(r, planes)
      .join(broadcast(probed), Seq("bucket"), "left_semi")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === want && got.nonEmpty)
  }

  test("refine plans no Window operator (seeds/ids via aggregates, not sorts)") {
    // each step returns a checkpointed version, so its result's own plan is
    // a scan; the seeding and the Lloyd rounds ran as the checkpoints'
    // executions, which a QueryExecutionListener sees one by one
    val r = graft.sources.Records.fromEmbeddings(spark, sf)
    val c = r.where(col("id") < 2)
      .select(col("id").cast("int").as("cluster_id"), col("embedding").as("centroid"))
    val model = IvfIndex.Model(c, IvfIndex.assign(r, c, Metric.Euclidean))
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (refined, split) =
      try {
        val out = (IvfIndex.refine(model, density = 100, Metric.Euclidean),
          IvfIndex.splitKWay(model, density = 100, Metric.Euclidean))
        org.apache.spark.graft.ListenerDrain(spark.sparkContext)
        out
      } finally spark.listenerManager.unregister(listener)
    assert(!(refined eq model) && !(split eq model), "both steps must split")
    assert(plans.exists(_.contains("min_by")), "the seed aggregates must be among the captured plans")
    val windowed = plans.filter(_.contains("Window"))
    assert(windowed.isEmpty,
      "a split step sorted members through a window (seeds and ids are " +
        "min_by/max_by aggregates, not row_number):\n" + windowed.headOption.getOrElse(""))
  }

  test("minhash LSH tokenizes each doc ONCE (verification reads the cached hashes)") {
    val exec = SparkEntry.queries("dedup_minhash")(spark, sf).queryExecution.executedPlan
    // tokenization/hashing must live only INSIDE cached relations (whose
    // internals are not operator-tree nodes); a kernel in the outer tree
    // means some leg re-tokenizes docs instead of reading the cache
    val outerKernels = ProbeReference.collectPlan(exec) { case p =>
      p.expressions.flatMap(_.collect {
        case e: graft.functions.NativeExprs.WhitespaceTokensExpr => e
        case e: graft.functions.NativeExprs.MinhashSigHashesExpr => e
      })
    }.flatten
    assert(outerKernels.isEmpty,
      s"kernels outside the signature cache: ${outerKernels.map(_.nodeName).distinct}")
    assert(exec.toString.contains("InMemoryTableScan"), "signature cache missing")
  }

  test("mixSample plans the bounded-heap aggregate, no ranking window, broadcast keep-list") {
    val p = plan(SparkEntry.queries("mix_sample")(spark, sf))
    assert(!p.contains("Window"),
      "per-source ranking window would funnel each source's rows through one task")
    assert(p.contains("BroadcastExchange"), "kept (source, doc_id) pairs must broadcast")
  }

  test("seq_pack's only window is partitioned by shard (no global running sum)") {
    val p = plan(SparkEntry.queries("seq_pack")(spark, sf))
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, "packing needs the per-shard running sum")
    windows.foreach(w => assert(w.contains("shard"),
      s"window must partition by shard, got: $w"))
  }

  test("corpus_split is map-only: no shuffle below the output sort") {
    val df = graft.operators.Corpus.assignSplit(
      graft.sources.Records.table(spark, sf, "documents"), col("text"))
    val exchanges = ProbeReference.collectPlan(df.queryExecution.executedPlan) {
      case e if e.nodeName.contains("Exchange") => e
    }
    assert(exchanges.isEmpty, "content-keyed split must not shuffle")
  }

  test("corpus_assemble_bpe: the trained-token budget kernel is map-only " +
    "inside the full assembly DAG — no vocabulary join, fused into the " +
    "one shared tokenize pass before the dedup groupBy") {
    // pin the UN-checkpointed front half (the memoized assembleFiltered
    // truncates the plan at the localCheckpoint scan)
    val p = plan(catalog.CorpusQueries.assembleFilteredDag(spark, sf))
    assert(!p.contains("Join"),
      "the BPE budget kernel must not plan a vocabulary join")
    assert(p.toLowerCase.contains("bpeapply"),
      "the trained-token kernel must appear in the assemble projection")
    // the kernel's verdict collapses into the dedup groupBy like every
    // other verdict column: exactly the aggregate exchange, nothing wide
    p.linesIterator.filter(_.contains("Exchange")).foreach { e =>
      assert(!e.contains("text#") && !e.contains("__toks#"),
        s"wide column in assemble shuffle: $e")
    }
    // and the full query keeps corpus_assemble's packing shape
    val full = plan(SparkEntry.queries("corpus_assemble_bpe")(spark, sf))
    val windows = full.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.contains("split") && w.contains("shard"),
      s"packing window must partition by (split, shard): $w"))
    // the FULL pipeline on trained tokens (near-dup drop + BPE budget)
    // keeps the same discipline: the kernel's verdict rides the shared
    // front half (pinned above), the CC anti-join and packing shuffles
    // stay narrow, and the packing window partitions by (split, shard)
    val dedup = plan(SparkEntry.queries("corpus_assemble_dedup_bpe")(spark, sf))
    dedup.linesIterator.filter(_.contains("Exchange")).foreach { e =>
      assert(!e.contains("text#") && !e.contains("__toks#"),
        s"wide column in deduped-assemble shuffle: $e")
    }
    val dWindows = dedup.linesIterator.filter(_.contains("Window [")).toSeq
    assert(dWindows.nonEmpty)
    dWindows.foreach(w => assert(w.contains("split") && w.contains("shard"),
      s"packing window must partition by (split, shard): $w"))
  }

  test("dedup_store_stats: a PURE scan of the maintained store — zero " +
    "signature kernels, no documents scan, narrow columns only") {
    val p = plan(SparkEntry.queries("dedup_store_stats")(spark, sf))
    // the census must read the on-disk banded table, never re-run the
    // signature pipeline over the corpus (at 100 TB the recompute costs
    // an index rebuild; the store exists to avoid exactly that)
    assert(!p.toLowerCase.contains("minhashsighashesexpr"),
      "store census must not plan a signature kernel")
    assert(!p.contains("documents.parquet"),
      "store census must not scan the corpus — only the store's banded table")
    assert(p.contains("graft_dedup_store_"),
      "store census must scan the on-disk store")
    p.linesIterator.filter(_.contains("Exchange")).foreach { e =>
      assert(!e.contains("text#") && !e.contains("__shh#") && !e.contains("__sig#"),
        s"wide column in census shuffle: $e")
    }
  }

  test("ivf_merge_stats: the store never shuffles wide — merge joins broadcast " +
    "the cluster-count-bounded sides, embeddings stay out of data shuffles") {
    val p = plan(SparkEntry.queries("ivf_merge_stats")(spark, sf))
    // survivor-id and change-log sides are bounded frames: a sort-merge
    // join here would shuffle the full store at 100 TB
    assert(!p.contains("SortMergeJoin"),
      "merge path must broadcast its bounded sides, never shuffle the store")
    // data shuffles (hash exchanges) carry only narrow census columns;
    // the single-partition collect_list exchange that packs the 8
    // centroids for the map-side argmin is model-sized by construction
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { e =>
      assert(!e.contains("embedding#") && !e.contains("centroid#"),
        s"wide column in merge shuffle: $e")
    }
  }

  test("corpus_release_manifest rides the memos: no text column anywhere, " +
    "no fresh digest kernels, narrow shuffles only") {
    val p = plan(SparkEntry.queries("corpus_release_manifest")(spark, sf))
    // both inputs are checkpoint-backed narrow projections (assemble
    // front half + content-hash projection): a text#/md5/sha in this
    // plan means the manifest re-scanned the corpus
    assert(!p.contains("text#"), "manifest must not touch the text column")
    assert(!p.toLowerCase.contains("sha2") && !p.toLowerCase.contains("md5("),
      "manifest must ride the memoized digests, not recompute them")
    p.linesIterator.filter(_.contains("Exchange")).foreach { e =>
      assert(!e.contains("__toks#"), s"wide column in manifest shuffle: $e")
    }
  }

  test("corpus_assemble shuffles are narrow (no text/token arrays) and packing partitions by (split, shard)") {
    val p = plan(SparkEntry.queries("corpus_assemble")(spark, sf))
    p.linesIterator.filter(_.contains("Exchange")).foreach { e =>
      assert(!e.contains("text#") && !e.contains("__toks#"),
        s"wide column in shuffle: $e")
    }
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.contains("split") && w.contains("shard"),
      s"packing window must partition by (split, shard): $w"))
  }

  test("corpus_chunk_text over an ALREADY-PARALLEL input plans no hash " +
    "Exchange: spreadIfNarrow is the identity and text never shuffles") {
    // Build a documents store whose SCAN is already as parallel as the
    // session (4 splits at local[4]): 4 part files, with
    // maxPartitionBytes shrunk below the 4 MiB per-file open cost so the
    // reader cannot coalesce the tiny files into one split — the shape a
    // warehouse-scale table always has. The r11-flagged wrapper
    // (`docs.repartition(doc_id)`) would shuffle the text column here;
    // the conditional spread must plan NOTHING but the scan, the chunk
    // projection, and the output sort's range exchange.
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(
        new java.io.File("target").toPath), "wide_docs").toString
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", null)
    try {
      spark.read.parquet(s"$sf/documents.parquet").repartition(4)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
      // the SCAN is what must be wide (the final orderBy's post-shuffle
      // partition count is AQE-coalesced and irrelevant here)
      assert(spark.read.parquet(s"$dir/documents.parquet")
        .rdd.getNumPartitions >= 4, "fixture must present a wide scan")
      val df = SparkEntry.queries("corpus_chunk_text")(spark, dir)
      val p = plan(df)
      p.linesIterator.filter(_.contains("Exchange")).foreach { e =>
        assert(e.contains("rangepartitioning"),
          s"only the output sort may exchange — found: $e")
        assert(!e.contains("text#"), s"text column in shuffle: $e")
      }
      // and the helper itself is the identity on a wide frame
      val wide = spark.read.parquet(s"$dir/documents.parquet")
      assert(Caching.spreadIfNarrow(wide, col("doc_id")) eq wide)
    } finally {
      if (prev == null) spark.conf.unset("spark.sql.files.maxPartitionBytes")
      else spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }

  test("dedup_incremental_store: the corpus side is a PURE SCAN of the " +
    "on-disk index — signature kernels run only on the arriving slice") {
    val p = plan(SparkEntry.queries("dedup_incremental_store")(spark, sf))
    val kernelLines = p.linesIterator
      .filter(_.toLowerCase.contains("minhashsighashesexpr")).toSeq
    assert(kernelLines.nonEmpty, "the arriving slice must be signed")
    kernelLines.foreach(l => assert(l.contains("text#"),
      s"signature kernel off the stream side (corpus re-hash!): $l"))
    // the stored index legs surface as plain columnar scans
    assert(p.linesIterator.exists(l =>
      (l.contains("FileScan") || l.contains("Scan parquet")) && l.contains("band_hash")),
      "banded index must be read from the store, not recomputed")
    assert(p.linesIterator.exists(l =>
      (l.contains("FileScan") || l.contains("Scan parquet")) && l.contains("__corpus_shh")),
      "shingle identities must be read from the store, not recomputed")
  }

  test("pack_bpe: trained-token count is map-only (no vocabulary join); " +
    "only the shard window and the output sort exchange, never text") {
    val df = SparkEntry.queries("pack_bpe")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Join"),
      "the per-instance BPE kernel must not plan a vocabulary join")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    exchanges.foreach { e =>
      // REPARTITION_BY_NUM is the conditional narrow-input CPU spread
      // (sf0.001 is one split here; identity on wide inputs — pinned by
      // the ALREADY-PARALLEL test above)
      assert(e.contains("rangepartitioning") || e.contains("shard")
          || e.contains("REPARTITION_BY_NUM"),
        s"only the shard window + output sort may exchange: $e")
      assert(!e.contains("text#"), s"text column in shuffle: $e")
    }
  }

  test("corpus chunking is map-only: no shuffle anywhere in the operator") {
    val df = graft.operators.Corpus.chunk(
      graft.sources.Records.table(spark, sf, "documents"),
      size(graft.operators.TextOps.tokens(col("text"))), budget = 32, overlap = 8)
    val exchanges = ProbeReference.collectPlan(df.queryExecution.executedPlan) {
      case e if e.nodeName.contains("Exchange") => e
    }
    assert(exchanges.isEmpty, "window chunking must not shuffle")
  }

  test("chunkText materialization is map-only: no shuffle, no join-back") {
    val df = graft.operators.Corpus.chunkText(
      graft.sources.Records.table(spark, sf, "documents"),
      graft.operators.TextOps.tokens(col("text")), budget = 32, overlap = 8)
    val p = df.queryExecution.executedPlan
    val exchanges = p.collect { case e if e.nodeName.contains("Exchange") => e }
    assert(exchanges.isEmpty, "chunk text slices must ride the document's partition")
    assert(!plan(df).contains("Join"), "tokens must ride the explode, never re-join")
  }

  test("vocabTop plans the two-stage wordcount: no Expand, bounded TakeOrdered") {
    val df = graft.operators.TextOps.vocabTop(
      graft.sources.Records.table(spark, sf, "documents"), k = 100)
    val p = plan(df)
    assert(!p.contains("Expand"),
      "a count-distinct Expand would double every exploded token row pre-shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k must be bounded, not a full sort")
    // neither shuffle carries the text column — tokens only
    p.linesIterator.filter(_.contains("Exchange")).foreach(e =>
      assert(!e.contains("text#"), s"text column in shuffle: $e"))
  }

  test("standing gram index: once materialized, every decontamination-family " +
    "consumer plans over the checkpointed RDD — zero documents-parquet rescans") {
    // materialize the memo (any consumer builds it)
    SparkEntry.queries("corpus_decontaminate")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    // each sibling's physical plan must read the memoized index (an
    // ExistingRDD scan), never re-tokenize the corpus: a regression here
    // is exactly the 7.6 s-per-query recompute the index exists to kill
    Seq("corpus_decontaminate", "corpus_decontaminate_bloom",
      "corpus_decontaminate_13", "corpus_contamination_report",
      "corpus_novelty", "corpus_gram_index_stats").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("documents.parquet"),
        s"$q re-scans the corpus instead of the standing gram index")
      assert(p.contains("ExistingRDD"), s"$q must scan the checkpointed index")
    }
  }

  test("events_salted_enrich: the fact-dim join Exchange partitions on " +
    "(user_id, __salt) — dropping the salt from the join key would " +
    "silently restore the whale-key funnel") {
    // at test scale Catalyst (rightly) broadcasts the tiny dim and no
    // join shuffle exists; the property under pin is the 100 TB shape,
    // where the data-proportional dim exceeds any broadcast threshold —
    // force the shuffle path to expose it
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(SparkEntry.queries("events_salted_enrich")(spark, sf))
      val saltedExchange = p.linesIterator.exists(l =>
        l.contains("hashpartitioning") && l.contains("user_id") && l.contains("__salt"))
      assert(saltedExchange,
        "expected a shuffle keyed on (user_id, __salt):\n" +
          p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE skew-join does NOT fire on the broadcast-ineligible whale-key " +
    "shape Skew.saltedEquiJoin covers; recommendSalts measures the whale") {
    import graft.operators.Skew
    import spark.implicits._
    // a whale key (8k of 9k fact rows) on a dim too big to broadcast
    // (threshold forced off) — the row-count straggler whose shuffle
    // partition stays far below AQE's 256 MB skewedPartitionThreshold,
    // so runtime re-planning never splits it (the decision-table row
    // salting exists for)
    val facts = ((0 until 8000).map(i => (1L, i.toLong)) ++
      (0 until 1000).map(i => (2L + i % 50, 8000L + i)))
      .toDF("k", "row_id")
    val dim = (1L to 60L).map(k => (k, s"d$k")).toDF("k", "attr")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevS = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    try {
      val plain = facts.join(dim, Seq("k"))
      assert(plain.count() === 9000)
      // the FINAL adaptive plan after execution: sort-merge join, no
      // skew=true split marker anywhere
      val executed = plain.queryExecution.executedPlan.toString
      assert(executed.contains("SortMergeJoin"), executed.take(800))
      assert(!executed.contains("skew=true"),
        "AQE split this tiny-bytes whale — the decision table is wrong:\n" +
          executed.take(800))
      // the measurement helpers see the whale and size the spread
      val head = Skew.skewProfile(facts, "k", topN = 1)
        .as[(Long, Long)].head()
      assert(head === ((1L, 8000L)))
      assert(Skew.recommendSalts(facts, "k", targetRowsPerTask = 1000) === 8)
      assert(Skew.recommendSalts(facts, "k", targetRowsPerTask = 1000,
        maxSalts = 4) === 4)
      assert(Skew.recommendSalts(facts.where(col("k") > 1L), "k",
        targetRowsPerTask = 1000) === 1) // no whale -> don't salt
      // and the salted shape actually spreads the whale across lanes
      val lanes = Skew.saltedEquiJoin(facts, dim, "k", col("row_id"), 8)
        .where(col("k") === 1L)
        .select(pmod(col("row_id"), lit(8L))).distinct().count()
      assert(lanes === 8L, s"whale rows occupied $lanes of 8 salt lanes")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevS)
    }
  }

  test("dedup_apply anti-join shuffles only the doc_id key, scan is column-pruned") {
    val p = plan(SparkEntry.queries("dedup_apply")(spark, sf))
    // a dedup drop list can be a large fraction of the corpus, so the
    // scale-correct shape is a shuffled anti-join on the 8-byte key (AQE
    // converts to broadcast when the list turns out small) — what must
    // NEVER happen is the text column riding the shuffle or the scan
    assert(p.contains("LeftAnti"), p.linesIterator.take(8).mkString("\n"))
    p.linesIterator.filter(_.contains("Exchange")).foreach(e =>
      assert(!e.contains("text#"), s"text column in shuffle: $e"))
    val schemas = "ReadSchema: (\\S+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.nonEmpty && schemas.forall(!_.contains("text")),
      s"corpus scan must prune to doc_id: $schemas")
  }

  test("relational family: fixed-size dim joins (nation/region) broadcast, never sort-merge") {
    // nation (25 rows) and region (5 rows) are FIXED-SIZE at any scale
    // factor — a statistics regression that let AQE plan a sort-merge
    // join against them would shuffle the fact side at 100 TB for
    // nothing. The fact-fact joins (lineitem⋈orders⋈customer) are NOT
    // pinned: those scale together and sort-merge is the correct shape.
    Seq("sales_by_nation", "supplier_by_region").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      p.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
        assert(!l.contains("n_nationkey") && !l.contains("r_regionkey"),
          s"$q plans a sort-merge join against a fixed-size dim:\n$l")
      }
      assert(p.contains("BroadcastHashJoin"),
        s"$q must broadcast its nation/region dim join")
    }
  }

  test("events_user_activity distinct-user rollup plans without Expand") {
    val p = plan(SparkEntry.queries("events_user_activity")(spark, sf))
    assert(!p.contains("Expand"),
      "count-distinct must run as the two-stage rollup, not an Expand")
  }

  test("corpus_stats rollup plans without Expand") {
    val p = plan(SparkEntry.queries("corpus_stats")(spark, sf))
    assert(!p.contains("Expand"),
      "exact uniques must run as the two-stage rollup, not an Expand")
  }

  test("temporal queries prune the events scan (props column never read)") {
    Seq("events_asof_join", "events_range_join", "events_next_purchase").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("props"), s"$q reads the unused props column")
    }
  }

  test("ivf_adc_query: code scan plans bounded top-k; no sort-merge or cartesian join") {
    val p = plan(SparkEntry.queries("ivf_adc_query")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "ADC top-k must be a bounded TakeOrdered, not a global sort\n" + p.take(1500))
    // the only joins are the broadcast probe semi-join and 1-row
    // broadcast LUT/codebook attaches
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("ivf_adc_residual_query: broadcast-only joins, bounded top-k") {
    val p = plan(SparkEntry.queries("ivf_adc_residual_query")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "residual ADC top-k must be a bounded TakeOrdered, not a global sort\n" +
        p.take(1500))
    // the cluster-LUT attach is a broadcast hash join on cluster_id —
    // it must never degrade to a shuffle join or a cartesian scan
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("text_bm25_topk plans the bounded heap per query: no ranking window") {
    val p = plan(SparkEntry.queries("text_bm25_topk")(spark, sf))
    assert(!p.contains("Window"),
      "a ranking window would funnel the scored corpus through one task per query")
    assert(p.contains("TopKPairsAgg") || p.contains("topkpairsagg"), p.take(2000))
  }

  test("events_top_users plans the bounded heap: no ranking window over the data") {
    val p = plan(SparkEntry.queries("events_top_users")(spark, sf))
    assert(!p.contains("Window"),
      "top-N per group must run through TopKPairsAgg, not a row_number window")
    assert(p.contains("ObjectHashAggregate"), "expected the heap aggregate")
  }

  test("events_funnel: three chained reductions, no window, no nested loop") {
    val p = plan(SparkEntry.queries("events_funnel")(spark, sf))
    assert(!p.contains("Window") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.linesIterator.take(8).mkString("\n"))
  }

  test("corpus_funnel's only nested-loop joins are single-row aggregate cross joins") {
    val df = SparkEntry.queries("corpus_funnel")(spark, sf)
    val bnl = ProbeReference.collectPlan(df.queryExecution.executedPlan) {
      case e if e.nodeName.contains("BroadcastNestedLoopJoin") => e
    }
    // each side of every BNL join is an Aggregate output (1 row); a
    // data-sized child here would be a scale-killer
    bnl.foreach { j =>
      j.children.foreach { c =>
        val s = c.toString
        assert(s.contains("HashAggregate") || s.contains("Exchange"),
          s"BNL child is not an aggregate:\n$s")
      }
    }
  }

  test("events_retention: reductions only — no window, no event-log self-join blowup") {
    val p = plan(SparkEntry.queries("events_retention")(spark, sf))
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(8).mkString("\n"))
  }

  test("text_lm_score: fused scoring is map-only — no join, no explode") {
    val p = plan(SparkEntry.queries("text_lm_score")(spark, sf))
    assert(!p.contains("Join"),
      "fused LM scoring must not join the model\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("Generate"),
      "fused LM scoring must not explode trigram rows\n" + p.take(1200))
  }

  test("corpus_decon_semantic: block-bounded hash join, never a corpus x benchmark cartesian") {
    val p = plan(SparkEntry.queries("corpus_decon_semantic")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // candidate pairs come from an equi-join on the block id (the
    // nested-loop nodes in the plan are the established 1-row broadcast
    // centroid-array attaches inside the blocking, not pair generation)
    assert(p.contains("HashJoin [block"),
      p.linesIterator.filter(_.contains("Join")).take(4).mkString("\n"))
  }

  test("corpus_line_dedup counts line frequency without Expand") {
    val p = plan(SparkEntry.queries("corpus_line_dedup")(spark, sf))
    assert(!p.contains("Expand"),
      "distinct-doc counting must be the two-stage shape, not count(DISTINCT)+Expand\n" +
        p.linesIterator.take(10).mkString("\n"))
  }

  test("corpus_split_safe shuffles ids only, never text") {
    val df = SparkEntry.queries("corpus_split_safe")(spark, sf)
    val exchanges = shuffledColumns(df)
    exchanges.foreach(e => assert(!e.contains("text#"), s"text column in shuffle: $e"))
  }

  test("exact dedup groups by a hash key, never shuffling full text") {
    val df = SparkEntry.queries("dedup_exact")(spark, sf)
    val exchanges = shuffledColumns(df)
    // the partitioning key of every shuffle is the md5 alias or an agg
    // output, never the raw text column
    exchanges.foreach(e => assert(!e.contains("text#"), s"text column in shuffle: $e"))
  }

  test("substring dedup: no window function, no cartesian, text never shuffled") {
    val df = SparkEntry.queries("corpus_substring_dedup")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Window"),
      "interval union must fold over sorted starts, not a window function")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = shuffledColumns(df)
    // shuffles carry (doc_id, pos, hash) / per-doc aggregates — never text
    exchanges.foreach(e => assert(!e.contains("text#"), s"text column in shuffle: $e"))
  }

  test("day-partitioned event log: a 3-day window statically prunes to 3 of 30 day files") {
    import graft.sources.EventLog
    val store = java.nio.file.Files.createTempDirectory("graft_eventlog").toString + "/s"
    val events = graft.streaming.EventStream.loadEvents(spark, sf)
    EventLog.snapshotByDay(events, store)
    val df = EventLog.timeRange(spark, store, "2024-01-10 00:00:00", "2024-01-13 00:00:00")
    // row-level correctness comes from the ts predicate itself
    val want = events.where(col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
        col("ts") < to_timestamp(lit("2024-01-13 00:00:00")))
      .select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val got = df.collect().map(_.getAs[Long]("event_id")).toSet
    assert(got === want && got.nonEmpty)
    assert(!df.columns.contains("event_date"))
    // the date predicate is STATIC partition pruning: the window spans 4
    // calendar days inclusive ([Jan 10, Jan 13]) so at most 4 of the
    // store's ~30 day files become splits
    val p = plan(df)
    assert(p.contains("PartitionFilters") && p.contains("event_date"), p)
    val scan = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty, p)
    val n = scan.head.metrics("numFiles").value
    assert(n >= 3 && n <= 4, s"expected 3-4 pruned day files, scanned $n")
  }

  test("NB classifier: model rides broadcasts, no shuffle ever carries text") {
    val df = SparkEntry.queries("text_nb_langid")(spark, sf)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"),
      "the charset³-bounded model frames must broadcast:\n" +
        p.linesIterator.take(20).mkString("\n"))
    // the only exchanges key on (doc_id[, tri|label]) — hash-partitioned
    // aggregation keys, never the document text
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text")),
      s"no shuffle may carry text:\n${exchanges.mkString("\n")}")
  }

  test("DSIR: bounded top-k, broadcast log-ratio join, and a single token explode") {
    val df = SparkEntry.queries("corpus_dsir")(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 selection must be a bounded heap, not a global sort")
    assert(!p.contains("SortMergeJoin"),
      "the ≤nBuckets log-ratio table must broadcast — a shuffle join on 64 bucket keys would be all skew")
    // the weights frame is memoized session state (fit-once lifecycle):
    // the query must plan over the persisted frame, and inside the
    // cached build the per-doc bucket-count exchange feeds both the raw
    // model and the scoring pass (AQE stage reuse), so the corpus pays
    // ONE token explode. The second consumer (corpus_dsir_mix) must hit
    // the same cache.
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      p.linesIterator.take(12).mkString("\n"))
    df.collect()
    val mix = SparkEntry.queries("corpus_dsir_mix")(spark, sf)
    assert(plan(mix).contains("InMemoryTableScan"),
      "corpus_dsir_mix must read the memoized weights, not refit")
  }

  test("BPE merge pairs: bounded top-k over the vocab, never a corpus-wide sort") {
    val p = plan(SparkEntry.queries("vocab_bpe_pairs")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("Window"), "no ranking window — ties resolve inside the bounded heap")
  }

  test("deterministicShuffle: one hash exchange on shard, window never partition-less") {
    import spark.implicits._
    val df = graft.operators.Corpus.deterministicShuffle(
      (0L until 64L).toDF("doc_id"), col("doc_id"), seed = 1L, nShards = 4)
    // parse the plan STRING: collect() would not descend into the
    // AdaptiveSparkPlan wrapper's inner plan
    val p = plan(df)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.length === 1, exchanges.mkString("\n"))
    assert(exchanges.head.contains("hashpartitioning"),
      s"shard shuffle must be hash, not range (a global sort): ${exchanges.head}")
    val global = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "pos rank must stay per-shard")
  }

  test("SCD2 history is join-free: one log shuffle + per-id window") {
    import spark.implicits._
    val log = Seq((1L, "upsert", 1L), (1L, "delete", 2L), (2L, "upsert", 1L))
      .toDF("id", "op", "seq")
    val p = plan(graft.operators.Crud.history(log))
    assert(!p.contains("Join"), s"history must not join the log to itself:\n$p")
  }

  test("embed_outliers: two bounded heaps, no ranking window") {
    val p = plan(SparkEntry.queries("embed_outliers")(spark, sf))
    assert(!p.contains("Window"),
      "kNN-outlier scoring must use the bounded heap, not a rank window")
  }

  test("events_bot_cadence: bounded top-k heap, per-user window only") {
    val df = SparkEntry.queries("events_bot_cadence")(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      "lowest-CV selection must be a bounded heap, not a global sort")
    val global = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "gap lag must stay per-user")
  }

  test("plan hygiene sweep: no query plans a cartesian product or an unlisted corpus-wide window") {
    // Partition-less windows collapse the frame into ONE task — allowed
    // only over tiny bucket-count frames (the two-level prefix-sum
    // layout, SURVEY §11.15). Any query not listed here that introduces
    // one is a 100 TB regression, not a style choice.
    val allowedGlobalWindow = Set(
      "corpus_quality_band",   // per-bucket count frame (≤ nBuckets rows)
      "corpus_sample_budget",  // bucket-offset frame (≤ nBuckets rows)
      "mix_token_budget",      // per-(source, bucket) count frame
      "events_value_sketch",   // dd-histogram bucket frame (≤ ~1700 rows by
                               // construction; the wrapper's lit grp folds away)
      "events_cusum")          // cumulative sum over the DAY frame — bounded
                               // by calendar span, never event count
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val globalWindows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      val cartesian = df.queryExecution.sparkPlan.toString.contains("CartesianProduct")
      (if (cartesian) Seq(s"$name: CartesianProduct") else Nil) ++
        (if (globalWindows.nonEmpty && !allowedGlobalWindow(name))
          Seq(s"$name: partition-less Window") else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("bucketed co-partitioned join: zero exchanges, correct rows") {
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_spec_" +
      spark.sparkContext.applicationId
    graft.sources.Records.writeBucketed(
      Seq((1L, "a"), (2L, "b"), (5L, "e")).toDF("id", "x"),
      "bspec_a", s"$base/a", "id", 4)
    graft.sources.Records.writeBucketed(
      Seq((1L, 10), (3L, 30), (5L, 50)).toDF("id", "y"),
      "bspec_b", s"$base/b", "id", 4)
    val j = spark.table("bspec_a").join(spark.table("bspec_b"), Seq("id"))
    val exchanges = ProbeReference.collectPlan(j.queryExecution.executedPlan) {
      case e if e.nodeName == "Exchange" || e.nodeName.contains("ShuffleExchange") => e.toString
    }
    assert(exchanges.isEmpty,
      s"bucketed join must be exchange-free, found:\n${exchanges.mkString("\n")}")
    assert(j.select("id", "x", "y").as[(Long, String, Int)].collect().sorted.toSeq
      === Seq((1L, "a", 10), (5L, "e", 50)))
  }

  test("binary Hamming funnels: chained bounded heaps, no ranking window, " +
    "no cartesian") {
    val p = plan(SparkEntry.queries("ann_hamming_rerank")(spark, sf))
    assert(p.split("TakeOrderedAndProject").length - 1 === 2,
      "funnel must be exactly two chained bounded heaps\n" + p.take(1500))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p.take(1500))
    val pb = plan(SparkEntry.queries("ann_hamming_batch")(spark, sf))
    assert(!pb.contains("Window"),
      "batch top-k must use the bounded-heap aggregate, not a ranking window\n"
        + pb.take(1500))
    assert(!pb.contains("SortMergeJoin") && !pb.contains("CartesianProduct"),
      pb.take(1500))
  }

  test("sales_by_nation: dim tables broadcast, lineitem scan pruned to 3 columns") {
    val p = plan(SparkEntry.queries("sales_by_nation")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "nation (25 rows) must ride a broadcast join\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p)
    // column pruning: the lineitem scan must not read unused measures
    assert(!p.contains("l_tax") && !p.contains("l_shipdate"),
      "lineitem scan reads unused columns\n" + p.take(1500))
  }
}
