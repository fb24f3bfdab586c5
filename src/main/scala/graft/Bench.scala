package graft

/** Benchmark main: one JSON line of per-query wall times at the target SF.
  *
  * Each query is timed over a FULL materialization via the `noop` sink —
  * `count()` would let Catalyst prune every column not needed for counting,
  * so projection-heavy queries (md5 fingerprints, quality scores) would
  * never execute their real work. Failures are loud: the failing queries
  * are reported in the JSON and the process exits nonzero.
  *
  * The warmup builds the catalog's declared session fixtures
  * (`Catalog.fixtures`), each on its own thread, and reports each build's
  * wall under `warmup_fixtures`; the timed queries then run through
  * `Catalog.run`, which decides the cache lifetime.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Optional positional args narrow the run to the named queries — a
    // local-iteration aid; no args runs every query.
    // An unknown name fails here, before the session starts.
    val only = args.toSet
    catalog.Catalog.select(only)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    // Session warmup, timed and reported (warmup_s and its per-step
    // breakdown): the catalog's declared session fixtures, each built once
    // as a production session builds them once per corpus version, and the
    // one-time JIT work (codegen compiler, MLlib and text-kernel classes,
    // parquet reader init) on small slices, so the first timed query is
    // charged for neither. It runs none of the timed queries.
    val warmupSteps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val fixtureTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val warmupJit = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Host-contention instrumentation (r10 finding: driver-run warmup
    // numbers contradicted quiet-host claims and were only reconcilable
    // by hand): the artifact records the 1-min load average at start/end
    // and, per warmup step and for the timed section, the JVM's OWN
    // process-CPU seconds next to wall seconds. A reader then separates
    // "this code got slower" from "the host was busy" without outside
    // context: cpu_s ≈ wall_s × (our parallelism) and low load → real
    // cost; wall_s ≫ cpu_s/cpus or load ≫ 0 → contention-inflated.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadAvg: Double = osBean.getSystemLoadAverage // -1 when unsupported
    def procCpuNs: Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    // Cumulative stop-the-world GC milliseconds (all collectors): the
    // r12 variance investigation found multi-second single-pass stalls
    // hitting a DIFFERENT query each run (ivf_balanced_stats once
    // measured 0.75 / 31.8 / 0.68 s across its three passes) — whether
    // such a stall is a GC pause or host noise was not answerable from
    // the artifact. Per-pass GC deltas make it mechanical: a stall with
    // matching gc_spikes entry is the JVM; without one, the host.
    def gcMs: Long = {
      var t = 0L
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      while (it.hasNext) { val c = it.next().getCollectionTime; if (c > 0) t += c }
      t
    }
    val loadAvgStart = loadAvg
    val warmupCpu = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def step[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime(); val c0 = procCpuNs
      val r = body
      warmupSteps(label) = (System.nanoTime() - t0) / 1e9
      val c1 = procCpuNs
      if (c0 >= 0 && c1 >= 0) warmupCpu(label) = (c1 - c0) / 1e9
      r
    }
    locally {
      import org.apache.spark.sql.functions._
      // Every declared fixture builds on its own thread, next to the JIT
      // thread; Spark's scheduler interleaves their jobs across the
      // executor threads, so the warmup wall is the longest build chain,
      // not the sum. A fixture that reads another (the rank frames read
      // the MinHash pair list) blocks on that memo's one build
      // (`SessionMemo` is a computeIfAbsent) and reuses its result. No
      // fixture build clears the cache, so the threads never evict each
      // other's cached frames.
      val jitTimes = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      def jitLane(): Unit = {
        import graft.operators.TextOps
        import org.apache.spark.ml.functions.array_to_vector
        def jstep(label: String)(body: => Unit): Unit = {
          val t0 = System.nanoTime(); body
          jitTimes.put(label, (System.nanoTime() - t0) / 1e9); ()
        }
        // 4096 rows: the step exists for one-time reader/codec/sink init,
        // which is size-independent; the fixture builds read the same
        // files in full, so every extra row here is CPU taken from them
        jstep("tables") { Seq("embeddings", "documents").foreach { t =>
          spark.read.parquet(s"$sfDir/$t.parquet").limit(4096)
            .write.format("noop").mode("overwrite").save()
        } }
        val tiny = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
        jstep("codegen_jit") {
          tiny.groupBy(col("label")).agg(count(lit(1)).as("n"))
            .join(tiny.select(col("label")).distinct(), Seq("label"))
            .orderBy(col("label"))
            .write.format("noop").mode("overwrite").save()
        }
        jstep("mllib_jit") {
          new org.apache.spark.ml.clustering.KMeans().setK(2).setSeed(1L).setMaxIter(2)
            .setFeaturesCol("__f")
            .fit(tiny.select(array_to_vector(col("embedding")).as("__f")))
          ()
        }
        jstep("text_kernel_jit") {
          val warmDocs = spark.read.parquet(s"$sfDir/documents.parquet").limit(512)
            .withColumn("__toks", TextOps.tokens(col("text")))
            .withColumn("__stats", TextOps.tokenStats(col("__toks")))
          warmDocs
            .select(
              md5(col("text")), sha2(col("text"), 256),
              TextOps.langFromVotes(col("__stats.votes")),
              TextOps.qualityFromStats(col("text"), col("__toks"), col("__stats")),
              TextOps.shingleHashes(TextOps.shinglesFromTokens(col("__toks"), 3)),
              graft.functions.NativeExprs.minhashSigHashes(
                TextOps.shinglesFromTokens(col("__toks"), 3), 16),
              graft.functions.NativeExprs.simhash60(col("__toks")))
            .write.format("noop").mode("overwrite").save()
        }
        // No LSH-pipeline step: the MinHash group-map fixture compiles the
        // same LSH and connected-component classes at full scale on its
        // own thread (a 512-doc rehearsal here was 7.3 s of duplicated
        // compile and pipeline CPU).
      }
      val built = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      val warmupError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      def thread(body: => Unit): Thread = {
        val t = new Thread(() =>
          try body catch { case e: Throwable => warmupError.compareAndSet(null, e); () })
        t.setDaemon(true); t.start(); t
      }
      val threads = thread(jitLane()) +: catalog.Catalog.fixtures.map { f =>
        thread {
          val t0 = System.nanoTime()
          f.build(spark, sfDir).write.format("noop").mode("overwrite").save()
          built.put(f.name, (System.nanoTime() - t0) / 1e9); ()
        }
      }
      step("fixtures") { threads.foreach(_.join()) }
      // a failed fixture build would silently re-run inside whichever
      // timed query reads it first: fail the bench loudly instead
      if (warmupError.get() != null) throw warmupError.get()
      // per-fixture wall from warmup start, waits on other fixtures
      // included (concurrent, so not added into warmup_s; the "fixtures"
      // step carries the real cost)
      catalog.Catalog.fixtures.foreach(f => fixtureTimes(f.name) = built.get(f.name))
      jitTimes.forEach((k, v) => { warmupJit(k) = v; () })
    }
    val queriesT0 = System.nanoTime(); val queriesC0 = procCpuNs
    // GC baseline at the start of the timed section: queries_gc_s must be
    // the DELTA over the queries phase (like queries_wall_s/queries_cpu_s),
    // not cumulative-since-JVM-start, or it silently includes warmup GC.
    val queriesG0 = gcMs
    var failed = List.empty[String]
    // Noise robustness: each query is timed over TWO full materializations
    // and the MIN is recorded. One pass has ±1 s machine-load noise at
    // sf0.1 — the same order as most queries' runtime — so single-pass
    // artifacts showed phantom ±36% swings on unchanged code (r5); the min
    // of two back-to-back passes is the steady-state number a long-lived
    // session observes, and is stable run-to-run. Both raw passes are
    // emitted under "passes" so a reader can see the spread.
    //
    // Cache lifetime is the catalog runner's: it clears the session cache
    // at each family boundary, the first one dropping what the warmup
    // cached (`Catalog.run`).
    val gcSpikes = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    val results = catalog.Catalog.run(spark, only) { q =>
      val name = q.name
      // (wall seconds, stop-the-world GC seconds) per pass
      def onePass(): (Double, Double) = {
        val t0 = System.nanoTime(); val g0 = gcMs
        q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, (gcMs - g0) / 1e3)
      }
      val timed =
        try {
          val two = List(onePass(), onePass())
          // Adaptive third pass: when the two passes disagree by >1.5×
          // the min is still contaminated by one-off noise (GC, block
          // eviction, a concurrent kernel compile) — unchanged code has
          // shown phantom 2-4× swings between ROUNDS on exactly such
          // keys (r8→r9: corpus_temperature_mix, embed_outliers). One
          // extra pass only on the noisy keys keeps the artifact
          // noise-robust without doubling the whole bench.
          if (two.map(_._1).max / math.max(two.map(_._1).min, 1e-9) > 1.5)
            onePass() :: two
          else two
        }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed ::= name
            Nil
        }
      // surface only the pathological passes (≥1 s of GC) — the map
      // stays tiny on a healthy run and names the culprit on a bad one
      if (timed.exists(_._2 >= 1.0)) gcSpikes(name) = timed.map(_._2)
      name -> timed.map(_._1)
    }.toMap
    val queriesWall = (System.nanoTime() - queriesT0) / 1e9
    val queriesC1 = procCpuNs
    val queriesCpu =
      if (queriesC0 >= 0 && queriesC1 >= 0) (queriesC1 - queriesC0) / 1e9 else -1.0
    val loadAvgEnd = loadAvg
    // 4-decimal (0.1 ms) formatting: the artifact is ONE line, and at
    // ~190 queries full-precision doubles pushed past the harness's line
    // budget — round 6's recorded tail was truncated mid-JSON. Four
    // decimals is far below run-to-run noise and halves the line.
    def f4(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def obj(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f4(v) }.mkString("{", ",", "}")
    def arrays(m: Iterable[(String, List[Double])]): String =
      m.map { case (k, vs) => "\"" + k + "\":" + vs.map(f4).mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    val mins = results.map { case (k, ps) => k -> (if (ps.isEmpty) 0.0 else ps.min) }
    val total = if (mins.nonEmpty) mins.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val warmupTotal = warmupSteps.values.sum
    // the contention block repeats on BOTH lines: the compact last line
    // is often the only part of the artifact that survives log-tail
    // truncation, and it must be self-interpreting on its own
    val hostJson = s""""load_avg_start":${f4(loadAvgStart)},"load_avg_end":${f4(loadAvgEnd)},"cpus":$cpus,"queries_wall_s":${f4(queriesWall)},"queries_cpu_s":${f4(queriesCpu)},"queries_gc_s":${f4((gcMs - queriesG0) / 1e3)},"gc_spikes":${arrays(gcSpikes)}"""
    // The full-detail line is tagged "total_detail" so exactly ONE line
    // in the whole output carries "metric":"total" (the compact last
    // line below) — a consumer grepping for the total can neither hit
    // the ~8 KB detail line (truncated in the driver's log tail,
    // r6-r9's "parsed": null) nor double-count two totals.
    val line = s"""{"metric":"total_detail","value":${f4(total)},"unit":"sec","n_queries":${results.size},"queries":${obj(mins)},"passes":${arrays(results)},"failed":$failedJson,"warmup_s":${f4(warmupTotal)},"warmup":${obj(warmupSteps)},"warmup_cpu":${obj(warmupCpu)},"warmup_jit":${obj(warmupJit)},"warmup_fixtures":${obj(fixtureTimes)},$hostJson,"sf":"$sfDir"}"""
    println(line)
    // Also persist to a file: the stdout line can land inside a
    // truncated log tail (r6/r7 artifacts show "parsed": null), and a
    // file survives any amount of surrounding log noise.
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      // the file is unambiguous (one line), so it keeps the plain tag
      java.nio.file.Files.write(out,
        (line.replaceFirst("\"metric\":\"total_detail\"", "\"metric\":\"total\"") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench.json write failed: ${e.getMessage}")
    }
    // Per-query MINS in SHORT chunk lines between the detail line and the
    // final total (r14 verdict item 1, additions-only): the ~8 KB
    // total_detail line has landed truncated in EVERY round's driver
    // artifact (2000-char log tail → PERF per_query empty since r6), so
    // the per-query data the round-over-round gate needs never reached
    // the driver. Each chunk is ~200 chars — whole lines survive any
    // tail cut — and chunks are ordered ASCENDING by time so the tail
    // keeps the slowest (most informative) queries. A consumer rebuilds
    // the full map by merging every {"metric":"query_min"} line; all
    // chunks also remain in the total_detail line and target/bench.json.
    mins.toSeq.sortBy { case (k, v) => (v, k) }.grouped(6).foreach { chunk =>
      println(s"""{"metric":"query_min","queries":${obj(chunk)}}""")
    }
    // LAST line: a compact summary that fits the driver's 2000-char log
    // tail whole (the full line above is ~8 KB and lands truncated →
    // r6/r7/r8 artifacts show "parsed": null). Per-query detail lives in
    // the full line and target/bench.json.
    println(s"""{"metric":"total","value":${f4(total)},"unit":"sec","n_queries":${results.size},"failed":$failedJson,"warmup_s":${f4(warmupTotal)},$hostJson,"sf":"$sfDir","queries_file":"target/bench.json"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
