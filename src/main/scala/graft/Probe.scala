package graft

import org.apache.spark.sql.SparkSession

/** Scratch plan/timing probe: `runMain graft.Probe <queryName> [sfDir]`. */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // `explainAll <outDir> <q1> <q2> ...` — the r14 measurement sweep:
    // in ONE session (memos shared like the bench), per query: dump
    // `.explain("formatted")` to <outDir>/<q>.txt, then time THREE full
    // noop materializations (Bench methodology: min absorbs codegen
    // compile + one-off noise) and print per-query mins. Queries run in
    // sorted order with the bench's family-boundary clearCache so the
    // family-memo attribution matches the bench artifact.
    if (name == "explainAll") {
      // NOTE: unlike the single-query form, explainAll reads the data dir
      // from SPARK_GRAFT_SF_DIR (args(1) is the OUTPUT dir) — guard the
      // arity so `Probe explainAll` alone fails with usage, not an
      // ArrayIndexOutOfBounds (r14 advice)
      if (args.length < 3) {
        System.err.println(
          "usage: SPARK_GRAFT_SF_DIR=<sfDir> Probe explainAll <outDir> <q1> [q2 ...]")
        spark.stop(); sys.exit(2)
      }
      val sweepDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val outDir = java.nio.file.Paths.get(args(1))
      java.nio.file.Files.createDirectories(outDir)
      val names = args.drop(2).toSeq.sorted
      var prevFamily = ""
      val mins = names.map { q =>
        val family = q.takeWhile(_ != '_')
        if (family != prevFamily) { spark.catalog.clearCache(); prevFamily = family }
        val df = SparkEntry.queries(q)(spark, sweepDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"$q.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, sweepDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"PROBE $q min=${ts.min}%.3f passes=${ts.map(t => f"$t%.3f").mkString(",")}")
        q -> ts.min
      }
      println(f"PROBE_TOTAL ${mins.map(_._2).sum}%.3f over ${names.size} queries")
      spark.stop(); return
    }
    val df = SparkEntry.queries(name)(spark, dir)
    df.explain("formatted")
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      println(f"RUN$i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
