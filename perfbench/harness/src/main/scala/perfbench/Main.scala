package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against graft's public
  * functions and writes everything it observed (set-up times, one record
  * per client operation with its latency and result ids, process CPU,
  * host load, and in a traced run the spans and listener counters) to a
  * JSON file. `perfbench/run.py` turns that file into metrics and checks
  * the results; this side computes no verdicts.
  *
  *   perfbench.Main --workload ann_serve --inputs DIR --work DIR
  *                  --seconds 10 --trace 0 --out result.json
  *                  [--queries a,b] [--vectors DIR]
  *
  * `--vectors` names the vector inputs when `--inputs` holds another
  * workload's (a traced catalog run probes the vector layers too).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cpus = Runtime.getRuntime.availableProcessors
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val loadStart = os.getSystemLoadAverage
    val work = opts("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, opts("inputs"), opts.getOrElse("vectors", opts("inputs")), work,
      opts("seconds").toDouble, opts("trace") == "1",
      opts.get("queries").toSeq.flatMap(_.split(",")))
    run.mark("session")
    val out = LinkedHashMap[String, Any]("workload" -> workload)
    try {
      Workloads.all(workload)(run)
      out ++= run.report
    } catch {
      case e: Throwable =>
        out("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    out("host") = Map("cpus" -> cpus, "load_avg_start" -> loadStart,
      "load_avg_end" -> os.getSystemLoadAverage)
    Files.write(Paths.get(opts("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** The host's CPU accounting from `/proc/stat`: time the hypervisor gave
  * to other guests (steal) marks a contended run. Empty where the file
  * does not exist. */
object Host {
  def cpuTicks: Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq
      finally src.close()
    } catch { case _: Exception => Seq.empty }

  /** Milliseconds of one run of a fixed Spark-only job that runs no
    * graft code: the host's speed at this moment, so that run.py can
    * scale the workload's times to a reference host speed. */
  def referenceMs(spark: SparkSession): Double = {
    val t = System.nanoTime()
    spark.range(0L, 400000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t) / 1e6
  }

  /** Megabytes the program holds live: heap used after a full
    * collection, plus non-heap (metaspace, code cache). The second
    * collection frees what the first one's reference processing released,
    * which makes the figure repeatable to within a megabyte. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Steal as a share of all CPU time between two readings, in percent. */
  def stealPct(before: Seq[Long], after: Seq[Long]): Double =
    if (before.length < 8 || after.length < 8) 0.0
    else {
      val d = after.zip(before).map { case (a, b) => a - b }
      val total = d.take(8).sum
      if (total <= 0) 0.0 else 100.0 * d(7) / total
    }
}

/** State of one benchmark run: the session, the tracer, the timed-phase
  * clock and the operation log. */
final class Run(val spark: SparkSession, val inputs: String, val vectorInputs: String,
    val work: String, val seconds: Double, traced: Boolean, val catalogQueries: Seq[String]) {
  val tracer = new Tracer(spark, traced)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs: Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  val setupS = ArrayBuffer.empty[Double]
  val ops = ArrayBuffer.empty[LinkedHashMap[String, Any]]
  val extra = LinkedHashMap.empty[String, Any]
  private var t0, cpu0, gc0, refCpu0, refWall0 = 0L
  private var wallS, cpuS, gcS, stealPct, liveMb = 0.0

  /** Reference-job times ([[Host.referenceMs]]) taken between the timed
    * operations, so that the host's speed is read in the same seconds as
    * the times it scales. Their wall and CPU time is left out of the
    * timed phase's. */
  val refMs = ArrayBuffer.empty[Double]
  private var refCpuNs, refWallNs = 0L
  private def sampleRef(n: Int): Unit = {
    val c = os.getProcessCpuTime
    val t = System.nanoTime()
    (1 to n).foreach(_ => refMs += Host.referenceMs(spark))
    refCpuNs += os.getProcessCpuTime - c
    refWallNs += System.nanoTime() - t
  }
  /** Seconds since JVM start at which each phase of the run began. */
  val phases = LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit =
    phases(phase) = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Time one repetition of the workload's set-up. */
  def setup[T](body: => T): T = {
    if (setupS.isEmpty) mark("setup")
    val t = System.nanoTime()
    val r = tracer.span("client.setup")(body)
    setupS += (System.nanoTime() - t) / 1e9
    r
  }

  /** Run `step` in a closed loop until `seconds` have passed (at least
    * `minOps` times) or until `step` reports that its inputs are used
    * up by returning false, reading the host's speed after every
    * `refEvery` steps (0: the step reads it itself). A traced run then
    * repeats the loop with tracing off for half as long, marking those
    * operations `untraced`, so the tracing overhead is measured on the
    * same session. The program's live memory is read before and after
    * the loop. */
  def timed(minOps: Int, refEvery: Int)(step: Int => Boolean): Unit = {
    liveMb = Host.liveMb()
    // the reference job's first runs are still warming up
    (1 to 10).foreach(_ => Host.referenceMs(spark))
    sampleRef(5)
    mark("timed")
    t0 = System.nanoTime(); cpu0 = os.getProcessCpuTime; gc0 = gcMs
    refCpu0 = refCpuNs; refWall0 = refWallNs
    val steal0 = Host.cpuTicks
    val next = loop(0, minOps, step, refEvery)
    wallS = (System.nanoTime() - t0 - (refWallNs - refWall0)) / 1e9
    cpuS = (os.getProcessCpuTime - cpu0 - (refCpuNs - refCpu0)) / 1e9
    gcS = (gcMs - gc0) / 1e3
    stealPct = Host.stealPct(steal0, Host.cpuTicks)
    mark("timed_end")
    liveMb = math.max(liveMb, Host.liveMb())
    if (tracer.enabled) {
      tracer.enabled = false
      untraced = true
      loop(next, minOps, step, refEvery = 0)
      untraced = false
      tracer.enabled = true
    }
  }

  private var untraced = false

  /** Read the host's speed between two timed operations. */
  def readHostSpeed(): Unit = if (!untraced) sampleRef(1)

  private def loop(first: Int, minOps: Int, step: Int => Boolean, refEvery: Int): Int = {
    val span = if (untraced) seconds / 2 else seconds
    // the reference job's time does not count against the loop's seconds
    val refWallStart = refWallNs
    val deadline = System.nanoTime() + (span * 1e9).toLong
    var i = first
    var more = true
    while (more && (i < first + minOps
        || System.nanoTime() < deadline + (refWallNs - refWallStart))) {
      more = step(i); i += 1
      if (refEvery > 0 && (i - first) % refEvery == 0) readHostSpeed()
    }
    i
  }

  /** Time one client operation; `body` fills in the operation record. */
  def op(i: Int, kind: String)(body: LinkedHashMap[String, Any] => Unit): Unit = {
    val rec = LinkedHashMap[String, Any]("op" -> i, "kind" -> kind)
    if (untraced) rec("untraced") = true
    val t = System.nanoTime()
    try tracer.op(i, kind)(body(rec))
    catch {
      case e: Exception =>
        rec("error") = s"${e.getClass.getName}: ${e.getMessage}"
    }
    rec("ms") = (System.nanoTime() - t) / 1e6
    ops += rec
  }

  def report: Map[String, Any] = {
    tracer.detach()
    Map("setup_s" -> setupS.toSeq, "ops" -> ops.toSeq, "extra" -> extra,
      "wall_s" -> wallS, "cpu_s" -> cpuS, "gc_s" -> gcS, "steal_pct" -> stealPct,
      "ref_ms" -> refMs.toSeq,
      "live_mb" -> liveMb,
      "phases" -> phases,
      "spans" -> tracer.allSpans.map(s => Map("id" -> s.id, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
        "op" -> s.op, "counters" -> s.counters)))
  }
}
