package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Source guard: lineage truncation and session memoization are each
  * decided in one place, `Caching.scala` ([[Caching.truncate]],
  * [[SessionMemo]]), the batch IVF probe order in one window,
  * `IvfIndex.probeBatch`, and the commit protocol of durable writes in
  * one module, `Commit.scala` ([[graft.sources.Commit]]). Any other main
  * source that checkpoints directly, hand-rolls a session-keyed map,
  * writes its own centroid ranking window, renames its own stage into
  * place, decides for itself what "nothing committed" means or writes
  * its own replay-idempotent batch partition fails here, and so does a
  * main source over 3,000 lines (the query catalog is split by family,
  * `graft/catalog/`). */
class OneModuleSpec extends SparkSpec {

  private val mainRoot = Paths.get("src", "main")

  /** Every main Scala source. */
  private lazy val files: Seq[Path] = {
    assert(Files.isDirectory(mainRoot), s"no ${mainRoot.toAbsolutePath}")
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Every main Scala source, with comments blanked out. */
  private lazy val sources: Seq[(Path, String)] =
    files.map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8")))

  private def stripComments(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  private def offenders(pattern: String, allowed: Path => Boolean): Seq[String] =
    sources.collect {
      case (p, code) if !allowed(p) && code.contains(pattern) => p.toString
    }

  test("the guard reads the main sources") {
    assert(sources.exists(_._1.getFileName.toString == "Caching.scala"))
    assert(sources.size > 20)
  }

  test(".localCheckpoint( is called only in Caching.scala") {
    assert(offenders(".localCheckpoint(", _.getFileName.toString == "Caching.scala").isEmpty)
  }

  test("PlanBridge.statsReset( is called only in Caching.scala") {
    assert(offenders("PlanBridge.statsReset(", _.getFileName.toString == "Caching.scala").isEmpty)
  }

  test("no session-keyed ConcurrentHashMap outside SessionMemo") {
    assert(offenders("ConcurrentHashMap[(SparkSession",
      _.getFileName.toString == "Caching.scala").isEmpty)
  }

  test("the batch probe order is written once: one centroid ranking window in src/main") {
    val ranking = java.util.regex.Pattern.quote("isnan(col(\"__cdist\"))").r
    val sites = sources.map { case (p, code) =>
      p.getFileName.toString -> ranking.findAllMatchIn(code).size
    }.filter(_._2 > 0)
    assert(sites === Seq("IvfIndex.scala" -> 1))
  }

  private def onlyInCommit(pattern: String): Unit = {
    assert(offenders(pattern, _.getFileName.toString == "Commit.scala").isEmpty)
    assert(sources.exists { case (p, code) =>
      p.getFileName.toString == "Commit.scala" && code.contains(pattern)
    }, s"Commit.scala no longer holds $pattern")
  }

  test("the checked rename is written once: only Commit.scala refuses a nested rename") {
    onlyInCommit("refusing nested rename")
  }

  test("the no-state read is written once: only Commit.scala names UNABLE_TO_INFER_SCHEMA") {
    onlyInCommit("UNABLE_TO_INFER_SCHEMA")
  }

  test("the replay-idempotent batch write is written once: " +
    "only Commit.scala sets partitionOverwriteMode") {
    onlyInCommit("partitionOverwriteMode")
  }

  test("no main Scala source is over 3,000 lines") {
    val long = files.map(p => p.toString -> Files.readAllLines(p).size).filter(_._2 > 3000)
    assert(long.isEmpty, s"split these by family or concern: $long")
  }
}
