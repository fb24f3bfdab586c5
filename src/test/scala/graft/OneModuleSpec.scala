package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Source guard: lineage truncation and session memoization are each
  * decided in one place, `Caching.scala` ([[Caching.truncate]],
  * [[SessionMemo]]). Any other main source that checkpoints directly or
  * hand-rolls a session-keyed map fails here. */
class OneModuleSpec extends SparkSpec {

  private val mainRoot = Paths.get("src", "main")

  /** Every main Scala source, with comments blanked out. */
  private lazy val sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(mainRoot), s"no ${mainRoot.toAbsolutePath}")
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8")))
    finally walk.close()
  }

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
}
