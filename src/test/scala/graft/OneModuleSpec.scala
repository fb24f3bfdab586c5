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
  * `graft/catalog/`). Cache lifetime is the catalog runner's
  * (`Catalog.run`): no other main source clears the session cache, and
  * Bench warms the declared fixtures, not query names. A split step
  * ([[graft.operators.IvfIndex.refine]], `splitKWay`) returns a finished
  * version, so only `IvfIndex.scala` releases a split's members cache.
  * The DuckDB oracle restates the fixed IVF centroids, the md5-hex
  * reduction, the tokenizer and the stopword vote in one fragment each,
  * in `catalog/Shared.scala`. */
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

  /** `src` with its comments removed. A comment marker inside a string
    * literal is text, not a comment: DuckDB's integer division in an
    * oracle string (`strt // 512`) stays, and so does the code of an
    * interpolation (`${...}`) and its own strings. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String): Boolean = src.startsWith(s, i)
    def copy(n: Int): Unit = { out.append(src.substring(i, math.min(i + n, src.length))); i += n }
    // code, up to the `}` that closes an interpolation or to the end
    def code(inInterpolation: Boolean): Unit = {
      var depth = 0
      while (i < src.length && !(inInterpolation && depth == 0 && src(i) == '}')) {
        if (at("//")) while (i < src.length && src(i) != '\n') i += 1
        else if (at("/*")) {
          val end = src.indexOf("*/", i + 2)
          i = if (end < 0) src.length else end + 2
        } else if (src(i) == '"') {
          val interpolated = i > 0 && Character.isLetterOrDigit(src(i - 1))
          val triple = at("\"\"\"")
          copy(if (triple) 3 else 1)
          string(triple, interpolated)
        } else if (at("'\\") && src.startsWith("'", i + 3)) copy(4) // '\n', '\''
        else if (src(i) == '\'' && src.startsWith("'", i + 2)) copy(3) // 'x', '"'
        else {
          if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
          copy(1)
        }
      }
    }
    // the rest of a string literal, through its closing quotes
    def string(triple: Boolean, interpolated: Boolean): Unit = {
      var open = true
      while (open && i < src.length) {
        if (triple && at("\"\"\"")) {
          while (at("\"\"\"\"")) copy(1)
          copy(3)
          open = false
        } else if (!triple && src(i) == '"') { copy(1); open = false }
        else if (!triple && src(i) == '\\') copy(2)
        else if (interpolated && at("$$")) copy(2)
        else if (interpolated && at("${")) { copy(2); code(inInterpolation = true); copy(1) }
        else copy(1)
      }
    }
    code(inInterpolation = false)
    out.toString
  }

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

  private def onlyIn(file: String, pattern: String): Unit = {
    assert(offenders(pattern, _.getFileName.toString == file).isEmpty)
    assert(sources.exists { case (p, code) =>
      p.getFileName.toString == file && code.contains(pattern)
    }, s"$file no longer holds $pattern")
  }

  private def onlyInCommit(pattern: String): Unit = onlyIn("Commit.scala", pattern)

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

  test("cache lifetime is decided once: only Catalog.scala calls clearCache(") {
    onlyIn("Catalog.scala", "clearCache(")
  }

  test("Bench names no catalog query: its warmup builds the declared fixtures") {
    val bench = files.find(_.getFileName.toString == "Bench.scala").get
    val text = new String(Files.readAllBytes(bench), "UTF-8")
    val named = SparkEntry.queries.keySet.filter(n => text.contains("\"" + n + "\"")).toSeq.sorted
    assert(named.isEmpty, s"Bench.scala names catalog queries: $named")
  }

  // each DuckDB restatement of a shared engine decision is one fragment in
  // Shared.scala, beside its engine twin; an oracle interpolates it
  Seq(
    "the fixed IVF centroids" -> "AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8",
    "the md5-hex reduction" -> "strpos('0123456789abcdef'",
    "the tokenizer" -> "regexp_split_to_array(translate(trim(",
    "the stopword language vote" -> "list_contains(['the','a','of'"
  ).foreach { case (decision, anchor) =>
    test(s"the oracle states $decision once: only Shared.scala holds its fragment") {
      onlyIn("Shared.scala", anchor)
    }
  }

  test("a split step owns its members cache: no KeepCache fork, " +
    "and only IvfIndex.scala unpersists split members") {
    assert(offenders("KeepCache", _ => false).isEmpty)
    onlyIn("IvfIndex.scala", "members.unpersist")
  }

  test("comments go, string literals stay: a // in an oracle string is DuckDB's " +
    "integer division") {
    val code = "val a = \"x // y\" // note\nval b = s\"\"\"|n // ${f(\"//\")} AS k\"\"\" /* c */ + '\"'"
    assert(stripComments(code) ===
      "val a = \"x // y\" \nval b = s\"\"\"|n // ${f(\"//\")} AS k\"\"\"  + '\"'")
    // every oracle margin line holding a ` // ` survives whole, so an
    // anchor after its ` // ` is seen
    val oracleLines = sources.filter(_._1.toString.contains("catalog")).flatMap { case (p, code) =>
      new String(Files.readAllBytes(p), "UTF-8").linesIterator
        .filter(l => l.trim.startsWith("|") && l.contains(" // ")).map(l => (p, code, l))
    }
    assert(oracleLines.size >= 40)
    oracleLines.foreach { case (p, code, line) => assert(code.contains(line), s"$p: $line") }
    assert(sources.exists { case (p, code) =>
      p.getFileName.toString == "CorpusQueries.scala" && code.contains("strt // 512 AS pack_id")
    })
  }

  test("no main Scala source is over 3,000 lines") {
    val long = files.map(p => p.toString -> Files.readAllLines(p).size).filter(_._2 > 3000)
    assert(long.isEmpty, s"split these by family or concern: $long")
  }
}
