package graft
import graft.catalog.Catalog
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/compare.py`). The queries run
  * through `Catalog.run`: in name order, with the session cache cleared
  * at each family boundary. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional further args narrow the dump to the named queries (local
    // iteration aid); the driver passes exactly two args (= dump all).
    // An unknown name fails here, before the session starts.
    val only = args.drop(2).toSet
    Catalog.select(only)
    val spark = SparkEntry.localSession()
    // A FULL run owns its dumps: clear stale per-query dumps first, so a
    // leftover parquet from an earlier narrowed run (or a renamed query)
    // can never satisfy the compare with pre-change results. Only entries
    // this tool writes are touched — current query names, dump-shaped
    // directories (holding parquet part files — covers renamed/removed
    // queries), and oracle_sql.json — never unrelated files a caller may
    // keep beside the dumps. Narrowed runs keep everything (iteration aid).
    if (only.isEmpty) {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete()
      }
      def dumpShaped(f: java.io.File) = f.isDirectory &&
        Option(f.listFiles()).exists(_.forall(c =>
          c.getName.startsWith("part-") || c.getName.startsWith("_SUCCESS") ||
            c.getName.startsWith(".")))
      Option(new java.io.File(outDir).listFiles()).foreach(_.foreach { f =>
        if (SparkEntry.queries.contains(f.getName) ||
            f.getName == "oracle_sql.json" || dumpShaped(f)) rm(f)
      })
    }
    new java.io.File(outDir).mkdirs()
    Catalog.run(spark, only) { q =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
