package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its Spark build over a scale-factor directory and the
  * DuckDB SQL that must return the same rows over the same parquet tables. */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** A session fixture: a memoized, session-lifetime intermediate that several
  * queries read (a converged group map, a pair list, a gram index). `build`
  * returns the memo's frame and builds it on the first call per (session,
  * dir); its family file declares it next to its queries. */
final case class Fixture(name: String, build: (SparkSession, String) => DataFrame)

/** The declared query inventory (SURVEY.md §2.3) plus the training-data
  * pipeline extensions, each paired with DuckDB oracle SQL.
  *
  * Conventions for oracle hash-parity:
  *   - every computed double is rounded to 4 decimals via the SAME double
  *     expression in both engines ([[Shared.r4]]/[[Shared.sqlR4]]); ordering
  *     is done on the UNROUNDED value plus an id tiebreak;
  *   - both engines cast float vector elements to double BEFORE arithmetic
  *     and accumulate sequentially, so sums are bit-identical;
  *   - counts/len are bigint in both engines (DuckDB `len`/`count` are
  *     BIGINT; Spark `size` is cast).
  */
object Catalog {
  /** Every query, each defined once: fails at construction on a name that
    * two definitions share. */
  val all: Seq[QueryDef] = requireDistinct(Seq(
    ReferenceQueries.all, EventQueries.all, CorpusQueries.all, IvfQueries.all,
    DedupQueries.all, TextQueries.all, EmbedQueries.all, AnnQueries.all,
    SnapshotQueries.all, MediaQueries.all).flatten)

  /** Every declared session fixture: fails at construction on a name two
    * fixtures share or a name that is also a query's. */
  val fixtures: Seq[Fixture] = requireFixtures(Seq(
    Shared.fixtures, CorpusQueries.fixtures, DedupQueries.fixtures,
    MediaQueries.fixtures).flatten)

  private[graft] def requireDistinct(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = repeated(defs.map(_.name))
    require(dups.isEmpty, s"query defined more than once: ${dups.mkString(", ")}")
    defs
  }

  private[graft] def requireFixtures(fs: Seq[Fixture]): Seq[Fixture] = {
    val dups = repeated(fs.map(_.name))
    require(dups.isEmpty, s"fixture declared more than once: ${dups.mkString(", ")}")
    val clash = fs.map(_.name).filter(n => all.exists(_.name == n)).sorted
    require(clash.isEmpty, s"fixture named like a query: ${clash.mkString(", ")}")
    fs
  }

  private def repeated(names: Seq[String]): Seq[String] =
    names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }.toSeq.sorted

  /** The queries `only` names (every query when it is empty), in name
    * order; fails, listing them, on names the catalog does not define. */
  def select(only: Set[String]): Seq[QueryDef] = {
    val unknown = only.filterNot(n => all.exists(_.name == n)).toSeq.sorted
    require(unknown.isEmpty, s"unknown query name: ${unknown.mkString(", ")}")
    all.filter(q => only.isEmpty || only(q.name)).sortBy(_.name)
  }

  /** Runs `each` over [[select]]`(only)`, in that order, and returns its
    * results. This is where the catalog's cache lifetime is decided: the
    * session cache is cleared before the first query of each family (the
    * name up to its first '_'), so the frames a family caches serve its
    * own queries and are dropped before the next family starts.
    * Checkpoint-backed fixtures survive the clear; a frame cached with
    * [[Caching.ensureCached]] is cached again on its next use. */
  def run[T](spark: SparkSession, only: Set[String])(each: QueryDef => T): Seq[T] = {
    var family = ""
    select(only).map { q =>
      val f = q.name.takeWhile(_ != '_')
      if (f != family) { spark.catalog.clearCache(); family = f }
      each(q)
    }
  }
}
