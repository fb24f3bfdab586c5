package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Record-store framing and snapshot source/sink.
  *
  * The reference's storage is a single collection of
  * `Record { vector, metadata }` keyed by RecordID
  * (reference `src/types/record.rs:110-114`, `src/cores/storage.rs:10-13`).
  * Spark-side the canonical frame is
  * `id: bigint, embedding: array<float>, metadata: map<string,string>`
  * (SURVEY.md §1.1-1.2). Deterministic ids replace the reference's UUIDv4
  * (`record.rs:17-20`) so results are oracle-reproducible.
  *
  * Snapshots (reference `src/cores/database.rs:174-187`, bincode + atomic
  * rename) map to Parquet write/read, published by [[Commit]]'s staged
  * write-then-rename; at 100 TB the snapshot is a distributed columnar
  * table instead of a single driver-memory blob.
  */
object Records {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** embeddings.parquet → record frame. `label` becomes the metadata map,
    * mirroring how the reference carries per-record key/value metadata. */
  def fromEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "embeddings").select(
      col("vec_id").as("id"),
      col("embedding"),
      map(lit("label"), col("label").cast("string")).as("metadata"))

  /** documents.parquet → record frame with text-ish metadata (no vector). */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents").select(
      col("doc_id").as("id"),
      col("text"),
      map(
        lit("lang"), col("lang"),
        lit("source"), col("source"),
        lit("n_chars"), col("n_chars").cast("string"),
        lit("text"), col("text")).as("metadata"))

  /** JSONL record source — the interchange format embedding pipelines
    * actually exchange (`{"id":…,"embedding":[…],"metadata":{…}}` per
    * line) read into the canonical record frame with the validation the
    * reference applies at insert (dimension check,
    * `src/cores/database.rs:189-199`) plus the malformed-line handling
    * a 100 TB ingest needs: PERMISSIVE parse routes unparseable lines
    * and schema mismatches to a quarantine instead of failing the job
    * or silently dropping. Returns `(good, quarantined)` — `good` is
    * insert-ready; `quarantined` carries the raw line for triage.
    * Schema is declared, not inferred: inference would scan the corpus
    * twice and let one stray file widen a type for everyone. */
  def fromJsonl(
      spark: SparkSession,
      path: String,
      dim: Int): (DataFrame, DataFrame) =
    splitValidated(spark.read
      .schema(jsonlSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path), dim)

  /** The declared JSONL wire schema (+ the PERMISSIVE corrupt-line
    * column). Declared, never inferred: inference scans twice and lets
    * one stray file widen a type for the whole read. */
  val jsonlSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("metadata", MapType(StringType, StringType)),
      StructField("_corrupt", StringType)))
  }

  /** CSV DOCUMENT source — the other interchange format corpora arrive
    * in (`doc_id,text,lang,source` with RFC-4180 quoting). Same
    * contract as [[fromJsonl]]: declared schema (never inferred),
    * PERMISSIVE parse, and a quarantine lane for malformed rows — one
    * poison line in a 100 TB feed must neither fail the job nor vanish.
    * Returns `(good, quarantined)`; `good` is the documents frame.
    *
    * ⚠ `multiLine=true` (required for RFC-4180 embedded newlines) makes
    * each CSV FILE unsplittable — one task reads the whole file. Fine
    * for many-file feeds; a corpus delivered as a few huge CSVs should
    * be split upstream or declared newline-free and read with
    * multiLine=false. */
  def fromCsv(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    splitCsvValidated(spark.read
      .schema(csvSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(path))

  /** The declared CSV wire schema (+ the PERMISSIVE corrupt-row column). */
  val csvSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("_corrupt", StringType)))
  }

  /** ONE CSV validation definition for batch and streaming (the
    * streaming==batch rule): a row is good iff it parsed clean and has
    * a key and a body. */
  def splitCsvValidated(raw: DataFrame): (DataFrame, DataFrame) = {
    val ok = coalesce(col("_corrupt").isNull && col("doc_id").isNotNull &&
      col("text").isNotNull, lit(false))
    val good = raw.where(ok)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val bad = raw.where(!ok)
      .select(coalesce(col("_corrupt"), to_json(struct(col("doc_id"),
        col("text"), col("lang"), col("source")))).as("raw_line"))
    (good, bad)
  }

  /** ONE validation definition shared by the batch reader and the
    * streaming ingest (the repo's streaming==batch rule): split a
    * PERMISSIVE-parsed frame into (insert-ready, quarantined-raw). */
  def splitValidated(raw: DataFrame, dim: Int): (DataFrame, DataFrame) = {
    // coalesce(…, false): a null embedding makes the validity predicate
    // null, and a three-valued `!ok` would drop the row from BOTH frames.
    // validRecord = dimension AND component domain (±Metric
    // .MaxAbsComponent, NaN/Inf rejected): corrupt magnitudes quarantine
    // at the door so the exact-integer analytics lane's quantization
    // domain holds downstream (adversarial-data finding, r8)
    val ok = coalesce(col("_corrupt").isNull && col("id").isNotNull &&
      graft.types.Metric.validRecord(col("embedding"), dim), lit(false))
    // absent metadata defaults to the EMPTY map, matching the reference's
    // always-present metadata field (`src/types/record.rs:110-114`) and
    // keeping the typed Dataset[Record] view null-safe (the old
    // coalesce-with-null was an identity no-op)
    val good = raw.where(ok).select(col("id"), col("embedding"),
      coalesce(col("metadata"),
        typedLit(Map.empty[String, String])).as("metadata"))
    val bad = raw.where(!ok)
      .select(coalesce(col("_corrupt"), to_json(struct(col("id"),
        col("embedding"), col("metadata")))).as("raw_line"))
    (good, bad)
  }

  /** The canonical record row (reference `src/types/record.rs:110-114`)
    * for callers who want the compile-time-typed `Dataset[Record]` view.
    * Internals stay `DataFrame`-based — `Column` expressions keep Catalyst
    * optimizations and oracle parity (SURVEY.md §1.2) — but a typed facade
    * costs nothing and catches schema drift at compile time in user code. */
  final case class Record(
      id: Long,
      embedding: Seq[Float],
      metadata: Map[String, String])

  /** Typed view of the embeddings-backed record store. */
  def typed(spark: SparkSession, sfDir: String): Dataset[Record] = {
    import spark.implicits._
    fromEmbeddings(spark, sfDir).as[Record]
  }

  /** Snapshot sink (O17): a staged overwrite ([[Commit.snapshot]]) — a
    * crash never destroys the previous snapshot. ⚠ EAGER — a write
    * action, not a plan: the snapshot executes `df` and hits disk before
    * this returns (the reference's `Snapshot` RPC is the same blocking
    * call, `src/cores/database.rs:215-225`). */
  def snapshot(df: DataFrame, path: String): Unit =
    Commit.snapshot(df.sparkSession, path)(df.write.mode("overwrite").parquet(_))

  /** Snapshot source (O18); self-heals a crashed publish. */
  def open(spark: SparkSession, path: String): DataFrame = {
    Commit.heal(spark, path)
    spark.read.parquet(path)
  }

  /** ORC twin of [[snapshot]]/[[open]] — the interop tier of O17/O18 for
    * warehouses that standardize on ORC (Hive/Trino): same staged
    * overwrite protocol, same schema; `array<float>` embeddings and
    * `map<string,string>` metadata round-trip natively, and the id
    * predicate pushes into ORC row-group min/max stats exactly as it
    * does for parquet. Parquet stays the default store format. */
  def snapshotOrc(df: DataFrame, path: String): Unit =
    Commit.snapshot(df.sparkSession, path)(df.write.mode("overwrite").orc(_))

  /** ORC snapshot source — see [[snapshotOrc]]; self-heals a crashed
    * publish. */
  def openOrc(spark: SparkSession, path: String): DataFrame = {
    Commit.heal(spark, path)
    spark.read.orc(path)
  }

  // ---------- id-bucketed layout: the point-lookup store ----------
  //
  // The reference's get is an O(1) hashmap probe
  // (`src/cores/storage.rs:33-41`); a plain parquet snapshot answers
  // `id = ?` by scanning every file's footer. The bucketed layout makes
  // the lookup cost independent of store size: `id_bucket = id mod B` is
  // a PARTITION directory (static pruning selects exactly one at
  // planning time — at 100 TB that is one directory listing instead of
  // millions of files), and rows inside each bucket are sorted by id so
  // the pushed `id = ?` predicate prunes to one row group via parquet
  // min/max stats. Write amortizes over every subsequent lookup.

  private def layoutPath(path: String) = s"$path/_graft_layout"

  /** Snapshot in point-lookup layout: one directory per `id mod buckets`,
    * id-sorted within. The bucket count is recorded in a `_graft_layout`
    * descriptor (underscore-prefixed: invisible to the data reads), so
    * readers need no out-of-band knowledge. Each bucket is written by
    * exactly one task → exactly one file per bucket.
    *
    * Staged like [[snapshot]] — data and descriptor land in ONE staging
    * directory published by a single rename, which also makes the
    * partitioned write immune to a session-level
    * `partitionOverwriteMode=dynamic` (a dynamic overwrite onto a
    * previous snapshot with more buckets would keep the stale extra
    * bucket directories and resurrect their rows; the stage is always
    * fresh). The sort lists `id_bucket` FIRST: the partitioned writer
    * requires its ordering to start with the partition column and would
    * otherwise insert its own sort by `id_bucket` alone, destroying the
    * within-bucket id order the row-group pruning contract needs. */
  def snapshotById(df: DataFrame, path: String, buckets: Int = 256): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    Commit.snapshot(df.sparkSession, path) { stage =>
      df.withColumn("id_bucket", pmod(col("id"), lit(buckets.toLong)).cast("int"))
        .repartition(col("id_bucket"))
        .sortWithinPartitions(col("id_bucket"), col("id"))
        .write.mode("overwrite").partitionBy("id_bucket").parquet(stage)
      df.sparkSession.range(1).select(lit(buckets).as("buckets"))
        .write.mode("overwrite").parquet(layoutPath(stage))
    }
  }

  /** Open a [[snapshotById]] store as the canonical record frame (the
    * physical `id_bucket` column is dropped; use [[getById]] for pruned
    * point lookups). */
  def openById(spark: SparkSession, path: String): DataFrame = {
    Commit.heal(spark, path)
    spark.read.parquet(path).drop("id_bucket")
  }

  /** Layout-descriptor memo: the bucket count is immutable per PUBLISHED
    * store version, but the same path can be re-snapshotted with a
    * different count — so the cache key includes the descriptor dir's
    * modification time (one cheap namenode stat per lookup instead of a
    * full Spark read job, the difference between the advertised O(1)
    * hashmap-get analog and a 2-job point lookup). */
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]()

  private def bucketsOf(spark: SparkSession, path: String): Int = {
    val lp = new org.apache.hadoop.fs.Path(layoutPath(path))
    val mod = Commit.fsOf(spark, path).getFileStatus(lp).getModificationTime
    layoutCache.keySet.removeIf(k => k._1 == path && k._2 != mod) // superseded versions
    layoutCache.computeIfAbsent((path, mod), _ =>
      spark.read.parquet(layoutPath(path)).head().getAs[Int]("buckets"))
  }

  /** Pruned point lookup (O7) over a [[snapshotById]] store: reads the
    * bucket count from the layout descriptor (memoized per published
    * version) and constrains BOTH the partition column (one directory
    * survives planning) and the id (one row group survives the parquet
    * stats). Plan shape pinned in PlanShapeSpec: the scan reads exactly
    * one file. */
  def getById(spark: SparkSession, path: String, id: Long): DataFrame = {
    Commit.heal(spark, path)
    val buckets = bucketsOf(spark, path)
    spark.read.parquet(path)
      .where(col("id_bucket") === lit(java.lang.Math.floorMod(id, buckets.toLong)).cast("int")
        && col("id") === lit(id))
      .drop("id_bucket")
  }

  // ---------- co-partitioned layout: the shuffle-free join ----------

  /** Write `df` as a BUCKETED external table (catalog-registered, data
    * at `path`): `buckets` hash buckets on `key`, `key`-sorted within
    * each bucket. Two frames bucketed the same way (same key type, same
    * bucket count) JOIN WITHOUT ANY EXCHANGE — Spark recognizes both
    * scans as identically hash-partitioned and elides the shuffle on
    * both sides (plan-pinned in PlanShapeSpec). At 100 TB the recurring
    * docs ⋈ embeddings join is the pipeline's largest shuffle; paying
    * the bucketed write once deletes that shuffle from every downstream
    * run — the batch analog of the reference keeping storage and index
    * keyed by the same record id (`/root/reference/src/cores/index.rs`
    * posting lists ↔ `storage.rs` map). */
  def writeBucketed(
      df: DataFrame, table: String, path: String, key: String, buckets: Int): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
  }

  /** Compact a snapshot directory into ~`targetFileBytes` files.
    *
    * Streaming ingest accretes one file set per trigger; left alone, a
    * 100 TB store becomes millions of kilobyte-scale files whose
    * footer reads and directory listings dominate every scan's setup
    * (the classic small-file problem). Compaction reads the source's
    * actual on-disk byte count, derives the file count that lands each
    * output near the target size, and rewrites in one round-robin
    * repartition — record rows are an unordered set, so no shuffle key
    * is needed and the exchange is pure redistribution.
    *
    * ⚠ EAGER, and writes to a NEW directory: Spark cannot atomically
    * overwrite an input path it is reading, and the repo's
    * version-directory convention ([[graft.streaming.VectorIngest]])
    * wants the swap to be a pointer move anyway — readers never observe
    * a half-compacted store, and the previous version stays readable
    * until retired. For the id-bucketed layout, [[snapshotById]] IS the
    * layout-preserving compactor (one task → one file per bucket).
    *
    * @return the number of files written */
  def compactTo(spark: SparkSession, src: String, dst: String,
      targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(src).repartition(nFiles)
      .write.mode("overwrite").parquet(dst)
    nFiles
  }

  /** Version RETENTION — the missing half of the versioned-store
    * lifecycle ([[graft.streaming.MaintainedIngest]] and the refine
    * path create `v0, v1, …` directories; nothing ever reclaimed
    * them). Deletes all but the newest `keepLast` version directories
    * under `base`, together with their per-version companion files
    * (`centroids_vN`, same suffix convention). Returns the versions
    * removed, oldest first.
    *
    * Safety contract: the newest version — the one readers resolve —
    * is always kept (`keepLast >= 1` enforced), deletion proceeds
    * oldest-first so a crash mid-vacuum leaves a contiguous suffix of
    * versions, and time travel ([[graft.operators.Crud.snapshotAt]])
    * into a vacuumed version correctly fails rather than silently
    * reading partial data — the trade every retention policy makes. */
  def vacuumVersions(spark: SparkSession, base: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = Commit.fsOf(spark, base)
    val p = new org.apache.hadoop.fs.Path(base)
    if (!fs.exists(p)) return Seq.empty
    val versions = Commit.listVersions(fs, base)
    val doomed = versions.dropRight(keepLast)
    doomed.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(Commit.versionDir(base, v)), true)
      fs.delete(new org.apache.hadoop.fs.Path(Commit.centroidsDir(base, v)), true)
    }
    // Sweep staging debris from crashed restoreVersion attempts: a
    // `.vN.tmp` whose N is not past every published version can never be
    // published (restoreVersion always targets max+1), so it is a
    // full-size orphaned copy the v\d+ listing would otherwise preserve
    // forever. An in-flight restore (N = max+1) is left alone.
    if (versions.nonEmpty) {
      val maxV = versions.max
      fs.listStatus(p).map(_.getPath.getName)
        .filter(n => Commit.stagedVersion(n).exists(_ <= maxV))
        .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(s"$base/$n"), true))
    }
    doomed
  }

  /** ROLLBACK: re-publish version `v`'s data (and its centroids
    * companion, when present) as a NEW newest version — never by
    * deleting newer versions, so the operation is itself versioned,
    * auditable, and vacuum-safe (the bad versions age out through
    * [[vacuumVersions]] like any other).
    *
    * Crash safety: the copy goes through the staged version publish
    * ([[Commit.publishVersion]]): it lands in hidden staging invisible
    * to the version listing readers and the restart recovery use, and
    * is renamed into place only once fully written, centroids first. A
    * plain write to `v{next}` would be listable the moment it starts, so
    * a crash mid-copy would leave a partial directory as the
    * authoritative newest version — which [[vacuumVersions]] would then
    * faithfully preserve while aging out the good ones. Returns the new
    * version number. */
  def restoreVersion(spark: SparkSession, base: String, v: Int): Int = {
    val fs = Commit.fsOf(spark, base)
    require(fs.exists(new org.apache.hadoop.fs.Path(Commit.versionDir(base, v))),
      s"version v$v does not exist under $base")
    val next = Commit.listVersions(fs, base).max + 1
    Commit.publishVersion(spark, base, next) { (data, cents) =>
      spark.read.parquet(Commit.versionDir(base, v)).write.mode("overwrite").parquet(data)
      if (fs.exists(new org.apache.hadoop.fs.Path(Commit.centroidsDir(base, v))))
        spark.read.parquet(Commit.centroidsDir(base, v)).write.mode("overwrite").parquet(cents)
    }
    next
  }
}
