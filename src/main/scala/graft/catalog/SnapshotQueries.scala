package graft
package catalog

import graft.operators.Crud
import graft.sources.Records
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** The snapshot family: parquet and ORC round trips, bucketed joins, compaction, diffs,
  * SCD2 change logs, time travel and vacuum. */
object SnapshotQueries {
  /** The derived SCD2 change log shared by `snapshot_scd2` and
    * `snapshot_time_travel` (and mirrored verbatim in their oracles):
    * for every store id < 60 — a v1 upsert at seq 1; a delete at seq 2
    * for id%3=0; a v2 rewrite at seq 2 for id%3=1; a v3 upsert at seq 3
    * for id%4=0 (reviving the id%12=0 deletes). Derived from the store's
    * own ids, so it exists at every scale factor; upserts carry the
    * record's real embedding (vector immutability is [[Crud.merge]]'s
    * caller contract, not re-checked here). */
  private def scd2Log(s: SparkSession, dir: String): DataFrame = {
    val b = recs(s, dir).where(col("id") < 60)
    def up(pred: Column, seqv: Long, lab: String) = b.where(pred)
      .select(col("id"), lit("upsert").as("op"), lit(seqv).as("seq"),
        col("embedding"), lit(lab).as("lab"))
    def del(pred: Column, seqv: Long) = b.where(pred)
      .select(col("id"), lit("delete").as("op"), lit(seqv).as("seq"),
        lit(null).cast("array<float>").as("embedding"),
        lit(null).cast("string").as("lab"))
    up(lit(true), 1L, "v1")
      .unionByName(del(col("id") % 3 === 0, 2L))
      .unionByName(up(col("id") % 3 === 1, 2L, "v2"))
      .unionByName(up(col("id") % 4 === 0, 3L, "v3"))
  }

  /** The scd2Log replayed in DuckDB — ONE definition string shared by
    * both snapshot_scd2 and snapshot_time_travel oracles. */
  private val scd2LogSql: String =
    """log AS (
      |  SELECT vec_id AS id, 'upsert' AS op, 1 AS seq, 'v1' AS lab
      |    FROM embeddings WHERE vec_id < 60
      |  UNION ALL SELECT vec_id, 'delete', 2, NULL
      |    FROM embeddings WHERE vec_id < 60 AND vec_id % 3 = 0
      |  UNION ALL SELECT vec_id, 'upsert', 2, 'v2'
      |    FROM embeddings WHERE vec_id < 60 AND vec_id % 3 = 1
      |  UNION ALL SELECT vec_id, 'upsert', 3, 'v3'
      |    FROM embeddings WHERE vec_id < 60 AND vec_id % 4 = 0)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // O17,O18 — snapshot round-trip: write the record store to Parquet,
    // re-open it, and aggregate over the re-opened copy; any loss or
    // corruption in the sink/source path breaks the oracle match.
    // NOTE: Records.snapshot is EAGER — invoking this query function
    // performs the parquet write before the (lazy) re-open aggregate is
    // returned; that is the operator's semantics (a snapshot RPC), not a
    // harness shortcut.
    // extension: the co-partitioned store — both tables written bucketed
    // on the join key, so the recurring docs ⋈ embeddings join runs with
    // ZERO exchanges (plan-pinned in PlanShapeSpec; this row gates the
    // data). At 100 TB this is the pipeline's largest shuffle, deleted
    // at write time.
    QueryDef("snapshot_bucketed_join", ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_" +
        s.sparkContext.applicationId
      Records.writeBucketed(
        docs(s, dir).select(col("doc_id").as("id"), col("source"), col("n_chars")),
        "graft_bucketed_docs", s"$base/docs", "id", 8)
      Records.writeBucketed(
        emb(s, dir).select(col("vec_id").as("id"), col("label"),
          size(col("embedding")).as("dim")),
        "graft_bucketed_vecs", s"$base/vecs", "id", 8)
      s.table("graft_bucketed_docs")
        .join(s.table("graft_bucketed_vecs"), Seq("id"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars_sum"),
          sum(col("label").cast("long")).as("label_sum"),
          sum(col("dim")).as("dim_sum"))
    }),
      // the bucketed store holds exactly the source rows — the join result
      // is checked against the raw parquet join
      """SELECT count(*) AS n, CAST(sum(d.n_chars) AS BIGINT) AS chars_sum,
        |  CAST(sum(e.label) AS BIGINT) AS label_sum,
        |  CAST(sum(len(e.embedding)) AS BIGINT) AS dim_sum
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin),

    QueryDef("snapshot_roundtrip", ((s, dir) => {
      // per-session path: two concurrent sessions must not collide on the
      // snapshot directory (the write happens eagerly at plan construction)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_snapshot_roundtrip_" +
        s.sparkContext.applicationId
      Records.snapshot(recs(s, dir), path)
      Records.open(s, path)
        .agg(count(lit(1)).as("n"),
          sum(col("id")).as("id_sum"),
          sum(size(col("embedding")).cast("long")).as("dim_sum"),
          sum(try_element_at(col("metadata"), lit("label")).cast("double")).as("label_sum"))
    }),
      s"""SELECT count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum,
         |  CAST(count(*) * $Dim AS BIGINT) AS dim_sum,
         |  CAST(sum(label) AS DOUBLE) AS label_sum FROM embeddings""".stripMargin),

    // the SAME round-trip through the ORC sink/source twin — the interop
    // format for ORC-standardized warehouses; identical content contract,
    // so it shares snapshot_roundtrip's oracle shape
    QueryDef("snapshot_orc_roundtrip", ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_snapshot_orc_" +
        s.sparkContext.applicationId
      Records.snapshotOrc(recs(s, dir), path)
      Records.openOrc(s, path)
        .agg(count(lit(1)).as("n"),
          sum(col("id")).as("id_sum"),
          sum(size(col("embedding")).cast("long")).as("dim_sum"),
          sum(try_element_at(col("metadata"), lit("label")).cast("double")).as("label_sum"))
    }),
      // the ORC store holds exactly the source rows — the oracle reads the
      // parquet truth the snapshot was taken from
      s"""SELECT count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum,
         |  CAST(count(*) * $Dim AS BIGINT) AS dim_sum,
         |  CAST(sum(label) AS DOUBLE) AS label_sum FROM embeddings""".stripMargin),

    // extension: small-file compaction — fragment the store into many
    // tiny files (the streaming-ingest end state), compact to the target
    // size, and prove the rewritten store is byte-for-byte the same data.
    // The file-count contract (fragmented 32 → compacted 1 here) is
    // pinned in CrudSpec; this row gates the data integrity.
    QueryDef("snapshot_compact", ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact_" +
        s.sparkContext.applicationId
      recs(s, dir).repartition(32)
        .write.mode("overwrite").parquet(s"$base/fragmented")
      Records.compactTo(s, s"$base/fragmented", s"$base/compacted")
      Records.open(s, s"$base/compacted")
        .agg(count(lit(1)).as("n"),
          sum(col("id")).as("id_sum"),
          sum(size(col("embedding")).cast("long")).as("dim_sum"),
          sum(try_element_at(col("metadata"), lit("label")).cast("double")).as("label_sum"))
    }),
      s"""SELECT count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum,
         |  CAST(count(*) * $Dim AS BIGINT) AS dim_sum,
         |  CAST(sum(label) AS DOUBLE) AS label_sum FROM embeddings""".stripMargin),

    // extension: snapshot DIFF — derive the change log between two store
    // versions (the inverse of merge_batch). The new version is a
    // deterministic transform of the base: every id ≡ 3 (mod 97) deleted,
    // every surviving id ≡ 5 (mod 89) metadata-rewritten, every surviving
    // id ≡ 7 (mod 101) vector-perturbed, plus one fresh insert at
    // max(id)+1 — so the expected log covers all four change classes and
    // is recomputable in SQL at any scale factor.
    QueryDef("snapshot_diff", ((s, dir) => {
      val old = recs(s, dir)
      Crud.diff(old, diffNewStore(s, old))
        .select(col("id").as("vec_id"), col("op"),
          try_element_at(col("metadata"), lit("label")).as("label"))
        .orderBy("vec_id")
    }),
      // the expected change log recomputed from the same deterministic
      // transform: upserts carry the NEW label, deletes a null label; an
      // id hit by both the metadata and the vector rule appears once
      """SELECT vec_id, op, label FROM (
        |  SELECT vec_id, 'upsert' AS op,
        |    CASE WHEN vec_id % 89 = 5 THEN CAST(label AS VARCHAR) || '_v2'
        |         ELSE CAST(label AS VARCHAR) END AS label
        |  FROM embeddings
        |  WHERE vec_id % 97 <> 3 AND (vec_id % 89 = 5 OR vec_id % 101 = 7)
        |  UNION ALL
        |  SELECT vec_id, 'delete' AS op, CAST(NULL AS VARCHAR) AS label
        |  FROM embeddings WHERE vec_id % 97 = 3
        |  UNION ALL
        |  SELECT (SELECT max(vec_id) + 1 FROM embeddings), 'upsert', '777')
        |ORDER BY vec_id""".stripMargin),

    // extension: SCD2 version HISTORY — the change log unfolded into
    // slowly-changing-dimension intervals (seq_from, seq_to, is_current),
    // deletes kept as interval-closing tombstones so revivals
    // reconstruct. The log is DERIVED from the store's own ids (v1
    // upsert for every id < 60, delete at seq 2 for id%3=0, v2 rewrite
    // at seq 2 for id%3=1, v3 upsert at seq 3 for id%4=0 — covering
    // update, delete, revive, and untouched-tail lifecycles), so the
    // query replays identically at any scale factor
    QueryDef("snapshot_scd2", ((s, dir) =>
      Crud.history(scd2Log(s, dir).drop("embedding", "metadata")
          .withColumnRenamed("lab", "label"))
        .select(col("id").as("vec_id"), col("seq_from"), col("seq_to"),
          col("op"), col("label"), col("is_current"))
        .orderBy("vec_id", "seq_from")),
      // the same derived log unfolded by the same lead() window — the SCD2
      // interval semantics replayed verbatim
      s"""WITH $scd2LogSql,
         |h AS (SELECT id, op, lab, seq AS seq_from,
         |  lead(seq) OVER (PARTITION BY id ORDER BY seq) AS seq_to FROM log)
         |SELECT id AS vec_id, CAST(seq_from AS BIGINT) AS seq_from,
         |  CAST(seq_to AS BIGINT) AS seq_to, op, lab AS label,
         |  (seq_to IS NULL AND op <> 'delete') AS is_current
         |FROM h ORDER BY vec_id, seq_from""".stripMargin),

    // extension: TIME TRAVEL — the store replayed as of log positions
    // 1, 2, 3 (merge over the seq-truncated log); each version profiled
    // by row count, id checksum, and per-label-state counts, so a wrong
    // cutoff (a row leaking from the future or a delete applied early)
    // flips at least one cell. Three bounded merges over one shared log
    QueryDef("snapshot_time_travel", ((s, dir) => {
      val r = recs(s, dir)
      val log = scd2Log(s, dir)
        .select(col("id"), col("op"), col("seq"), col("embedding"),
          when(col("op") === "upsert", map(lit("label"), col("lab")))
            .otherwise(lit(null).cast("map<string,string>")).as("metadata"))
      Seq(1L, 2L, 3L).map { v =>
        Crud.snapshotAt(r, log, v)
          .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
            count(when(try_element_at(col("metadata"), lit("label")) === "v1", 1))
              .as("n_v1"),
            count(when(try_element_at(col("metadata"), lit("label")) === "v2", 1))
              .as("n_v2"),
            count(when(try_element_at(col("metadata"), lit("label")) === "v3", 1))
              .as("n_v3"))
          .select(lit(v).as("version"), col("n"), col("id_sum"),
            col("n_v1"), col("n_v2"), col("n_v3"))
      }.reduce(_ unionByName _).orderBy("version")
    }),
      // each version replayed independently: untouched base rows keep
      // their original label, touched ids resolve to the last op at or
      // before the cutoff (rn = 1 over seq DESC), deletes drop the id
      {
      def ver(v: Int) =
        s"""s$v AS (
           |  SELECT e.vec_id AS id, CAST(e.label AS VARCHAR) AS lab FROM embeddings e
           |  WHERE e.vec_id NOT IN (SELECT id FROM log WHERE seq <= $v)
           |  UNION ALL
           |  SELECT id, lab FROM (
           |    SELECT id, lab, op,
           |      row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
           |    FROM log WHERE seq <= $v) WHERE rn = 1 AND op <> 'delete'),
           |a$v AS (SELECT CAST($v AS BIGINT) AS version,
           |  CAST(count(*) AS BIGINT) AS n, CAST(sum(id) AS BIGINT) AS id_sum,
           |  CAST(count(CASE WHEN lab = 'v1' THEN 1 END) AS BIGINT) AS n_v1,
           |  CAST(count(CASE WHEN lab = 'v2' THEN 1 END) AS BIGINT) AS n_v2,
           |  CAST(count(CASE WHEN lab = 'v3' THEN 1 END) AS BIGINT) AS n_v3
           |  FROM s$v)""".stripMargin
      s"""WITH $scd2LogSql,
         |${ver(1)},
         |${ver(2)},
         |${ver(3)}
         |SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3
         |ORDER BY version""".stripMargin
    }),

    // extension: version RETENTION — the lifecycle step the staged
    // publishes make necessary (every refine/compact/restore lands a
    // NEW version; nothing ever ages out): four versions written (three
    // scd2 replay points + the current store), vacuum keepLast=2, then
    // the per-version census of what survived — doomed versions as
    // explicit kept=false rows, survivors re-read FROM THE STORE (the
    // row proves the bytes vacuum spared are the right bytes, not just
    // that the right names were deleted). The store builds ONCE per
    // application (v4's presence is the marker; a crashed partial build
    // self-heals by rebuilding) and vacuum is idempotent, so the row
    // set is identical at any pass count — survival is read from the
    // version listing, never from the first pass's removal list
    QueryDef("snapshot_vacuum", ((s, dir) => {
      import s.implicits._
      val base = "/tmp/graft_vacstore_" +
        s.sparkContext.applicationId.replace(':', '-') + "_" +
        dir.replace('/', '_').replace('.', '_')
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$base/v4"))) {
        val r = recs(s, dir)
        val log = scd2Log(s, dir)
          .select(col("id"), col("op"), col("seq"), col("embedding"),
            when(col("op") === "upsert", map(lit("label"), col("lab")))
              .otherwise(lit(null).cast("map<string,string>")).as("metadata"))
        (1 to 3).foreach { v =>
          Crud.snapshotAt(r, log, v.toLong)
            .write.mode("overwrite").parquet(s"$base/v$v")
        }
        recs(s, dir).write.mode("overwrite").parquet(s"$base/v4")
      }
      Records.vacuumVersions(s, base, keepLast = 2)
      (1 to 4).map { v =>
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$base/v$v")))
          Seq((v.toLong, false)).toDF("version", "kept")
            .select(col("version"), col("kept"),
              lit(null).cast("long").as("n"), lit(null).cast("long").as("id_sum"))
        else
          s.read.parquet(s"$base/v$v")
            .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
            .select(lit(v.toLong).as("version"), lit(true).as("kept"),
              col("n"), col("id_sum"))
      }.reduce(_ unionByName _).orderBy("version")
    }),
      // retention replayed: versions 1 and 2 doomed by keepLast=2 (kept
      // false, null census); version 3 = the scd2 state at seq 3 (the
      // time-travel ver(3) derivation), version 4 = the current store
      s"""WITH $scd2LogSql,
         |s3 AS (SELECT e.vec_id AS id FROM embeddings e
         |  WHERE e.vec_id NOT IN (SELECT id FROM log WHERE seq <= 3)
         |  UNION ALL
         |  SELECT id FROM (
         |    SELECT id, op, row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
         |    FROM log WHERE seq <= 3) WHERE rn = 1 AND op <> 'delete')
         |SELECT CAST(version AS BIGINT) AS version, kept,
         |  CAST(n AS BIGINT) AS n, CAST(id_sum AS BIGINT) AS id_sum
         |FROM (
         |  SELECT 1 AS version, false AS kept, NULL AS n, NULL AS id_sum
         |  UNION ALL SELECT 2, false, NULL, NULL
         |  UNION ALL SELECT 3, true,
         |    (SELECT count(*) FROM s3), (SELECT sum(id) FROM s3)
         |  UNION ALL SELECT 4, true,
         |    (SELECT count(*) FROM embeddings), (SELECT sum(vec_id) FROM embeddings))
         |ORDER BY version""".stripMargin)
  )
}
