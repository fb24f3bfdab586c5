package graft

import graft.operators.Crud
import graft.sources.Records
import org.apache.spark.sql.functions._

/** CRUD semantics from the reference's storage tests
  * (`/root/reference/src/cores/storage.rs:83-127`), batch-shaped. */
class CrudSpec extends SparkSpec {
  import spark.implicits._

  private def mkRecords(n: Int) =
    (0 until n).map(i => (i.toLong, Seq(i.toFloat, i.toFloat),
      Map("k" -> s"v$i"))).toDF("id", "embedding", "metadata")

  test("validated insert rejects wrong-width vectors (O20, database.rs:189-199)") {
    val base = mkRecords(3) // dim 2
    val batch = Seq(
      (100L, Seq(1f, 2f), Map("k" -> "ok")),
      (101L, Seq(1f, 2f, 3f), Map("k" -> "bad")), // wrong width
      (102L, Seq(9f, 9f), Map("k" -> "ok2"))).toDF("id", "embedding", "metadata")
    val after = Crud.insertValidated(base, batch, dim = 2)
    assert(after.count() === 5)
    assert(after.where(col("id") === 101L).count() === 0)
    val rejected = Crud.invalidDim(batch, dim = 2).select("id").as[Long].collect()
    assert(rejected.toSeq === Seq(101L))
  }

  test("null conventions: hostile rows never silently lose data across the CRUD surface") {
    // (a) accepted ∪ rejected = batch, even for a NULL embedding (the
    // validity predicate is NULL: a plain !pred drops it from BOTH)
    val batch = Seq(
      (100L, Some(Seq(1f, 2f)), Map("k" -> "ok")),
      (101L, None: Option[Seq[Float]], Map("k" -> "nullvec")))
      .toDF("id", "embedding", "metadata")
    assert(Crud.insertValidated(mkRecords(2), batch, dim = 2).count() === 3)
    assert(Crud.invalidDim(batch, dim = 2).select("id").as[Long].collect().toSeq
      === Seq(101L))
    // (b) deleteWhere deletes only rows where the predicate is TRUE — a
    // metadata-key lookup is NULL on rows lacking the key, which must
    // NOT delete them
    val store = Seq(
      (0L, Seq(1f), Map("flag" -> "x")),
      (1L, Seq(2f), Map("other" -> "y"))).toDF("id", "embedding", "metadata")
    val kept = Crud.deleteWhere(store, col("metadata")("flag") === "x")
      .select("id").as[Long].collect()
    assert(kept.toSeq === Seq(1L))
    // (c) merge ignores a malformed (NULL-op) change row entirely: it
    // must neither insert its payload nor act as a delete of the record
    val changes = Seq(
      (0L, Option.empty[String], 5L, Seq(9f), Map("k" -> "junk")),
      (1L, Some("upsert"), 6L, Seq(7f), Map("k" -> "new")))
      .toDF("id", "op", "seq", "embedding", "metadata")
    val merged = Crud.merge(mkRecords(2), changes)
    assert(merged.count() === 2)
    assert(merged.where(col("id") === 0L).select(col("metadata")("k"))
      .as[String].head() === "v0", "NULL-op row must not touch the record")
    assert(merged.where(col("id") === 1L).select(col("metadata")("k"))
      .as[String].head() === "new")
    // (d) history keeps is_current BOOLEAN for a NULL-op last row
    val hist = Crud.history(changes)
    assert(hist.where(col("is_current").isNull).count() === 0)
    // (e) updateMetadata: an explicit (id, null) update REPLACES the map
    // with null (not a silent no-op), and extra update columns don't
    // collide with record columns
    val upd = Seq((0L, Option.empty[Map[String, String]]))
      .toDF("id", "metadata")
      .withColumn("embedding", typedLit(Seq(42f))) // extra col must be ignored
    val updated = Crud.updateMetadata(mkRecords(2), upd)
    assert(updated.where(col("id") === 0L).select("metadata")
      .as[Option[Map[String, String]]].head().isEmpty)
    assert(updated.where(col("id") === 1L).select(col("metadata")("k"))
      .as[String].head() === "v1")
  }

  test("typed Dataset[Record] facade matches the DataFrame record frame") {
    val dir = "/root/testdata/sf0.001"
    val ds = Records.typed(spark, dir)
    val first = ds.filter(_.id == 0L).head()
    assert(first.embedding.size === 64)
    assert(first.metadata.contains("label"))
    assert(ds.count() === Records.fromEmbeddings(spark, dir).count())
  }

  test("insert appends; count reflects it (storage.rs:87-96)") {
    val r0 = mkRecords(0)
    val one = mkRecords(1)
    assert(Crud.count(Crud.insert(r0, one)) === 1L)
    assert(Crud.count(Crud.insert(mkRecords(5), one.withColumn("id", lit(100L)))) === 6L)
  }

  test("delete removes; count decrements (storage.rs:98-108)") {
    val r = mkRecords(3)
    val afterDelete = Crud.delete(r, Seq(1L).toDF("id"))
    assert(Crud.count(afterDelete) === 2L)
    assert(afterDelete.where(col("id") === 1L).count() === 0L)
  }

  test("update replaces the WHOLE metadata map; vector untouched (storage.rs:52-70)") {
    val r = mkRecords(2)
    val updates = Seq((0L, Map("new" -> "yes"))).toDF("id", "metadata")
    val updated = Crud.updateMetadata(r, updates).cache()
    val row0 = updated.where(col("id") === 0)
      .select("metadata", "embedding").as[(Map[String, String], Seq[Float])].head()
    assert(row0._1 === Map("new" -> "yes")) // old key "k" gone — full replace
    assert(row0._2 === Seq(0f, 0f))         // vector immutable
    val row1 = updated.where(col("id") === 1)
      .select("metadata").as[Map[String, String]].head()
    assert(row1 === Map("k" -> "v1")) // untouched rows keep their map
  }

  test("point lookup finds exactly the requested id (storage.rs:33-41)") {
    val r = mkRecords(10)
    assert(Crud.getById(r, 7).select("id").as[Long].collect().toSeq === Seq(7L))
    assert(Crud.getById(r, 99).count() === 0L) // NotFound ≡ empty frame
  }

  test("merge: LWW within batch, delete/upsert orderings, fresh inserts, untouched rows") {
    val base = mkRecords(6) // ids 0..5
    val changes = Seq(
      (0L, "delete", 1, Some(Seq(0f, 0f)), Some(Map("k" -> "x"))),
      (1L, "upsert", 1, Some(Seq(9f, 9f)), Some(Map("k" -> "first"))),
      (1L, "upsert", 2, Some(Seq(9f, 9f)), Some(Map("k" -> "last"))), // LWW
      (2L, "upsert", 1, Some(Seq(8f, 8f)), Some(Map("k" -> "dead"))),
      (2L, "delete", 2, None, None),                                  // dies
      (3L, "delete", 1, None, None),
      (3L, "upsert", 2, Some(Seq(7f, 7f)), Some(Map("k" -> "back"))), // revives
      (100L, "upsert", 1, Some(Seq(1f, 1f)), Some(Map("k" -> "new"))))
      .toDF("id", "op", "seq", "embedding", "metadata")
    val out = Crud.merge(base, changes)
      .select("id", "metadata").as[(Long, Map[String, String])]
      .collect().sortBy(_._1).toSeq
    assert(out === Seq(
      1L -> Map("k" -> "last"), 3L -> Map("k" -> "back"),
      4L -> Map("k" -> "v4"), 5L -> Map("k" -> "v5"),
      100L -> Map("k" -> "new")))
  }

  test("merge plan: max_by reduction + anti-join — no window, no cartesian") {
    val base = mkRecords(6)
    val changes = Seq((1L, "upsert", 1, Some(Seq(9f, 9f)), Some(Map("k" -> "a"))))
      .toDF("id", "op", "seq", "embedding", "metadata")
    val plan = Crud.merge(base, changes).queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unexpected plan:\n$plan")
  }

  test("diff: minimal change log; merge(old, diff) reproduces new exactly") {
    val old = mkRecords(8)
    // new version: 2 deleted, 3 metadata-changed, 5 vector-changed,
    // 100 inserted, everything else untouched
    val newStore = old
      .where(col("id") =!= 2L)
      .withColumn("metadata",
        when(col("id") === 3L, map(lit("k"), lit("changed"))).otherwise(col("metadata")))
      .withColumn("embedding",
        when(col("id") === 5L, array(lit(42f), lit(42f))).otherwise(col("embedding")))
      .unionByName(Seq((100L, Seq(1f, 1f), Map("k" -> "new")))
        .toDF("id", "embedding", "metadata"))
    val d = Crud.diff(old, newStore).cache()
    val ops = d.select("id", "op").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(ops === Seq((2L, "delete"), (3L, "upsert"), (5L, "upsert"), (100L, "upsert")))
    // upserts carry the NEW payload
    assert(d.where(col("id") === 3L).select("metadata")
      .as[Map[String, String]].head() === Map("k" -> "changed"))
    // round-trip: replaying the derived log onto old reproduces new
    // (set ops reject MapType — compare key-sorted entry arrays)
    val replayed = Crud.merge(old, d.withColumn("seq", lit(1)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("embedding"),
        array_sort(map_entries(col("metadata"))).as("m"))
    assert(canon(replayed).except(canon(newStore)).count() === 0L)
    assert(canon(newStore).except(canon(replayed)).count() === 0L)
    assert(replayed.count() === newStore.count())
    // identical stores → empty log
    assert(Crud.diff(old, old).count() === 0L)
    d.unpersist()
  }

  test("diff ignores metadata map entry ORDER (no false upserts)") {
    val a = Seq((1L, Seq(1f), Map("x" -> "1", "y" -> "2")))
      .toDF("id", "embedding", "metadata")
    // same entries, reversed construction order
    val b = Seq((1L, Seq(1f), Map("y" -> "2", "x" -> "1")))
      .toDF("id", "embedding", "metadata")
    assert(Crud.diff(a, b).count() === 0L)
  }

  test("diff: a null↔non-null metadata or embedding change IS a change " +
    "(null-safe comparison, not three-valued =!=)") {
    val old = Seq(
      (1L, Option(Seq(1f)), Option.empty[Map[String, String]]),
      (2L, Option.empty[Seq[Float]], Option(Map("k" -> "v"))))
      .toDF("id", "embedding", "metadata")
    val neu = Seq(
      (1L, Option(Seq(1f)), Option(Map("k" -> "x"))),  // null → map
      (2L, Option(Seq(2f)), Option(Map("k" -> "v"))))  // null → vector
      .toDF("id", "embedding", "metadata")
    val d = Crud.diff(old, neu)
    assert(d.count() === 2L,
      "null-to-value transitions must enter the change log")
    // and the round-trip law still closes over them
    val merged = Crud.merge(old, d.withColumn("seq", col("id")))
      .select("id", "metadata").as[(Long, Option[Map[String, String]])]
      .collect().toMap
    assert(merged(1L).contains(Map("k" -> "x")))
  }

  test("compaction: many small files → few target-size files, data identical") {
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "compact").toString
    val r = mkRecords(200)
    r.repartition(32).write.mode("overwrite").parquet(s"$base/frag")
    assert(spark.read.parquet(s"$base/frag").inputFiles.length === 32)
    // huge target → everything folds into one file
    val n = Records.compactTo(spark, s"$base/frag", s"$base/one")
    assert(n === 1)
    assert(spark.read.parquet(s"$base/one").inputFiles.length === 1)
    val a = r.select("id", "embedding").as[(Long, Seq[Float])].collect().sortBy(_._1)
    val b = spark.read.parquet(s"$base/one")
      .select("id", "embedding").as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq)
    // tiny target → multiple files, sized by the source's actual bytes
    val many = Records.compactTo(spark, s"$base/frag", s"$base/many",
      targetFileBytes = 16L << 10)
    assert(many > 1)
    assert(spark.read.parquet(s"$base/many").inputFiles.length === many)
    assert(spark.read.parquet(s"$base/many").count() === 200L)
  }

  test("history unfolds a change log into SCD2 intervals; merge == is_current rows") {
    val base = mkRecords(4) // ids 0..3
    val changes = Seq(
      (0L, "upsert", 1L, Seq(9f, 9f), Map("v" -> "a")), // update, stays current
      (1L, "delete", 1L, null, null),                   // delete, tombstone current? no
      (2L, "upsert", 1L, Seq(8f, 8f), Map("v" -> "b")),
      (2L, "delete", 2L, null, null),                   // update then delete
      (3L, "upsert", 1L, Seq(7f, 7f), Map("v" -> "c")),
      (3L, "delete", 2L, null, null),
      (3L, "upsert", 3L, Seq(6f, 6f), Map("v" -> "d"))) // revival
      .toDF("id", "op", "seq", "embedding", "metadata")
    val h = Crud.history(changes)
    val rows = h.select("id", "seq_from", "seq_to", "op", "is_current")
      .as[(Long, Long, Option[Long], String, Boolean)].collect().toSet
    assert(rows === Set(
      (0L, 1L, None, "upsert", true),
      (1L, 1L, None, "delete", false),
      (2L, 1L, Some(2L), "upsert", false),
      (2L, 2L, None, "delete", false),
      (3L, 1L, Some(2L), "upsert", false),
      (3L, 2L, Some(3L), "delete", false),
      (3L, 3L, None, "upsert", true)))
    // merge's survivors == base untouched by the log + is_current versions
    val merged = Crud.merge(base, changes).select("id").as[Long].collect().toSet
    val current = h.where(col("is_current")).select("id").as[Long].collect().toSet
    assert(merged === current ++ Set(0L, 1L, 2L, 3L).diff(
      changes.select("id").as[Long].collect().toSet))
    // snapshotAt replays any prefix: at seq 1 every id is live; at seq 2
    // ids 1,2,3 are dead; at seq 3 id 3 revives
    def live(at: Long) =
      Crud.snapshotAt(base, changes, at).select("id").as[Long].collect().toSet
    assert(live(1L) === Set(0L, 1L, 2L, 3L) -- Set(1L))
    assert(live(2L) === Set(0L))
    assert(live(3L) === Set(0L, 3L))
    // the revived row carries the LAST payload, not the pre-delete one
    val revived = Crud.snapshotAt(base, changes, 3L)
      .where(col("id") === 3L).select("metadata")
      .as[Map[String, String]].head()
    assert(revived === Map("v" -> "d"))
  }

  test("fromJsonl: good rows load, malformed/wrong-dim/null-id lines quarantine with the raw line") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "jsonl").toString
    val lines = Seq(
      """{"id": 1, "embedding": [1.0, 2.0], "metadata": {"k": "v"}}""",
      """{"id": 2, "embedding": [3.0, 4.0]}""",                // no metadata: ok
      """{"id": 3, "embedding": [1.0, 2.0, 3.0]}""",           // wrong dim
      """{"embedding": [5.0, 6.0]}""",                         // null id
      """{"id": 5, "embedding": [7.0, 8.0], BROKEN""",         // unparseable
      """{"id": 6}""")                                         // no embedding
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part0.jsonl"),
      String.join("\n", lines: _*).getBytes)
    val (good, bad) = Records.fromJsonl(spark, dir, dim = 2)
    val g = good.as[(Long, Seq[Float], Option[Map[String, String]])]
      .collect().sortBy(_._1)
    assert(g.map(_._1).toSeq === Seq(1L, 2L))
    assert(g.head._3 === Some(Map("k" -> "v")))
    assert(bad.count() === 4)
    // the unparseable line survives verbatim for triage
    val raws = bad.as[String].collect()
    assert(raws.exists(_.contains("BROKEN")))
    // good feeds insertValidated without further checks
    assert(Crud.count(Crud.insertValidated(
      good.limit(0), good, dim = 2)) === 2L)
  }

  test("re-bucketing the id store (8 → 16) keeps data identical and point lookups pruned") {
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "rebucket").toString
    val r = mkRecords(200)
    Records.snapshotById(r, s"$base/b8", buckets = 8)
    // layout evolution: open the 8-bucket store, rewrite at 16 — the
    // descriptor travels with each layout, so readers never guess
    Records.snapshotById(Records.openById(spark, s"$base/b8"),
      s"$base/b16", buckets = 16)
    val a = Records.openById(spark, s"$base/b8")
      .select("id", "metadata").as[(Long, Map[String, String])].collect().sortBy(_._1)
    val b = Records.openById(spark, s"$base/b16")
      .select("id", "metadata").as[(Long, Map[String, String])].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq)
    // lookups prune to ONE file under either geometry (scan metrics —
    // inputFiles lists the relation pre-pruning)
    Seq(s"$base/b8" -> 8, s"$base/b16" -> 16).foreach { case (p, n) =>
      val look = Records.getById(spark, p, 57L)
      // collect() drives THIS plan instance — metrics fill on it
      val rows = look.collect()
      assert(rows.map(_.getAs[Long]("id")).toSeq === Seq(57L))
      val scan = look.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scan.head.metrics("numFiles").value === 1,
        s"$n-bucket lookup must scan one file")
    }
  }

  test("history and snapshotAt agree: the interval containing seq v IS the version at v") {
    val base = mkRecords(6)
    val changes = Seq(
      (0L, "upsert", 1L, Seq(9f, 9f), Map("v" -> "a")),
      (0L, "upsert", 3L, Seq(8f, 8f), Map("v" -> "b")),
      (1L, "delete", 2L, null, null),
      (2L, "upsert", 2L, Seq(7f, 7f), Map("v" -> "c")),
      (2L, "delete", 4L, null, null),
      (3L, "delete", 1L, null, null),
      (3L, "upsert", 5L, Seq(6f, 6f), Map("v" -> "d")))
      .toDF("id", "op", "seq", "embedding", "metadata")
    val h = Crud.history(changes)
    (1L to 5L).foreach { v =>
      // ids alive at v per the interval table: last interval starting
      // at or before v is an upsert
      val aliveFromHistory = h
        .where(col("seq_from") <= v &&
          (col("seq_to").isNull || col("seq_to") > v) &&
          col("op") === "upsert")
        .select("id").as[Long].collect().toSet
      val untouched = (0L until 6L).toSet
        .diff(changes.where(col("seq") <= v).select("id").as[Long].collect().toSet)
      val live = Crud.snapshotAt(base, changes, v).select("id").as[Long]
        .collect().toSet
      assert(live === aliveFromHistory ++ untouched, s"at seq $v")
    }
  }

  test("snapshot write/read round-trips the record frame (database.rs:174-187)") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "snap").toString
    val r = mkRecords(20)
    Records.snapshot(r, dir)
    val back = Records.open(spark, dir)
    assert(back.count() === 20L)
    // parquet round-trips change nullability flags; names+types must hold
    assert(back.schema.simpleString === r.schema.simpleString)
    val a = r.select("id", "metadata").as[(Long, Map[String, String])].collect().sortBy(_._1)
    val b = back.select("id", "metadata").as[(Long, Map[String, String])].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq)
  }

  test("staged snapshot: old data survives a crashed write; a crashed publish self-heals") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "snap_staged").toString + "/store"
    Records.snapshot(mkRecords(10), dir)
    // no stage directory survives a successful publish
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__stage")))
    // crash window: delete happened, rename didn't — the committed stage
    // exists beside a missing final dir; open() finishes the rename
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".__stage")))
    assert(Records.open(spark, dir).count() === 10L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir)) &&
      !fs.exists(new org.apache.hadoop.fs.Path(dir + ".__stage")))
  }

  test("writePartitioned: a failed rewrite leaves the previous index readable") {
    import graft.operators.IvfIndex
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "index_staged").toString + "/index"
    val cents = Seq((0, Seq(0f, 0f))).toDF("cluster_id", "centroid")
    // a range, not a local frame: the poisoned row must fail inside the
    // write job, not when the optimizer folds a local relation
    val assigned = spark.range(10).select(col("id"),
      array(col("id").cast("float"), col("id").cast("float")).as("embedding"),
      map(lit("k"), col("id").cast("string")).as("metadata"),
      (col("id") % 3).cast("int").as("cluster_id"))
    IvfIndex.writePartitioned(IvfIndex.Model(cents, assigned), dir)
    def rows() = Records.open(spark, dir).select("id", "cluster_id")
      .as[(Long, Int)].collect().sorted.toSeq
    val before = rows()
    assert(before.length === 10)
    // the rewrite's job fails on one row, after other rows were written
    val poisoned = assigned.withColumn("id",
      when(col("id") === 7L, raise_error(lit("poisoned row"))).otherwise(col("id")))
    intercept[Exception](IvfIndex.writePartitioned(IvfIndex.Model(cents, poisoned), dir))
    assert(rows() === before, "a failed rewrite destroyed the previous index")
    // a good rewrite still replaces it, and leaves no stage behind
    IvfIndex.writePartitioned(IvfIndex.Model(cents, assigned.where(col("id") < 4)), dir)
    assert(rows().map(_._1) === Seq(0L, 1L, 2L, 3L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__stage")))
  }

  test("snapshotById: fresh staged publish under dynamic overwrite mode, ids sorted per bucket") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "snap_dyn").toString + "/store"
    val old = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Records.snapshotById(mkRecords(40), dir, buckets = 8)
      // re-snapshot the SAME path with fewer rows and fewer buckets: a
      // dynamic in-place overwrite would keep buckets 2..7's old rows
      Records.snapshotById(mkRecords(6), dir, buckets = 2)
      assert(Records.openById(spark, dir).count() === 6L)
      assert(Records.getById(spark, dir, 5L).count() === 1L)
      assert(Records.getById(spark, dir, 25L).count() === 0L, "resurrected row")
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // within-bucket id order (the row-group pruning contract): each
    // bucket's single file holds its ids ascending
    val big = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "snap_sorted").toString + "/store"
    Records.snapshotById(mkRecords(300), big, buckets = 4)
    (0 until 4).foreach { b =>
      val ids = spark.read.parquet(s"$big/id_bucket=$b").select("id")
        .as[Long].collect()
      assert(ids.toSeq === ids.sorted.toSeq, s"bucket $b ids out of order")
    }
  }

  test("vacuumVersions sweeps orphaned restore staging, spares the in-flight one") {
    val base = java.nio.file.Files.createTempDirectory("graft_vacuum_tmp").toString
    (0 to 3).foreach { v =>
      Seq((v.toLong, s"v$v")).toDF("id", "tag")
        .write.mode("overwrite").parquet(s"$base/v$v")
    }
    // debris from a crashed restoreVersion (1 <= max): unreachable forever
    Seq((9L, "junk")).toDF("id", "tag").write.parquet(s"$base/.v1.tmp")
    // an IN-FLIGHT restore targets max+1 = 4: must be left alone
    Seq((9L, "inflight")).toDF("id", "tag").write.parquet(s"$base/.v4.tmp")
    Records.vacuumVersions(spark, base, keepLast = 4)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/.v1.tmp")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/.v4.tmp")))
    (0 to 3).foreach(v =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/v$v"))))
  }

  test("ORC snapshot twin round-trips the record frame and pushes the id predicate") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "snap_orc").toString
    val r = mkRecords(20)
    Records.snapshotOrc(r, dir)
    val back = Records.openOrc(spark, dir)
    assert(back.count() === 20L)
    assert(back.schema.simpleString === r.schema.simpleString)
    val a = r.select("id", "metadata").as[(Long, Map[String, String])].collect().sortBy(_._1)
    val b = back.select("id", "metadata").as[(Long, Map[String, String])].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq)
    // the point-lookup predicate reaches the ORC scan (row-group pruning
    // at scale), same contract the parquet store relies on
    val p = back.where(col("id") === 7L).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(id), EqualTo(id,7)]"), p.take(800))
  }

  test("vacuumVersions: keeps the newest keepLast versions plus companions, " +
    "no-ops beyond history, newest data stays readable") {
    import graft.sources.Records
    val base = java.nio.file.Files.createTempDirectory("graft_vacuum").toString
    (0 to 3).foreach { v =>
      Seq((v.toLong, s"v$v")).toDF("id", "tag")
        .write.mode("overwrite").parquet(s"$base/v$v")
      Seq((v, Seq.fill(4)(0.1f))).toDF("cluster_id", "centroid")
        .write.mode("overwrite").parquet(s"$base/centroids_v$v")
    }
    val removed = Records.vacuumVersions(spark, base, keepLast = 2)
    assert(removed === Seq(0, 1))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(n: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$base/$n"))
    assert(!exists("v0") && !exists("v1") && !exists("centroids_v0") &&
      !exists("centroids_v1"))
    assert(exists("v2") && exists("v3") && exists("centroids_v2") &&
      exists("centroids_v3"))
    assert(spark.read.parquet(s"$base/v3").as[(Long, String)].head() === ((3L, "v3")))
    // retention wider than history: nothing removed
    assert(Records.vacuumVersions(spark, base, keepLast = 10) === Seq.empty)
    // absent base: empty, no error; zero retention: rejected
    assert(Records.vacuumVersions(spark, s"$base/nope", 1) === Seq.empty)
    val e = intercept[IllegalArgumentException] {
      Records.vacuumVersions(spark, base, keepLast = 0)
    }
    assert(e.getMessage.contains("keepLast"))
  }

  test("fromCsv: declared schema, quoted commas and newlines survive, " +
    "malformed rows quarantine with their raw content") {
    import graft.sources.Records
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val csv = Seq(
      "doc_id,text,lang,source",
      "1,\"hello, world\",en,web",
      "2,\"two\nlines\",fr,books",
      "abc,broken id,en,web",      // type mismatch → corrupt
      "4,,en,web",                 // missing text → invalid
      "5,fine,de,wiki").mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part.csv"), csv)
    val (good, bad) = Records.fromCsv(spark, dir)
    val g = good.as[(Long, String, String, String)].collect().sortBy(_._1)
    assert(g.map(_._1).toSeq === Seq(1L, 2L, 5L))
    assert(g(0)._2 === "hello, world", "quoted comma must survive")
    assert(g(1)._2 === "two\nlines", "quoted newline must survive")
    val b = bad.as[String].collect()
    assert(b.length === 2, s"expected 2 quarantined rows: ${b.toSeq}")
    assert(b.exists(_.contains("abc")), "corrupt row must carry its raw line")
  }

  test("restoreVersion: rollback publishes the old data as a NEW newest " +
    "version with its centroids; missing source rejected") {
    import graft.sources.Records
    val base = java.nio.file.Files.createTempDirectory("graft_restore").toString
    (0 to 2).foreach { v =>
      Seq((v.toLong, s"v$v")).toDF("id", "tag")
        .write.mode("overwrite").parquet(s"$base/v$v")
    }
    Seq((0, Seq.fill(4)(0.5f))).toDF("cluster_id", "centroid")
      .write.mode("overwrite").parquet(s"$base/centroids_v0")
    val next = Records.restoreVersion(spark, base, v = 0)
    assert(next === 3)
    // the restored newest version carries v0's data and companion
    assert(spark.read.parquet(s"$base/v3").as[(Long, String)].head() === ((0L, "v0")))
    assert(spark.read.parquet(s"$base/centroids_v3").count() === 1L)
    // nothing deleted: the bad versions remain for audit until vacuumed
    assert(spark.read.parquet(s"$base/v2").as[(Long, String)].head() === ((2L, "v2")))
    val e = intercept[IllegalArgumentException] {
      Records.restoreVersion(spark, base, v = 99)
    }
    assert(e.getMessage.contains("v99"))
  }
}
