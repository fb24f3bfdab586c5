package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}

/** The commit protocol behind every durable write: what is written
  * where, in which order, and what a reader may take as committed.
  *
  * The reference publishes a snapshot by writing it first and renaming
  * it atomically (`src/cores/database.rs:215-225`). A plain
  * `mode("overwrite")` does the opposite: it DELETES the existing
  * directory before the write job runs, so a crash mid-job destroys the
  * previous good copy. Every replacing write here therefore writes the
  * COMPLETE new data to a stage first and only then swaps it in by one
  * checked rename. Single-writer, like the reference's RwLock'd store.
  *
  * The layouts it knows:
  *  - a snapshot (`path`, staged at `path` + [[StageSuffix]]);
  *  - a store whose legs are published per batch, the leg readers key
  *    on last (the corpus-index and NB-count stores, [[publishStaged]]);
  *  - a versioned store (`vN` plus its `centroids_vN` companion, staged
  *    as hidden `.vN.tmp` / `.centroids_vN.tmp`, centroids first);
  *  - a batch-partitioned state (`batch_id=N` partitions written by
  *    dynamic overwrite; the newest one below the current batch is the
  *    state a micro-batch folds onto).
  */
object Commit {

  private val StageSuffix = ".__stage"

  private[graft] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Checked rename of a complete stage onto its target. Hadoop renames
    * into an existing DIRECTORY by nesting the source inside it (posix
    * mv semantics) and still returns true, so any stale target (a
    * crashed earlier attempt, or the data being replaced) is deleted
    * first, a delete that soft-failed is refused, and a rename that
    * reports false fails loudly. */
  private def publish(fs: FileSystem, stage: Path, target: Path): Unit = {
    fs.mkdirs(target.getParent)
    fs.delete(target, true)
    require(!fs.exists(target), s"delete $target failed — refusing nested rename")
    require(fs.rename(stage, target), s"rename $stage -> $target failed")
  }

  /** Stage-then-publish of one or more `stage -> target` moves as one
    * commit: each stage is cleared of debris from a crashed attempt,
    * `write` fills them, then checked renames publish them IN ORDER, so
    * the last target (the one readers key on) appears only once every
    * earlier one is in place. A crash before the last rename leaves only
    * stage debris that the retry clears. */
  private[graft] def publishStaged(spark: SparkSession, moves: (String, String)*)(
      write: => Unit): Unit = {
    val fs = fsOf(spark, moves.head._2)
    moves.foreach(m => fs.delete(new Path(m._1), true))
    write
    moves.foreach { case (stage, target) => publish(fs, new Path(stage), new Path(target)) }
  }

  /** Snapshot publish: `write` fills the stage beside `path`, which then
    * replaces `path`. A crash during the write leaves the old data
    * untouched; a crash between delete and rename leaves the committed
    * stage beside a missing target, which [[heal]] finishes. */
  private[graft] def snapshot(spark: SparkSession, path: String)(write: String => Unit): Unit =
    publishStaged(spark, path + StageSuffix -> path)(write(path + StageSuffix))

  /** Finish a crashed snapshot publish: a missing target beside a
    * committed stage can only be the delete→rename window. */
  private[graft] def heal(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val target = new Path(path)
    val stage = new Path(path + StageSuffix)
    if (!fs.exists(target) && fs.exists(stage))
      require(fs.rename(stage, target), s"heal rename $stage -> $target failed")
  }

  // ---------- the versioned layout ----------

  private[graft] def versionDir(base: String, v: Int): String = s"$base/v$v"

  private[graft] def centroidsDir(base: String, v: Int): String = s"$base/centroids_v$v"

  /** THE definition of "which directories are versions" — shared by
    * [[Records.vacuumVersions]], [[Records.restoreVersion]] and the
    * streaming restart recovery ([[graft.streaming.MaintainedIngest]]),
    * so the lifecycle tools can never disagree about what exists.
    * Sorted ascending. */
  private[graft] def listVersions(fs: FileSystem, base: String): Seq[Int] = {
    val p = new Path(base)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.matches("v\\d+"))
      .map(_.drop(1).toInt).sorted.toSeq
  }

  /** The version a hidden stage entry (`.vN.tmp`, `.centroids_vN.tmp`)
    * under a versioned base was staged for. */
  private[graft] def stagedVersion(name: String): Option[Int] =
    "^\\.(?:centroids_)?v(\\d+)\\.tmp$".r.findFirstMatchIn(name).map(_.group(1).toInt)

  /** Staged publish of version `v` under `base`: `write(data, centroids)`
    * fills the two hidden stages (the `v\d+` listing never sees them),
    * then checked renames publish the centroids FIRST, when `write`
    * staged any, and the data LAST, so a version becomes listable only
    * complete and with its companion in place. A direct write to the
    * listable path would make a partial or centroid-less version the
    * authoritative newest one after a crash. */
  private[graft] def publishVersion(spark: SparkSession, base: String, v: Int)(
      write: (String, String) => Unit): Unit = {
    val fs = fsOf(spark, base)
    val data = new Path(s"$base/.v$v.tmp")
    val cents = new Path(s"$base/.centroids_v$v.tmp")
    fs.delete(data, true)
    fs.delete(cents, true)
    write(data.toString, cents.toString)
    if (fs.exists(cents)) publish(fs, cents, new Path(centroidsDir(base, v)))
    publish(fs, data, new Path(versionDir(base, v)))
  }

  // ---------- the batch-partitioned fold state ----------

  /** `read`, or `None` when nothing is committed at the path read: a
    * missing directory, or one whose crashed FIRST write left no
    * readable footer. Only those two conditions mean "no state"; any
    * other error (schema drift, a misconfigured path) propagates, since
    * mapping it to `None` would silently re-base a cumulative fold. */
  private[graft] def ifCommitted[T](read: => T): Option[T] =
    try Some(read) catch {
      case e: AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" || e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        None
    }

  /** Replay-idempotent micro-batch write: `df` lands in its own
    * `batch_id` partition (nested under `partitionCols`) by dynamic
    * partition overwrite, so a batch replayed after a crash rewrites
    * exactly the partitions it wrote before instead of appending twice
    * (the file sink's commit log covers only single-sink jobs). */
  private[graft] def writeBatch(df: DataFrame, batchId: Long, path: String,
      partitionCols: String*): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols :+ "batch_id": _*).parquet(path)

  /** The newest committed [[writeBatch]] partition of `dir` with
    * `batch_id < before` (the newest overall when `before` is `None`),
    * `cols` projected; `None` when no batch is committed. Folding onto
    * the state strictly below the current batch is what makes a replay
    * recompute identical content instead of counting itself twice. */
  private[graft] def newestBatch(spark: SparkSession, dir: String, before: Option[Long],
      cols: Seq[String]): Option[DataFrame] =
    ifCommitted {
      val full = spark.read.parquet(dir)
      before.fold(full)(b => full.where(col("batch_id") < b))
    }.flatMap { st =>
      // partition-column inference reads batch_id back as INT — cast
      // before the driver-side getLong
      val mb = st.agg(max(col("batch_id").cast("long"))).head()
      if (mb.isNullAt(0)) None
      else Some(st.where(col("batch_id").cast("long") === mb.getLong(0))
        .select(cols.map(col): _*))
    }
}
