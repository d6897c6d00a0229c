package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

/** The on-disk commit protocol every materialized index shares
  * ([[TextIndex]], [[VectorIndex]], [[GramIndex]]). State is staged in
  * a directory and committed by ONE atomic empty-file create; readers
  * resolve what is committed by listing the index root:
  *
  *  - `commit-N` commits `gen-N`, a compacted generation; the highest
  *    one is the live [[root]] (the flat layout `build` writes at the
  *    index root is live before the first compaction);
  *  - `applied-<id>` commits `batch-<id>`, one streaming micro-batch
  *    (exactly-once: a replayed id is skipped);
  *  - `deleted-<seq>` commits `tomb-<seq>`, one batch of deleted ids.
  *
  * Each index keeps two watermarks in its live stats row:
  * `folded_through` (batches at or below it are folded into the live
  * generation) and `tomb_folded` (likewise for tombstones). Readers
  * union the unfolded batches and anti-join the unfolded tombstones.
  *
  * No rename anywhere, so the protocol holds on an object store. A crash
  * before a marker leaves debris the next attempt deletes; a crash after
  * it leaves superseded state the next compaction sweeps. A compaction
  * sweeps only what a PREVIOUS compaction superseded (one round of
  * grace for readers that resolved the old state just before it). */
private[graft] object MarkerLayout {
  private val GenMarker = "commit-(\\d+)".r
  private val AppliedMarker = "applied-(\\d+)".r
  private val TombMarker = "deleted-(\\d+)".r
  private val ServedDir = "batch-(\\d+)".r

  /** What one listing of an index root shows committed. */
  private final case class Listing(gens: Seq[Long], batches: Seq[Long],
      tombs: Seq[Long])

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def list(spark: SparkSession, path: String): Listing = {
    val p = new Path(path)
    val f = fs(spark, path)
    val names =
      if (!f.exists(p)) Nil else f.listStatus(p).toSeq.map(_.getPath.getName)
    Listing(names.collect { case GenMarker(n) => n.toLong }.sorted,
      names.collect { case AppliedMarker(n) => n.toLong }.sorted,
      names.collect { case TombMarker(n) => n.toLong }.sorted)
  }

  /** Max committed generation, None for the flat layout. */
  def liveGeneration(spark: SparkSession, path: String): Option[Long] =
    list(spark, path).gens.lastOption

  /** Streaming batch ids whose `applied-<id>` marker exists, folded or not. */
  def committedBatches(spark: SparkSession, path: String): Seq[Long] =
    list(spark, path).batches

  /** Tombstone seqs whose `deleted-<seq>` marker exists, folded or not. */
  def committedTombs(spark: SparkSession, path: String): Seq[Long] =
    list(spark, path).tombs

  /** The live layout's directory: the max committed `gen-N`, or `path`. */
  def root(spark: SparkSession, path: String): String =
    liveGeneration(spark, path).fold(path)(n => s"$path/gen-$n")

  /** `sub` of every committed batch past `foldedThrough` that holds one. */
  def unfoldedBatchDirs(spark: SparkSession, path: String,
      foldedThrough: Long, sub: String): Seq[String] = {
    val f = fs(spark, path)
    committedBatches(spark, path).filter(_ > foldedThrough)
      .map(id => s"$path/batch-$id/$sub")
      .filter(d => f.exists(new Path(d)))
  }

  /** Union of the ids of every committed tombstone past `tombFolded`. */
  def tombIds(spark: SparkSession, path: String,
      tombFolded: Long): Option[DataFrame] = {
    val seqs = committedTombs(spark, path).filter(_ > tombFolded)
    if (seqs.isEmpty) None
    else Some(seqs.map(sq => spark.read.parquet(s"$path/tomb-$sq/ids"))
      .reduce(_ unionByName _).distinct())
  }

  /** A rebuild resets history: every marker with its dir, the run-id
    * guard, the served refreshes and the index's flat-layout dirs go, so
    * nothing stale shadows or outlives the fresh layout. */
  def reset(spark: SparkSession, path: String, flatDirs: Seq[String]): Unit = {
    val p = new Path(path)
    val f = fs(spark, path)
    if (f.exists(p)) f.listStatus(p).foreach { st =>
      st.getPath.getName match {
        case GenMarker(n) => deleteMarked(f, st.getPath, s"$path/gen-$n")
        case AppliedMarker(n) => deleteMarked(f, st.getPath, s"$path/batch-$n")
        case TombMarker(n) => deleteMarked(f, st.getPath, s"$path/tomb-$n")
        case d if d == "_runid" || d == "served" || flatDirs.contains(d) =>
          f.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  /** Delete the debris a crashed attempt left at `dir`, if any. */
  private def clear(f: FileSystem, dir: String): Unit = {
    val p = new Path(dir)
    if (f.exists(p)) f.delete(p, true)
  }

  private def deleteMarked(f: FileSystem, marker: Path, dir: String): Unit = {
    f.delete(marker, false)
    f.delete(new Path(dir), true)
  }

  private def createMarker(f: FileSystem, path: String, name: String): Unit =
    require(f.createNewFile(new Path(path, name)),
      s"marker $name already exists under $path")

  /** EXACTLY-ONCE commit of streaming batch `batchId`: a batch whose
    * marker exists, or at or below `foldedThrough` (committed and
    * folded; its marker may be swept), returns untouched. Otherwise
    * `write` fills the staging dir it is given (debris of a crashed
    * attempt cleared first) and one `applied-<id>` create commits it.
    *
    * Batch ids are scoped to ONE streaming checkpoint: a maintainer
    * restarted against a FRESH checkpoint restarts ids at 0, and the
    * replay check would then silently drop its batches. A non-empty
    * `runId` (the checkpoint's, [[checkpointRunId]]) is recorded in
    * `_runid`; a different one fails loudly once the index has stream
    * history. An operator must keep the checkpoint, or rebuild. */
  def commitBatch(spark: SparkSession, path: String, batchId: Long,
      runId: String, foldedThrough: Long)(write: String => Unit): Unit = {
    val f = fs(spark, path)
    if (runId.nonEmpty) {
      val runFile = new Path(path, "_runid")
      val recorded =
        if (!f.exists(runFile)) None
        else {
          val in = f.open(runFile)
          try Some(new String(in.readAllBytes(), "UTF-8").trim)
          finally in.close()
        }
      if (!recorded.contains(runId)) {
        if (recorded.nonEmpty &&
            (committedBatches(spark, path).nonEmpty || foldedThrough >= 0))
          throw new IllegalStateException(
            s"appendBatch: run id changed under $path (new checkpoint " +
              "restarts batch ids at 0; its batches would be dropped as " +
              "replays). Reuse the original checkpoint or rebuild the index.")
        val out = f.create(runFile, true)
        try out.write(runId.getBytes("UTF-8")) finally out.close()
      }
    }
    if (f.exists(new Path(path, s"applied-$batchId")) ||
        batchId <= foldedThrough) return
    val dir = s"$path/batch-$batchId"
    clear(f, dir)
    write(dir)
    createMarker(f, path, s"applied-$batchId")
  }

  /** TOMBSTONE commit: `ids`' first column, as long `idCol`, staged in
    * `tomb-<seq>/ids` and committed by one `deleted-<seq>` create. The
    * seq stays monotone past `tombFolded`: once a sweep reclaims folded
    * tomb dirs, a reused seq at or below it would read as folded. */
  def commitTomb(spark: SparkSession, path: String, tombFolded: Long,
      ids: DataFrame, idCol: String): Unit = {
    val f = fs(spark, path)
    val seq = (committedTombs(spark, path) :+ tombFolded).max + 1
    val dir = s"$path/tomb-$seq"
    clear(f, dir)
    ids.select(col(ids.columns.head).cast("long").as(idCol)).distinct()
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/ids")
    createMarker(f, path, s"deleted-$seq")
  }

  /** What a new generation folds: its dir, the live root it replaces,
    * the committed batches it folds, and its two watermarks. */
  final case class Fold(genDir: String, cur: String, batches: Seq[Long],
      foldedThrough: Long, tombFolded: Long)

  /** GENERATION commit. `foldedThrough` and `tombFolded` are the live
    * stats row's watermarks. `write` fills `gen-N` (the orphan of a
    * crashed attempt cleared first), stats row included, so the marker
    * switches the whole layout as one. Then the grace sweep: gens older
    * than the one this commit supersedes, the flat layout (`flatDirs`)
    * once a generation has superseded it, and the batches and
    * tombstones the PREVIOUS generation folded, each marker before its
    * dir. What this commit folds keeps its dirs and markers a round. */
  def commitGeneration(spark: SparkSession, path: String, foldedThrough: Long,
      tombFolded: Long, flatDirs: Seq[String])(write: Fold => Unit): Unit = {
    val f = fs(spark, path)
    val l = list(spark, path)
    val prevGen = l.gens.lastOption
    val nextGen = prevGen.fold(0L)(_ + 1)
    val genDir = s"$path/gen-$nextGen"
    clear(f, genDir)
    val batches = l.batches.filter(_ > foldedThrough)
    write(Fold(genDir, prevGen.fold(path)(g => s"$path/gen-$g"), batches,
      (foldedThrough +: batches).max,
      (tombFolded +: l.tombs.filter(_ > tombFolded)).max))
    createMarker(f, path, s"commit-$nextGen")
    f.listStatus(new Path(path)).foreach { st =>
      st.getPath.getName match {
        case GenMarker(n) if prevGen.exists(n.toLong < _) =>
          deleteMarked(f, st.getPath, s"$path/gen-$n")
        case AppliedMarker(n) if n.toLong <= foldedThrough =>
          deleteMarked(f, st.getPath, s"$path/batch-$n")
        case TombMarker(n) if n.toLong <= tombFolded =>
          deleteMarked(f, st.getPath, s"$path/tomb-$n")
        case d if prevGen.nonEmpty && flatDirs.contains(d) =>
          f.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  /** The checkpoint's query id, the true scope of the batchId sequence.
    * Read from the `metadata` file the streaming engine writes at start
    * (present before batch 0 runs); it changes when a checkpoint is
    * wiped EVEN at the same path, which is exactly the event that
    * restarts batch ids. Falls back to the directory string if the file
    * is unreadable. */
  def checkpointRunId(spark: SparkSession, checkpointDir: String): String = {
    val meta = new Path(checkpointDir, "metadata")
    try {
      val in = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .open(meta)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse(checkpointDir)
    } catch { case _: java.io.IOException => checkpointDir }
  }

  /** STREAMING maintenance: each micro-batch goes through `appendBatch`
    * (given the batch, its id and the checkpoint's run id), and every
    * `compactEvery`-th batch also compacts, so the staging-dir union
    * stays bounded. With `serve`, the standing query's answer against
    * the as-of-now index is written to `path/served/batch-<id>` after
    * each batch (Overwrite: a replayed batch rewrites the same answer),
    * and only the latest two refreshes are kept: the older one is the
    * grace copy for a reader that already resolved it. Serving rides
    * the maintenance trigger because answers change only when the index
    * does. Single maintainer per index path. */
  def maintainStream(data: DataFrame, path: String, checkpointDir: String,
      compactEvery: Int, appendBatch: (DataFrame, Long, String) => Unit,
      compact: SparkSession => Unit,
      serve: Option[SparkSession => DataFrame] = None): StreamingQuery =
    data.writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        appendBatch(batch.toDF(), id, checkpointRunId(spark, checkpointDir))
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compact(spark)
        serve.foreach { answer =>
          answer(spark).withColumn("batch_id", lit(id))
            .coalesce(1).write.mode(SaveMode.Overwrite)
            .parquet(s"$path/served/batch-$id")
          val f = fs(spark, path)
          servedIds(f, path).dropRight(2)
            .foreach(n => f.delete(new Path(s"$path/served/batch-$n"), true))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  private def servedIds(f: FileSystem, path: String): Seq[Long] =
    f.listStatus(new Path(path, "served")).toSeq.map(_.getPath.getName)
      .collect { case ServedDir(n) => n.toLong }.sorted

  /** The latest refresh [[maintainStream]] served: the standing query's
    * rows plus `batch_id`. */
  def servedTopK(spark: SparkSession, path: String): DataFrame = {
    val f = fs(spark, path)
    require(f.exists(new Path(path, "served")), s"nothing served yet under $path")
    spark.read.parquet(s"$path/served/batch-${servedIds(f, path).max}")
  }
}
