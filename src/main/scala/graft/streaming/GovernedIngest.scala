package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.hadoop.fs.Path

import graft.operators.Expectations
import graft.sources.{FileManifest, MarkerLayout}

/** CONTINUOUS WRITE-AUDIT-PUBLISH into the graft table format — the
  * streaming write path the batch-only front door lacked: a document/
  * event stream lands as per-micro-batch ATOMIC catalog commits, every
  * batch is audited BEFORE publication, and main-branch readers only
  * ever see audited data. This is c5's WAP loop
  * (stage → audit branch → expectations gate → fastForward) driven by
  * Structured Streaming instead of hand-rolled cycles.
  *
  * Exactly-once across replays (the TextIndex.appendBatch discipline,
  * TextIndex.scala, applied to TABLE versions): each micro-batch's
  * commit is bound to its (checkpoint runId, batchId) by ONE atomic
  * tag create (`ingest-<run>-<batch>` → version). The write order is
  *
  *   1. stage the batch under `stage/<run>-<batch>` (Overwrite — a
  *      replayed stage rewrites, never duplicates),
  *   2. adopt-by-move onto the CURRENT main snapshot and commit the
  *      next catalog version (commitVersion's own marker is atomic),
  *   3. create the batch tag — the linearization point: from here the
  *      batch IS committed exactly once,
  *   4. finish publication idempotently (audit branch advance →
  *      increment audit → fastForward or rejected-tag).
  *
  * A crash BEFORE step 3 leaves at most an untagged orphan version no
  * ref ever points at (invisible to every read; reclaimed by
  * expireVersions + gcOrphans) and the replay redoes 1-3 with fresh
  * file names; a crash AFTER step 3 makes the replay skip straight to
  * step 4, whose actions are all guarded by current ref state
  * (advance only if behind, audit only if neither published nor
  * rejected) — re-running them is a no-op.
  *
  * The audit reads ONLY the batch increment (the committed version's
  * files minus the published head's — O(batch) IO however large the
  * table has grown, the property that keeps a 100 TB table's ingest
  * audit from becoming a full-table scan), through the catalog's own
  * file listing with partition values restored from the directory
  * encoding, so what is audited is byte-identical to what a
  * main-branch reader would be served after publication.
  */
object GovernedIngest {
  /** The governed table's fixed shape for one ingest pipeline. */
  final case class Table(vroot: String, tableRoot: String,
      stageRoot: String, partCol: String, clusterCol: String,
      checks: Seq[Expectations.Check], numFiles: Int = 4)

  /** Initialize the catalog: base snapshot (possibly empty) committed
    * as v0 with `main` and `audit` branches pointing at it. */
  def init(spark: SparkSession, t: Table, base: DataFrame): Long = {
    FileManifest.writePartitionedLayout(base, t.tableRoot, t.partCol,
      t.clusterCol, t.numFiles)
    val pm = FileManifest.buildPartitioned(spark, t.tableRoot, t.clusterCol)
    val v0 = FileManifest.commitVersion(spark, pm, t.vroot)
    FileManifest.createBranch(spark, t.vroot, "main", v0)
    FileManifest.createBranch(spark, t.vroot, "audit", v0)
    v0
  }

  private def ingestTag(runTag: String, batchId: Long) =
    s"ingest-$runTag-$batchId"
  private def rejectedTag(runTag: String, batchId: Long) =
    s"rejected-$runTag-$batchId"

  /** One micro-batch's stage+commit+audit+publish — shared verbatim by
    * [[wapStream]]'s per-batch closure and the batch-replay query
    * (c9), so the streaming path cannot drift from the oracle-checked
    * batch path (the GovernedEnrich discipline). Returns the version
    * this batch is committed as (existing one on replay). */
  def ingestBatch(spark: SparkSession, t: Table, batch: DataFrame,
      runTag: String, batchId: Long): Long = {
    require(runTag.matches("[A-Za-z0-9._-]+"), s"bad runTag '$runTag'")
    val tag = ingestTag(runTag, batchId)
    val v =
      if (FileManifest.refExists(spark, t.vroot, tag))
        FileManifest.resolveRef(spark, t.vroot, tag) // replayed: committed
      else {
        val stageDir = s"${t.stageRoot}/$runTag-$batchId"
        val fs = new Path(stageDir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(stageDir), true) // crashed-attempt leftovers
        fs.delete(new Path(batchDataDir(t, runTag, batchId)), true)
        FileManifest.writePartitionedLayout(batch, stageDir, t.partCol,
          t.clusterCol, t.numFiles)
        // adopt into a PER-BATCH data dir: the batch's file set stays
        // recoverable from paths alone (what a crash replay or a
        // concurrent merge-publish re-derives the increment from)
        val added = FileManifest.adoptBatchAdded(spark,
          batchDataDir(t, runTag, batchId), stageDir, t.clusterCol)
        // OPTIMISTIC COMMIT: the proposal is main ∪ this batch; losing
        // the version-number race to a concurrent writer just means
        // re-resolving main and re-folding the already-moved stats
        // (append-append commutes — the conflict rule of this format;
        // anything that REMOVES files refuses instead of retrying)
        val vNew = FileManifest.commitVersionRetry(spark, t.vroot,
          () => FileManifest.foldAdded(
            FileManifest.loadRef(spark, t.vroot, "main"), added))
        FileManifest.createTag(spark, t.vroot, tag, vNew) // atomic binding
        vNew
      }
    finishPublish(spark, t, v, runTag, batchId)
    v
  }

  /** Each batch's adopted files live under this directory — the batch
    * identity is in the PATH, so its increment is recoverable forever. */
  private def batchDataDir(t: Table, runTag: String, batchId: Long) =
    s"${t.tableRoot}/ing-$runTag-$batchId"

  /** The batch's own files inside committed version `v` (path-keyed —
    * exact under concurrency and replay). */
  private def incrementOf(spark: SparkSession, t: Table, v: Long,
      runTag: String, batchId: Long): Map[String, Seq[FileManifest.FileStats]] = {
    val marker = s"/ing-$runTag-$batchId/"
    FileManifest.loadVersion(spark, t.vroot, v).partitions.view
      .mapValues(_.filter(_.path.contains(marker))).filter(_._2.nonEmpty)
      .toMap
  }

  /** Steps after the committed version exists — each guarded by
    * OBSERVED STATE so a replay (or a concurrent publisher's
    * interference) re-runs them as no-ops or repairs:
    *
    *  - rejected tag exists → terminal.
    *  - the batch's increment ⊆ main's manifest → published, terminal
    *    (the goal check — never "main moved past v", which under
    *    concurrent writers says nothing about THIS batch).
    *  - audit fails → rejected tag (idempotent; the increment never
    *    reaches main because versions are independent proposals).
    *  - audit passes → the PUBLISH LOOP: re-resolve main; if the
    *    proposal version already contains main's files, CAS main onto
    *    it (the serial fast path — zero extra commits); otherwise
    *    commit main ∪ increment as a merge version and CAS onto that.
    *    Every CAS result is distrusted and the goal re-checked — the
    *    filesystem CAS is not linearizable, but appends commute, so
    *    re-merging until the increment is observed in main converges
    *    (bounded attempts, then loud).
    */
  private def finishPublish(spark: SparkSession, t: Table, v: Long,
      runTag: String, batchId: Long): Unit = {
    if (FileManifest.refExists(spark, t.vroot, rejectedTag(runTag, batchId)))
      return // audited and rejected — terminal
    val inc = incrementOf(spark, t, v, runTag, batchId)
    val incPaths = inc.valuesIterator.flatten.map(_.path).toSet
    def published(): Boolean = {
      val mainPaths = FileManifest.loadRef(spark, t.vroot, "main")
        .partitions.valuesIterator.flatten.map(_.path).toSet
      incPaths.subsetOf(mainPaths)
    }
    if (incPaths.isEmpty || published()) return // nothing owed / terminal
    // observability branch: best-effort under concurrency (the audit
    // decision below reads the increment files directly, never this ref)
    if (FileManifest.resolveRef(spark, t.vroot, "audit") < v)
      try FileManifest.advanceBranch(spark, t.vroot, "audit", v)
      catch { case _: IllegalArgumentException => () } // lost the race
    if (incrementViolations(spark, t, inc) > 0L) {
      try FileManifest.createTag(spark, t.vroot,
        rejectedTag(runTag, batchId), v)
      catch { case e: Exception => // concurrent replay created it
        if (!FileManifest.refExists(spark, t.vroot,
          rejectedTag(runTag, batchId))) throw e
      }
      return
    }
    var attempt = 0
    while (!published()) {
      attempt += 1
      require(attempt <= 10,
        s"publish of $runTag-$batchId did not converge after $attempt tries")
      val mainV = FileManifest.resolveRef(spark, t.vroot, "main")
      val mainPm = FileManifest.loadVersion(spark, t.vroot, mainV)
      val mainPaths =
        mainPm.partitions.valuesIterator.flatten.map(_.path).toSet
      val vPaths = FileManifest.loadVersion(spark, t.vroot, v)
        .partitions.valuesIterator.flatten.map(_.path).toSet
      val target =
        if (mainPaths.subsetOf(vPaths)) v // serial fast path
        else FileManifest.commitVersionRetry(spark, t.vroot,
          () => FileManifest.foldAdded(
            FileManifest.loadRef(spark, t.vroot, "main"), inc))
      FileManifest.advanceBranchIfAt(spark, t.vroot, "main", mainV, target)
      // the CAS boolean is advisory — the loop's guard re-checks the
      // GOAL (increment visible in main) before exiting or retrying
    }
  }

  /** Expectation violations over exactly this batch's adopted files,
    * read through the catalog listing with the partition column
    * restored from the directory encoding — O(batch) IO however large
    * the table has grown. */
  private def incrementViolations(spark: SparkSession, t: Table,
      inc: Map[String, Seq[FileManifest.FileStats]]): Long = {
    val added = inc.valuesIterator.flatten.map(_.path).toSeq.sorted
    if (added.isEmpty) 0L
    else {
      // per-batch adoption dirs are each their own basePath (the
      // partition dirs of different batches have different parents)
      val df = added.groupBy(p => new Path(p).getParent.getParent.toString)
        .toSeq.sortBy(_._1)
        .map { case (base, group) =>
          spark.read.option("basePath", base).parquet(group: _*)
        }
        .reduce(_.unionByName(_))
      Expectations.audit(df, t.checks)
        .agg(coalesce(sum("n_violations"), lit(0L))).head.getLong(0)
    }
  }

  /** The continuous form: wire a stream into [[ingestBatch]]. The
    * batchId sequence is scoped to the CHECKPOINT's query id (wiping
    * the checkpoint restarts ids — exactly the event that must remap
    * tags), read as the index maintainers read it. */
  def wapStream(docs: DataFrame, t: Table, checkpointDir: String)
      : StreamingQuery =
    docs.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          ingestBatch(batch.sparkSession, t, batch.toDF(),
            runTag(batch.sparkSession, checkpointDir), id)
          ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** What main-branch readers are served: the published snapshot. */
  def publishedRead(spark: SparkSession, t: Table): DataFrame =
    FileManifest.readPrunedPartitioned(spark,
      FileManifest.loadRef(spark, t.vroot, "main"), None,
      Long.MinValue, Long.MaxValue)

  /** The checkpoint's query id, sanitized to a ref-name-safe token —
    * the true scope of the batchId sequence (changes when a
    * checkpoint is wiped even at the same path). */
  private[graft] def runTag(spark: SparkSession,
      checkpointDir: String): String =
    MarkerLayout.checkpointRunId(spark, checkpointDir)
      .replaceAll("[^A-Za-z0-9._-]", "_").takeRight(12)
}
