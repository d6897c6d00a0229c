package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, ExprId, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, count, input_file_name, lit, max, min, monotonically_increasing_id, not, when}
import org.apache.spark.sql.graftshim.SparkShims

import graft.sources.{FileManifest, ManifestFileIndex}

/** SQL-surface row-level DML for graft tables — `DELETE FROM t WHERE …`
  * and `UPDATE t SET … WHERE …` through the same front door CREATE
  * TABLE … USING graft opened (the Delta/Iceberg user expectation:
  * a table format without SQL DML is a library, not a table).
  *
  * Architecture: Spark's analyzer fully resolves `DeleteFromTable` /
  * `UpdateTable` over the v1 relation and only PLANNING refuses them
  * (verified: the refusal fires in DataSourceV2Strategy /
  * BasicOperators), so [[GraftDmlRule]] — injected as a post-hoc
  * resolution rule via [[GraftExtensions]] — replaces the resolved
  * node with a runnable command BEFORE planning sees it. The command
  * routes onto the engine's proven copy-on-write discipline
  * (the f6/f7 rewrite shape) against the COMMITTED catalog:
  *
  *  1. PRUNE — the predicate's partition conjuncts drop whole
  *     directories and its clustering-column bounds drop every file
  *     whose footer [min,max] cannot match, exactly the listFiles
  *     seam reads use (the index itself answers, so DML IO is decided
  *     by the same catalog that decides scan IO).
  *  2. TOUCH — one scan of the surviving candidates finds the files
  *     that actually contain matching rows (`input_file_name`), the
  *     Delta two-phase shape: a predicate that matches nothing
  *     rewrites nothing.
  *  3. REWRITE — touched files rewrite one-to-one into the next
  *     version's immutable batch directory (a file's surviving rows
  *     are a subset of its rows, so per-file rewrite keeps the
  *     clustering ranges tight); untouched files carry verbatim.
  *  4. COMMIT — one atomic catalog version; every pre-DML version
  *     stays time-travelable, and the serving index advances in place
  *     so the session's next SELECT reads the new snapshot.
  *
  * Refused loudly: DML on a time-traveled table, UPDATE of the
  * partition or clustering column (rewritten rows could leave their
  * directory / file key range — a real format re-clusters instead),
  * and a DELETE that would empty the table (an empty catalog has no
  * schema sample to serve readers; `DROP TABLE` is the honest spell).
  *
  * At 100 TB: phases 1-2 read only pruned candidates once; phase 3
  * reads+writes only files that contain matching rows. Worst case
  * (predicate matches everywhere) degrades to the full CoW rewrite
  * every CoW format pays; MoR equality deletes (f13) remain the
  * engine-level alternative for delete-heavy workloads.
  */
object GraftDml extends PredicateHelper {

  private[plans] def norm(s: String): String = new Path(s).toUri.getPath

  /** [[norm]] for strings produced by `input_file_name()`, which
    * renders the scan's SparkPath as a percent-ENCODED URI (a space in
    * a partition directory — `p=2024-01-01 12%3A00%3A00` — arrives as
    * `%20`, its literal '%' as `%25`). One strict-URI decode recovers
    * the true on-disk path, the domain every manifest path lives in;
    * a string that is not a parseable URI is already raw. */
  private[plans] def normInput(s: String): String =
    try new java.net.URI(s).getPath
    catch { case _: java.net.URISyntaxException => norm(s) }

  /** Batch root `levels + 1` parents above a data file (levels =
    * partition column count) — the basePath partition discovery needs. */
  private[plans] def batchRootOf(file: String, levels: Int): String =
    (0 until levels).foldLeft(new Path(file).getParent)(
      (p, _) => p.getParent).toString

  /** Read data files pinned to `readSchema`, each immutable batch dir
    * its own basePath (one basePath cannot span versions), so the
    * directory-encoded partition columns come back with the rows. */
  private[plans] def readRestored(spark: SparkSession,
      readSchema: org.apache.spark.sql.types.StructType,
      files: Seq[String], levels: Int): DataFrame = files
    .groupBy(f => batchRootOf(f, levels))
    .toSeq.sortBy(_._1)
    .map { case (base, group) =>
      FileManifest.pinnedReader(spark, readSchema)
        .option("basePath", base)
        .parquet(group.sorted: _*)
    }
    .reduce(_.unionByName(_))

  /** The SQL side of the staged rewrite (DELETE/UPDATE/MERGE): the
    * touched files, read through [[readRestored]], rewrite one-to-one
    * in ONE job via [[FileManifest.rewriteStaged]] into `dataDir`'s
    * partition dirs as `<prefix>-<i>-…`, footer-statted per partition.
    * `exchange` is for transforms whose own joins scatter a file's
    * rows across tasks (MERGE), so each rewritten file stays ONE
    * output file. `transform` must preserve the `__fk` column. */
  private[plans] def distributedRewrite(spark: SparkSession,
      readSchema: org.apache.spark.sql.types.StructType,
      dataCols: Seq[String], clusterCol: String,
      touchedList: Seq[(String, String)], dataDir: String, prefix: String,
      transform: DataFrame => DataFrame, exchange: Boolean,
      levels: Int = 1)
      : Map[String, Seq[FileManifest.FileStats]] = {
    val files = touchedList.map(_._2)
    FileManifest.rewriteStaged(readRestored(spark, readSchema, files, levels),
      files.map(Seq(_)), binned = false, levels, dataCols, clusterCol,
      Some(readSchema), exchange, s"$dataDir/_rw", dataDir,
      Some(clusterCol))(transform)(
      i => (touchedList(i)._1, prefix + f"-$i%05d-"))
  }

  /** Strip aliases down to the graft relation, if this is one. */
  private[plans] def graftRelation(plan: LogicalPlan)
      : Option[(HadoopFsRelation, ManifestFileIndex)] = plan match {
    case SubqueryAlias(_, child) => graftRelation(child)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case m: ManifestFileIndex => Some((h, m))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** Resolved catalyst predicate → Column usable on a FRESH read of
    * the same table (attribute ids re-resolve by name). */
  private def asColumn(e: Expression): Column =
    SparkShims.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  /** The shared CoW rewrite: `sets` empty = DELETE (drop matching
    * rows), non-empty = UPDATE (transform matching rows). Returns the
    * committed version. */
  private[plans] def cowRewriteCommit(spark: SparkSession,
      index: ManifestFileIndex, cond: Expression,
      sets: Seq[(String, Expression)],
      dataSchema: org.apache.spark.sql.types.StructType): Long = {
    // every file read is PINNED to the relation's (catalog-tracked)
    // schema: files older than an ADD COLUMN evolution lack the added
    // columns and the reader null-fills them, so a rewrite UPGRADES
    // the files it touches instead of failing on the mixed layout
    val dataCols = dataSchema.fieldNames.toSeq
    val readSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields ++ index.partitionSchema.fields
        .filterNot(f => dataSchema.fieldNames.contains(f.name)))
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "graft DML requires a catalog-backed table (CREATE TABLE … USING " +
        "graft OPTIONS (path '<catalogRoot>'))"))
    require(!index.isTimeTraveled,
      "DML on a time-traveled graft table (version/timestampAsOf) is not " +
        "allowed — writes land on the LATEST snapshot only; drop the pin " +
        "and re-create the table")
    val partCols = index.partitionColumns
    val levels = partCols.size
    val clusterCol = index.clusterColumn
    sets.foreach { case (name, _) =>
      require(!partCols.contains(name) && name != clusterCol,
        s"UPDATE of the ${if (partCols.contains(name)) "partition"
          else "clustering"} " +
          s"column `$name` is not supported — rewritten rows could leave " +
          "their directory/file key range and the catalog would mis-prune; " +
          "re-cluster via df.write.format(\"graft\").mode(\"overwrite\")")
    }

    // 0. SYNC to the committed head: the cached relation may be
    // behind commits made outside this session's table (an external
    // writer's append) — a DML decided on a stale snapshot would
    // commit a version that silently DROPS those files. The index
    // advances first, so pruning, touch detection, and the carried
    // manifest all read the same latest version.
    index.advanceSnapshot(FileManifest.loadLatest(spark, root))

    // 1. PRUNE through the index's own listing seam: partition
    // conjuncts drop directories, clustering bounds drop files
    val conjuncts = splitConjunctivePredicates(cond)
    val (partFilters, dataFilters) = conjuncts.partition(c =>
      c.references.nonEmpty &&
        c.references.forall(a => partCols.contains(a.name)))
    val candidates = index.listFiles(partFilters, dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    if (candidates.isEmpty) return FileManifest.latestVersion(spark, root).get

    // 2. TOUCH: which candidates actually hold matching rows. The
    // collect is O(touched file names) — catalog-scale, never rows
    val condCol = asColumn(cond)
    val touched = readRestored(spark, readSchema, candidates, levels)
      .where(condCol)
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => normInput(r.getString(0))).toSet
    val pm = index.currentSnapshot
    if (touched.isEmpty) return FileManifest.latestVersion(spark, root).get

    // 3. REWRITE all touched files in ONE distributed job, landing in
    // a fresh immutable batch dir (uniquely suffixed: a concurrent
    // writer computing the same next-version number must never share
    // a directory whose Overwrite write would wipe our output)
    val next = FileManifest.latestVersion(spark, root).get + 1
    val dataDir = s"$root/data/b$next-" +
      java.util.UUID.randomUUID.toString.take(8)
    val touchedList = pm.partitions.toSeq.sortBy(_._1).flatMap {
      case (part, files) => files.filter(f => touched(norm(f.path)))
        .map(f => (part, f.path))
    }
    val freshStats = distributedRewrite(spark, readSchema, dataCols,
      clusterCol, touchedList, dataDir, "rw",
      transform = df =>
        if (sets.isEmpty) df.where(not(coalesce(condCol, lit(false))))
        else df.select(df.columns.toSeq.map { c =>
          sets.find(_._1 == c) match {
            case Some((_, v)) =>
              when(condCol, asColumn(v)).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*),
      exchange = false, levels = levels)

    // WRITE-TIME CONSTRAINTS: an UPDATE's rewritten rows must satisfy
    // every declared CHECK before the commit makes them visible — a
    // violating SET refuses atomically, the fresh batch dir swept
    // (a DELETE only removes rows; it cannot create a violation)
    if (sets.nonEmpty && freshStats.valuesIterator.flatten.nonEmpty)
      FileManifest.enforceConstraints(spark, root,
        spark.read.option("basePath", dataDir).parquet(
          freshStats.valuesIterator.flatten.map(_.path).toSeq.sorted: _*),
        "UPDATE", cleanup = () => {
          val dfs = new Path(dataDir).getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          dfs.delete(new Path(dataDir), true); ()
        })

    // 4. COMMIT: carried + rewritten as one atomic version, with
    // optimistic retry against racing disjoint-file commits
    commitCowRetrying(spark, root, index, touched, freshStats,
      meta = Map("operation" -> (if (sets.isEmpty) "delete" else "update")),
      emptyMsg = "this DELETE would remove every row — an empty graft " +
        "catalog cannot serve readers; DROP TABLE (or overwrite with a " +
        "new batch) instead")
  }

  /** Optimistic COMMIT for CoW rewrites (DELETE/UPDATE/MERGE/
    * OPTIMIZE) — the Iceberg/Delta conflict-resolution discipline:
    * the rewrite IO already happened against a synced snapshot; all
    * that the commit needs is that the files it REWRITES still exist
    * at the head. On losing the version race, re-resolve the new
    * head: if every touched file is still present there (the
    * concurrent commit touched a DISJOINT file set — an append,
    * another DML on other files, a schema evolution), the two
    * operations commute, so carried = head − touched recomputes and
    * the next number is tried — no rewrite IO is repeated. A head
    * missing any touched file is a TRUE conflict (the same rows were
    * concurrently rewritten/removed): refuse loudly, the statement
    * must re-run against the new snapshot.
    *
    * `basePaths` (MERGE only) strengthens the commute check to the
    * Delta ConcurrentAppendException discipline: a MERGE's
    * not-matched insert set was computed against its base snapshot's
    * READ SET, so files ADDED to the head since then could hold rows
    * matching the ON keys — retrying anyway would commit duplicate
    * keys silently. Any head file absent from the base refuses
    * (conservative: the added rows may not match, but proving that
    * would re-run the join — exactly what the re-run message asks
    * for). DELETE/UPDATE/OPTIMIZE pass None: their rewrite is a pure
    * function of the touched files, so appends genuinely commute. */
  private[plans] def commitCowRetrying(spark: SparkSession, root: String,
      index: ManifestFileIndex, touched: Set[String],
      freshByPart: Map[String, Seq[FileManifest.FileStats]],
      meta: Map[String, String], emptyMsg: String,
      maxAttempts: Int = 8,
      basePaths: Option[Set[String]] = None): Long = {
    val op = meta.getOrElse("operation", "dml")
    var attempt = 0
    while (true) {
      attempt += 1
      val head = FileManifest.loadLatest(spark, root)
      val headPaths = head.partitions.valuesIterator.flatten
        .map(f => norm(f.path)).toSet
      val missing = touched.filterNot(headPaths)
      require(missing.isEmpty,
        s"graft $op commit conflict: a concurrent commit removed or " +
          s"rewrote ${missing.size} of this operation's touched file(s) — " +
          "the writes do not commute; re-run the statement against the " +
          "new head")
      basePaths.foreach { base =>
        val added = headPaths -- base
        require(added.isEmpty,
          s"graft $op commit conflict: a concurrent commit ADDED " +
            s"${added.size} file(s) since this MERGE's snapshot — the " +
            "added rows may match the ON keys (the not-matched insert " +
            "set would duplicate them); re-run the statement against " +
            "the new head")
      }
      val next = FileManifest.latestVersion(spark, root).get + 1
      val carried = head.partitions.view.mapValues(
        _.filterNot(f => touched(norm(f.path)))).toMap
      val merged = freshByPart.foldLeft(carried) {
        case (acc, (part, stats)) =>
          acc.updated(part, (acc.getOrElse(part, Nil) ++ stats).sortBy(_.path))
      }.filter(_._2.nonEmpty)
      require(merged.nonEmpty, emptyMsg)
      val adopted = head.copy(partitions = merged)
      try {
        val v = FileManifest.commitVersion(spark, adopted, root, meta,
          expected = Some(next))
        index.advanceSnapshot(adopted) // the session's next SELECT sees it
        return v
      } catch {
        case e: FileManifest.CommitConflictException =>
          if (attempt >= maxAttempts) throw e
      }
    }
    -1L // unreachable
  }

  /** SQL `MERGE INTO target USING source ON cond WHEN …` on the same
    * CoW discipline as DELETE/UPDATE, with the [[graft.sources
    * .FileManifest.mergeKeyed]] staging idea lifted to the general
    * condition: matched source rows are written out ONCE partitioned
    * by the target file they touch, so per-file rewrites read their
    * own slice and the source is never re-scanned per file.
    *
    *  1. PRUNE — target-only conjuncts of the ON clause go through
    *     the index's listFiles seam (directories + footer ranges); an
    *     equi-conjunct `t.<clusterCol> = <source expr>` additionally
    *     bounds candidates by the source expression's [min, max] (one
    *     aggregation over the source — at 100 TB this is what keeps a
    *     small changeset from touching every file). When
    *     NOT MATCHED BY SOURCE actions exist, pruning is disabled:
    *     every target row without a match is in play by definition.
    *  2. TOUCH + CARDINALITY — one join of the pruned candidates with
    *     the source finds, per file, the match count of its
    *     worst-matched row: >1 with matched actions is the SQL MERGE
    *     cardinality violation (refused loudly, nothing written);
    *     files with no matched rows (and no by-source actions) carry
    *     verbatim, and an insert-only merge rewrites NOTHING.
    *  3. STAGE + REWRITE — the matched source rows land once under
    *     `_mrg_stage/_f=<i>`; each touched file full-joins its slice,
    *     applies the WHEN cascade (first satisfied clause wins, the
    *     SQL contract) per row, and rewrites one-to-one into the next
    *     immutable batch dir.
    *  4. INSERT — source rows matching NO candidate row (exact even
    *     under pruning: pruning is conservative w.r.t. the ON clause,
    *     so every possible match partner survives it) evaluate the
    *     NOT MATCHED cascade and append as new cluster-sorted files
    *     in their own partition directories.
    *  5. COMMIT — carried + rewritten + inserted files as one atomic
    *     catalog version; the serving index advances in place.
    *
    * Refused loudly: schema evolution, UPDATE/INSERT of the partition
    * or clustering column key range (UPDATE of either column; INSERT
    * rows with a NULL partition value), INSERT clauses that leave
    * target columns unassigned, and the cardinality violation. */
  private[plans] def cowMergeCommit(spark: SparkSession,
      index: ManifestFileIndex, m: MergeIntoTable,
      dataSchema: org.apache.spark.sql.types.StructType): Long = {
    // pinned-read discipline: see cowRewriteCommit — rewrites upgrade
    // pre-evolution files instead of failing on the mixed layout
    val dataCols = dataSchema.fieldNames.toSeq
    val readSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields ++ index.partitionSchema.fields
        .filterNot(f => dataSchema.fieldNames.contains(f.name)))
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "graft MERGE requires a catalog-backed table (CREATE TABLE … USING " +
        "graft OPTIONS (path '<catalogRoot>'))"))
    require(!index.isTimeTraveled,
      "MERGE INTO a time-traveled graft table (version/timestampAsOf) is " +
        "not allowed — writes land on the LATEST snapshot only")
    require(!m.withSchemaEvolution,
      "MERGE … WITH SCHEMA EVOLUTION is not supported on graft tables — " +
        "evolve the schema via an explicit overwrite, then MERGE")
    val partCols = index.partitionColumns
    val levels = partCols.size
    val clusterCol = index.clusterColumn

    val tIds = m.targetTable.output.map(_.exprId).toSet
    val sIds = m.sourceTable.output.map(_.exprId).toSet
    val sNames = m.sourceTable.output.map(_.name)
    require(sNames.distinct.size == sNames.size,
      "MERGE source has duplicate column names; alias them apart")
    require(!sNames.exists(_.startsWith("__")),
      "MERGE source column names must not start with `__` (reserved)")

    def assignmentsOf(a: MergeAction): Seq[(String, Expression)] = a match {
      case u: UpdateAction => u.assignments.map {
        case Assignment(k: Attribute, v) => k.name -> v
        case Assignment(k, _) => sys.error(
          s"graft MERGE supports top-level columns only, got: ${k.sql}")
      }
      case i: InsertAction => i.assignments.map {
        case Assignment(k: Attribute, v) => k.name -> v
        case Assignment(k, _) => sys.error(
          s"graft MERGE supports top-level columns only, got: ${k.sql}")
      }
      case _ => Nil
    }
    val conjuncts = splitConjunctivePredicates(m.mergeCondition)
    // a key-column UPDATE assignment is allowed iff the ON clause PINS
    // it — a conjunct `t.<col> = <expr>` whose <expr> is semantically
    // the assigned value makes the assignment a provable identity on
    // matched rows, so it drops out of the rewrite (this is what lets
    // `UPDATE SET *` work through an ON clause keyed on the partition
    // and clustering columns); anything else refuses
    def stripCast(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        stripCast(c.child)
      case other => other
    }
    def pinnedByOn(name: String, v: Expression): Boolean =
      conjuncts.exists {
        case EqualTo(l: AttributeReference, r)
            if tIds(l.exprId) && l.name == name =>
          stripCast(r).semanticEquals(stripCast(v))
        case EqualTo(r, l: AttributeReference)
            if tIds(l.exprId) && l.name == name =>
          stripCast(r).semanticEquals(stripCast(v))
        case _ => false
      }
    /** Update assignments with pinned-identity key assignments
      * dropped; what remains on a key column refuses. */
    def updateAssignments(u: UpdateAction): Seq[(String, Expression)] =
      assignmentsOf(u).filterNot { case (name, v) =>
        (partCols.contains(name) || name == clusterCol) && pinnedByOn(name, v)
      }
    (m.matchedActions ++ m.notMatchedBySourceActions).foreach {
      case u: UpdateAction => updateAssignments(u).foreach { case (name, _) =>
        require(!partCols.contains(name) && name != clusterCol,
          s"MERGE UPDATE of the ${if (partCols.contains(name)) "partition"
            else "clustering"} column `$name` is not supported — rewritten " +
            "rows could leave their directory/file key range (an ON-clause " +
            s"conjunct `t.$name = <the assigned expr>` would make it a " +
            "provable identity and allow it)")
      }
      case _: DeleteAction => ()
      case a => sys.error(s"unsupported WHEN MATCHED action: $a")
    }
    m.notMatchedActions.foreach {
      case i: InsertAction =>
        val assigned = assignmentsOf(i).map(_._1).toSet
        val missing = (dataCols ++ partCols).filterNot(assigned)
        require(missing.isEmpty,
          s"MERGE INSERT must assign every target column; missing: " +
            missing.mkString(", "))
      case a => sys.error(s"unsupported WHEN NOT MATCHED action: $a")
    }

    // 0. SYNC to the committed head (the cowRewriteCommit discipline)
    index.advanceSnapshot(FileManifest.loadLatest(spark, root))
    val pm = index.currentSnapshot

    // qualified resolution: original analyzed attrs re-resolve by name
    // through the join aliases (`_t` = target read, `_s` = source)
    def q(e: Expression): Column = SparkShims.column(e.transform {
      case a: AttributeReference if tIds(a.exprId) =>
        UnresolvedAttribute(Seq("_t", a.name))
      case a: AttributeReference if sIds(a.exprId) =>
        UnresolvedAttribute(Seq("_s", a.name))
    })
    // source-only expressions (INSERT values/conditions)
    def qs(e: Expression): Column = SparkShims.column(e.transform {
      case a: AttributeReference if sIds(a.exprId) =>
        UnresolvedAttribute.quoted(a.name)
    })

    val src = SparkShims.ofRows(spark, m.sourceTable)
      .withColumn("__m", lit(true)) // match marker survives outer joins

    // 1. PRUNE (disabled whenever unmatched target rows are in play)
    val candidates: Seq[String] =
      if (m.notMatchedBySourceActions.nonEmpty)
        pm.partitions.toSeq.sortBy(_._1).flatMap(_._2.map(_.path))
      else {
        val staticT = conjuncts.filter(c => c.references.nonEmpty &&
          c.references.forall(a => tIds(a.exprId)))
        val (partFilters, dataFilters) = staticT.partition(
          _.references.forall(a => partCols.contains(a.name)))
        // t.<clusterCol> = <source expr> → [min,max] of the source expr
        val clusterAttr = m.targetTable.output.find(_.name == clusterCol)
        val srcKey: Option[Expression] = conjuncts.collectFirst {
          case EqualTo(l: AttributeReference, r)
              if tIds(l.exprId) && l.name == clusterCol &&
                r.references.nonEmpty &&
                r.references.forall(a => sIds(a.exprId)) => r
          case EqualTo(r, l: AttributeReference)
              if tIds(l.exprId) && l.name == clusterCol &&
                r.references.nonEmpty &&
                r.references.forall(a => sIds(a.exprId)) => r
        }
        val boundFilters = srcKey.toSeq.flatMap { e =>
          val mm = src.agg(min(qs(e)), max(qs(e))).head()
          if (mm.isNullAt(0)) Nil // empty/all-null source: no matches
          else {
            import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThanOrEqual}
            val a = clusterAttr.get
            Seq(GreaterThanOrEqual(a, Literal.create(mm.get(0), e.dataType)),
              LessThanOrEqual(a, Literal.create(mm.get(1), e.dataType)))
          }
        }
        index.listFiles(partFilters, dataFilters ++ boundFilters)
          .flatMap(_.files.map(_.getPath.toString))
      }

    val next = FileManifest.latestVersion(spark, root).get + 1
    // uniquely-suffixed batch dir: see cowRewriteCommit
    val dataDir = s"$root/data/b$next-" +
      java.util.UUID.randomUUID.toString.take(8)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val joinCond = q(m.mergeCondition)

    // 2. TOUCH + CARDINALITY + 3a. STAGE — one join pass: per target
    // row its match count (SQL MERGE refuses >1 when matched actions
    // exist), per file whether it holds any match, and the matched
    // source rows staged once, partitioned by the file they touch
    val stage = s"$dataDir/_mrg_stage"
    val rewriteNeeded =
      m.matchedActions.nonEmpty || m.notMatchedBySourceActions.nonEmpty
    val touched: Seq[String] =
      if (candidates.isEmpty) Nil
      else {
        val cand = readRestored(spark, readSchema, candidates, levels)
        val candId = cand
          .withColumn("__f", input_file_name())
          .withColumn("__rid", monotonically_increasing_id())
        val joined = candId.as("_t").join(src.as("_s"), joinCond)
        val stats = joined
          .groupBy(col("__f"), col("__rid"))
          .agg(count(lit(1)).as("__n"))
          .groupBy(col("__f")).agg(max("__n").as("__mx"))
          .collect() // O(touched files), catalog-scale
        if (m.matchedActions.nonEmpty) stats.foreach { r =>
          require(r.getLong(1) <= 1L,
            "MERGE cardinality violation: a target row matches more than " +
              s"one source row (file ${r.getString(0)}) — dedupe the source " +
              "on the merge key first")
        }
        val t = stats.map(r => normInput(r.getString(0))).toSeq.sorted
        if (t.nonEmpty && rewriteNeeded) {
          // stage each touched file's matched source rows exactly once;
          // distinct is safe AFTER the cardinality gate (identical
          // duplicate source rows would have tripped it)
          joined
            .select((FileManifest.fileKeyCol(col("__f"), levels).as("__fk") ::
              src.columns.toList.map(c => col(s"_s.$c"))): _*)
            .distinct()
            .write.mode(SaveMode.Overwrite).partitionBy("__fk").parquet(stage)
        }
        t
      }
    // by-source actions put every candidate file in play, matched or not
    val rewriteSet: Seq[String] =
      if (m.notMatchedBySourceActions.nonEmpty) candidates.map(norm).sorted
      else if (m.matchedActions.nonEmpty) touched
      else Nil // insert-only MERGE rewrites nothing

    // the WHEN cascade: first satisfied clause wins
    def actIndex(actions: Seq[MergeAction], gate: Column): Column =
      actions.zipWithIndex.foldLeft(Option.empty[Column]) {
        case (acc, (a, i)) =>
          val c = a.condition.map(e => gate && q(e)).getOrElse(gate)
          Some(acc.fold(when(c, lit(i)))(_.when(c, lit(i))))
      }.fold(lit(-1))(_.otherwise(lit(-1)))

    val rewriteFiles: Set[String] = rewriteSet.toSet
    val touchedList = pm.partitions.toSeq.sortBy(_._1).flatMap {
      case (part, files) => files.filter(f => rewriteFiles(norm(f.path)))
        .map(f => (part, f.path))
    }
    val stagedKeys: Set[String] =
      if (touched.nonEmpty && rewriteNeeded)
        fs.listStatus(new Path(stage)).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("__fk="))
          .map(_.getPath.getName.stripPrefix("__fk="))
          .toSet
      else Set.empty

    // 3b. REWRITE all touched files in ONE distributed job: the whole
    // stage left-joins on (file key, ON clause) — each file's rows
    // meet exactly its own staged slice, a candidate with no slice
    // (in play via by-source actions only) matches nothing and every
    // row lands unmatched, exactly the per-file semantics. The WHEN
    // cascade applies uniformly; the exchange keeps each rewritten
    // file ONE output file (the join scatters a file's rows).
    val mDel = m.matchedActions.zipWithIndex.collect {
      case (_: DeleteAction, i2) => i2 }.toSet
    val nDel = m.notMatchedBySourceActions.zipWithIndex.collect {
      case (_: DeleteAction, i2) => i2 }.toSet
    val freshStats: Map[String, Seq[FileManifest.FileStats]] =
      if (touchedList.isEmpty) Map.empty
      else distributedRewrite(spark, readSchema, dataCols, clusterCol,
        touchedList, dataDir, "rw",
        transform = df => {
          val joined =
            if (stagedKeys.isEmpty)
              df.as("_t").withColumn("__m", lit(false))
            else {
              // the staged slice's schema is KNOWN (it was written two
              // statements up: src columns + the __fk partition key) —
              // passing it skips the per-MERGE footer-sampling
              // schema-inference job spark.read would run (§6)
              val stageSchema = org.apache.spark.sql.types.StructType(
                src.schema.fields :+
                  org.apache.spark.sql.types.StructField("__fk",
                    org.apache.spark.sql.types.StringType))
              val slice = spark.read.schema(stageSchema).parquet(stage)
                .withColumnRenamed("__fk", "__sfk")
              df.as("_t").join(slice.as("_s"),
                  col("_t.__fk") === col("__sfk") && joinCond, "left_outer")
                .withColumn("__m", coalesce(col("_s.__m"), lit(false)))
            }
          // matched-action gates are __m-guarded, so sliceless rows
          // (__m = false) fall through to -1 without a special case
          val mAct = if (stagedKeys.isEmpty) lit(-1)
                     else actIndex(m.matchedActions, col("__m"))
          val nAct = actIndex(m.notMatchedBySourceActions, !col("__m"))
          joined
            .withColumn("__ma", mAct).withColumn("__na", nAct)
            .where(!(col("__ma").isInCollection(
                if (mDel.isEmpty) Set(-2) else mDel) ||
              col("__na").isInCollection(
                if (nDel.isEmpty) Set(-2) else nDel)))
            .select(readSchema.fields.map { f =>
              val c = f.name
              val mUpd =
                if (stagedKeys.isEmpty) Option.empty[Column]
                else m.matchedActions.zipWithIndex.foldLeft(
                  Option.empty[Column]) { case (acc, (a, i2)) => a match {
                    case u: UpdateAction =>
                      updateAssignments(u).find(_._1 == c).map { case (_, v) =>
                        val w = col("__ma") === i2
                        Some(acc.fold(when(w, q(v)))(_.when(w, q(v))))
                      }.getOrElse(acc)
                    case _ => acc
                  } }
              val both = m.notMatchedBySourceActions.zipWithIndex.foldLeft(
                mUpd) { case (acc, (a, i2)) => a match {
                  case u: UpdateAction =>
                    updateAssignments(u).find(_._1 == c).map { case (_, v) =>
                      val w = col("__na") === i2
                      Some(acc.fold(when(w, q(v)))(_.when(w, q(v))))
                    }.getOrElse(acc)
                  case _ => acc
                } }
              both.fold(col(s"_t.$c"))(_.otherwise(col(s"_t.$c")))
                .cast(f.dataType).as(c)
            }.toSeq :+ col("_t.__fk").as("__fk"): _*)
        },
        exchange = true, levels = levels)

    // 4. INSERT — source rows with no match among the candidates
    // (exact: pruning is conservative, every possible partner survived)
    val insertedStats: Map[String, Seq[FileManifest.FileStats]] =
      if (m.notMatchedActions.isEmpty) Map.empty
      else {
        val unmatched =
          if (candidates.isEmpty) src.drop("__m")
          else src.as("_s").join(
            readRestored(spark, readSchema, candidates, levels).as("_t"),
            joinCond, "left_anti")
            .drop("__m")
        val iActs = m.notMatchedActions.collect { case i: InsertAction => i }
        val iAct = iActs.zipWithIndex.foldLeft(Option.empty[Column]) {
          case (acc, (a, i2)) =>
            val c = a.condition.map(qs).getOrElse(lit(true))
            Some(acc.fold(when(c, lit(i2)))(_.when(c, lit(i2))))
        }.fold(lit(-1))(_.otherwise(lit(-1)))
        val targetSchema = dataSchema
        def insCol(c: String, dt: org.apache.spark.sql.types.DataType) =
          iActs.zipWithIndex.foldLeft(Option.empty[Column]) {
            case (acc, (a, i2)) =>
              val v = qs(assignmentsOf(a).find(_._1 == c).get._2)
              val w = col("__ia") === i2
              Some(acc.fold(when(w, v))(_.when(w, v)))
          }.get.cast(dt).as(c)
        val partType = readSchema
        val ins = unmatched.withColumn("__ia", iAct).where(col("__ia") >= 0)
          .select((targetSchema.fields.map(f => insCol(f.name, f.dataType))
            ++ partCols.map(pc => insCol(pc,
              partType.find(_.name == pc).map(_.dataType)
                .getOrElse(org.apache.spark.sql.types.StringType)))).toSeq: _*)
          // the anti-join behind `ins` is the expensive half of an
          // insert-heavy MERGE — cache it so the emptiness/NULL guards
          // and the write are ONE computation, not three
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val guard = ins.agg(count(lit(1)).as("n"),
          (partCols.map(pc => count(col(pc)).as(s"nn_$pc"))): _*).head()
        val nIns = guard.getLong(0)
        if (nIns == 0L) { ins.unpersist(); Map.empty }
        else {
          partCols.zipWithIndex.foreach { case (pc, i) =>
            val nNullPart = nIns - guard.getLong(i + 1)
            require(nNullPart == 0, s"MERGE INSERT produced $nNullPart " +
              s"row(s) with a NULL partition value `$pc` — a graft " +
              "partition directory cannot encode NULL")
          }
          val insDir = s"$dataDir/_ins"
          // re-stamp field ids (the insert cascade's casts drop them)
          FileManifest.stampFieldIds(ins, dataSchema)
            .repartition(partCols.map(col): _*)
            .sortWithinPartitions((partCols :+ clusterCol).map(col): _*)
            .write.mode(SaveMode.Overwrite)
            .partitionBy(partCols: _*).parquet(insDir)
          ins.unpersist()
          FileManifest.adoptStaged(spark, insDir, dataDir,
            Some(clusterCol))(part => (part, "ins-"))
        }
      }
    fs.delete(new Path(stage), true)

    if (rewriteSet.isEmpty && insertedStats.isEmpty) {
      // nothing matched, nothing inserted: MERGE is a committed no-op
      fs.delete(new Path(dataDir), true)
      return FileManifest.latestVersion(spark, root).get
    }

    // 5. COMMIT carried + rewritten + inserted as one atomic version,
    // with optimistic retry against racing disjoint-file commits
    val fresh = insertedStats.foldLeft(freshStats) {
      case (acc, (part, stats)) =>
        acc.updated(part, (acc.getOrElse(part, Nil) ++ stats).sortBy(_.path))
    }
    // WRITE-TIME CONSTRAINTS: every row this MERGE lands (rewritten
    // updates + inserts) must satisfy the declared CHECKs before the
    // commit — a violating changeset refuses atomically
    if (fresh.valuesIterator.flatten.nonEmpty)
      FileManifest.enforceConstraints(spark, root,
        spark.read.option("basePath", dataDir).parquet(
          fresh.valuesIterator.flatten.map(_.path).toSeq.sorted: _*),
        "MERGE", cleanup = () => {
          fs.delete(new Path(dataDir), true); ()
        })
    commitCowRetrying(spark, root, index, rewriteFiles, fresh,
      meta = Map("operation" -> "merge"),
      emptyMsg = "this MERGE would remove every row — an empty graft " +
        "catalog cannot serve readers; DROP TABLE (or overwrite with a " +
        "new batch) instead",
      basePaths = Some(pm.partitions.valuesIterator.flatten
        .map(f => norm(f.path)).toSet))
  }
}

/** Post-hoc resolution rule: resolved SQL DML over a graft relation
  * becomes a runnable command before planning can refuse it. */
case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case d @ DeleteFromTable(t, cond) if d.resolved =>
        GraftDml.graftRelation(t) match {
          case Some((h, idx)) =>
            GraftDeleteCommand(idx, cond, h.dataSchema)
          case None => d
        }
      case u @ UpdateTable(t, assignments, cond) if u.resolved =>
        GraftDml.graftRelation(t) match {
          case Some((h, idx)) =>
            val sets = assignments.map {
              case Assignment(k: Attribute, v) => k.name -> v
              case Assignment(k, _) => sys.error(
                s"graft UPDATE supports top-level columns only, got: ${k.sql}")
            }
            GraftUpdateCommand(idx, sets,
              cond.getOrElse(org.apache.spark.sql.catalyst.expressions
                .Literal.TrueLiteral), h.dataSchema)
          case None => u
        }
      case m: MergeIntoTable if m.resolved =>
        GraftDml.graftRelation(m.targetTable) match {
          case Some((h, idx)) =>
            GraftMergeCommand(idx, m, h.dataSchema)
          case None => m
        }
      // INSERT INTO a graft table must NEVER take the catalog-tracked
      // partition path: Spark registers each inserted partition in the
      // session catalog at `<tableLocation>/<part>` (the data tree the
      // staging discipline exists to protect), and the NEXT insert
      // touching that partition then sees a "custom partition
      // location" and moves its files there DIRECTLY — bypassing
      // staging, never adopted, a silent zero-row insert (reproduced
      // r14: the second INSERT into any already-inserted partition
      // lost its rows). The graft catalog IS the partition authority;
      // dropping the tracking flag keeps Spark's generic insert on
      // the plain staging path every time.
      case ins: org.apache.spark.sql.execution.datasources
          .InsertIntoHadoopFsRelationCommand
          if ins.fileIndex.exists(_.isInstanceOf[ManifestFileIndex]) &&
            ins.catalogTable.exists(_.tracksPartitionsInCatalog) =>
        ins.copy(catalogTable =
          ins.catalogTable.map(_.copy(tracksPartitionsInCatalog = false)))
    }
}

/** `DELETE FROM t WHERE cond` — CoW rewrite + one atomic version. */
case class GraftDeleteCommand(index: ManifestFileIndex, cond: Expression,
    dataSchema: org.apache.spark.sql.types.StructType)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDml.cowRewriteCommit(spark, index, cond, Nil, dataSchema)
    Nil
  }
}

/** `UPDATE t SET … WHERE cond` — CoW rewrite + one atomic version. */
case class GraftUpdateCommand(index: ManifestFileIndex,
    sets: Seq[(String, Expression)], cond: Expression,
    dataSchema: org.apache.spark.sql.types.StructType)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDml.cowRewriteCommit(spark, index, cond, sets, dataSchema)
    Nil
  }
}

/** `MERGE INTO t USING s ON … WHEN …` — staged CoW merge + one atomic
  * version. Holds the resolved [[MergeIntoTable]] whole: the WHEN
  * cascade, assignments, and both child plans travel intact to run(). */
case class GraftMergeCommand(index: ManifestFileIndex,
    merge: MergeIntoTable,
    dataSchema: org.apache.spark.sql.types.StructType)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(merge)
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDml.cowMergeCommit(spark, index, merge, dataSchema)
    Nil
  }
}
