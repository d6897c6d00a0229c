package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType

import graft.sources.{FileManifest, ManifestFileIndex}

/** SQL-surface TABLE MAINTENANCE for graft tables — `OPTIMIZE t
  * [TARGET n ROWS]` and `VACUUM t [RETAIN n VERSIONS]`, the two
  * statements that complete the front door's parity story: after
  * r11's DML trio a SQL user can CREATE, SELECT (with time travel),
  * INSERT, DELETE, UPDATE, MERGE — and now also compact the small
  * files their ingest left behind and reclaim the storage their CoW
  * history retired, without ever touching the Scala API (the
  * Delta `OPTIMIZE`/`VACUUM` role).
  *
  * Spark's grammar has neither statement, so [[GraftSqlParser]] —
  * injected via `injectParser` — intercepts exactly these two shapes
  * (anchored match on the whole statement; anything else delegates to
  * Spark's parser untouched, including its error messages).
  *
  * OPTIMIZE routes onto the f3 compaction discipline, committed as a
  * real catalog version: per partition, the manifest's files bin-pack
  * to the row target in cluster-key order (pruning power survives —
  * each output file's range is the union of an ADJACENT run);
  * single-file bins carry verbatim with zero IO; multi-file bins
  * rewrite concurrently, one shuffle-free single-task job each. The
  * rewrite is pure layout: row count and every aggregate are
  * invariants, and every pre-OPTIMIZE version stays time-travelable
  * (compaction is adds + removes in ONE atomic commit — exactly what
  * the version chain exists to express).
  *
  * VACUUM composes the two retention primitives: `expireVersions`
  * (drop history beyond RETAIN n, never the latest, never a
  * ref-pinned snapshot) then `gcOrphans` (delete data files no kept
  * version references). Time travel afterwards reaches only what was
  * retained — the documented, loudly-enforced trade of reclaiming
  * storage.
  *
  * At 100 TB: OPTIMIZE's driver work is O(files) over the manifest;
  * rewrite IO is only the small-file bins (an already-compact
  * partition costs zero); VACUUM's reference set is O(files ×
  * versions) manifest entries and the sweep is one recursive listing
  * of the data root. */
object GraftMaintenance {

  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+([\w.]+)(?:\s+TARGET\s+(\d+)\s+ROWS)?""" +
      """(?:\s+ZORDER\s+BY\s+\(\s*(\w+)\s*,\s*(\w+)\s*\))?\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?""" +
      """(\s+FORCE)?\s*;?\s*$""").r
  private val HistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+([\w.]+)\s*;?\s*$""".r
  private val DetailRe =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+([\w.]+)\s*;?\s*$""".r
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+([\w.]+)\s+SHALLOW\s+CLONE\s+([\w.]+)""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s+LOCATION\s+'([^']+)'\s*;?\s*$""").r

  private[plans] def intercept(sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case OptimizeRe(table, target, zx, zy) =>
        Some(GraftOptimizeCommand(table,
          Option(target).map(_.toLong).getOrElse(1L << 20),
          (Option(zx), Option(zy)) match {
            case (Some(x), Some(y)) => Some((x, y))
            case _ => None
          }))
      case VacuumRe(table, keep, force) =>
        Some(GraftVacuumCommand(table,
          Option(keep).map(_.toInt).getOrElse(1),
          force = Option(force).isDefined))
      case HistoryRe(table) => Some(GraftHistoryCommand(table))
      case DetailRe(table) => Some(GraftDetailCommand(table))
      case RestoreRe(table, version) =>
        Some(GraftRestoreCommand(table, version.toLong))
      case CloneRe(target, source, version, location) =>
        Some(GraftCloneCommand(target, source,
          Option(version).map(_.toLong), location))
      case _ => None
    }

  // EVERY ADD COLUMN(S) form on a graft table must intercept — a
  // shape that fell through to Spark's native ALTER would mutate the
  // session-catalog schema WITHOUT committing a graft schema version,
  // silently diverging catalog and relation schemas. So the anchor
  // matches the statement HEAD only; the column list parses (or
  // refuses loudly) separately.
  private val AddColumnsHeadRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMNS?\s+(.*?)\s*;?\s*$""".r

  /** Parse an ADD COLUMN(S) spec — `(a INT, b DECIMAL(10,2))` or the
    * single undecorated `c STRING` — into (name, type) pairs.
    * Decorations Spark's grammar allows but the graft catalog cannot
    * represent (COMMENT, FIRST/AFTER, NOT NULL, DEFAULT, nested
    * paths) refuse loudly instead of silently reaching Spark's
    * native ALTER. */
  private[plans] def parseAddColumns(spec0: String): Seq[(String, String)] = {
    val spec = spec0.trim
    val inner =
      if (spec.startsWith("(") && spec.endsWith(")"))
        spec.substring(1, spec.length - 1)
      else spec
    // split on top-level commas only (DECIMAL(10,2) keeps its comma)
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0
    inner.zipWithIndex.foreach { case (c, i) =>
      c match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          items += inner.substring(start, i); start = i + 1
        case _ => ()
      }
    }
    items += inner.substring(start)
    val ColDef =
      """(?is)^\s*(\w+(?:\.\w+)*)\s+([\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*$""".r
    items.toSeq.map {
      case ColDef(name, tpe) => (name, tpe)
      case other => sys.error(
        s"graft ALTER TABLE ADD COLUMN: unsupported column definition " +
          s"'${other.trim}' — only `name TYPE` (or `struct.path TYPE` " +
          "on field-id-mapped tables) is supported (no COMMENT/" +
          "FIRST/AFTER/NOT NULL/DEFAULT); letting Spark's " +
          "native ALTER take it would desynchronize the graft catalog")
    }
  }

  private val DropColumnsHeadRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMNS?\s+(.*?)\s*;?\s*$""".r

  /** Parse a DROP COLUMN(S) spec — `c`, `(a, b)` — into names.
    * Decorated forms (IF EXISTS, nested paths) refuse loudly. */
  private[plans] def parseDropColumns(spec0: String): Seq[String] = {
    val spec = spec0.trim
    val inner =
      if (spec.startsWith("(") && spec.endsWith(")"))
        spec.substring(1, spec.length - 1)
      else spec
    val Name = """(?s)^\s*(\w+(?:\.\w+)*)\s*$""".r
    inner.split(',').toSeq.map {
      case Name(n) => n
      case other => sys.error(
        s"graft ALTER TABLE DROP COLUMN: unsupported column reference " +
          s"'${other.trim}' — only plain names (or `struct.path` on " +
          "field-id-mapped tables) are supported; " +
          "letting Spark's native ALTER take it would desynchronize the " +
          "graft catalog")
    }
  }

  /** Session-aware interception: `ALTER TABLE … ADD/DROP COLUMN(S)`
    * is taken over ONLY for graft front-door tables — every other
    * table keeps Spark's own ALTER semantics (and errors) untouched. */
  private[plans] def interceptSession(spark: SparkSession,
      sqlText: String): Option[LogicalPlan] = sqlText match {
    case AddColumnsHeadRe(table, spec)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      Some(GraftAddColumnCommand(table, parseAddColumns(spec)))
    case DropColumnsHeadRe(table, spec)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      Some(GraftDropColumnCommand(table, parseDropColumns(spec)))
    case WidenColumnRe(table, colName, colType)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      Some(GraftWidenColumnCommand(table, colName, colType))
    case RenameColumnRe(table, from, to)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      Some(GraftRenameColumnCommand(table, from, to))
    case UpgradeFieldIdsRe(table)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      Some(GraftUpgradeFieldIdsCommand(table))
    case AnalyzeRe(table, spec)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      Some(GraftAnalyzeCommand(table, parseAnalyzeColumns(spec)))
    case AddConstraintRe(table, name, check)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      Some(GraftAddConstraintCommand(table, name, check.trim))
    case DropConstraintRe(table, name)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      Some(GraftDropConstraintCommand(table, name))
    case SetNotNullRe(table, colPath)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      Some(GraftAddConstraintCommand(table,
        colPath.replace('.', '_') + "_not_null",
        s"$colPath IS NOT NULL"))
    case UnsupportedAlterRe(table, what)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      sys.error(s"graft ALTER TABLE ${what.toUpperCase.replaceAll("\\s+", " ")} " +
        "is not supported in this form — supported shapes are " +
        "`RENAME COLUMN a TO b` (plain top-level names, field-id-mapped " +
        "tables) and `ALTER COLUMN c TYPE <wider>`; non-widening type " +
        "changes need read-time casts the catalog does not track, and " +
        "letting Spark's native ALTER take any of these would " +
        "desynchronize the graft catalog silently")
    case MergeEvolutionRe(table, rest)
        if GraftTimeTravel.graftRootOf(spark,
          table.split('.').toSeq).isDefined =>
      Some(GraftMergeEvolveCommand(table, s"MERGE INTO $table$rest"))
    case _ => None
  }

  // `MERGE WITH SCHEMA EVOLUTION INTO t …` — the seam must be the
  // parser: Spark's analyzer resolves the flagged assignment list
  // against the target's CURRENT columns and fails on the new ones
  // before any injected resolution rule could run, so the statement
  // intercepts whole and re-issues stripped after the evolution commits
  private val MergeEvolutionRe =
    ("""(?is)^\s*MERGE\s+WITH\s+SCHEMA\s+EVOLUTION\s+INTO\s+""" +
      """([\w.]+)([\s\S]*)$""").r

  // `ALTER TABLE t ALTER COLUMN c TYPE <t>` — matched BEFORE the
  // blanket ALTER COLUMN refusal so the widening path gets a chance;
  // the command itself gates on the widenable-pair table
  private val WidenColumnRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+""" +
      """TYPE\s+([\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*;?\s*$""").r

  // `ALTER TABLE t RENAME COLUMN a TO b` — matched BEFORE the blanket
  // refusal; the command itself gates on field-id mapping (a rename is
  // only safe when files resolve by id, not name)
  private val RenameColumnRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+""" +
      """(\w+(?:\.\w+)*)\s+TO\s+(\w+)\s*;?\s*$""").r

  // `ALTER TABLE t UPGRADE FIELD IDS` — the migration statement for
  // pre-field-id catalogs (the Iceberg table-upgrade role)
  private val UpgradeFieldIdsRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+UPGRADE\s+FIELD\s+IDS\s*;?\s*$""".r

  // `ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN|FOR ALL COLUMNS|FOR
  // COLUMNS a, b]` — intercepted for graft tables so the stats come
  // from the manifest (Spark's native command would scan, and would
  // mis-measure the shared multi-version data tree)
  private val AnalyzeRe =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+([\w.]+)\s+COMPUTE\s+STATISTICS""" +
      """(\s+NOSCAN|\s+FOR\s+ALL\s+COLUMNS|\s+FOR\s+COLUMNS\s+[\w\s,]+?)?""" +
      """\s*;?\s*$""").r

  // Write-time CHECK constraints (the Delta statements): declared via
  // ALTER, stored in version `_meta` (inherited forward), enforced at
  // every batch-landing seam. `SET NOT NULL` is CHECK sugar.
  private val AddConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+CONSTRAINT\s+""" +
      """(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*$""").r
  private val DropConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+CONSTRAINT\s+""" +
      """(\w+)\s*;?\s*$""").r
  private val SetNotNullRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+""" +
      """(\w+(?:\.\w+)*)\s+SET\s+NOT\s+NULL\s*;?\s*$""").r

  /** Conditional-commit retry for a constraints change (the
    * commitSchemaEvolution shape, constraint-keyed). */
  private[plans] def commitConstraintsChange(spark: SparkSession,
      root: String, op: String)(
      f: Seq[(String, String)] => Seq[(String, String)]): Unit = {
    var attempt = 0
    while (attempt < 8) {
      attempt += 1
      val updated = f(FileManifest.constraintsAt(spark, root))
      val head = FileManifest.loadLatest(spark, root)
      val next = FileManifest.latestVersion(spark, root).get + 1
      try {
        FileManifest.commitVersion(spark, head, root,
          meta = Map("operation" -> op,
            "constraints" -> FileManifest.encodeConstraints(updated)),
          expected = Some(next))
        return
      } catch {
        case e: FileManifest.CommitConflictException =>
          if (attempt >= 8) throw e
      }
    }
  }

  /** Column paths a constraint expression references (top-level name
    * or dotted nested path) — the DROP/RENAME guard set. */
  private[plans] def constraintRefs(spark: SparkSession,
      root: String): Seq[(String, String)] =
    FileManifest.constraintsAt(spark, root).flatMap { case (n, e) =>
      spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => (n, a.nameParts.mkString("."))
      }
    }

  /** Refuse dropping/renaming `colPath` while a constraint references
    * it (or a subfield of it) — Delta's discipline: the constraint
    * text would silently go stale or fail analysis at the next write. */
  private[plans] def requireUnconstrained(spark: SparkSession,
      root: String, colPath: String, action: String): Unit =
    constraintRefs(spark, root).foreach { case (n, ref) =>
      require(!(ref == colPath || ref.startsWith(colPath + ".") ||
          colPath.startsWith(ref + ".")),
        s"cannot $action column `$colPath`: constraint `$n` references " +
          s"`$ref` — DROP CONSTRAINT `$n` first")
    }

  private[plans] def parseAnalyzeColumns(spec0: String): Seq[String] = {
    val spec = Option(spec0).map(_.trim).getOrElse("")
    if (spec.isEmpty || spec.equalsIgnoreCase("noscan")) Nil
    else if (spec.matches("(?is)for\\s+all\\s+columns")) Seq("*")
    else spec.replaceAll("(?is)^for\\s+columns\\s+", "")
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
  }

  // schema mutations the graft catalog cannot represent must REFUSE
  // on graft tables, not fall through to Spark's native ALTER (which
  // would mutate the session-catalog schema with no graft schema
  // version — catalog and relation schemas silently diverge)
  private val UnsupportedAlterRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+""" +
      """(RENAME\s+COLUMN|ALTER\s+COLUMN|CHANGE\s+COLUMN|""" +
      """REPLACE\s+COLUMNS)\b.*$""").r

  /** Resolve a table name to its graft serving index (the same seam
    * the DML commands hold directly). */
  private[graft] def indexOf(spark: SparkSession,
      table: String): ManifestFileIndex = {
    val analyzed = spark.table(table).queryExecution.analyzed
    GraftDml.graftRelation(analyzed) match {
      case Some((_, idx)) => idx
      case None => sys.error(
        s"`$table` is not a graft table — OPTIMIZE/VACUUM apply only to " +
          "CREATE TABLE … USING graft OPTIONS (path '<catalogRoot>') tables")
    }
  }

  /** Bin-pack compaction committed as one atomic catalog version.
    * Returns the new version, or the current one when every partition
    * is already compact (a no-op OPTIMIZE commits nothing). */
  def optimize(spark: SparkSession, index: ManifestFileIndex,
      targetRows: Long): Long = {
    require(targetRows >= 1, "OPTIMIZE target must be >= 1 row")
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "OPTIMIZE requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "OPTIMIZE on a time-traveled graft table is not allowed — " +
        "maintenance lands on the LATEST snapshot only")
    val clusterCol = index.clusterColumn
    index.advanceSnapshot(FileManifest.loadLatest(spark, root))
    val pm = index.currentSnapshot

    // plan: per partition, bins in cluster-key order; only bins that
    // merge >1 file rewrite — an already-compact partition is free
    val plans = pm.partitions.toSeq.sortBy(_._1).map { case (part, files) =>
      (part, FileManifest.planCompaction(files, targetRows))
    }
    val work = plans.flatMap { case (part, bins) =>
      bins.filter(_.size > 1).map(bin => (part, bin))
    }
    if (work.isEmpty) return FileManifest.latestVersion(spark, root).get

    val next = FileManifest.latestVersion(spark, root).get + 1
    // uniquely-suffixed batch dir: see GraftDml.cowRewriteCommit
    val dataDir = s"$root/data/b$next-" +
      java.util.UUID.randomUUID.toString.take(8)
    // bins may mix files from before and after an ADD COLUMN
    // evolution: pin the read to the catalog-tracked schema so old
    // files null-fill and the compacted output is schema-uniform
    val binSchema = FileManifest.schemaAt(spark, root)

    // ONE distributed job for every bin (FileManifest.rewriteStaged,
    // binned): each row routed to its bin, one hash exchange on the
    // bin id merges each bin into exactly one cluster-sorted file
    val bins = work.map(_._2.map(_.path))
    // field-id matched read (inert pre-ids): bins may hold files from
    // before a RENAME, whose old physical names only the ids resolve
    val reader = binSchema.fold(spark.read)(
      FileManifest.pinnedReader(spark, _))
    val srcDf = reader.parquet(bins.flatten.sorted: _*)
    val fresh = FileManifest.rewriteStaged(srcDf, bins, binned = true,
      index.partitionColumns.size, srcDf.columns.toSeq, clusterCol,
      binSchema, exchange = true, s"$dataDir/_cmp", dataDir,
      Some(clusterCol))(identity)(i => (work(i)._1, f"cmp-$i%05d-"))
    // commit with optimistic retry: compaction touches exactly the
    // multi-file bins' inputs; a racing disjoint-file commit commutes
    val touched = bins.flatten.map(GraftDml.norm).toSet
    GraftDml.commitCowRetrying(spark, root, index, touched, fresh,
      meta = Map("operation" -> "optimize"),
      emptyMsg = "OPTIMIZE produced an empty table — corrupt bin plan")
  }

  /** `OPTIMIZE t ZORDER BY (x, y)` — multi-dimensional re-clustering
    * as an atomic version (Delta's ZORDER role, wiring
    * [[graft.sources.ZOrder]]'s Morton interleave into the catalog):
    * EVERY live file rewrites (a layout change is the point — plain
    * OPTIMIZE remains the incremental small-file path), rows laid out
    * by the interleaved z-value of the two columns so file-level
    * min/max stats stay tight on BOTH dimensions at once. Each
    * dimension scales to 16 bits over its own global [min, max]
    * (exact integer arithmetic — one 4-value aggregate, collect-free
    * otherwise) so neither dimension dominates the curve. The rewrite
    * is ONE distributed job: range-exchange on (partition, z), sort
    * within tasks, one dynamic-partitioned write; rows never leave
    * their partition directory. Pure layout — row count and every
    * aggregate are invariants, every prior version stays
    * time-travelable, and the clustering column's footer ranges merely
    * loosen (the documented 1-D-tightness-for-2-D trade; pruning is
    * necessary-not-sufficient, so correctness never moves). */
  def optimizeZOrder(spark: SparkSession, index: ManifestFileIndex,
      targetRows: Long, xCol: String, yCol: String): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    require(targetRows >= 1, "OPTIMIZE target must be >= 1 row")
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "OPTIMIZE requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "OPTIMIZE on a time-traveled graft table is not allowed — " +
        "maintenance lands on the LATEST snapshot only")
    require(xCol != yCol, "ZORDER BY needs two DISTINCT columns")
    val partCols = index.partitionColumns
    val levels = partCols.size
    val clusterCol = index.clusterColumn
    Seq(xCol, yCol).foreach(c => require(!partCols.contains(c),
      s"ZORDER BY `$c`: a partition column is constant within every " +
        "directory — z-ordering on it is meaningless; pick data columns"))
    index.advanceSnapshot(FileManifest.loadLatest(spark, root))
    val pm = index.currentSnapshot
    val dataSchema = FileManifest.schemaAt(spark, root).getOrElse(
      sys.error("OPTIMIZE ZORDER requires a catalog-tracked schema " +
        "(tables created through the graft front door)"))
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
    Seq(xCol, yCol).foreach { c =>
      val f = dataSchema.fields.find(_.name == c).getOrElse(sys.error(
        s"ZORDER BY `$c`: no such column"))
      require(integral(f.dataType),
        s"ZORDER BY `$c`: only integral columns interleave exactly, " +
          s"got ${f.dataType.sql}")
    }
    val readSchema = StructType(dataSchema.fields ++
      index.partitionSchema.fields
        .filterNot(f => dataSchema.fieldNames.contains(f.name)))
    val allFiles = pm.partitions.toSeq.sortBy(_._1)
      .flatMap(_._2.map(_.path))
    val src = GraftDml.readRestored(spark, readSchema, allFiles, levels)
    // global per-dimension bounds: ONE tiny aggregate (metadata-light
    // relative to the full rewrite this statement is)
    val r = src.agg(min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).head()
    require(!r.isNullAt(0) && !r.isNullAt(2),
      s"ZORDER BY ($xCol, $yCol): a dimension has no non-null values")
    // Scaling into the 2^16 grid must not wrap Long: the naive
    // (c - lo) * 65536 overflows once the global range exceeds ~2^47
    // (epoch-micros keys), silently scrambling the layout the
    // statement promises. Ranges up to 2^47 keep the exact
    // multiply-first normalization ((c - lo) < 2^47, * 2^16 < 2^63 —
    // provably wrap-free); wider ranges DIVIDE first by the range's
    // 2^16-th, riding DECIMAL(38,0) so even a full-Long-range
    // dimension (hi - lo itself overflowing) stays exact, clamped to
    // the top cell (integer division can land exactly on 65536).
    def scaled(c: org.apache.spark.sql.Column, lo: Long, hi: Long) = {
      import org.apache.spark.sql.functions.{floor, least, lit}
      val range = BigInt(hi) - BigInt(lo) + 1
      if (range <= 1) lit(0L)
      else if (range <= (BigInt(1) << 47))
        (c.cast("long") - lit(lo)) * lit(1L << 16) / lit(range.toLong)
      else {
        val div = range / 65536
        least(floor(
          (c.cast("decimal(38,0)") -
            lit(lo.toString).cast("decimal(38,0)")) /
            lit(div.toString).cast("decimal(38,0)")).cast("long"),
          lit(65535L))
      }
    }
    val z = graft.sources.ZOrder.zValue(
      scaled(col(xCol), r.getLong(0), r.getLong(1)),
      scaled(col(yCol), r.getLong(2), r.getLong(3)), 16)
    val totalRows = pm.partitions.valuesIterator.flatten.map(_.rows).sum
    val nBins = math.max(1L,
      (totalRows + targetRows - 1) / targetRows).toInt
    val next = FileManifest.latestVersion(spark, root).get + 1
    val dataDir = s"$root/data/b$next-" +
      java.util.UUID.randomUUID.toString.take(8)
    val zTmp = s"$dataDir/_z"
    FileManifest.stampFieldIds(
        src.withColumn("__z", z)
          .repartitionByRange(nBins,
            (partCols.map(col) :+ col("__z")): _*)
          .sortWithinPartitions((partCols.map(col) :+ col("__z")): _*)
          .drop("__z"), dataSchema)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*).parquet(zTmp)
    // adopt-by-move into the immutable batch dir, stat, commit with
    // touched = every live file (the full-rewrite contract)
    val fresh = FileManifest.adoptStaged(spark, zTmp, dataDir,
      Some(clusterCol))(part => (part, "zo-"))
    val touched = allFiles.map(GraftDml.norm).toSet
    GraftDml.commitCowRetrying(spark, root, index, touched, fresh,
      meta = Map("operation" -> "optimize-zorder"),
      emptyMsg = "OPTIMIZE ZORDER produced an empty table — corrupt plan")
  }

  /** Per-version audit rows for `DESCRIBE HISTORY t` — computed
    * entirely from the committed manifests (no data IO): live row and
    * file counts at each retained version, plus the row/file deltas vs
    * its predecessor (by file path — files are immutable, so a path
    * present in both versions carried verbatim). `appended` flags the
    * versions a plain tail (c10) can cross: nothing removed. Versions
    * an expiry reclaimed are absent — history shows what time travel
    * can still reach. Driver work is O(files × retained versions)
    * manifest entries, the cardinality the catalog already has. */
  def history(spark: SparkSession, index: ManifestFileIndex,
      planThreshold: Long = 1000000L)
      : Seq[(Long, String, Long, Long, Long, Long, Long, Long, Boolean)] = {
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "DESCRIBE HISTORY requires a catalog-backed graft table"))
    val versions = FileManifest.versionHistory(spark, root).map(_._1)
    if (versions.isEmpty) return Nil
    // the committing site records what it did (delete/update/merge/
    // optimize/insert/append/…) in the version's _meta; versions
    // committed through the raw API carry no label. O(versions)
    // driver-side metadata either way.
    val ops = versions.map(v => v ->
      FileManifest.versionMeta(spark, root, v).getOrElse("operation", ""))
      .toMap
    // path dispatch: the driver fold materializes every retained
    // version's manifest in memory — O(files × versions). Past the
    // threshold, the fold becomes a Spark job over the PERSISTED
    // catalog side tables (the r11 distributed-planning discipline):
    // driver memory stays O(versions), the estimate itself is
    // metadata-only (head file count × retained versions)
    val headFiles = FileManifest.loadLatest(spark, root)
      .partitions.valuesIterator.map(_.size.toLong).sum
    if (headFiles * versions.size <= planThreshold)
      historyDriver(spark, root, versions, ops)
    else historyDistributed(spark, root, versions, ops)
  }

  private def historyDriver(spark: SparkSession, root: String,
      versions: Seq[Long], ops: Map[Long, String])
      : Seq[(Long, String, Long, Long, Long, Long, Long, Long, Boolean)] = {
    var prev = Map.empty[String, Long] // path -> rows of the PREVIOUS kept version
    var first = true
    versions.map { v =>
      val pm = FileManifest.loadVersion(spark, root, v)
      val cur: Map[String, Long] = pm.partitions.valuesIterator.flatten
        .map(f => f.path -> f.rows).toMap
      val added = cur.view.filterKeys(!prev.contains(_)).values.sum
      val removed = prev.view.filterKeys(!cur.contains(_)).values.sum
      val addedFiles = cur.keysIterator.count(!prev.contains(_))
      val removedFiles = prev.keysIterator.count(!cur.contains(_))
      val appended = first || removedFiles == 0L
      prev = cur; first = false
      (v, ops(v), cur.values.sum, cur.size.toLong, added, removed,
        addedFiles.toLong, removedFiles.toLong, appended)
    }
  }

  /** The same fold as ONE Spark job shape over the committed `v<N>`
    * side-table parquets: per-version live totals are a groupBy; the
    * adds/removes vs the PREVIOUS KEPT version (expiry leaves gaps,
    * so versions map to dense ranks driver-side first) are two
    * anti-joins on (rank, path) — files are immutable, so a path
    * present in adjacent versions provably carried. The collect is
    * O(versions) rows; no manifest is ever materialized on the
    * driver. Decision-identical to [[historyDriver]] (spec-pinned). */
  private def historyDistributed(spark: SparkSession, root: String,
      versions: Seq[Long], ops: Map[Long, String])
      : Seq[(Long, String, Long, Long, Long, Long, Long, Long, Boolean)] = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val cat = versions.zipWithIndex.map { case (v, r) =>
      spark.read.parquet(s"$root/v$v")
        .select(lit(r).as("rank"), col("path"), col("rows"))
    }.reduce(_.unionByName(_))
    val live = cat.groupBy("rank")
      .agg(sum("rows").as("n_rows"), count(lit(1)).as("n_files"))
    val shifted = cat.select((col("rank") + 1).as("rank"),
      col("path"), col("rows"))
    val added = cat.join(shifted.select("rank", "path"),
        Seq("rank", "path"), "left_anti")
      .groupBy("rank")
      .agg(sum("rows").as("rows_added"), count(lit(1)).as("files_added"))
    val removed = shifted
      .where(col("rank") <= lit(versions.size - 1))
      .join(cat.select("rank", "path"), Seq("rank", "path"), "left_anti")
      .groupBy("rank")
      .agg(sum("rows").as("rows_removed"), count(lit(1)).as("files_removed"))
    val rows = live
      .join(added, Seq("rank"), "left")
      .join(removed, Seq("rank"), "left")
      .collect()
      .map(r => r.getInt(0) -> r).toMap
    versions.zipWithIndex.map { case (v, rank) =>
      val r = rows(rank)
      def l(name: String): Long =
        if (r.isNullAt(r.fieldIndex(name))) 0L
        else r.getLong(r.fieldIndex(name))
      val removedFiles = l("files_removed")
      (v, ops(v), l("n_rows"), l("n_files"), l("rows_added"),
        l("rows_removed"), l("files_added"), removedFiles,
        rank == 0 || removedFiles == 0L)
    }
  }

  /** `RESTORE TABLE t TO VERSION AS OF n` — rollback as a NEW commit
    * (the f11 discipline, Delta's RESTORE role): the restored
    * version's manifest re-commits at the head, so nothing in the
    * chain is rewritten — history stays intact and auditable, and the
    * mistake-window versions remain time-travelable until retention
    * expires them. Returns the new head version. */
  def restore(spark: SparkSession, index: ManifestFileIndex,
      version: Long): Long = {
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "RESTORE requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "RESTORE through a time-traveled graft table is not allowed — " +
        "resolve the table at its head to run maintenance")
    val v = FileManifest.rollbackTo(spark, root, version)
    index.advanceSnapshot(FileManifest.loadLatest(spark, root))
    v
  }

  /** CONDITIONAL schema-evolution commit with optimistic retry — the
    * same lost-update discipline DML/append/insert/sink commits use: a
    * commit landing between loadLatest and the marker must fail the
    * `expected` check, not be silently clobbered (its files would
    * vanish from the evolved head). The commute is trivial: re-load
    * the head, re-derive the base schema from the FRESH catalog, and
    * re-apply the evolution delta. `evolve` must re-validate per
    * attempt (a concurrent evolution may have changed the base). */
  /** Rebuild `schema` with the STRUCT at `path` transformed by `f` —
    * the nested-evolution navigation seam shared by ADD/RENAME/DROP on
    * `parent.child` paths. Every segment must name a STRUCT-typed
    * field; paths through arrays/maps refuse loudly (their subfields
    * carry parquet ids too, but element-level surgery has positional
    * semantics this catalog does not model). `path` empty applies `f`
    * to the top level itself. */
  private[plans] def mapStructAt(schema: StructType, path: Seq[String],
      context: String)(f: StructType => StructType): StructType =
    if (path.isEmpty) f(schema)
    else {
      val seg = path.head
      val idx = schema.fieldNames.indexOf(seg)
      require(idx >= 0, s"$context: no field `$seg` on the path")
      schema.fields(idx).dataType match {
        case st: StructType =>
          val inner = mapStructAt(st, path.tail, context)(f)
          StructType(schema.fields.updated(idx,
            schema.fields(idx).copy(dataType = inner)))
        case other => sys.error(
          s"$context: path segment `$seg` is ${other.sql}, not a " +
            "struct — nested evolution supports struct fields only " +
            "(array/map element surgery has positional semantics the " +
            "catalog does not model)")
      }
    }

  /** Gate for NESTED evolution: only field-id-mapped tables may touch
    * struct subfields — a name-keyed nested read could resurrect
    * dropped bytes or NULL a renamed subfield, the exact f33 defect
    * class the id substrate exists to kill. */
  private[plans] def requireMappedForNested(base: StructType,
      table: String, path: String): Unit =
    require(FileManifest.hasFieldIds(base),
      s"nested evolution on `$path` requires field-id mapping — this " +
        s"table's catalog predates it; run `ALTER TABLE $table UPGRADE " +
        "FIELD IDS` first")

  private[plans] def commitSchemaEvolution(spark: SparkSession,
      root: String,
      fallback: StructType,
      evolve: StructType => StructType,
      metaOf: StructType => Map[String, String],
      maxAttempts: Int = 8): StructType = {
    var attempt = 0
    while (true) {
      attempt += 1
      val base = FileManifest.schemaAt(spark, root).getOrElse(fallback)
      val evolved = evolve(base)
      val head = FileManifest.loadLatest(spark, root)
      val next = FileManifest.latestVersion(spark, root).get + 1
      try {
        FileManifest.commitVersion(spark, head, root,
          meta = metaOf(evolved) + ("schema" -> evolved.json),
          expected = Some(next))
        return evolved
      } catch {
        case e: FileManifest.CommitConflictException =>
          if (attempt >= maxAttempts) throw e
      }
    }
    fallback // unreachable
  }

  /** Column names dropped in the RETAINED history (the
    * `droppedColumn` version labels) — the legacy-table guard set:
    * on a catalog WITHOUT field ids, re-adding one of these names
    * would resurrect pre-drop bytes from live old files. */
  private[plans] def droppedNamesInHistory(spark: SparkSession,
      root: String): Set[String] =
    FileManifest.versionHistory(spark, root).map(_._1)
      .flatMap(v => FileManifest.versionMeta(spark, root, v)
        .get("droppedColumn"))
      .flatMap(_.split(',')).toSet

  /** Retention + orphan sweep; returns the deleted file paths.
    * REFUSES (without `force`) when the source has recorded shallow
    * clones: expiry + the orphan sweep can reclaim files a clone's
    * manifest still references — Delta documents the same trade, but
    * silently breaking the clone is worse than a loud stop. FORCE
    * reclaims anyway (the operator owns the trade); the clone's next
    * read then fails loudly on the missing file, never wrongly. */
  def vacuum(spark: SparkSession, index: ManifestFileIndex,
      keepLast: Int, force: Boolean = false): Seq[String] = {
    require(keepLast >= 1, "VACUUM must retain at least 1 version")
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "VACUUM requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "VACUUM through a time-traveled graft table is not allowed — " +
        "resolve the table at its head to run maintenance")
    val clones = FileManifest.recordedClones(spark, root)
    require(clones.isEmpty || force,
      s"VACUUM refused: this table has ${clones.size} recorded shallow " +
        s"clone(s) (${clones.mkString(", ")}) whose manifests reference " +
        "this table's data files — expiry + the orphan sweep could " +
        "reclaim files the clones still read; re-run with FORCE to " +
        "reclaim anyway (clone reads of reclaimed files will fail loudly)")
    FileManifest.expireVersions(spark, root, keepLast)
    FileManifest.gcOrphans(spark, root, Seq(s"$root/data"))
  }
}

/** `OPTIMIZE t [TARGET n ROWS] [ZORDER BY (x, y)]` — compaction (or
  * z-order re-layout) as an atomic version. */
case class GraftOptimizeCommand(table: String, targetRows: Long,
    zorderBy: Option[(String, String)] = None)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val idx = GraftMaintenance.indexOf(spark, table)
    zorderBy match {
      case Some((x, y)) =>
        GraftMaintenance.optimizeZOrder(spark, idx, targetRows, x, y)
      case None =>
        GraftMaintenance.optimize(spark, idx, targetRows)
    }
    Nil
  }
}

/** `VACUUM t [RETAIN n VERSIONS] [FORCE]` — expire history, sweep
  * orphans; FORCE overrides the recorded-clone refusal. */
case class GraftVacuumCommand(table: String, keepLast: Int,
    force: Boolean = false)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftMaintenance.vacuum(spark,
      GraftMaintenance.indexOf(spark, table), keepLast, force)
    Nil
  }
}

/** `CREATE TABLE t SHALLOW CLONE s [VERSION AS OF n] LOCATION 'p'` —
  * the Delta clone statement: a zero-copy fork whose v0 manifest
  * references the source's files verbatim ([[FileManifest.cloneAt]]),
  * registered as a front-door table at `p`. Writes to the clone land
  * under ITS data root; its VACUUM can never delete source files. */
case class GraftCloneCommand(target: String, source: String,
    version: Option[Long], location: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val srcRoot = GraftTimeTravel.graftRootOf(spark,
      source.split('.').toSeq).getOrElse(sys.error(
      s"SHALLOW CLONE: `$source` is not a graft front-door table"))
    // the location is interpolated into a SQL string below — a quote
    // would break the statement (CloneRe's ([^']+) already excludes
    // it, so this is belt-and-braces against other callers), and the
    // TARGET name must be free BEFORE the clone catalog commits, or a
    // failed CREATE TABLE would strand a committed catalog that makes
    // every retry fail with "clone target already has a committed
    // catalog"
    require(!location.contains("'"),
      s"SHALLOW CLONE: location must not contain a quote: $location")
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(target)
    require(!spark.sessionState.catalog.tableExists(ti),
      s"SHALLOW CLONE: table `$target` already exists")
    FileManifest.cloneAt(spark, srcRoot, location, version)
    try spark.sql(
      s"CREATE TABLE $target USING graft OPTIONS (path '$location')")
    catch {
      case e: Throwable =>
        // back out the clone catalog so a retry starts clean (the
        // data files are the SOURCE's — only metadata was created),
        // including the source-side clone marker (a stale marker would
        // refuse the source's VACUUM for a clone that never existed)
        val fs = new org.apache.hadoop.fs.Path(location).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(location, "commit-0"), false)
        fs.delete(new org.apache.hadoop.fs.Path(s"$location/v0"), true)
        fs.delete(FileManifest.cloneMarkerPath(srcRoot, location), false)
        throw e
    }
    Nil
  }
}

/** `DESCRIBE HISTORY t` — the retained version chain as rows (the
  * Delta `DESCRIBE HISTORY` role): per version, live row/file counts
  * and the row/file churn vs its predecessor, manifest-only work. */
case class GraftHistoryCommand(table: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{BooleanType, LongType}
  override val output
      : Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("operation",
      org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("rows_added", LongType, nullable = false)(),
    AttributeReference("rows_removed", LongType, nullable = false)(),
    AttributeReference("files_added", LongType, nullable = false)(),
    AttributeReference("files_removed", LongType, nullable = false)(),
    AttributeReference("appended", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftMaintenance.history(spark,
      GraftMaintenance.indexOf(spark, table)).map {
      case (v, op, rows, files, ra, rr, fa, fr, app) =>
        Row(v, op, rows, files, ra, rr, fa, fr, app)
    }
}

/** `DESCRIBE DETAIL t` — the Delta statement: one row of table-level
  * facts, ALL from committed metadata (zero data IO at any size):
  * format, catalog root, head version, live file/row counts, total
  * data bytes (the serving index's statFiles sizes — already loaded),
  * partition columns, clustering column, retained version count, and
  * whether the catalog is field-id mapped. */
case class GraftDetailCommand(table: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
  override val output
      : Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("cluster_column", StringType, nullable = false)(),
    AttributeReference("retained_versions", LongType, nullable = false)(),
    AttributeReference("field_id_mapped", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val index = GraftMaintenance.indexOf(spark, table)
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "DESCRIBE DETAIL requires a catalog-backed graft table"))
    val pm = index.currentSnapshot
    val files = pm.partitions.valuesIterator.flatten.toSeq
    val version =
      if (index.isTimeTraveled) -1L // the pinned relation's own facts
      else FileManifest.latestVersion(spark, root).getOrElse(-1L)
    Seq(Row("graft", root, version,
      files.size.toLong, files.map(_.rows).sum, index.sizeInBytes,
      index.partitionColumns.mkString(","), index.clusterColumn,
      FileManifest.versionHistory(spark, root).size.toLong,
      FileManifest.schemaAt(spark, root)
        .exists(FileManifest.hasFieldIds)))
  }
}

/** `RESTORE TABLE t TO VERSION AS OF n` — rollback as a new commit. */
case class GraftRestoreCommand(table: String, version: Long)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftMaintenance.restore(spark,
      GraftMaintenance.indexOf(spark, table), version)
    Nil
  }
}

/** `ALTER TABLE t ADD COLUMN c <type>` — CATALOG-TRACKED schema
  * evolution (the Iceberg discipline: the schema lives in the catalog,
  * never rewritten into the files): the evolution commits as a new
  * version whose `_meta` carries the evolved data schema. Reads at or
  * after that version serve the new column (the parquet reader
  * null-fills files older than the evolution — zero data IO for the
  * ALTER itself); time travel BEFORE it serves the pre-evolution
  * schema, epoch-correct by construction. Writes after the ALTER
  * (INSERT INTO, appends) carry the column for real; DML rewrites
  * upgrade the files they touch. The session catalog's stored schema
  * follows in the same command (resolution checks it against the
  * relation), and the cached plan refreshes. */
case class GraftAddColumnCommand(table: String,
    columns: Seq[(String, String)]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    require(columns.nonEmpty, "ADD COLUMNS: empty column list")
    require(columns.map(_._1).distinct.size == columns.size,
      s"ADD COLUMNS: duplicate column names in ${columns.map(_._1)}")
    val index = GraftMaintenance.indexOf(spark, table)
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "ALTER TABLE requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "ALTER TABLE on a time-traveled graft table is not allowed")
    val analyzed = spark.table(table).queryExecution.analyzed
    val h = GraftDml.graftRelation(analyzed).get._1
    // ALL columns commit as ONE schema version (the multi-column
    // ADD COLUMNS statement is one evolution, not n), CONDITIONALLY
    // (a racing commit re-derives the base and re-applies the delta)
    val evolved = GraftMaintenance.commitSchemaEvolution(spark, root,
      fallback = h.dataSchema,
      evolve = { base =>
        // id-mapped tables mint a FRESH id per added column, above the
        // catalog's high-water mark: a name dropped earlier can come
        // back safely — its new id can never match pre-drop bytes.
        // Tables WITHOUT field ids are name-keyed: re-adding a name
        // dropped in retained history would RESURRECT old files'
        // values (the reader matches the stale physical column by
        // name), so that exact shape refuses loudly.
        val startAt = FileManifest.maxFieldIdAt(spark, root) + 1L
        val mapped = FileManifest.hasFieldIds(base)
        if (!mapped) {
          val dropped = GraftMaintenance.droppedNamesInHistory(spark, root)
          columns.map(_._1).filter(dropped).foreach(c => sys.error(
            s"ADD COLUMN `$c`: this name was DROPPED earlier in this " +
              "table's retained history and the table predates field-id " +
              "mapping — old live files still physically carry the " +
              "column, so a name-keyed re-add would resurrect their " +
              "values; add it under a different name, or run " +
              "`ALTER TABLE ... UPGRADE FIELD IDS` first"))
        }
        columns.zipWithIndex.foldLeft(base) {
          case (schema, ((colName, colType), i)) =>
            val dt = spark.sessionState.sqlParser.parseDataType(colType)
            val fMeta =
              if (mapped) new org.apache.spark.sql.types.MetadataBuilder()
                .putLong(FileManifest.FieldIdKey, startAt + i).build()
              else org.apache.spark.sql.types.Metadata.empty
            val segs = colName.split('.').toSeq
            if (segs.size == 1) {
              require(!index.partitionColumns.contains(colName),
                s"`$colName` is a partition column")
              require(!schema.fieldNames.contains(colName),
                s"column `$colName` already exists in $table")
              schema.add(org.apache.spark.sql.types.StructField(
                colName, dt, nullable = true, fMeta))
            } else {
              // NESTED add: `parent.child` lands inside the struct —
              // null-filled for every pre-evolution file (the reader
              // finds no matching id), exactly the top-level contract
              GraftMaintenance.requireMappedForNested(schema, table,
                colName)
              GraftMaintenance.mapStructAt(schema, segs.init,
                s"ADD COLUMN `$colName`") { st =>
                require(!st.fieldNames.contains(segs.last),
                  s"field `$colName` already exists in $table")
                st.add(org.apache.spark.sql.types.StructField(
                  segs.last, dt, nullable = true, fMeta))
              }
            }
        }
      },
      metaOf = ev => Map("operation" -> "add-column",
        "addedColumn" -> columns.map(_._1).mkString(","),
        "maxFieldId" -> math.max(FileManifest.maxFieldIdAt(spark, root),
          FileManifest.schemaMaxFieldId(ev)).toString))
    // the catalog's stored schema must follow the relation's, or the
    // next resolution would reject the mismatch (alterTableDataSchema
    // re-appends the table's partition columns itself); then drop the
    // cached plan so the next SELECT re-resolves the evolved relation
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sessionState.catalog.alterTableDataSchema(ti, evolved)
    spark.catalog.refreshTable(table)
    Nil
  }
}

/** `ALTER TABLE t DROP COLUMN(S) …` — LAZY column drop on the f32
  * schema-pinned read discipline (the Iceberg/Delta contract: a drop
  * is a CATALOG operation, zero data IO): the narrowed schema commits
  * as a new version's `_meta`; every read at or after it projects the
  * column away (the parquet reader simply never materializes it),
  * while time travel BEFORE the drop serves the wide schema epoch via
  * `schemaAt`. DML/OPTIMIZE rewrites after the drop read PINNED to
  * the narrowed schema, so the files they touch physically shed the
  * column; untouched files keep the bytes (harmless — never matched)
  * until compaction or VACUUM-driven rewrites retire them. The
  * partition and clustering columns refuse (the layout and its
  * footer stats are keyed on them). Re-adding a dropped name later:
  * on a FIELD-ID-MAPPED table (every front-door CREATE) the re-add
  * mints a fresh id, so reads serve genuine NULLs — the old files'
  * same-named physical column has a retired id the reader can never
  * match (spec-pinned: the r12 resurrection repro now reads all-NULL).
  * On a pre-field-id table the re-add REFUSES loudly while the name
  * appears in the retained history's drop labels — name-keyed
  * matching would resurrect the old bytes. */
case class GraftDropColumnCommand(table: String,
    columns: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    require(columns.nonEmpty, "DROP COLUMNS: empty column list")
    require(columns.distinct.size == columns.size,
      s"DROP COLUMNS: duplicate names in $columns")
    val index = GraftMaintenance.indexOf(spark, table)
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "ALTER TABLE requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "ALTER TABLE on a time-traveled graft table is not allowed")
    columns.foreach(c =>
      GraftMaintenance.requireUnconstrained(spark, root, c, "drop"))
    val analyzed = spark.table(table).queryExecution.analyzed
    val h = GraftDml.graftRelation(analyzed).get._1
    val narrowed = GraftMaintenance.commitSchemaEvolution(spark, root,
      fallback = h.dataSchema,
      evolve = { base =>
        val (nested, top) = columns.partition(_.contains('.'))
        top.foreach { c =>
          // key-column checks FIRST: the partition column lives in the
          // partitionSchema, not dataSchema, so the existence check
          // would misreport it as unknown
          require(!index.partitionColumns.contains(c),
            s"cannot drop the partition column `$c` — the directory " +
              "layout is keyed on it; re-partition via an explicit " +
              "overwrite")
          require(c != index.clusterColumn,
            s"cannot drop the clustering column `$c` — footer stats and " +
              "the file layout are keyed on it; re-cluster via an " +
              "explicit overwrite")
          require(base.fieldNames.contains(c),
            s"column `$c` does not exist in $table")
        }
        val n0 = org.apache.spark.sql.types.StructType(
          base.fields.filterNot(f => top.contains(f.name)))
        require(n0.nonEmpty,
          "DROP COLUMNS would leave the table with no data columns")
        // NESTED drops: lazy like top-level — the subfield leaves the
        // catalog schema, old files keep the bytes (their id is
        // retired, never matched again; a later re-ADD of the same
        // name mints a fresh id, so nothing resurrects)
        nested.foldLeft(n0) { (schema, c) =>
          GraftMaintenance.requireMappedForNested(schema, table, c)
          val segs = c.split('.').toSeq
          GraftMaintenance.mapStructAt(schema, segs.init,
            s"DROP COLUMN `$c`") { st =>
            require(st.fieldNames.contains(segs.last),
              s"field `$c` does not exist in $table")
            require(st.size > 1,
              s"DROP COLUMN `$c` would leave struct " +
                s"`${segs.init.mkString(".")}` with no fields — drop " +
                "the whole column instead")
            org.apache.spark.sql.types.StructType(
              st.fields.filterNot(_.name == segs.last))
          }
        }
      },
      metaOf = _ => Map("operation" -> "drop-column",
        "droppedColumn" -> columns.mkString(",")))
    // the session catalog's stored schema must follow the relation's;
    // alterTableDataSchema REFUSES narrowing ("we don't support
    // dropping columns yet" — it guards formats where the bytes would
    // orphan), so the full table definition updates instead: for a
    // graft table the manifest's schemaAt is the source of truth and
    // the lazily-dropped bytes are never read
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val old = spark.sessionState.catalog.getTableMetadata(ti)
    // the narrowed DATA schema (nested drops included) + the table's
    // partition columns, which live outside the data schema
    val partFields = old.schema.fields.filterNot(f =>
      h.dataSchema.fieldNames.contains(f.name))
    val newFull = org.apache.spark.sql.types.StructType(
      narrowed.fields ++ partFields)
    spark.sessionState.catalog.alterTable(old.copy(schema = newFull))
    spark.catalog.refreshTable(table)
    Nil
  }
}

/** `MERGE WITH SCHEMA EVOLUTION INTO t USING s ON … WHEN …` — the
  * Delta statement, composed from two committed pieces the engine
  * already has: source columns ABSENT from the target commit as an
  * f32 ADD COLUMN evolution (zero data IO — every existing row,
  * matched or not, null-fills), then the stripped MERGE runs against
  * the evolved schema, its rewrites carrying the new columns for the
  * rows the WHEN cascade assigns. Same-name columns whose TYPES
  * differ refuse loudly (a type change needs read-time casts the
  * catalog does not track — the f32 boundary, kept). The evolution
  * commits BEFORE the merge (two versions, both labeled): a merge
  * that subsequently refuses (cardinality violation) leaves the
  * added null-filled columns behind — harmless, auditable in
  * DESCRIBE HISTORY, and re-running the fixed statement converges. */
case class GraftMergeEvolveCommand(table: String, strippedSql: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val index = GraftMaintenance.indexOf(spark, table)
    require(!index.isTimeTraveled,
      "MERGE INTO a time-traveled graft table is not allowed")
    val m0 = spark.sessionState.sqlParser.parsePlan(strippedSql) match {
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable => m
      case other => sys.error(
        s"MERGE WITH SCHEMA EVOLUTION: unexpected plan ${other.nodeName}")
    }
    val srcSchema = org.apache.spark.sql.graftshim.SparkShims
      .ofRows(spark, m0.sourceTable).schema
    val targetSchema = spark.table(table).schema
    val clash = srcSchema.fields.filter(f =>
      targetSchema.fields.exists(t =>
        t.name == f.name && t.dataType != f.dataType))
    require(clash.isEmpty,
      "MERGE WITH SCHEMA EVOLUTION cannot CHANGE column types (" +
        clash.map(f => s"${f.name}: ${targetSchema(f.name).dataType.sql} " +
          s"-> ${f.dataType.sql}").mkString(", ") +
        ") — cast the source, or evolve via explicit overwrite")
    val missing = srcSchema.fields.filterNot(f =>
      targetSchema.fieldNames.contains(f.name))
      .filterNot(_.name.startsWith("__"))
    if (missing.nonEmpty)
      GraftAddColumnCommand(table,
        missing.toSeq.map(f => f.name -> f.dataType.sql)).run(spark)
    spark.sql(strippedSql)
    Nil
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — TYPE WIDENING on the
  * f32 schema-pinned substrate (the Delta type-widening feature, the
  * Iceberg V1 `int→long / float→double` promotion rules): the widened
  * schema commits as a catalog version, zero data IO. Every read pins
  * to the catalog schema, and Spark 4's vectorized parquet reader
  * UPCASTS the old files' narrower physical type in place
  * (IntegerToLong/IntegerToDouble/FloatToDouble updaters), so old and
  * new files serve one uniform type; writes after the ALTER carry the
  * wide type physically and DML/OPTIMIZE rewrites upgrade the files
  * they touch. Time travel before the widening serves the narrow
  * epoch. ONLY the lossless reader-supported promotions are allowed —
  * narrowing or any other change still refuses loudly (a read-time
  * cast the reader cannot do would need value-level rewrite). The
  * partition and clustering columns refuse: the directory encoding
  * and the footer-stat manifest are keyed on their physical types. */
case class GraftWidenColumnCommand(table: String, colName: String,
    colType: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types._
  private val widenable: Set[(DataType, DataType)] = Set(
    IntegerType -> LongType,
    IntegerType -> DoubleType,
    FloatType -> DoubleType)
  override def run(spark: SparkSession): Seq[Row] = {
    val index = GraftMaintenance.indexOf(spark, table)
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "ALTER TABLE requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "ALTER TABLE on a time-traveled graft table is not allowed")
    require(!index.partitionColumns.contains(colName) &&
      colName != index.clusterColumn,
      s"cannot change the type of the ${
        if (index.partitionColumns.contains(colName))
        "partition" else "clustering"} column `$colName` — the directory " +
        "encoding / footer-stat manifest are keyed on its physical type")
    val analyzed = spark.table(table).queryExecution.analyzed
    val h = GraftDml.graftRelation(analyzed).get._1
    val to = spark.sessionState.sqlParser.parseDataType(colType)
    val widened = GraftMaintenance.commitSchemaEvolution(spark, root,
      fallback = h.dataSchema,
      evolve = { base =>
        val field = base.fields.find(_.name == colName).getOrElse(
          sys.error(s"column `$colName` does not exist in $table"))
        require(widenable((field.dataType, to)),
          s"ALTER COLUMN `$colName` TYPE ${to.sql}: only lossless reader-" +
            s"supported widenings are allowed (INT→BIGINT, INT→DOUBLE, " +
            s"FLOAT→DOUBLE); ${field.dataType.sql} → ${to.sql} would " +
            "need a value-level rewrite")
        StructType(base.fields.map(f =>
          if (f.name == colName) f.copy(dataType = to) else f))
      },
      metaOf = _ => Map("operation" -> "widen-column",
        "widenedColumn" -> s"$colName:->${to.sql}"))
    // full-definition catalog update (alterTableDataSchema refuses
    // type changes, same as drops)
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val old = spark.sessionState.catalog.getTableMetadata(ti)
    val newFull = StructType(old.schema.fields.map(f =>
      if (f.name == colName) f.copy(dataType = to) else f))
    spark.sessionState.catalog.alterTable(old.copy(schema = newFull))
    spark.catalog.refreshTable(table)
    Nil
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` — rename on the FIELD-ID
  * substrate (the Iceberg rename contract: a name is a label, the id
  * is the identity): the renamed schema commits as a catalog version
  * with the SAME field id under the new name, zero data IO. Every
  * read resolves file columns BY ID, so files written under the old
  * name — which keep it physically forever — serve their values under
  * the new name, and epoch time travel before the rename still reads
  * the old name, from the same bytes, correctly. DML/OPTIMIZE
  * rewrites after the rename carry the new physical name (same id),
  * so old and new files coexist indefinitely. REFUSED on tables
  * without field ids (name-keyed matching would serve NULLs from old
  * files — silently wrong) and on the partition/clustering columns
  * (the directory encoding and the footer-stat manifest are keyed on
  * their names). */
case class GraftRenameColumnCommand(table: String, from: String,
    to: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val index = GraftMaintenance.indexOf(spark, table)
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "ALTER TABLE requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "ALTER TABLE on a time-traveled graft table is not allowed")
    require(from != to, s"RENAME COLUMN `$from` TO `$to`: same name")
    require(!index.partitionColumns.contains(from) &&
      !index.partitionColumns.contains(to),
      s"cannot rename the partition column `$from`/`$to` — the " +
        "directory layout is keyed on it")
    require(from != index.clusterColumn && to != index.clusterColumn,
      s"cannot rename the clustering column `$from`/`$to` — footer " +
        "stats and the file layout are keyed on it")
    GraftMaintenance.requireUnconstrained(spark, root, from, "rename")
    val analyzed = spark.table(table).queryExecution.analyzed
    val h = GraftDml.graftRelation(analyzed).get._1
    val renamed = GraftMaintenance.commitSchemaEvolution(spark, root,
      fallback = h.dataSchema,
      evolve = { base =>
        require(FileManifest.hasFieldIds(base),
          s"RENAME COLUMN on `$table` requires field-id mapping — this " +
            "table's catalog predates it (files would be matched by " +
            "name and the renamed column would read as NULL from old " +
            s"files); run `ALTER TABLE $table UPGRADE FIELD IDS` first")
        val segs = from.split('.').toSeq
        if (segs.size == 1) {
          val f = base.fields.find(_.name == from).getOrElse(sys.error(
            s"column `$from` does not exist in $table"))
          require(FileManifest.fieldIdOf(f).isDefined,
            s"RENAME COLUMN `$from`: the column carries no field id — " +
              "only id-mapped columns can rename safely")
          require(!base.fieldNames.contains(to),
            s"column `$to` already exists in $table")
          org.apache.spark.sql.types.StructType(base.fields.map(x =>
            if (x.name == from) x.copy(name = to) else x))
        } else {
          // NESTED rename: the subfield keeps its id, so every old
          // file's bytes keep resolving under the new name — the
          // target stays within the same parent struct
          GraftMaintenance.mapStructAt(base, segs.init,
            s"RENAME COLUMN `$from`") { st =>
            val f = st.fields.find(_.name == segs.last).getOrElse(
              sys.error(s"field `$from` does not exist in $table"))
            require(FileManifest.fieldIdOf(f).isDefined,
              s"RENAME COLUMN `$from`: the field carries no field id " +
                "— only id-mapped fields can rename safely")
            require(!st.fieldNames.contains(to),
              s"field `${(segs.init :+ to).mkString(".")}` already " +
                s"exists in $table")
            org.apache.spark.sql.types.StructType(st.fields.map(x =>
              if (x.name == segs.last) x.copy(name = to) else x))
          }
        }
      },
      metaOf = _ => Map("operation" -> "rename-column",
        "renamedColumn" -> s"$from->$to"))
    // full-definition catalog update (alterTableDataSchema refuses
    // shape changes, same as drops), then drop the cached plan: the
    // renamed DATA schema (nested renames included) + the partition
    // columns, which live outside it
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val old = spark.sessionState.catalog.getTableMetadata(ti)
    val newFull = org.apache.spark.sql.types.StructType(
      renamed.fields ++ old.schema.fields.filterNot(f =>
        h.dataSchema.fieldNames.contains(f.name)))
    spark.sessionState.catalog.alterTable(old.copy(schema = newFull))
    spark.catalog.refreshTable(table)
    Nil
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` (and the
  * `ALTER COLUMN c SET NOT NULL` sugar) — a WRITE-TIME invariant, the
  * Delta contract: existing rows are validated NOW (one scan —
  * declaring an invariant the table already breaks must refuse), the
  * constraint commits as a version (`_meta.constraints`, inherited
  * forward by every later commit), and from then on every batch that
  * lands — INSERT adoption, writer append/overwrite, UPDATE/MERGE
  * rewrite, streaming sink — is gated by ONE aggregate scan of the
  * BATCH and refused atomically on violation (files are invisible
  * until the commit the refusal prevents; nothing partial-lands).
  * SQL CHECK semantics: NULL passes, only FALSE violates. */
case class GraftAddConstraintCommand(table: String, name: String,
    check: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val index = GraftMaintenance.indexOf(spark, table)
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "ALTER TABLE requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "ALTER TABLE on a time-traveled graft table is not allowed")
    val rel = spark.table(table)
    // the expression must RESOLVE against the table now (typos refuse
    // here, not at the first write), and must be deterministic — a
    // nondeterministic gate would pass and fail the same batch
    require(rel.select(expr(check)).queryExecution
        .analyzed.expressions.forall(_.deterministic),
      s"ADD CONSTRAINT `$name`: CHECK ($check) is nondeterministic")
    val bad = rel.where(not(coalesce(expr(check), lit(true)))).count()
    require(bad == 0L,
      s"ADD CONSTRAINT `$name` refused: $bad existing row(s) violate " +
        s"CHECK ($check) — fix the data first")
    GraftMaintenance.commitConstraintsChange(spark, root,
      "add-constraint") { cur =>
      require(!cur.exists(_._1 == name),
        s"constraint `$name` already exists on $table")
      cur :+ (name -> check)
    }
    spark.catalog.refreshTable(table)
    Nil
  }
}

/** `ALTER TABLE t DROP CONSTRAINT name` — the constraint stops gating
  * writes from the committed version on; history keeps the epochs it
  * governed (every committed version's meta is self-describing). */
case class GraftDropConstraintCommand(table: String, name: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val index = GraftMaintenance.indexOf(spark, table)
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "ALTER TABLE requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "ALTER TABLE on a time-traveled graft table is not allowed")
    GraftMaintenance.commitConstraintsChange(spark, root,
      "drop-constraint") { cur =>
      require(cur.exists(_._1 == name),
        s"constraint `$name` does not exist on $table")
      cur.filterNot(_._1 == name)
    }
    spark.catalog.refreshTable(table)
    Nil
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c…|FOR ALL
  * COLUMNS|NOSCAN]` — CBO statistics from the CATALOG wherever the
  * manifest already knows the answer: row count (footer-exact sum over
  * the snapshot) and total byte size (the serving index's stat'ed
  * sizes) cost ZERO data IO at any table size — Spark's native ANALYZE
  * would scan, and would also mis-measure a graft root (superseded
  * versions share the tree). FOR COLUMNS pays exactly ONE distributed
  * aggregate for NDV/min-max/null-counts (Spark's own
  * computeColumnStats — the part no metadata can answer). The result
  * lands in the session catalog as `CatalogStatistics`, so CBO join
  * reordering, filter selectivity, and broadcast thresholds see real
  * numbers — the 100 TB star-schema planning story. */
case class GraftAnalyzeCommand(table: String, columns: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.types._
    val index = GraftMaintenance.indexOf(spark, table)
    require(!index.isTimeTraveled,
      "ANALYZE TABLE on a time-traveled graft table is not allowed — " +
        "statistics describe the head")
    val pm = index.currentSnapshot
    val rows = pm.partitions.valuesIterator.flatten.map(_.rows).sum
    def statSupported(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | BooleanType | DateType |
           TimestampType | BinaryType => true
      case _ => false
    }
    val colStats: Map[String,
        org.apache.spark.sql.catalyst.catalog.CatalogColumnStat] =
      if (columns.isEmpty) Map.empty
      else {
        val plan = org.apache.spark.sql.graftshim.SparkShims
          .logicalPlan(spark.table(table))
        val attrs =
          if (columns == Seq("*"))
            plan.output.filter(a => statSupported(a.dataType))
          else columns.map { c =>
            val a = plan.output.find(_.name == c).getOrElse(sys.error(
              s"ANALYZE: column `$c` does not exist in $table"))
            require(statSupported(a.dataType),
              s"ANALYZE: column `$c` type ${a.dataType.sql} does not " +
                "support statistics")
            a
          }
        val (_, stats) = org.apache.spark.sql.graftshim.SparkShims
          .computeColumnStats(spark, plan, attrs)
        stats.map { case (a, cs) =>
          a.name -> cs.toCatalogColumnStat(a.name, a.dataType) }
      }
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sessionState.catalog.alterTableStats(ti,
      Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
        sizeInBytes = BigInt(index.sizeInBytes),
        rowCount = Some(BigInt(rows)),
        colStats = colStats)))
    spark.catalog.refreshTable(table)
    Nil
  }
}

/** `ALTER TABLE t UPGRADE FIELD IDS` — migrate a PRE-field-id catalog
  * onto the id substrate (the Iceberg table-upgrade role), unlocking
  * RENAME COLUMN and safe re-ADD of dropped names on tables that
  * predate f37: mint ids for the current schema, rewrite EVERY live
  * file in ONE distributed job stamping the ids into the parquet
  * schemas (per-file one-to-one — the shuffle-free staged rewrite
  * shape, so file layout, clustering ranges, and footer stats carry),
  * and commit adds+removes+schema as one atomic version via the
  * optimistic CoW retry. Idempotent: an already-mapped table is a
  * committed no-op. Prior versions stay time-travelable and read
  * id-less exactly as before (their epoch schema carries no ids). */
case class GraftUpgradeFieldIdsCommand(table: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val index = GraftMaintenance.indexOf(spark, table)
    val root = index.graftCatalogRoot.getOrElse(sys.error(
      "ALTER TABLE requires a catalog-backed graft table"))
    require(!index.isTimeTraveled,
      "ALTER TABLE on a time-traveled graft table is not allowed")
    val analyzed = spark.table(table).queryExecution.analyzed
    val h = GraftDml.graftRelation(analyzed).get._1
    val base = FileManifest.schemaAt(spark, root).getOrElse(h.dataSchema)
    if (FileManifest.hasFieldIds(base)) return Nil // already mapped
    index.advanceSnapshot(FileManifest.loadLatest(spark, root))
    val pm = index.currentSnapshot
    val evolved = FileManifest.assignFieldIds(base)
    val readSchema = StructType(base.fields ++
      index.partitionSchema.fields
        .filterNot(f => base.fieldNames.contains(f.name)))
    val levels = index.partitionColumns.size
    val next = FileManifest.latestVersion(spark, root).get + 1
    val dataDir = s"$root/data/b$next-" +
      java.util.UUID.randomUUID.toString.take(8)
    val touchedList = pm.partitions.toSeq.sortBy(_._1).flatMap {
      case (part, files) => files.map(f => (part, f.path))
    }
    // identity rewrite: the stamp inside the transform survives the
    // final plain-attribute select (metadata is lost on alias/cast,
    // not on column references), so the written files carry the ids
    val fresh = GraftDml.distributedRewrite(spark, readSchema,
      base.fieldNames.toSeq, index.clusterColumn, touchedList, dataDir,
      "fid", transform = df => FileManifest.stampFieldIds(df, evolved),
      exchange = false, levels = levels)
    val touched = touchedList.map(t => GraftDml.norm(t._2)).toSet
    GraftDml.commitCowRetrying(spark, root, index, touched, fresh,
      meta = Map("operation" -> "upgrade-field-ids",
        "schema" -> evolved.json,
        "maxFieldId" -> FileManifest.schemaMaxFieldId(evolved).toString),
      emptyMsg = "UPGRADE FIELD IDS produced an empty table")
    // the session catalog's stored schema gains the id metadata too
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val old = spark.sessionState.catalog.getTableMetadata(ti)
    val newFull = org.apache.spark.sql.types.StructType(
      old.schema.fields.map(f =>
        evolved.fields.find(_.name == f.name).getOrElse(f)))
    spark.sessionState.catalog.alterTable(old.copy(schema = newFull))
    spark.catalog.refreshTable(table)
    Nil
  }
}

/** Delegating parser: exactly the three maintenance statements
  * (OPTIMIZE / VACUUM / DESCRIBE HISTORY) are intercepted
  * (whole-statement anchored match); everything else — including
  * parse errors — is Spark's own parser verbatim, followed by the
  * [[GraftTimeTravel]] rewrite that swaps `VERSION AS OF` /
  * `TIMESTAMP AS OF` over graft tables for the pinned relation
  * (Spark's analyzer refuses the temporal clause on v1 tables before
  * any injected rule could handle it, so the seam is here). */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftMaintenance.intercept(sqlText)
      .orElse(GraftMaintenance.interceptSession(session, sqlText))
      .getOrElse(GraftTimeTravel.rewrite(session,
        delegate.parsePlan(sqlText)))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}
