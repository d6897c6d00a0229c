package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Iceberg-style manifest pruning, from first principles.
  *
  * A table format's manifest is a tiny side table: one row per data
  * file carrying that file's per-column min/max. When a query filters
  * on a clustered column, the planner consults the manifest FIRST and
  * hands the scan only the files whose [min, max] intersects the
  * predicate — the other files are never opened. At 100 TB that is the
  * difference between "scan 25,000 files" and "scan the 60 whose range
  * can match": pruning cost is O(files) driver-side metadata work,
  * independent of data volume.
  *
  * This module builds the manifest the way Iceberg/Delta effectively
  * do — from parquet FOOTER statistics, a metadata-only read (no data
  * pages are touched; cost per file is one footer fetch, and on a real
  * deployment the write path would emit these rows directly so even
  * the footer pass disappears).
  *
  * Pruning is necessary-but-not-sufficient, so [[readPruned]] re-applies
  * the predicate on the surviving files; correctness never depends on
  * the manifest being tight, only completeness does.
  */
object FileManifest {

  /** Directory under a catalog root where the SQL front door's
    * INSERT INTO staging instances live (see GraftManifestSource) —
    * never referenced by any committed version, so maintenance may
    * sweep it whole under the no-concurrent-writers contract. */
  val StagingRootName = "_insert_staging"

  // ---- FIELD-ID column mapping (the Iceberg identity discipline) ----
  //
  // Names are mutable labels; COLUMN IDENTITY must not be. Every data
  // column of a front-door table gets a stable field id at CREATE,
  // embedded into every parquet file's schema (Spark's native
  // `parquet.field.id` metadata — the writer emits it, and a read
  // whose requested schema carries ids matches file columns BY ID when
  // `spark.sql.parquet.fieldId.read.enabled` is on — a SESSION conf
  // (GraftSession sets it at build, [[pinnedReader]] re-sets it), and
  // inert for any read whose requested schema carries no ids, so
  // non-graft parquet reads keep name matching). That one substrate
  // buys:
  //  - RENAME COLUMN: old files keep the old physical name; the id
  //    resolves the values anyway (and epoch time travel still reads
  //    the old name, correctly, from the same bytes);
  //  - DROP then re-ADD the same name: the re-add mints a FRESH id, so
  //    pre-drop files' same-named physical column can never be matched
  //    — the re-added column reads as NULLs, never as resurrected data
  //    (the r12-reproduced f33 defect, fixed structurally);
  //  - ids are NEVER reused: `maxFieldId` rides in every version's
  //    `_meta` (inherited forward by commitVersion), so even after
  //    retention expires the epoch that dropped a column, its id stays
  //    retired while any old file could still carry the bytes.

  /** StructField metadata key Spark's parquet writer/reader use for
    * field ids (SPARK-38094 lineage — public Spark surface). */
  val FieldIdKey = "parquet.field.id"

  def hasFieldIds(schema: org.apache.spark.sql.types.StructType): Boolean =
    schema.fields.exists(_.metadata.contains(FieldIdKey))

  def fieldIdOf(f: org.apache.spark.sql.types.StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  /** Max id in a schema (0 when none assigned) — NESTED fields
    * included: struct subfields (at any depth, through arrays and
    * maps) carry ids of their own on the id substrate. */
  def schemaMaxFieldId(
      schema: org.apache.spark.sql.types.StructType): Long = {
    import org.apache.spark.sql.types._
    def ofType(dt: DataType): Long = dt match {
      case st: StructType => schemaMaxFieldId(st)
      case ArrayType(et, _) => ofType(et)
      case MapType(kt, vt, _) => math.max(ofType(kt), ofType(vt))
      case _ => 0L
    }
    schema.fields.foldLeft(0L)((m, f) => math.max(m,
      math.max(fieldIdOf(f).getOrElse(0L), ofType(f.dataType))))
  }

  /** Annotate every field with a fresh id, `startAt` upward —
    * RECURSIVELY: struct subfields (through arrays and maps too) get
    * their own ids, DFS order, so nested RENAME/DROP/re-ADD ride the
    * same identity discipline as top-level columns (Spark's parquet
    * writer emits nested `parquet.field.id` metadata, SPARK-38094). */
  def assignFieldIds(schema: org.apache.spark.sql.types.StructType,
      startAt: Long = 1L): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    var next = startAt
    def walkType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(walkField))
      case ArrayType(et, n) => ArrayType(walkType(et), n)
      case MapType(kt, vt, n) => MapType(walkType(kt), walkType(vt), n)
      case other => other
    }
    def walkField(f: StructField): StructField = {
      val id = next; next += 1
      f.copy(
        metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldIdKey, id).build(),
        dataType = walkType(f.dataType))
    }
    StructType(schema.fields.map(walkField))
  }

  /** Every field nullable, recursively, metadata (field ids)
    * preserved — the domain [[stampFieldIds]] compares and casts in. */
  private def relaxNullability(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
      case ArrayType(et, _) => ArrayType(relaxNullability(et), true)
      case MapType(kt, vt, _) =>
        MapType(relaxNullability(kt), relaxNullability(vt), true)
      case other => other
    }
  }

  /** Re-stamp the catalog schema's field-id metadata onto `df` by
    * name — transforms (withColumn, aliases, casts) silently DROP
    * top-level column metadata, so every write path into an id-mapped
    * table must re-stamp just before the write or the new files would
    * lack the ids the read path matches on (which reads refuse
    * loudly). NESTED ids live in the column's DataType (StructField
    * metadata inside the struct), which aliases preserve but struct
    * REBUILDS (named_struct, withField) drop — a struct-typed column
    * whose type no longer equals the catalog's re-stamps by an
    * identity cast to the catalog type (position-matched: every graft
    * write path reads pinned to this same schema). Columns absent
    * from `schema` (partition/helper columns) pass through. */
  def stampFieldIds(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (!hasFieldIds(schema)) df
    else df.select(df.columns.toSeq.map { c =>
      schema.fields.find(_.name == c) match {
        case Some(f) if f.metadata.contains(FieldIdKey) =>
          // compare and cast in the all-nullable domain: the parquet
          // reader relaxes nullability, and a cast into a non-null
          // struct field refuses — the ids ride metadata either way
          val target = relaxNullability(f.dataType)
          val needsTypeStamp = f.dataType match {
            case _: org.apache.spark.sql.types.StructType |
                 _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType =>
              df.schema.find(_.name == c).exists(x =>
                relaxNullability(x.dataType) != target)
            case _ => false
          }
          val base = if (needsTypeStamp) col(c).cast(target) else col(c)
          base.as(c, f.metadata)
        case _ => col(c)
      }
    }: _*)

  /** Reader pinned to the catalog schema with field-id matching ON —
    * the ONLY correct way to open an id-mapped table's data files: a
    * name-matched read would serve NULLs for a renamed column's old
    * files and resurrect dropped bytes under a re-added name.
    *
    * The flag must ride the SESSION conf: a DataFrameReader option
    * cannot deliver it (read options pass through CaseInsensitiveMap,
    * which lowercases keys, and hadoop Configuration keys are
    * case-sensitive — the lowercased flag silently never matches).
    * GraftSession sets it at build; this re-set covers sessions that
    * reached a graft read without the factory (e.g. a bare streaming
    * CDC consumer). It is inert for every read whose requested schema
    * carries no ids — non-graft parquet reads keep name matching. */
  def pinnedReader(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrameReader = {
    if (hasFieldIds(schema))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.read.schema(schema)
  }

  /** Per-file stats for one long-valued column (covers int/bigint/
    * timestamp-micros physical types — the usual clustering keys).
    * `nulls` is the file's null count for the column — the Iceberg
    * `null_value_counts` discipline: a footer row count includes rows
    * where the column is NULL, but a `BETWEEN lo AND hi` predicate
    * excludes them, so metadata-only answers must subtract. */
  final case class FileStats(path: String, rows: Long, min: Long, max: Long,
      nulls: Long)

  /** Write `df` clustered by `sortCol`: range-repartitioned so files
    * cover disjoint key ranges (tight, non-overlapping min/max = the
    * layout that makes manifests effective), sorted within files so
    * row-group stats nest the same way. */
  def writeLayout(df: DataFrame, path: String, sortCol: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Build the manifest by reading ONLY parquet footers. The RESULT is
    * driver-side — one row per file is exactly the cardinality a
    * manifest is supposed to have (a 100 TB table at 1 GB/file is 10^5
    * rows, a side table, not a dataset). The footer READS follow
    * Spark's own listing rule ([[footerPass]]): up to
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` files
    * (default 32) they run on the driver, where a footer reads in under
    * a millisecond; beyond it they run as a distributed job, since 10^5
    * one-at-a-time driver fetches would be minutes of dead time while
    * 10^5 footers across a cluster is seconds. (On a real deployment
    * the write path emits these rows directly and even the footer pass
    * disappears.) */
  def buildManifest(spark: SparkSession, dir: String,
      column: String): Seq[FileStats] =
    buildManifests(spark, dir, Seq(column))(column)

  /** Manifests for several columns in ONE footer pass per file (a 2-D
    * box read needs two manifests; re-reading footers per dimension
    * would double the metadata latency for nothing). */
  def buildManifests(spark: SparkSession, dir: String,
      columns: Seq[String]): Map[String, Seq[FileStats]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val files = fs.listStatus(new Path(dir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    val perFile = statsFor(spark, files, columns)
    columns.map(c => c -> perFile.map(_(c)).sortBy(_.path)).toMap
  }

  /** Footer stats for each of `paths`, in order. */
  private def statsFor(spark: SparkSession, paths: Seq[String],
      columns: Seq[String]): Seq[Map[String, FileStats]] = {
    val cols = columns.toList
    footerPass(spark, paths)(footerStats(_, _, cols))
  }

  /** `read` over each footer in `paths`, in order. Up to
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` files —
    * the rule Spark applies to listing the same files — the reads run
    * serially on the driver over the session's Hadoop conf: a job
    * would cost more per task than the reads it carries. Beyond that,
    * executors each read a slice of footers and ship back only the
    * O(files) results, one task per core, not per footer. The conf
    * rides as a broadcast, so each executor deserializes it once (a
    * local-mode task never does) instead of every task carrying it. */
  private def footerPass[T: scala.reflect.ClassTag](spark: SparkSession,
      paths: Seq[String])(read: (Configuration, Path) => T): Seq[T] = {
    val sc = spark.sparkContext
    if (paths.size <= spark.sessionState.conf.parallelPartitionDiscoveryThreshold)
      paths.map(p => read(sc.hadoopConfiguration, new Path(p)))
    else {
      val conf = sc.broadcast(org.apache.spark.sql.graftshim.SparkShims
        .serializableConf(sc.hadoopConfiguration))
      sc.parallelize(paths, math.min(paths.size, sc.defaultParallelism))
        .map(p => read(conf.value.value, new Path(p)))
        .collect().toSeq
    }
  }

  private def footerStats(conf: Configuration, file: Path,
      columns: Seq[String]): Map[String, FileStats] = {
    val reader = DriverParquet.openFooter(conf, file)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      var rows = 0L
      val mn = scala.collection.mutable.Map(
        columns.map(_ -> Long.MaxValue): _*)
      val mx = scala.collection.mutable.Map(
        columns.map(_ -> Long.MinValue): _*)
      val nulls = scala.collection.mutable.Map(columns.map(_ -> 0L): _*)
      val found = scala.collection.mutable.Set.empty[String]
      blocks.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          if (mn.contains(name)) {
            val st = c.getStatistics
            require(st != null && st.hasNonNullValue,
              s"no footer stats for $name in $file")
            // an unknown null count would make metadata-only answers
            // over a nullable column silently wrong — fail loudly
            require(st.isNumNullsSet,
              s"footer null count unavailable for $name in $file")
            nulls(name) += st.getNumNulls
            found += name
            (st.genericGetMin, st.genericGetMax) match {
              case (lo: java.lang.Long, hi: java.lang.Long) =>
                mn(name) = math.min(mn(name), lo)
                mx(name) = math.max(mx(name), hi)
              case (lo: java.lang.Integer, hi: java.lang.Integer) =>
                mn(name) = math.min(mn(name), lo.longValue)
                mx(name) = math.max(mx(name), hi.longValue)
              case other => sys.error(
                s"unsupported stats type for $name: ${other.getClass}")
            }
          }
        }
      }
      // a missing column would leave the (MaxValue, MinValue) sentinels,
      // which prune() would treat as "can never match" — silent data
      // loss; fail loudly instead
      columns.foreach { c =>
        require(found(c) || rows == 0, s"column $c absent from $file")
      }
      columns.map(c =>
        c -> FileStats(file.toString, rows, mn(c), mx(c), nulls(c))).toMap
    } finally reader.close()
  }

  // ---- STRING-keyed manifests (Iceberg's truncate-transform role) --

  /** Per-file bounds for a STRING column, TRUNCATED to `truncateTo`
    * characters the way Iceberg's `truncate` transform keeps URL /
    * name manifests small: the lower bound truncates directly (a
    * prefix is ≤ the value), the upper bound truncates then
    * increments its last incrementable character (strictly above
    * everything sharing the prefix). Long keys — URLs, paths, doc
    * ids — get constant-size manifest rows; pruning stays a
    * conservative superset. */
  final case class StrFileStats(path: String, rows: Long,
      min: String, max: String, nulls: Long)

  /** UTF-8 unsigned-byte comparison — parquet's binary stats
    * ordering, used for BOTH bound folding and pruning so the two
    * can never disagree (Java String.compareTo differs above the
    * BMP). */
  private[graft] def u8cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Truncated-and-incremented UPPER bound: keep the prefix, bump the
    * rightmost character that can be bumped without creating a
    * surrogate, drop the rest. Falls back to the untruncated value
    * when nothing is bumpable (pathological, kept correct). */
  private[graft] def truncUpper(s: String, n: Int): String = {
    if (s.length <= n) return s
    val p = s.substring(0, n).toCharArray
    var i = p.length - 1
    while (i >= 0 && p(i) >= 0xD7FF.toChar) i -= 1
    if (i < 0) s
    else new String(p, 0, i) + (p(i) + 1).toChar
  }

  /** Footer-stat string bounds for every parquet file under `dir` —
    * read like [[buildManifests]]: on the driver up to the parallel-discovery
    * threshold, distributed beyond it. */
  private def strFooterStats(conf: Configuration, p: Path,
      column: String, truncateTo: Int): StrFileStats = {
    val reader = DriverParquet.openFooter(conf, p)
    try {
      var rows = 0L; var nulls = 0L
      var mn: String = null; var mx: String = null
      reader.getFooter.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.foreach { c =>
          if (c.getPath.toDotString == column) {
            val st = c.getStatistics
            require(st != null && st.hasNonNullValue && st.isNumNullsSet,
              s"no footer stats for $column in $p")
            nulls += st.getNumNulls
            val lo = new String(st.getMinBytes,
              java.nio.charset.StandardCharsets.UTF_8)
            val hi = new String(st.getMaxBytes,
              java.nio.charset.StandardCharsets.UTF_8)
            if (mn == null || u8cmp(lo, mn) < 0) mn = lo
            if (mx == null || u8cmp(hi, mx) > 0) mx = hi
          }
        }
      }
      require(mn != null || rows == 0, s"column $column absent from $p")
      StrFileStats(p.toString, rows,
        if (mn == null) "" else mn.substring(0, math.min(mn.length, truncateTo)),
        if (mx == null) "" else truncUpper(mx, truncateTo), nulls)
    } finally reader.close()
  }

  def buildStringManifest(spark: SparkSession, dir: String,
      column: String, truncateTo: Int = 16): Seq[StrFileStats] = {
    require(truncateTo >= 1, s"bad truncateTo $truncateTo")
    footerPass(spark, listParquet(spark, dir))(
      strFooterStats(_, _, column, truncateTo)).sortBy(_.path)
  }

  /** String-range file pruning over the truncated bounds —
    * conservative by construction (truncation only widens). */
  def pruneString(manifest: Seq[StrFileStats], lo: String,
      hi: String): Seq[StrFileStats] =
    manifest.filter(f => u8cmp(f.max, lo) >= 0 && u8cmp(f.min, hi) <= 0)

  /** Range read through the string manifest: open only the surviving
    * files, re-apply the exact BETWEEN row-by-row (the residual
    * discipline — survival is a file-granular superset). */
  def readStringPruned(spark: SparkSession, manifest: Seq[StrFileStats],
      column: String, lo: String, hi: String): DataFrame = {
    require(manifest.nonEmpty, "empty string manifest")
    val survivors = pruneString(manifest, lo, hi)
    val residual = col(column).between(lo, hi)
    if (survivors.nonEmpty)
      DriverParquet.readFiles(spark, survivors.map(_.path)).where(residual)
    else DriverParquet.readFiles(spark, Seq(manifest.head.path)).where(lit(false))
  }

  /** Files whose [min, max] intersects [lo, hi] — the survivors the
    * scan is allowed to open. */
  def prune(manifest: Seq[FileStats], lo: Long, hi: Long): Seq[FileStats] =
    manifest.filter(f => f.max >= lo && f.min <= hi)

  /** Per-file BLOOM FILTER sidecar for a NON-clustered column — the
    * data-skipping rung min/max ranges cannot reach: on a layout
    * clustered by some other key, every file's [min, max] of a
    * high-cardinality column spans the whole domain and the range
    * prune keeps everything, yet a point predicate still only LIVES
    * in a few files. `m` bits × `k` md5-derived probes per file
    * answer "can this file contain v" with zero false negatives
    * (Parquet's own bloom_filter_enabled / Delta's bloom index, as a
    * manifest-level sidecar the driver can consult before opening a
    * single footer). Sizing is the standard calculus: false-positive
    * rate ≈ (1 − e^{−kn/m})^k for n distinct values per file — at
    * 100 TB the sidecar is O(files · m/8) bytes of metadata riding
    * next to the FileStats rows. */
  final case class BloomStats(path: String, m: Int, k: Int,
      words: Array[Long]) {
    def mightContain(v: Long): Boolean =
      (0 until k).forall { i =>
        val p = FileManifest.bloomPos(i, v, m)
        (words(p >> 6) & (1L << (p & 63))) != 0L
      }
  }

  /** Probe position i for value v: the repo's deterministic-draw
    * discipline (md5 over "i,v", 15 hex chars, mod m) — replayable in
    * SQL and in plain Scala, so specs and oracles can rebuild the
    * exact bit pattern. */
  private[graft] def bloomPos(i: Int, v: Long, m: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$i,$v".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.take(15), 16) % m).toInt
  }

  /** Build the bloom sidecar in ONE distributed pass: every row
    * contributes its k probe positions tagged with its source file,
    * a distinct-aggregate collapses them to ≤ files·m rows (manifest
    * cardinality, not data cardinality), and the driver folds bits.
    * The expression is the same md5 draw as [[bloomPos]], computed
    * inside codegen — no UDF. */
  def buildBloomManifest(spark: SparkSession, dir: String, column: String,
      m: Int = 512, k: Int = 3): Seq[BloomStats] = {
    require(m >= 64 && m % 64 == 0 && k >= 1, s"bad bloom shape m=$m k=$k")
    val df = DriverParquet.readFiles(spark, Seq(dir))
    val v = col(column).cast("long")
    val probes = (0 until k).map(i =>
      pmod(conv(substring(md5(concat_ws(",", lit(i), v)), 1, 15), 16, 10)
        .cast("long"), lit(m.toLong)).cast("int"))
    // fold probe bits into 64-bit words EXECUTOR-side (bit_or partial
    // aggregates): the driver collects ≤ files · m/64 word rows — a
    // manifest-sized result however many data rows contributed
    val wordRows = df.where(v.isNotNull)
      .select(input_file_name().as("f"), explode(array(probes: _*)).as("p"))
      .select(col("f"), (col("p") / 64).cast("int").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), pmod(p, 64))").as("bit"))
      .groupBy("f", "w").agg(expr("bit_or(bit)").as("bits"))
      .collect()
      // input_file_name() renders file:///…; listParquet renders
      // file:/… — key both by the scheme-free URI path
      .map(r => (new Path(r.getString(0)).toUri.getPath,
        (r.getInt(1), r.getLong(2))))
      .groupBy(_._1)
    // files with only-null column values still need an (empty) entry,
    // so enumerate the directory rather than trusting the fold's keys
    listParquet(spark, dir).sorted.map { path =>
      val words = new Array[Long](m / 64)
      wordRows.getOrElse(new Path(path).toUri.getPath, Array.empty)
        .foreach { case (_, (w, bits)) => words(w) |= bits }
      BloomStats(path, m, k, words)
    }
  }

  /** Files that can contain ANY of `keys` (no false negatives by
    * construction: every probe position of every present value is
    * set). Driver-side O(files · keys · k) bit tests over metadata. */
  def bloomSurvivors(blooms: Seq[BloomStats],
      keys: Seq[Long]): Seq[BloomStats] = {
    val ks = keys.distinct
    blooms.filter(b => ks.exists(b.mightContain))
  }

  /** Point-lookup read through the bloom sidecar: open only the
    * surviving files, then re-apply the exact predicate row-by-row
    * (the [[readPruned]] residual-filter discipline — bloom survival
    * is a file-granular SUPERSET). An all-pruned key set returns the
    * legitimate empty frame. */
  def readBloomPruned(spark: SparkSession, blooms: Seq[BloomStats],
      column: String, keys: Seq[Long]): DataFrame = {
    require(blooms.nonEmpty, "empty bloom manifest")
    val survivors = bloomSurvivors(blooms, keys)
    val residual = col(column).isin(keys.map(java.lang.Long.valueOf): _*)
    if (survivors.nonEmpty)
      DriverParquet.readFiles(spark, survivors.map(_.path)).where(residual)
    else DriverParquet.readFiles(spark, Seq(blooms.head.path)).where(lit(false))
  }

  /** Incremental maintenance — the operations a live table needs so the
    * manifest NEVER requires a full rebuild: `append` stats just the
    * newly written files (an ingest batch touches O(new files) footers,
    * not O(table)), `expire` drops deleted/compacted-away entries. Both
    * keep the manifest sorted by path so appends are order-independent. */
  def append(manifest: Seq[FileStats], spark: SparkSession,
      newFiles: Seq[String], column: String): Seq[FileStats] = {
    val known = manifest.map(_.path).toSet
    val fresh = statsFor(spark, newFiles.filterNot(known), Seq(column))
      .map(_(column))
    (manifest ++ fresh).sortBy(_.path)
  }

  def expire(manifest: Seq[FileStats], removed: Seq[String]): Seq[FileStats] = {
    val gone = removed.toSet
    manifest.filterNot(f => gone(f.path))
  }

  /** Manifest-pruned ranged read: open only surviving files, then
    * re-apply the exact predicate (pruning is file-granular; the
    * residual filter still pushes down to the row-group/page level
    * inside the survivors via normal parquet filter pushdown). */
  def readPruned(spark: SparkSession, manifest: Seq[FileStats],
      column: String, lo: Long, hi: Long): DataFrame = {
    require(manifest.nonEmpty, "empty manifest")
    val survivors = prune(manifest, lo, hi).map(_.path)
    // every file pruned away is a legitimately-EMPTY result, not an
    // error (the full-scan mirror of the same predicate returns 0
    // rows); read one file for the schema and keep zero of its rows
    val src =
      if (survivors.nonEmpty) DriverParquet.readFiles(spark, survivors)
      else DriverParquet.readFiles(spark, Seq(manifest.head.path)).where(lit(false))
    src.filter(col(column) >= lo && col(column) <= hi)
  }

  /** Files fully covered by [lo, hi] vs partially overlapping it —
    * the split [[aggRanged]] exploits. On a range-clustered layout the
    * partial side is AT MOST the two boundary files, whatever the
    * table size. */
  def coveredSplit(manifest: Seq[FileStats], lo: Long,
      hi: Long): (Seq[FileStats], Seq[FileStats]) =
    prune(manifest, lo, hi).partition(f => f.min >= lo && f.max <= hi)

  /** [[pruneForKeys]] result: the pruning ladder's two rungs kept
    * visible so callers (and specs) can see what each level bought. */
  final case class JoinPrune(totalFiles: Int, rangeSurvivors: Int,
      files: Seq[FileStats])

  /** EXACT-KEY file pruning: which files can contain ANY of `keys`.
    * Two rungs — the [min(keys), max(keys)] range prune first, then a
    * per-file check that some key actually lands inside the file's
    * own [min, max] (sorted keys + one binary search per file, so a
    * scattered key set skips the files BETWEEN its keys that a pure
    * range prune must keep). Driver-side work is O(files · log keys)
    * over manifest METADATA — at 100 TB that is 10^5 cheap
    * comparisons, never a data page. */
  def pruneForKeys(manifest: Seq[FileStats], keys: Seq[Long]): JoinPrune = {
    val ks = keys.distinct.sorted.toArray
    val ranged =
      if (ks.isEmpty) Seq.empty else prune(manifest, ks.head, ks.last)
    val kept = ranged.filter { f =>
      var i = java.util.Arrays.binarySearch(ks, f.min)
      if (i < 0) i = -i - 1
      i < ks.length && ks(i) <= f.max
    }
    JoinPrune(manifest.size, ranged.size, kept)
  }

  /** DYNAMIC FILE PRUNING for a key-equi join — the manifest answers
    * "which fact files can contain any of the dim side's join keys"
    * BEFORE a single fact data page is read (the Delta/Photon
    * dynamic-file-pruning move, re-expressed over the driver-side
    * manifest). One metadata-sized action evaluates the (already
    * filtered, broadcast-regime) dim side first — the same trade
    * dynamic partition pruning makes: a tiny job now buys file-level
    * skips on the 100 TB side. Keys up to `exactLimit` prune exactly
    * via [[pruneForKeys]]; a larger dim side degrades gracefully to
    * the [min, max] range prune (two aggregates, never a full
    * driver-side key set). The returned frame is a file-granular
    * SUPERSET of the matching rows — the caller still applies the
    * actual join, which also re-applies the exact predicate
    * row-by-row (the [[readPruned]] residual-filter discipline). */
  def readJoinPruned(spark: SparkSession, manifest: Seq[FileStats],
      column: String, dim: DataFrame, dimKeyCol: String,
      exactLimit: Int = 1 << 16): DataFrame = {
    require(manifest.nonEmpty, "empty manifest")
    // NULL dim keys can never equi-match a fact row — drop them before
    // they poison min/max or the collected key set
    val k = dim.select(col(dimKeyCol).cast("long").as("k"))
      .where(col("k").isNotNull)
    val keys = k.distinct().limit(exactLimit + 1).collect().map(_.getLong(0))
    val survivors =
      if (keys.isEmpty) Seq.empty
      else if (keys.length > exactLimit) {
        val r = k.agg(min("k").as("lo"), max("k").as("hi")).head
        prune(manifest, r.getLong(0), r.getLong(1))
      } else pruneForKeys(manifest, keys.toSeq).files
    if (survivors.nonEmpty) DriverParquet.readFiles(spark, survivors.map(_.path))
    // all files pruned: an empty fact side is the legitimate result
    else DriverParquet.readFiles(spark, Seq(manifest.head.path)).where(lit(false))
  }

  /** METADATA-ONLY ranged aggregation: `count(*) / min / max` of
    * `column` over `lo <= column <= hi`, answered from the manifest
    * wherever file ranges allow it. Fully-covered files contribute
    * their row counts and min/max straight from footer stats — zero
    * data pages read; only the boundary files (≤ 2 on a clustered
    * layout) are scanned with the residual predicate. At 100 TB a
    * range count touches two files instead of the table — the Iceberg
    * metadata-query path, re-expressed over the driver-side manifest.
    * One output row: (n_rows, min_v, max_v), nulls on an empty range —
    * exactly what the full-scan aggregate would return. */
  def aggRanged(spark: SparkSession, manifest: Seq[FileStats],
      column: String, lo: Long, hi: Long): DataFrame = {
    require(manifest.nonEmpty, "empty manifest")
    val (full, partial) = coveredSplit(manifest, lo, hi)
    val scanned =
      if (partial.isEmpty) (0L, None: Option[Long], None: Option[Long])
      else {
        val r = DriverParquet.readFiles(spark, partial.map(_.path))
          .where(col(column) >= lo && col(column) <= hi)
          .agg(count(lit(1)), min(col(column)).cast("long"),
            max(col(column)).cast("long")).head
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))
      }
    // a covered file's footer row count includes rows whose `column`
    // is NULL; the full-scan BETWEEN excludes them — subtract the
    // per-file null count (min/max already exclude nulls in parquet)
    val n = full.map(f => f.rows - f.nulls).sum + scanned._1
    val mn = (full.map(_.min).minOption ++ scanned._2).minOption
    val mx = (full.map(_.max).maxOption ++ scanned._3).maxOption
    def optLit(v: Option[Long]) =
      v.map(lit(_)).getOrElse(lit(null)).cast("long")
    spark.range(1).select(lit(n).as("n_rows"),
      optLit(mn).as("min_v"), optLit(mx).as("max_v"))
  }

  /** COPY-ON-WRITE DELETE: remove the rows with `column` in [lo, hi],
    * rewriting ONLY the files whose [min, max] intersects the range —
    * every other file's manifest entry (and its bytes) is carried
    * verbatim, ZERO IO. That asymmetry is the whole lakehouse DML
    * story at 100 TB: a targeted delete touches the handful of files
    * that can contain matches (on a range-clustered layout, interior +
    * two boundary files), not the table. Rewritten files land under
    * `rewriteDir` (one file per source file, all in one job —
    * [[rewriteStaged]]); a rewrite left empty is dropped from the
    * manifest entirely. Returns the post-delete
    * manifest — [[readPruned]] over it IS the post-delete table; the
    * superseded originals stay on disk for the caller's retention
    * policy to sweep (the grace discipline readers need).
    */
  def deleteRange(spark: SparkSession, manifest: Seq[FileStats],
      column: String, lo: Long, hi: Long, rewriteDir: String): Seq[FileStats] = {
    val (affected, untouched) = manifest.partition(f => f.max >= lo && f.min <= hi)
    if (affected.isEmpty) return manifest
    val stats = rewriteFiles(spark, affected.map(_.path), column,
        rewriteDir, "del", exchange = false)(
      df => df.where(!col(column).between(lo, hi) || col(column).isNull))
    (untouched ++ stats).sortBy(_.path)
  }

  // ---- the one staged-rewrite path ----------------------------------
  //
  // Every rewrite of graft table files — the raw CoW rewrites above
  // and below, raw compaction, SQL DELETE/UPDATE/MERGE, OPTIMIZE —
  // runs as ONE distributed job however many files it touches
  // (per-file jobs on a Future fan-out made the driver's scheduling
  // loop the wall clock at 10⁴–10⁵ files; RawRewriteJobSpec and
  // GraftDmlSpec pin the flat job count): [[rewriteStaged]] writes
  // every group of input files under one staging dir keyed by
  // [[fileKey]] or bin id, and [[adoptStaged]] moves the output into
  // place. Callers keep only their own scan and transform.

  /** Scheme-independent file key shared by the SQL side
    * (`input_file_name` URIs, [[fileKeyCol]]) and the driver side
    * (manifest paths): md5 of the last `levels + 2` path segments —
    * batchDir/partition-chain/file, unique within one table (flat
    * tables, `levels` 1, hash dir/dir/file). Both sides hash the
    * DECODED (true on-disk) segment chars, so spaces, ':' or '%' in a
    * directory or Hive-escaped partition value cannot make the two
    * domains disagree. The 'k' prefix keeps the key NON-NUMERIC so a
    * staged `__fk=<key>` directory can never be re-inferred as a
    * numeric partition column (an all-digit md5 would read back as
    * DECIMAL and drop leading zeros — a silent key mismatch). */
  private[graft] def fileKey(path: String, levels: Int = 1): String = {
    val tail = new Path(path).toUri.getPath
      .split('/').takeRight(levels + 2).mkString("/")
    "k" + java.security.MessageDigest.getInstance("MD5")
      .digest(tail.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** [[fileKey]] as a codegen'd expression over a file-name column.
    * The tail is split on the ENCODED string ('/' is never
    * percent-encoded in a URI path, and an escaped value's `%2F`
    * arrives double-encoded as `%252F`, so segment boundaries are
    * exact), then decoded into the on-disk domain [[fileKey]] hashes.
    * `url_decode` is form-decoding ('+' -> space), so literal '+' is
    * pre-escaped to `%2B` first. */
  private[graft] def fileKeyCol(fileName: Column, levels: Int = 1): Column =
    concat(lit("k"), md5(url_decode(regexp_replace(
      substring_index(fileName, "/", -(levels + 2)), "\\+", "%2B"))))

  /** The one staged per-key write. `src` is the caller's scan of the
    * files in `groups`; each row is tagged with its file's
    * [[fileKeyCol]] as `__fk` (every group one file), or — `binned` —
    * with its group index as `__bin` through a broadcast
    * file-key → bin map (manifest-sized). `transform` rewrites the
    * tagged rows and must keep the key. `cols` plus the key are
    * selected, field ids re-stamped from `ids` (transforms drop column
    * metadata, and an id-mapped table's files without ids would refuse
    * every read), an optional hash `exchange` on the key gathers each
    * group into one task (for binning, or transforms whose joins
    * scatter a file's rows), rows sort on (key, `clusterCol`), and
    * one `partitionBy(key)` write lands every group under `staging`.
    * Without the exchange the plan is shuffle-free: tasks sort
    * locally and the dynamic writer splits by key, so each rewritten
    * file's content and footer stats match a per-file job's.
    * [[adoptStaged]] then moves group `i`'s output to `place(i)`. */
  private[graft] def rewriteStaged(src: DataFrame, groups: Seq[Seq[String]],
      binned: Boolean, levels: Int, cols: Seq[String], clusterCol: String,
      ids: Option[org.apache.spark.sql.types.StructType], exchange: Boolean,
      staging: String, destRoot: String, statCol: Option[String])(
      transform: DataFrame => DataFrame)(
      place: Int => (String, String)): Map[String, Seq[FileStats]] = {
    require(!cols.contains("__fk") && !cols.contains("__bin"),
      "a rewritten table must not carry a `__fk` or `__bin` column (reserved)")
    val groupOfFk = groups.zipWithIndex.flatMap { case (files, i) =>
      files.map(f => fileKey(f, levels) -> i)
    }
    require(groupOfFk.map(_._1).distinct.size == groupOfFk.size,
      "staged rewrite: file-key collision across input files")
    val tagged = src.withColumn("__fk", fileKeyCol(input_file_name(), levels))
    val key = if (binned) "__bin" else "__fk"
    val keyed = if (!binned) tagged else tagged.join(broadcast(src
      .sparkSession.createDataFrame(groupOfFk).toDF("__fk", "__bin")), "__fk")
    val out = transform(keyed).select((cols :+ key).map(col): _*)
    val stamped = ids.fold(out)(stampFieldIds(out, _))
    (if (exchange) stamped.repartition(col(key)) else stamped)
      .sortWithinPartitions(col(key), col(clusterCol))
      .write.mode(SaveMode.Overwrite).partitionBy(key).parquet(staging)
    val groupOf: Map[String, Int] =
      if (binned) groups.indices.map(i => s"__bin=$i" -> i).toMap
      else groupOfFk.map { case (fk, i) => s"__fk=$fk" -> i }.toMap
    adoptStaged(src.sparkSession, staging, destRoot, statCol)(leaf =>
      place(groupOf.getOrElse(leaf,
        sys.error(s"staged rewrite: unexpected key $leaf"))))
  }

  /** Adopt-by-move, the one routine every staged write lands through:
    * each leaf `k=v…` dir under `staging` ([[listLeafPartitions]])
    * moves file by file to `destRoot/<dest>/<prefix><file name>` for
    * `(dest, prefix) = place(leaf)` ("" dest = `destRoot` itself) —
    * data written once, adopted by rename (the Iceberg `add_files`
    * contract). A move never clobbers: an existing destination means
    * two writers staged the same name, never something to resolve
    * silently. Paths are kept FS-qualified (file:/… on local), the
    * form every manifest producer records and consumers (statFiles,
    * version set-diffs) compare verbatim. Given `statCol`, each
    * destination's moved files are footer-statted in one pass and
    * returned keyed by dest; without it the map is empty. `staging`
    * is deleted afterwards unless `keepStaging` (a staging root other
    * writers share). */
  private[graft] def adoptStaged(spark: SparkSession, staging: String,
      destRoot: String, statCol: Option[String],
      keepStaging: Boolean = false)(
      place: String => (String, String)): Map[String, Seq[FileStats]] = {
    val fs = new Path(destRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val moved = listLeafPartitions(fs, new Path(staging)).sortBy(_._1)
      .flatMap { case (leaf, sts) =>
        val (dest, prefix) = place(leaf)
        val destDir =
          if (dest.isEmpty) new Path(destRoot) else new Path(destRoot, dest)
        fs.mkdirs(destDir)
        sts.map { st =>
          val to = new Path(destDir, prefix + st.getPath.getName)
          require(!fs.exists(to), s"adopt: destination $to already exists")
          require(fs.rename(st.getPath, to),
            s"adopt: move failed for ${st.getPath}")
          dest -> fs.makeQualified(to).toString
        }
      }
    if (!keepStaging) fs.delete(new Path(staging), true)
    statCol.fold(Map.empty[String, Seq[FileStats]]) { c =>
      moved.groupBy(_._1).map { case (dest, files) =>
        dest -> statsFor(spark, files.map(_._2), Seq(c)).map(_(c))
          .sortBy(_.path)
      }
    }
  }

  /** [[rewriteStaged]] for a FLAT raw-API table: each affected file
    * rewrites one-to-one into `rewriteDir` as `<prefix>_<i>-…`, and
    * only those files are footer-statted. */
  private def rewriteFiles(spark: SparkSession, affected: Seq[String],
      sortCol: String, rewriteDir: String, prefix: String,
      exchange: Boolean)(transform: DataFrame => DataFrame)
      : Seq[FileStats] = {
    val src = DriverParquet.readFiles(spark, affected.sorted)
    rewriteStaged(src, affected.map(Seq(_)), binned = false, levels = 1,
      src.columns.toSeq, sortCol, ids = None, exchange,
      s"$rewriteDir/_rw", rewriteDir, Some(sortCol))(transform)(
      i => ("", f"${prefix}_$i%05d-")).getOrElse("", Nil)
  }

  /** COPY-ON-WRITE UPDATE: `SET setCol = value WHERE column BETWEEN lo
    * AND hi`, same pruned-rewrite discipline as [[deleteRange]] —
    * untouched files carry verbatim, affected files rewrite with the
    * transform applied only to matching rows. `value` may reference
    * the row's own columns (a Column expression). Updating the
    * CLUSTERING column itself is rejected: rewritten rows could leave
    * their file's key range and the carried manifest would silently
    * mis-prune (a real table format re-clusters those rows instead).
    */
  def updateRange(spark: SparkSession, manifest: Seq[FileStats],
      column: String, lo: Long, hi: Long, setCol: String,
      value: org.apache.spark.sql.Column, rewriteDir: String): Seq[FileStats] = {
    require(setCol != column,
      s"updateRange cannot modify the clustering column `$column` " +
        "(rewritten rows could leave their file's key range)")
    val (affected, untouched) = manifest.partition(f => f.max >= lo && f.min <= hi)
    if (affected.isEmpty) return manifest
    val stats = rewriteFiles(spark, affected.map(_.path), column,
        rewriteDir, "upd", exchange = false)(
      df => df.withColumn(setCol,
        when(col(column).between(lo, hi), value).otherwise(col(setCol))))
    (untouched ++ stats).sortBy(_.path)
  }

  /** Read the whole table a manifest describes (all files, no range
    * restriction) — the post-DML read companion to [[readPruned]]. */
  def readAll(spark: SparkSession, manifest: Seq[FileStats]): DataFrame = {
    require(manifest.nonEmpty, "empty manifest")
    DriverParquet.readFiles(spark, manifest.map(_.path))
  }

  /** A MERGE-ON-READ table: the data manifest plus equality-delete
    * sidecar files (each a tiny parquet of deleted `column` keys) that
    * readers subtract at scan time. The Iceberg-v2 design axis
    * COPY-ON-WRITE ([[deleteRange]]: pay a pruned rewrite at delete
    * time, reads stay plain) vs MERGE-ON-READ (pay O(deleted keys) IO
    * at delete time — independent of table size, the latency a
    * GDPR/CDC-heavy 100 TB table needs — and an anti-join at read
    * time until compaction folds the deletes in). */
  final case class MorTable(column: String, data: Seq[FileStats],
      deleteFiles: Seq[String])

  /** MERGE-ON-READ DELETE of the given keys: writes ONE equality-delete
    * sidecar (O(keys) IO now; no data file is opened, let alone
    * rewritten) and returns the table with the sidecar attached.
    * Deleting keys absent from the data is a no-op by construction —
    * the anti-join just finds nothing to drop. */
  def deleteKeysMoR(spark: SparkSession, table: MorTable, keys: DataFrame,
      deleteDir: String): MorTable = {
    require(keys.columns.length == 1,
      "delete keys frame must carry exactly the key column")
    // Unique suffix: two deletes derived from the same MorTable value
    // (branched snapshots, retried callers) must not silently clobber
    // each other's sidecar — files are immutable and uniquely named,
    // Iceberg-style; superseded ones are orphans for the retention
    // sweep. ErrorIfExists turns any residual collision into a loud
    // failure instead of lost deletes.
    val dst = f"$deleteDir/eqdel_${table.deleteFiles.size}%05d_" +
      java.util.UUID.randomUUID.toString.take(8)
    keys.select(col(keys.columns.head).cast("long").as(table.column))
      // a NULL key can never equality-match a row (readMoR passes
      // NULL-keyed rows through); keeping it would only NPE the
      // compaction's key collect
      .where(col(table.column).isNotNull)
      .distinct()
      .coalesce(1)
      .write.mode(SaveMode.ErrorIfExists).parquet(dst)
    table.copy(deleteFiles = table.deleteFiles :+ dst)
  }

  /** Read a merge-on-read table: the plain data scan anti-joined
    * against the (broadcast — deletes are tiny relative to data by
    * design) union of equality-delete sidecars. Rows whose key is
    * NULL never match an equality delete and pass through, matching
    * SQL `NOT IN`-free delete semantics. */
  def readMoR(spark: SparkSession, table: MorTable): DataFrame = {
    val base = readAll(spark, table.data)
    if (table.deleteFiles.isEmpty) base
    else {
      val dels = DriverParquet.readFiles(spark, table.deleteFiles)
        .select(col(table.column).as("__g_delkey")).distinct()
      base.join(broadcast(dels),
        base(table.column) === col("__g_delkey"), "left_anti")
    }
  }

  /** COMPACTION for merge-on-read: fold the accumulated equality
    * deletes into the data files — but ONLY the files whose [min, max]
    * can contain a deleted key are rewritten (the manifest prunes the
    * rewrite set exactly as it prunes reads); every other file's entry
    * carries verbatim with zero IO. Returns a plain, delete-free
    * table; the superseded originals and sidecars stay on disk for
    * the caller's retention sweep (the grace discipline readers
    * holding the old snapshot need). */
  /** Above this many distinct delete keys, the anti-filter becomes a
    * broadcast anti-join instead of an `isin` literal: a GDPR batch of
    * 10⁶ keys as an in-expression bloats the plan and codegen. */
  private val MorIsinThreshold = 1000

  def applyDeletesMoR(spark: SparkSession, table: MorTable,
      rewriteDir: String): MorTable = {
    if (table.deleteFiles.isEmpty) return table
    val delKeys = DriverParquet.readFiles(spark, table.deleteFiles)
      .select(col(table.column).as("__g_delkey"))
      // belt-and-braces vs sidecars written by older builds: a NULL
      // key deletes nothing, so dropping it here preserves readMoR
      .where(col("__g_delkey").isNotNull)
      .distinct()
    // bounded: equality-delete sidecars hold deleted KEYS (a CDC/GDPR
    // batch), not table rows
    val keys = delKeys.collect().map(_.getLong(0)).sorted
    // min/max prune by BINARY SEARCH per file (O(files · log keys)):
    // a file is affected iff some key lands inside its [min, max]
    def hasKeyIn(lo: Long, hi: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(keys, lo)
      val at = if (i >= 0) i else -i - 1
      at < keys.length && keys(at) <= hi
    }
    val (affected, untouched) = table.data.partition(f =>
      hasKeyIn(f.min, f.max))
    if (affected.isEmpty) return MorTable(table.column, table.data, Nil)
    // ONE distributed job over every affected file (the staged
    // rewrite); small key sets anti-filter as a codegen'd `isin`
    // literal, large ones as a broadcast anti-join
    // (nulls survive either way: a null key matches no equality)
    val anti: DataFrame => DataFrame =
      if (keys.length <= MorIsinThreshold)
        df => df.where(col(table.column).isNull ||
          !col(table.column).isin(keys: _*))
      else {
        val keyDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            keys.toIndexedSeq.map(org.apache.spark.sql.Row(_)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__g_delkey",
              org.apache.spark.sql.types.LongType, nullable = false))))
        df => df.join(broadcast(keyDf),
          df(table.column) === keyDf("__g_delkey"), "left_anti")
      }
    val stats = rewriteFiles(spark, affected.map(_.path), table.column,
      rewriteDir, "mor", exchange = false)(anti)
    MorTable(table.column, (untouched ++ stats).sortBy(_.path), Nil)
  }

  /** SCHEMA EVOLUTION at read time — zero rewrite. A column mapping
    * row is (logical name, physical candidates newest-first, default):
    * files written before an ADD lack the column (read as null →
    * default fills); files written before a RENAME carry the old
    * physical name (the coalesce chain resolves whichever physical
    * the file has). One merged-schema scan + a codegen'd projection:
    * evolving a 100 TB table's schema costs ZERO data IO, exactly the
    * Iceberg/Delta contract, and the manifest keeps pruning because
    * file stats are untouched. */
  def readMapped(spark: SparkSession, manifest: Seq[FileStats],
      mapping: Seq[(String, Seq[String], org.apache.spark.sql.Column)]): DataFrame = {
    require(manifest.nonEmpty, "empty manifest")
    val df = spark.read.option("mergeSchema", "true")
      .parquet(manifest.map(_.path): _*)
    val cols = mapping.map { case (logical, physicals, dflt) =>
      val present = physicals.filter(df.columns.contains).map(col)
      (present :+ dflt).reduceLeft(coalesce(_, _)).as(logical)
    }
    df.select(cols: _*)
  }

  /** The parquet files under `dir` — the ingest-batch listing an
    * [[append]] takes (O(new files), one directory list). */
  def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(dir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
  }

  /** Mergeable aggregate state over a file set: per key group,
    * (n_rows, an exact DECIMAL(18,2) running sum). Kept exact so
    * [[aggMerge]] is associative bit-for-bit — the emit layer casts
    * to DOUBLE once, at the end (the float-parity discipline). */
  def aggPartial(spark: SparkSession, files: Seq[FileStats],
      keys: Seq[String], valueCol: String): DataFrame = {
    require(files.nonEmpty, "empty file set")
    DriverParquet.readFiles(spark, files.map(_.path))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(col(valueCol).cast("decimal(18,2)")).as("agg_sum"))
  }

  /** Merge two aggregate states: full-outer on the keys, counts and
    * exact sums added (missing side contributes zero). The running
    * sum stays DECIMAL(28,2) — the type Spark's sum over
    * DECIMAL(18,2) inputs produces — so repeated merges never narrow
    * the state (a cast back to (18,2) would overflow once the table
    * outgrows 16 digits of sum; under ANSI that is a refresh-time
    * crash, without it a silent null). */
  def aggMerge(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.join(b.withColumnRenamed("n_rows", "__g_n2")
        .withColumnRenamed("agg_sum", "__g_s2"), keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        (coalesce(col("n_rows"), lit(0L)) +
          coalesce(col("__g_n2"), lit(0L))).as("n_rows"),
        (coalesce(col("agg_sum"), lit(0).cast("decimal(28,2)")) +
          coalesce(col("__g_s2"), lit(0).cast("decimal(28,2)")))
          .cast("decimal(28,2)").as("agg_sum")): _*)

  /** INCREMENTAL AGGREGATE REFRESH — materialized-view maintenance
    * over the manifest: the stored aggregate plus a partial over ONLY
    * the files the new snapshot ADDED (the f9 file-level diff), so a
    * refresh after an ingest batch reads O(new files) + the
    * key-cardinality-sized state, never the table. Append-only by
    * contract: a snapshot that REMOVED files (compaction rewrites
    * aside — those carry rows verbatim but change paths) cannot be
    * folded by addition, so removed files that are not pure
    * compaction outputs REFUSE loudly rather than double-count.
    * At 100 TB this is the Delta/Iceberg incremental-MV story: the
    * refresh cost tracks the churn, not the history. */
  def aggRefresh(spark: SparkSession, prevAgg: DataFrame,
      mOld: Seq[FileStats], mNew: Seq[FileStats], keys: Seq[String],
      valueCol: String): DataFrame = {
    val oldPaths = mOld.map(_.path).toSet
    val newPaths = mNew.map(_.path).toSet
    val removed = mOld.filterNot(f => newPaths(f.path))
    require(removed.isEmpty,
      s"aggRefresh is append-only: snapshot removed ${removed.size} " +
        "file(s); recompute or apply retractions instead")
    val added = mNew.filterNot(f => oldPaths(f.path))
    if (added.isEmpty) prevAgg
    else aggMerge(prevAgg, aggPartial(spark, added, keys, valueCol), keys)
  }

  /** Aggregate maintenance ACROSS rewrites — the retraction fold
    * [[aggRefresh]] refuses: the [[snapshotDiff]] between the two
    * snapshots (row-level I/D, computed from ONLY the churned files)
    * becomes a SIGNED delta state — an insert contributes
    * (+1, +value), a delete (−1, −value) — merged into the stored
    * aggregate by the same full-outer addition. A CoW UPDATE (old
    * image D + new image I) thus lands as the exact value
    * difference; keys whose row count returns to zero LEAVE the
    * state (the full-outer merge would otherwise keep a (0, 0.00)
    * tombstone per retired key forever). Exactness is
    * [[aggPartial]]'s discipline: every ± value passes through
    * DECIMAL(18,2) BEFORE the sum, so maintained state equals a
    * from-scratch recompute bit-for-bit — retraction in floating
    * point would drift, in decimal it cancels exactly.
    *
    * At 100 TB this is the missing half of the incremental-MV story:
    * [[aggRefresh]] covers append-only ingest at O(new files);
    * aggMaintain covers the update/delete versions at O(churned
    * files) — together a materialized aggregate survives ANY CoW
    * history without ever re-reading the table (the Flink
    * retract-stream contract, on a batch table format). */
  def aggMaintain(spark: SparkSession, prevAgg: DataFrame,
      mOld: Seq[FileStats], mNew: Seq[FileStats], keys: Seq[String],
      valueCol: String): DataFrame = {
    val oldPaths = mOld.map(_.path).toSet
    val newPaths = mNew.map(_.path).toSet
    if (mOld.forall(f => newPaths(f.path)) &&
        mNew.forall(f => oldPaths(f.path)))
      return prevAgg // no churn: zero IO, state carried
    val diff = snapshotDiff(spark, mOld, mNew)
    val sign = when(col("change_type") === "I", lit(1L)).otherwise(lit(-1L))
    val signedVal = when(col("change_type") === "I",
        col(valueCol).cast("decimal(18,2)"))
      .otherwise(-col(valueCol).cast("decimal(18,2)"))
    val delta = diff.groupBy(keys.map(col): _*)
      .agg(sum(sign).as("n_rows"), sum(signedVal).as("agg_sum"))
    aggMerge(prevAgg, delta, keys).where(col("n_rows") =!= 0L)
  }

  /** CDC between two manifest snapshots of one table: the incremental
    * changelog read. File-level diff first — a file present in both
    * snapshots carried verbatim through every copy-on-write rewrite,
    * so it provably holds no changes and is NEVER opened; only the
    * files added by the new snapshot and the files it dropped are
    * scanned. A row-level `exceptAll` each way over just those files
    * then cancels the rows a rewrite copied unchanged, leaving net
    * inserts (`change_type` = 'I') and deletes ('D'); an update
    * surfaces as its old image deleted + new image inserted — the
    * changelog contract CoW table formats expose. At scale the IO is
    * proportional to the churned files, not the table: a 100 TB table
    * with one rewritten file diffs by reading two files. */
  def snapshotDiff(spark: SparkSession, mOld: Seq[FileStats],
      mNew: Seq[FileStats]): DataFrame = {
    require(mOld.nonEmpty && mNew.nonEmpty, "empty manifest snapshot")
    val oldPaths = mOld.map(_.path).toSet
    val newPaths = mNew.map(_.path).toSet
    val removed = mOld.filterNot(f => newPaths(f.path))
    val added = mNew.filterNot(f => oldPaths(f.path))
    // schema comes from one footer; an empty side becomes a local
    // relation, NOT a limit(0) scan — the no-churn diff plans zero
    // file reads, which the plan-shape spec asserts via inputFiles
    lazy val schemaOnly = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      DriverParquet.readFiles(spark, Seq(mNew.head.path)).schema)
    def read(fs: Seq[FileStats]): DataFrame =
      if (fs.isEmpty) schemaOnly else DriverParquet.readFiles(spark, fs.map(_.path))
    val addedDf = read(added)
    val removedDf = read(removed)
    addedDf.exceptAll(removedDf).withColumn("change_type", lit("I"))
      .unionByName(
        removedDf.exceptAll(addedDf).withColumn("change_type", lit("D")))
  }

  /** COPY-ON-WRITE MERGE — `MERGE INTO target USING changes ON
    * target.column = changes.column`: matched rows take the change row
    * (UPDATE SET *), matched rows flagged in `deleteCol` drop, change
    * rows with no target match INSERT (an unmatched delete is a no-op,
    * as in SQL MERGE). The changeset carries the target schema plus
    * the boolean `deleteCol` and AT MOST ONE row per non-null key —
    * real MERGE rejects an ambiguous multi-match rather than fanning
    * out, and so does this.
    *
    * The at-scale discipline has two halves:
    *
    *  1. ROUTE, don't join: each change row resolves to the one target
    *     file whose [min, max] covers its key by a broadcast of the
    *     (driver-side, O(files)) manifest ranges — the table itself is
    *     never read to find match sites. Keys no file covers (beyond
    *     the table's range or in a gap between files) route to a NEW
    *     clustered file.
    *  2. STAGE once, rewrite slices: the routed changeset is written
    *     out ONCE, partitioned by target file, and each affected
    *     file's rewrite job reads just its own slice — O(affected)
    *     concurrent single-file jobs whose total source IO is one pass
    *     over the changeset, never O(affected) re-scans of it.
    *
    * Every file with no routed change row carries verbatim — zero IO,
    * same asymmetry as [[deleteRange]]/[[updateRange]]. Inserts routed
    * to a covering file land INSIDE that file's key range, so the
    * clustered layout (and its pruning power) survives the merge by
    * construction. Returns the post-merge manifest; superseded
    * originals stay for the caller's retention sweep. */
  def mergeKeyed(spark: SparkSession, manifest: Seq[FileStats],
      column: String, changes: DataFrame, rewriteDir: String,
      deleteCol: String, newFileRows: Long = 1L << 20): Seq[FileStats] = {
    require(manifest.nonEmpty, "empty manifest")
    val dataCols = DriverParquet.readFiles(spark, Seq(manifest.head.path)).columns
    require(changes.columns.toSet == dataCols.toSet + deleteCol,
      "changeset must carry the target schema plus the delete flag")
    // one row per non-null key (count_distinct ignores NULLs, so count
    // nulls and genuine duplicates separately and name each honestly)
    val chk = changes.agg(count(lit(1)).as("n"),
      count(col(column)).as("nonnull"),
      count_distinct(col(column)).as("keys")).head()
    val nNull = chk.getLong(0) - chk.getLong(1)
    require(nNull == 0, s"changeset has $nNull row(s) with NULL `$column`; " +
      "MERGE semantics require a non-null merge key on every row")
    val nDup = chk.getLong(1) - chk.getLong(2)
    require(nDup == 0, s"changeset has $nDup duplicate key rows on " +
      s"`$column`; MERGE semantics require one row per key")
    // route each change row to its covering file (disjoint clustered
    // ranges give one candidate; overlap from appends resolves to the
    // lowest file index deterministically via one keyed window)
    val boundsDf = spark.createDataFrame(manifest.zipWithIndex.map {
        case (f, i) => (i, f.min, f.max)
      }).toDF("_file_idx", "_lo", "_hi")
    val tagged = changes.join(broadcast(boundsDf),
        col(column) >= col("_lo") && col(column) <= col("_hi"), "left")
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(column))
          .orderBy(col("_file_idx").asc_nulls_last)))
      .where(col("_rn") === 1)
      .drop("_rn", "_lo", "_hi")
      .withColumn("_file_idx", coalesce(col("_file_idx"), lit(-1)))
    val stage = s"$rewriteDir/stage"
    tagged.write.mode(SaveMode.Overwrite)
      .partitionBy("_file_idx").parquet(stage)
    val conf = spark.sparkContext.hadoopConfiguration
    val stageFs = new Path(stage).getFileSystem(conf)
    val slices = stageFs.listStatus(new Path(stage)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_file_idx="))
      .map(_.getPath.getName.stripPrefix("_file_idx=").toInt).sorted
    val affected = slices.filter(_ >= 0)
    // ONE distributed job over every touched file (the staged
    // rewrite): every touched file's rows meet exactly their own
    // staged slice through a (file idx, key) equi-join; the exchange
    // keeps each rewritten file one output (the join scatters a
    // file's rows).
    val rewrittenStats: Seq[FileStats] =
      if (affected.isEmpty) Nil
      else {
        val mapDf = spark.createDataFrame(
          affected.map(i => (fileKey(manifest(i).path), i)))
          .toDF("__mfk", "__idx")
        val outFk = spark.createDataFrame(
          affected.map(i => (i, fileKey(manifest(i).path))))
          .toDF("__ridx", "__ofk")
        rewriteFiles(spark, affected.map(i => manifest(i).path), column,
            rewriteDir, "mrg", exchange = true) { df =>
            val t = df.join(broadcast(mapDf),
              col("__fk") === col("__mfk")).drop("__mfk", "__fk")
            val c = DriverParquet.readFiles(spark, Seq(stage))
              .where(col("_file_idx") >= 0)
            t.as("t").join(c.as("c"),
                col("t.__idx") === col("c._file_idx") &&
                  col(s"t.$column") === col(s"c.$column"), "full_outer")
              // a matched (or unmatched — routed-insert) delete drops
              .where(col(s"c.$column").isNull || !col(s"c.$deleteCol"))
              .join(broadcast(outFk), coalesce(col("t.__idx"),
                col("c._file_idx")) === col("__ridx"))
              .select((dataCols.map { cn =>
                when(col(s"c.$column").isNotNull, col(s"c.$cn"))
                  .otherwise(col(s"t.$cn")).as(cn)
              }.toSeq :+ col("__ofk").as("__fk")): _*)
        }
      }
    // keys outside every file's range: new clustered file(s); a new
    // file spanning a gap may overlap neighbors' ranges — pruning
    // keeps any intersecting file, so that costs tightness, never
    // correctness, and the next compaction restores disjointness
    val newDirs =
      if (!slices.contains(-1)) Nil
      else {
        val fresh = DriverParquet.readFiles(spark, Seq(s"$stage/_file_idx=-1"))
          .where(!col(deleteCol))
          .select(dataCols.map(col).toSeq: _*)
        val n = fresh.count()
        if (n == 0) Nil
        else {
          val nf = math.max(1L, (n + newFileRows - 1) / newFileRows).toInt
          writeLayout(fresh, s"$rewriteDir/new", column, nf)
          Seq(s"$rewriteDir/new")
        }
      }
    val freshFiles = newDirs.flatMap { d =>
      val fs = new Path(d).getFileSystem(conf)
      fs.listStatus(new Path(d)).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
    }
    val stats = (rewrittenStats ++
      statsFor(spark, freshFiles, Seq(column)).map(_(column)))
      .filter(_.rows > 0)
    val untouched = manifest.zipWithIndex
      .collect { case (f, i) if !affected.contains(i) => f }
    (untouched ++ stats).sortBy(_.path)
  }

  /** Greedy key-order bin packing of manifest entries: consecutive
    * runs of files whose rows sum to at most `targetRows` (a too-big
    * single file keeps its own bin). Packing adjacent-by-key files
    * preserves the clustered layout, so the compacted table prunes as
    * well as the original — just with far fewer files. */
  def planCompaction(manifest: Seq[FileStats],
      targetRows: Long): Seq[Seq[FileStats]] = {
    val byKey = manifest.sortBy(f => (f.min, f.path))
    val bins = scala.collection.mutable.ArrayBuffer.empty[Seq[FileStats]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[FileStats]
    var curRows = 0L
    byKey.foreach { f =>
      if (cur.nonEmpty && curRows + f.rows > targetRows) {
        bins += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty
        curRows = 0L
      }
      cur += f; curRows += f.rows
    }
    if (cur.nonEmpty) bins += cur.toSeq
    bins.toSeq
  }

  /** Small-file compaction: rewrite each planned bin as ONE file
    * under `bin_<i>/`, re-sorted on the cluster column, in ONE
    * distributed job (the OPTIMIZE shape: [[rewriteStaged]] binned,
    * with a hash exchange on the bin id). */
  def compact(spark: SparkSession, manifest: Seq[FileStats], outDir: String,
      sortCol: String, targetRows: Long): Unit = {
    // clear the destination first: per-bin overwrite would leave stale
    // bins behind whenever the new plan has fewer of them
    val out = new Path(outDir)
    out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
    val bins = planCompaction(manifest, targetRows).map(_.map(_.path))
    if (bins.isEmpty) return
    val src = DriverParquet.readFiles(spark, bins.flatten.sorted)
    rewriteStaged(src, bins, binned = true, levels = 1, src.columns.toSeq,
      sortCol, ids = None, exchange = true, s"$outDir/_cmp", outDir,
      statCol = None)(identity)(i => (f"bin_$i%05d", ""))
  }

  /** Read a compacted table back (bins are subdirectories). */
  def readCompacted(spark: SparkSession, outDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(outDir)

  // ---- partitioned catalogs -----------------------------------------
  //
  // A continuously-ingesting table is laid out partition-first (one
  // directory per ingest day/hour); its metadata must be too. Keying
  // manifests by partition means an ingest batch touches ONE
  // partition's entries (O(new files) footers, zero rewrite of the
  // others), retention drops a partition by deleting a key, and a
  // query prunes twice from the same structure — whole partitions
  // first (zero per-file work for out-of-range days), then file ranges
  // within the survivors. This is the Iceberg manifest-list /
  // per-partition-manifest split, re-expressed as a driver-side value.

  /** Manifest catalog for a partitioned layout: per-file stats for one
    * clustering `column`, keyed by partition name (directory name,
    * e.g. "day=2024-01-07"). */
  final case class PartitionedManifest(column: String,
      partitions: Map[String, Seq[FileStats]])

  /** Write `df` partitioned by `partCol`'s distinct values (directory
    * per value), each partition range-clustered on `sortCol` — the
    * layout a continuously-ingesting table converges to, built in one
    * pass: one dynamic-partition write, files sorted within so footer
    * stats stay tight on BOTH the partition and the cluster key. */
  def writePartitionedLayout(df: DataFrame, root: String, partCol: String,
      sortCol: String, numFiles: Int): Unit =
    writePartitionedLayout(df, root,
      partCol.split(',').toSeq.map(_.trim), sortCol, numFiles)

  /** Multi-column form — the (date, region)-shaped Hive-nested layout
    * real lakehouse tables converge to: one directory LEVEL per
    * partition column (`c1=a/c2=b/…`), each leaf range-clustered on
    * `sortCol`. Single-column callers go through the overload above. */
  def writePartitionedLayout(df: DataFrame, root: String,
      partCols: Seq[String], sortCol: String, numFiles: Int): Unit = {
    require(partCols.nonEmpty && partCols.forall(_.nonEmpty),
      s"empty partition column list: $partCols")
    df.repartitionByRange(numFiles,
        (partCols.map(col) :+ col(sortCol)): _*)
      .sortWithinPartitions((partCols :+ sortCol).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*)
      .parquet(root)
  }

  /** Leaf partition directories of a Hive-nested layout, as
    * (relative `c1=a/c2=b` key, parquet file statuses) — the shared
    * walk behind [[buildPartitioned]] and [[adoptStaged]]. Committer
    * internals (`_temporary`, `_SUCCESS`) skip at every level; a
    * `_`-prefixed `k=v` dir (a staged `__fk=`/`__bin=` key) is a
    * partition, Spark's own listing rule. */
  private[graft] def listLeafPartitions(
      fs: org.apache.hadoop.fs.FileSystem, root: Path)
      : Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])] = {
    def walk(dir: Path, rel: String)
        : Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])] = {
      val entries = fs.listStatus(dir).toSeq
      val subDirs = entries.filter(e => e.isDirectory && {
        val n = e.getPath.getName
        !n.startsWith("_") || n.contains("=")
      })
      val files = entries.filter(e =>
        e.isFile && e.getPath.getName.endsWith(".parquet"))
      val here = if (files.nonEmpty && rel.nonEmpty) Seq(rel -> files) else Nil
      here ++ subDirs.flatMap(d => walk(d.getPath,
        if (rel.isEmpty) d.getPath.getName else s"$rel/${d.getPath.getName}"))
    }
    walk(root, "")
  }

  /** Catalog a partitioned layout: list `root`'s partition directories,
    * footer-stat every partition's files in ONE distributed job (the
    * job is over files, not partitions, so a skewed layout — one huge
    * day — still parallelizes). */
  def buildPartitioned(spark: SparkSession, root: String,
      column: String): PartitionedManifest = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    // Hive-nested walk: one directory level per partition column, so a
    // multi-column layout catalogs with `c1=a/c2=b` keys and a
    // single-column one keeps its flat `c1=a` keys — same structure
    val files = listLeafPartitions(fs, new Path(root)).flatMap {
      case (rel, sts) => sts.map(st => rel -> st.getPath.toString)
    }
    val stats = statsFor(spark, files.map(_._2), Seq(column)).map(_(column))
    val byPart = files.map(_._1).zip(stats)
      .groupBy(_._1).map { case (part, fs_) =>
        part -> fs_.map(_._2).sortBy(_.path)
      }
    PartitionedManifest(column, byPart)
  }

  /** Ingest-batch append: stat only `newFiles` and merge them into one
    * partition's entry — every other partition's metadata is untouched
    * (and at catalog scale, never even deserialized on a real
    * manifest-file encoding of this structure). */
  def appendPartition(pm: PartitionedManifest, spark: SparkSession,
      partition: String, newFiles: Seq[String]): PartitionedManifest = {
    val cur = pm.partitions.getOrElse(partition, Nil)
    pm.copy(partitions = pm.partitions.updated(partition,
      append(cur, spark, newFiles, pm.column)))
  }

  /** PARTITION-SPEC EVOLUTION read — the Iceberg contract: a table's
    * partitioning can change over its life (early files by
    * event_type, later files by day, …) WITHOUT rewriting old data;
    * each file keeps the spec it was written under, and a query
    * prunes every epoch by whatever ITS spec supports. `epochs` is
    * one catalog per spec; `partFilters` maps column → kept values —
    * an epoch partitioned on that column converts it to directory
    * pruning, every other epoch falls back to footer-stat range
    * pruning plus the residual filter (pruning loses nothing, the
    * filter re-applies everywhere a column exists). Filter columns
    * must be recoverable on every epoch (directory-derived or stored
    * in the data), which `cols` pins: the unioned schema is the
    * business column set, independent of which spec each file used.
    */
  def readPrunedEvolved(spark: SparkSession,
      epochs: Seq[PartitionedManifest], partFilters: Map[String, Seq[String]],
      lo: Long, hi: Long, cols: Seq[String]): DataFrame = {
    require(epochs.nonEmpty, "readPrunedEvolved: no epochs")
    epochs.map { pm =>
      val pcol = pm.partitions.keys.headOption
        .filter(_.contains('=')).map(_.substring(0,
          pm.partitions.keys.head.indexOf('=')))
      // logical filter values -> on-disk directory keys: the layout
      // writer Hive-escapes ':', '/', '%', '=' … in leaf names, so the
      // keep-list must be built in the SAME (escaped) domain
      val keep = pcol.flatMap(c => partFilters.get(c)
        .map(vs => vs.map(v =>
          s"$c=${ExternalCatalogUtils.escapePathName(v)}")))
      val base = readPrunedPartitioned(spark, pm, keep, lo, hi)
      partFilters.foldLeft(base) { case (d, (c, vs)) =>
        require(d.columns.contains(c),
          s"partition filter column $c unrecoverable under spec " +
            s"${pcol.getOrElse("?")} — widen cols or store the column")
        d.where(col(c).cast("string").isin(vs: _*))
      }.select(cols.map(col): _*)
    }.reduce(_ unionByName _)
  }

  /** Adopt a STAGED batch layout into the table tree: every partition
    * file under `batchRoot` is RENAMED into `tableRoot`'s matching
    * partition directory (data written once, adopted by move — the
    * Iceberg `add_files` contract; no copy, no rewrite) and the
    * result is `pm` with the moved files appended, footer-statted at
    * their final paths. Refuses to clobber an existing destination —
    * a name collision means two writers staged the same file name,
    * never something to resolve silently. */
  def adoptBatch(spark: SparkSession, pm: PartitionedManifest,
      tableRoot: String, batchRoot: String): PartitionedManifest =
    foldAdded(pm, adoptBatchAdded(spark, tableRoot, batchRoot, pm.column))

  /** Union per-partition file stats into a manifest (pure — the
    * re-foldable half of [[adoptBatch]], what an optimistic commit
    * retry re-applies onto a freshly-resolved base). */
  def foldAdded(pm: PartitionedManifest,
      added: Map[String, Seq[FileStats]]): PartitionedManifest =
    added.foldLeft(pm) { case (acc, (part, stats)) =>
      acc.copy(partitions = acc.partitions.updated(part,
        (acc.partitions.getOrElse(part, Nil) ++ stats).sortBy(_.path)))
    }

  /** Move a staged batch's partition dirs under `tableRoot` and
    * footer-stat JUST the moved files — the side-effecting half of
    * [[adoptBatch]], separated so a commit retry can re-fold the
    * already-moved stats without touching storage again. Committer
    * internals (`_temporary` of an in-flight job) stay in `batchRoot`. */
  def adoptBatchAdded(spark: SparkSession, tableRoot: String,
      batchRoot: String, column: String): Map[String, Seq[FileStats]] =
    adoptStaged(spark, batchRoot, tableRoot, Some(column),
      keepStaging = true)(part => (part, ""))

  /** Retention/compaction expiry: drop file entries from one partition;
    * a partition with no files left leaves the catalog entirely. */
  def expirePartition(pm: PartitionedManifest, partition: String,
      removed: Seq[String]): PartitionedManifest = {
    val left = expire(pm.partitions.getOrElse(partition, Nil), removed)
    pm.copy(partitions =
      if (left.isEmpty) pm.partitions - partition
      else pm.partitions.updated(partition, left))
  }

  /** Two-level pruned read in ONE scan: keep only the named partitions
    * (None = all), range-prune files within them, open just the
    * survivors, and re-apply both predicates (pruning is necessary-
    * not-sufficient at both levels, same as [[readPruned]]). The
    * partition filter re-derives from the directory-encoded column so
    * a loose catalog can never widen the result. */
  def readPrunedPartitioned(spark: SparkSession, pm: PartitionedManifest,
      keepPartitions: Option[Seq[String]], lo: Long, hi: Long): DataFrame = {
    require(pm.partitions.nonEmpty, "empty catalog")
    val kept = keepPartitions match {
      case Some(ps) => pm.partitions.view.filterKeys(ps.toSet).toMap
      case None => pm.partitions
    }
    val survivors = kept.values.toSeq.flatMap(prune(_, lo, hi)).map(_.path)
    val anyFile = pm.partitions.valuesIterator.flatten.next().path
    readSurvivors(spark, survivors, anyFile, pm.column, keepPartitions,
      lo, hi)
  }

  /** Shared tail of the pruned read paths: open the surviving files
    * (grouped per layout root — a manifest may span per-batch
    * adoption dirs and per-version b<N> dirs, each its own basePath)
    * and re-apply BOTH predicates — pruning is necessary-not-
    * sufficient, a loose catalog can only lose files (caught by the
    * residual range filter), never widen the result. */
  private def readSurvivors(spark: SparkSession, survivors: Seq[String],
      anyFile: String, column: String,
      keepPartitions: Option[Seq[String]], lo: Long, hi: Long): DataFrame = {
    def readGrouped(files: Seq[String]): DataFrame =
      files.groupBy(basePathOf).toSeq.sortBy(_._1)
        .map { case (base, group) =>
          spark.read.option("basePath", base).parquet(group.sorted: _*)
        }
        .reduce(_.unionByName(_))
    val src =
      if (survivors.nonEmpty) readGrouped(survivors)
      else readGrouped(Seq(anyFile)).where(lit(false))
    val ranged = src.filter(col(column) >= lo && col(column) <= hi)
    keepPartitions match {
      // partition dirs encode "name=value"; re-filter on the value.
      // Names without '=' have no column to re-derive — file-list
      // pruning already applied.
      case Some(ps) if ps.nonEmpty && ps.forall(_.contains('=')) =>
        // keys are on-disk (Hive-escaped); the data column the filter
        // compares against carries LOGICAL values — unescape to match
        val vals = ps.map(p => ExternalCatalogUtils.unescapePathName(
          p.substring(p.indexOf('=') + 1)))
        val pcol = ps.head.substring(0, ps.head.indexOf('='))
        ranged.filter(col(pcol).cast("string").isin(vals: _*))
      case _ => ranged
    }
  }

  /** DISTRIBUTED PLANNING (r11): the prune decided by a Spark job
    * over the PERSISTED catalog side table (savePartitioned's one-
    * row-per-file parquet) — partition keep-list and footer-range
    * overlap as pushed filters on the catalog scan — returning ONLY
    * the surviving paths. Driver memory is O(survivors) (which any
    * Spark scan materializes as its file list anyway), never
    * O(manifest): past ~10⁶-10⁷ files the in-memory
    * PartitionedManifest walk stops being free, and planning itself
    * must become a job over metadata — the Iceberg metadata-table /
    * Delta log-replay-as-job shape. */
  def plannedSurvivors(spark: SparkSession, versionDir: String,
      keepPartitions: Option[Seq[String]], lo: Long, hi: Long)
      : Seq[String] = {
    val cat = DriverParquet.readFiles(spark, Seq(versionDir))
    val kept = keepPartitions match {
      case Some(ps) => cat.where(col("partition").isin(ps: _*))
      case None => cat
    }
    kept.where(col("max") >= lo && col("min") <= hi)
      .select("path").collect().map(_.getString(0)).toSeq.sorted
  }

  /** Threshold-dispatched pruned read over the LATEST committed
    * version: a small catalog plans on the driver (zero job-launch
    * latency — the [[readPrunedPartitioned]] path), a large one plans
    * as a Spark job via [[plannedSurvivors]] without ever
    * materializing the manifest in driver memory. Both paths make
    * IDENTICAL pruning decisions (spec-pinned) — the threshold trades
    * latency, never answers. The catalog row count itself comes from
    * parquet footer metadata (a count() over the side table reads no
    * row data). */
  def readPrunedAuto(spark: SparkSession, root: String,
      keepPartitions: Option[Seq[String]], lo: Long, hi: Long,
      planThreshold: Long = 1000000L): DataFrame = {
    val v = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed catalog under $root"))
    val vdir = s"$root/v$v"
    // footer-metadata count on the driver: the dispatch must not pay a
    // Spark job just to decide whether planning needs one
    val nFiles = catalogRowCount(spark, vdir)
    if (nFiles <= planThreshold)
      readPrunedPartitioned(spark, loadVersion(spark, root, v),
        keepPartitions, lo, hi)
    else {
      val column = readColumnSidecar(spark, s"$vdir/_column")
      val survivors = plannedSurvivors(spark, vdir, keepPartitions, lo, hi)
      val anyFile = DriverParquet.readFiles(spark, Seq(vdir)).select("path")
        .limit(1).head.getString(0)
      readSurvivors(spark, survivors, anyFile, column, keepPartitions,
        lo, hi)
    }
  }

  /** The layout root two levels above a partitioned data file
    * (root/part=v/file.parquet), so partition columns survive the
    * file-list read. */
  private def basePathOf(file: String): String =
    new Path(file).getParent.getParent.toString

  /** Persist a partitioned catalog as a parquet SIDE TABLE (one row
    * per data file) — the durable form a real deployment reads at
    * planning time instead of re-statting footers: O(files) rows, so
    * the catalog for a 10^5-file table is a single small file, and
    * loading it is one bounded read. */
  def savePartitioned(spark: SparkSession, pm: PartitionedManifest,
      path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    // Overwrite semantics of the old Spark write, without the two
    // Spark jobs: the catalog is O(files) DRIVER-SIDE rows (a 100 TB
    // table at 1 GB/file is 10^5 rows — a side table), so launching a
    // distributed write for it cost two job round-trips per COMMIT and
    // bought nothing. Same on-disk form: one standard parquet file the
    // distributed planning path (plannedSurvivors) scans unchanged.
    fs.delete(dir, true)
    fs.mkdirs(dir)
    val w = catalogWriter(conf, new Path(dir, "part-00000.parquet"),
      CatalogSchema)
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      CatalogSchema)
    try pm.partitions.toSeq.sortBy(_._1).foreach { case (part, files) =>
      require(part != null, "savePartitioned: null partition key " +
        "(catalog fields are required; map missing partitions to a " +
        "sentinel value before committing)")
      files.foreach { f =>
        require(f.path != null,
          s"savePartitioned: null file path under partition '$part'")
        val g = gf.newGroup()
        g.add("partition", part); g.add("path", f.path)
        g.add("rows", f.rows); g.add("min", f.min); g.add("max", f.max)
        g.add("nulls", f.nulls)
        w.write(g)
      }
    } finally w.close()
    // the clustering column rides in a tiny metadata sidecar so a
    // loaded catalog cannot silently prune on the wrong column
    val cdir = new Path(dir, "_column")
    fs.mkdirs(cdir)
    val cw = catalogWriter(conf, new Path(cdir, "part-00000.parquet"),
      ColumnSidecarSchema)
    val cgf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      ColumnSidecarSchema)
    try cw.write(cgf.newGroup().append("column", pm.column))
    finally cw.close()
  }

  /** Catalog side-table schema — mirrors exactly what the old Spark
    * write produced (same names/types; readers are interchangeable). */
  private val CatalogSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message catalog {
        |  required binary partition (UTF8);
        |  required binary path (UTF8);
        |  required int64 rows;
        |  required int64 min;
        |  required int64 max;
        |  required int64 nulls;
        |}""".stripMargin)
  private val ColumnSidecarSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message column_sidecar { required binary column (UTF8); }")

  private def catalogWriter(conf: Configuration, file: Path,
      schema: org.apache.parquet.schema.MessageType) =
    org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, conf))
      .withConf(conf)
      .withType(schema)
      .build()

  /** The data files of a catalog directory (non-recursive — the
    * `_column` sidecar is a subdirectory and skips naturally). */
  private def catalogParquetFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)

  /** Driver-side read of every row of a catalog parquet dir (works on
    * both the old Spark-written files and [[savePartitioned]]'s). */
  private def readCatalogGroups(conf: Configuration, fs: FileSystem,
      dir: Path)(each: org.apache.parquet.example.data.Group => Unit)
      : Unit =
    catalogParquetFiles(fs, dir).foreach { f =>
      val r = DriverParquet.groupReader(conf, f)
      try {
        var g = r.read()
        while (g != null) { each(g); g = r.read() }
      } finally r.close()
    }

  /** The `_column` sidecar value, read on the driver. */
  private[sources] def readColumnSidecar(spark: SparkSession,
      path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    var col0: String = null
    readCatalogGroups(conf, dir.getFileSystem(conf), dir) { g =>
      if (col0 == null) col0 = g.getString("column", 0)
    }
    require(col0 != null, s"empty _column sidecar under $path")
    col0
  }

  /** Catalog row count from footer metadata only — no row reads, no
    * Spark job (the count a pruned-read dispatch threshold needs). */
  private[sources] def catalogRowCount(spark: SparkSession,
      path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    catalogParquetFiles(dir.getFileSystem(conf), dir).map { f =>
      val r = DriverParquet.openFooter(conf, f)
      try r.getRecordCount finally r.close()
    }.sum
  }

  // ---- snapshot versioning (time travel) ----------------------------
  //
  // A catalog that changes over time (ingest appends, retention
  // expiry, compaction, CoW DML) needs SNAPSHOTS: each commit writes a
  // complete catalog under `root/v<N>/` and then creates ONE atomic
  // `commit-<N>` marker — the TextIndex/VectorIndex generation
  // discipline applied to table metadata. Readers resolve the max
  // committed version (or any older one: time travel); a crash
  // between payload and marker leaves an invisible orphan the next
  // commit overwrites. Old versions stay until [[expireVersions]] —
  // they are what time travel reads, and what in-flight readers hold.

  private val VersionMarker = "commit-(\\d+)".r

  /** Thrown when a commit loses the one-marker race to a concurrent
    * writer. Appends may catch it, re-resolve their base, and retry
    * ([[commitVersionRetry]] — append-append commutes); operations
    * that REMOVE files (CoW DML, compaction, overwrite) must NOT
    * retry blindly and let it propagate loudly. */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  // In-process commits serialize on this lock: two uncoordinated
  // writers in one JVM (parallel streams, threads) would otherwise
  // interleave inside the stage-then-mark window — the loser's
  // crashed-attempt cleanup could delete the winner's just-staged
  // manifest before its marker lands. CROSS-process writers keep the
  // loud-loser marker contract; a multi-driver deployment needs a
  // putIfAbsent catalog primitive for full optimistic concurrency
  // (the same boundary Delta-on-S3 solves with an external LogStore
  // and Iceberg with a metastore lock).
  private val commitLock = new Object

  /** Commit `pm` as the next catalog version; returns its number.
    * Throws [[CommitConflictException]] when a concurrent writer took
    * the number first. `expected` makes the commit CONDITIONAL (the
    * optimistic-concurrency primitive): when the next version is no
    * longer the one the caller derived its manifest FROM+1, the
    * conflict throws BEFORE anything is staged — committing anyway
    * would publish a manifest based on a stale head, silently
    * dropping every file the concurrent version added (checking
    * after the marker lands, as a bare `require` would, leaves the
    * clobbering version visible to readers). */
  def commitVersion(spark: SparkSession, pm: PartitionedManifest,
      root: String, meta: Map[String, String] = Map.empty,
      expected: Option[Long] = None): Long =
    commitLock.synchronized {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val next = latestVersion(spark, root).map(_ + 1).getOrElse(0L)
    expected.foreach { e =>
      if (e != next) throw new CommitConflictException(
        s"commitVersion: expected to commit v$e but the head advanced " +
          s"to v${next - 1} concurrently under $root — re-resolve and retry")
    }
    fs.delete(new Path(s"$root/v$next"), true) // crashed-attempt orphan
    savePartitioned(spark, pm, s"$root/v$next")
    // version metadata (e.g. the streaming sink's batch id) rides IN
    // the version directory, so it exists before — and only becomes
    // visible with — the atomic commit marker. The SCHEMA keys inherit
    // from the previous version unless this commit overrides them
    // (Iceberg's every-snapshot-references-its-schema discipline):
    // a version is self-describing, so retention expiring the ALTER
    // that committed an evolution can never silently revert reads to
    // the sampled file schema, and `maxFieldId` stays monotone even
    // across expired epochs (dropped ids must never be re-minted while
    // old files could still carry their bytes).
    val inherited =
      if (next == 0L) Map.empty[String, String]
      else versionMeta(spark, root, next - 1)
        .view.filterKeys(k => k == "schema" || k == "maxFieldId" ||
          k == "constraints").toMap
    val fullMeta = inherited ++ meta
    if (fullMeta.nonEmpty) {
      val out = fs.create(new Path(s"$root/v$next", "_meta"), true)
      try out.write(fullMeta.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString("\n")
        .getBytes("UTF-8"))
      finally out.close()
    }
    if (!fs.createNewFile(new Path(root, s"commit-$next")))
      throw new CommitConflictException(
        s"commitVersion: version $next was committed concurrently under $root")
    next
  }

  /** Metadata recorded with a committed version (empty when none). */
  def versionMeta(spark: SparkSession, root: String,
      version: Long): Map[String, String] = {
    val p = new Path(s"$root/v$version", "_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.contains('=')).map { line =>
          val i = line.indexOf('=')
          line.substring(0, i) -> line.substring(i + 1)
        }.toMap
      finally in.close()
    }
  }

  /** The catalog-tracked DATA schema in force at `version` (or at the
    * head): the newest retained version at-or-before it whose `_meta`
    * recorded a `schema` — the Iceberg discipline (schema lives in the
    * CATALOG, not the files), committed by `ALTER TABLE … ADD COLUMN`.
    * None when the table predates schema tracking (callers fall back
    * to the sampled file schema, exactly as before). Time travel is
    * epoch-correct by construction: a version pinned before the
    * evolution resolves the pre-evolution schema. */
  def schemaAt(spark: SparkSession, root: String,
      version: Option[Long] = None)
      : Option[org.apache.spark.sql.types.StructType] =
    versionHistory(spark, root).map(_._1)
      .filter(v => version.forall(v <= _))
      .sorted.reverseIterator
      .map(v => versionMeta(spark, root, v).get("schema"))
      .collectFirst { case Some(json) =>
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType] }

  // ---- WRITE-TIME CHECK CONSTRAINTS (the Delta contract) -----------
  //
  // Declared by `ALTER TABLE t ADD CONSTRAINT n CHECK (expr)` (NOT
  // NULL is sugar for `c IS NOT NULL`), stored in version `_meta`
  // under `constraints` and INHERITED forward by every commit — a
  // version is self-describing about the invariants its rows satisfy.
  // Enforced at every batch-landing seam (INSERT adoption, writer
  // append/overwrite, UPDATE/MERGE commit, streaming sink) by ONE
  // aggregate scan of the BATCH (never the table): a violating batch
  // refuses atomically — the files are invisible until the commit the
  // refusal prevents. SQL CHECK semantics: NULL passes, only FALSE
  // violates.

  /** Newline-free `_meta` encoding: `name:urlencoded-expr;…`. */
  private[graft] def encodeConstraints(
      cs: Seq[(String, String)]): String =
    cs.map { case (n, e) =>
      n + ":" + java.net.URLEncoder.encode(e, "UTF-8") }.mkString(";")

  private[graft] def decodeConstraints(s: String): Seq[(String, String)] =
    if (s.trim.isEmpty) Nil
    else s.split(';').toSeq.filter(_.nonEmpty).map { p =>
      val i = p.indexOf(':')
      (p.substring(0, i),
        java.net.URLDecoder.decode(p.substring(i + 1), "UTF-8"))
    }

  /** CHECK constraints in force at the head (name, expression SQL). */
  def constraintsAt(spark: SparkSession, root: String)
      : Seq[(String, String)] =
    latestVersion(spark, root).toSeq.flatMap(v =>
      versionMeta(spark, root, v).get("constraints")
        .map(decodeConstraints).getOrElse(Nil))

  /** Refuse `batch` if any row violates a declared constraint — ONE
    * aggregate job over the batch computing every constraint's
    * violation count at once. `cleanup` runs before the throw so the
    * refused files never land (atomic: nothing was committed yet). */
  def enforceConstraints(spark: SparkSession, root: String,
      batch0: => DataFrame, operation: String,
      cleanup: () => Unit = () => ()): Unit = {
    val declared = constraintsAt(spark, root)
    // `batch0` stays by-name: constructing a parquet DataFrame costs a
    // schema-inference job, which the no-constraints fast path (the
    // overwhelmingly common case) must not pay
    if (declared.isEmpty) return
    val batch = batch0
    // a constraint referencing a column this batch doesn't carry
    // (pre-evolution epochs in a feed) cannot be checked here —
    // resolution would fail loudly; restrict to resolvable ones
    val cs = declared.filter { case (_, e) =>
      try { batch.select(expr(e)); true }
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    }
    if (cs.isEmpty) return
    val row = batch.select(cs.map { case (n, e) =>
      sum(when(not(coalesce(expr(e), lit(true))), 1L)
        .otherwise(0L)).as(n) }: _*).head()
    val bad = cs.zipWithIndex.flatMap { case ((n, e), i) =>
      val v = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (v > 0) Some(s"`$n` CHECK ($e): $v row(s)") else None
    }
    if (bad.nonEmpty) {
      cleanup()
      throw new IllegalStateException(
        s"graft $operation refused: the batch violates " +
          s"${bad.size} constraint(s) — ${bad.mkString("; ")}. " +
          "Nothing was committed.")
    }
  }

  /** High-water field id at the head: the committed `maxFieldId`
    * marker (inherited forward by every commit), falling back to the
    * max id in the current schema for pre-marker catalogs. Fresh ids
    * MUST mint above this — never above the current schema's max
    * alone, or a dropped column's id could be reused while old live
    * files still carry its bytes. */
  def maxFieldIdAt(spark: SparkSession, root: String): Long = {
    val marked = versionHistory(spark, root).map(_._1).lastOption
      .flatMap(v => versionMeta(spark, root, v).get("maxFieldId"))
      .map(_.toLong).getOrElse(0L)
    math.max(marked, schemaAt(spark, root).map(schemaMaxFieldId)
      .getOrElse(0L))
  }

  /** SHALLOW CLONE — the Delta/Iceberg zero-copy fork: the clone's v0
    * manifest references the SOURCE's data files verbatim (no data IO
    * at all), under a fresh catalog root with its own independent
    * version chain. Subsequent writes to the clone (appends, CoW DML)
    * land under the CLONE's data root; untouched files keep pointing
    * at the source. The documented trades are the same as Delta's:
    * the clone's VACUUM sweeps only its own data root (it can never
    * delete source files), while a VACUUM on the SOURCE can reclaim
    * files the clone still references — retention on a cloned source
    * is the operator's contract. Driver work is O(files) manifest
    * entries. */
  def cloneAt(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Long] = None): Long = {
    val pm = version match {
      case Some(v) => loadVersion(spark, srcRoot, v)
      case None => loadLatest(spark, srcRoot)
    }
    require(latestVersion(spark, dstRoot).isEmpty,
      s"clone target $dstRoot already has a committed catalog")
    // the clone's v0 must CARRY the source's schema epoch (and its
    // field-id high-water mark): v0 has no previous version to inherit
    // from, and falling back to a sampled file schema would forget the
    // source's evolutions (and its field ids — reads would refuse)
    val schemaMeta = schemaAt(spark, srcRoot, version).map(s =>
      Map("schema" -> s.json)).getOrElse(Map.empty) ++
      (if (maxFieldIdAt(spark, srcRoot) > 0)
        Map("maxFieldId" -> maxFieldIdAt(spark, srcRoot).toString)
      else Map.empty)
    val v = commitVersion(spark, pm, dstRoot,
      meta = Map("operation" -> "clone", "clonedFrom" -> srcRoot,
        "clonedVersion" -> version.map(_.toString).getOrElse("latest"))
        ++ schemaMeta)
    // record the clone on the SOURCE (sidecar, deterministic name) so
    // a VACUUM on the source can refuse/warn instead of silently
    // reclaiming files the clone still references
    val fs = new Path(srcRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val marker = cloneMarkerPath(srcRoot, dstRoot)
    val out = fs.create(marker, true)
    try out.write(dstRoot.getBytes("UTF-8")) finally out.close()
    v
  }

  /** Deterministic per-clone marker under the source's `_clones/` dir
    * (md5 of the clone root — recomputable for back-out). */
  private[graft] def cloneMarkerPath(srcRoot: String,
      dstRoot: String): Path = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dstRoot.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    new Path(s"$srcRoot/_clones", s"c-$h")
  }

  /** Clone roots recorded against `srcRoot` (empty when none). */
  def recordedClones(spark: SparkSession, srcRoot: String): Seq[String] = {
    val dir = new Path(s"$srcRoot/_clones")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile).map { st =>
      val in = fs.open(st.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }.sorted
  }

  /** OPTIMISTIC-RETRY commit for APPEND-shaped writes: the manifest
    * content is re-derived from the freshest base by `pmOf` on every
    * attempt, so losing the number race just means re-resolving and
    * trying the next number (append-append commutes — both sides only
    * ADD files, so any interleaving unions to the same table). Bounded
    * attempts, then the conflict propagates loudly. */
  def commitVersionRetry(spark: SparkSession, root: String,
      pmOf: () => PartitionedManifest, maxAttempts: Int = 8): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return commitVersion(spark, pmOf(), root)
      catch {
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
      }
    }
    -1L // unreachable
  }

  /** Max committed version at `root`, None when nothing committed. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case VersionMarker(n) => n.toLong }.maxOption
  }

  /** TIME TRAVEL: load a specific committed version. */
  def loadVersion(spark: SparkSession, root: String,
      version: Long): PartitionedManifest = {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, s"commit-$version")),
      s"version $version was never committed under $root")
    loadPartitioned(spark, s"$root/v$version")
  }

  /** The latest committed catalog. */
  def loadLatest(spark: SparkSession, root: String): PartitionedManifest = {
    val v = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed catalog under $root"))
    loadVersion(spark, root, v)
  }

  /** Committed versions with their commit timestamps (the atomic
    * marker's filesystem mtime — the same convention Delta's
    * TIMESTAMP AS OF resolves against), ascending by version. */
  def versionHistory(spark: SparkSession, root: String): Seq[(Long, Long)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .flatMap(st => st.getPath.getName match {
        case VersionMarker(n) => Some(n.toLong -> st.getModificationTime)
        case _ => None
      })
      .sortBy(_._1)
  }

  /** TIME TRAVEL `AS OF` a timestamp: the newest version committed
    * at-or-before `tsMillis` — the `TIMESTAMP AS OF` resolution rule
    * (version time travel is [[loadVersion]]). Loud when the
    * timestamp predates every commit: silently serving the oldest
    * snapshot would claim history that never existed. Retention
    * applies as everywhere — travel reaches only versions
    * [[expireVersions]] kept. */
  def loadAsOf(spark: SparkSession, root: String,
      tsMillis: Long): PartitionedManifest = {
    val h = versionHistory(spark, root)
    require(h.nonEmpty, s"no committed catalog under $root")
    val v = h.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(
      sys.error(s"timestamp $tsMillis predates the first commit " +
        s"(${h.head._2}) under $root"))
    loadVersion(spark, root, v)
  }

  /** ORPHAN-FILE GC — the Iceberg `remove_orphan_files` contract:
    * delete every parquet data file under `dataRoots` that NO
    * committed-and-retained catalog version references. Run it after
    * [[expireVersions]]: expiry drops the catalogs, this reclaims the
    * bytes those catalogs were the last to reference. Referenced-set
    * first, deletion second — a file referenced by ANY retained
    * version survives, so in-flight readers of retained versions are
    * never broken; refuses to run with zero committed versions
    * (nothing referenced would mean delete everything — always a
    * caller bug).
    *
    * O(retained versions × files) driver-side set work against a
    * recursive listing of `dataRoots` — both are metadata-scale, no
    * data IO. @return the deleted paths (the audit trail).
    */
  def gcOrphans(spark: SparkSession, catalogRoot: String,
      dataRoots: Seq[String]): Seq[String] = {
    val fs = new Path(catalogRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val versions =
      if (!fs.exists(new Path(catalogRoot))) Nil
      else fs.listStatus(new Path(catalogRoot)).toSeq
        .map(_.getPath.getName)
        .collect { case VersionMarker(n) => n.toLong }
    require(versions.nonEmpty,
      s"gcOrphans: no committed versions under $catalogRoot — refusing " +
        "(an empty reference set would orphan every data file)")
    val referenced = versions.flatMap { v =>
      loadVersion(spark, catalogRoot, v).partitions.values.flatten
        .map(f => new Path(f.path).toUri.getPath)
    }.toSet
    def listParquet(p: Path): Seq[Path] = {
      val st = fs.listStatus(p).toSeq
      st.filter(_.isDirectory).flatMap(d => listParquet(d.getPath)) ++
        st.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath)
    }
    val orphans = dataRoots.map(new Path(_)).filter(fs.exists)
      .flatMap(listParquet)
      .filterNot(p => referenced.contains(p.toUri.getPath))
    orphans.foreach(p => fs.delete(p, false))
    // staging instances (SQL front-door INSERT INTO) are by contract
    // never referenced by a committed version: anything still there is
    // either an armed-but-idle sentinel dir or the residue of a failed
    // insert — both garbage under this call's no-concurrent-writers
    // contract. Swept whole, not reported (no committed data involved).
    val staging = new Path(catalogRoot, StagingRootName)
    if (fs.exists(staging))
      fs.listStatus(staging).foreach(s => fs.delete(s.getPath, true))
    orphans.map(_.toString)
  }

  /** ROLLBACK: re-commit an older version's catalog as the NEWEST
    * version. History is preserved — a rollback is a new commit whose
    * CONTENT is the old snapshot (the Iceberg rollback contract), not
    * a deletion of the versions in between, so readers pinned to the
    * rolled-back-over versions keep working and the rollback itself is
    * auditable (and itself rollback-able) in the version history. */
  def rollbackTo(spark: SparkSession, root: String, version: Long): Long =
    commitVersion(spark, loadVersion(spark, root, version), root,
      meta = Map("operation" -> "restore",
        "restoredVersion" -> version.toString))

  /** Retention: drop committed versions older than `keepLast` (never
    * the latest, never a version a branch or tag still points at —
    * the Iceberg contract: refs PIN their snapshots, so expiry can
    * never break a named ref). Time travel reaches only what
    * retention keeps. */
  def expireVersions(spark: SparkSession, root: String,
      keepLast: Int): Unit = {
    require(keepLast >= 1)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val pinned = listRefs(spark, root).map(_._3).toSet
    val versions = fs.listStatus(new Path(root)).toSeq
      .map(_.getPath.getName)
      .collect { case VersionMarker(n) => n.toLong }.sorted
    versions.dropRight(keepLast).filterNot(pinned).foreach { v =>
      fs.delete(new Path(root, s"commit-$v"), false)
      fs.delete(new Path(s"$root/v$v"), true)
    }
  }

  // ---- named refs: branches & tags (write-audit-publish) ------------
  //
  // Iceberg-style refs over the version store: a TAG is an immutable
  // name for one version; a BRANCH is a mutable pointer advanced by
  // appending a higher-sequence marker. Every mutation is ONE atomic
  // empty-file create whose NAME carries the whole state
  // (`bref-<seq>-<version>` / `tagref-<version>`) — the same
  // object-store-safe discipline as commit markers: no file is ever
  // rewritten, readers resolve max(seq), a concurrent double-advance
  // loses the create race and fails LOUDLY instead of last-writer-
  // silently-wins. Refs pin their target versions against
  // [[expireVersions]].
  //
  // This is the substrate of WRITE-AUDIT-PUBLISH: stage a commit,
  // point a scratch branch at it, audit THROUGH the branch read, and
  // publish by fast-forwarding `main` — the unaudited version is
  // never visible to main-branch readers (c5 composes it end to end).

  private val BranchRefMarker = "bref-(\\d+)-(\\d+)".r
  private val TagRefMarker = "tagref-(\\d+)".r

  private def refDir(root: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"ref name '$name' (allowed: letters, digits, dot, dash, underscore)")
    new Path(s"$root/refs/$name")
  }

  private def refMarkers(fs: org.apache.hadoop.fs.FileSystem,
      d: Path): Seq[String] =
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.map(_.getPath.getName)

  /** Create branch `name` at `version` (must be committed). */
  def createBranch(spark: SparkSession, root: String, name: String,
      version: Long): Unit = {
    val d = refDir(root, name)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, s"commit-$version")),
      s"createBranch($name): version $version was never committed")
    require(refMarkers(fs, d).isEmpty, s"ref '$name' already exists")
    fs.mkdirs(d)
    require(fs.createNewFile(new Path(d, s"bref-0-$version")),
      s"createBranch($name): marker create failed (concurrent create?)")
    confirmSoleCreator(fs, d, s"bref-0-$version", s"createBranch($name)")
  }

  /** Create-race backstop: two concurrent creators targeting DIFFERENT
    * versions write markers with different names, so both
    * `createNewFile`s succeed and `resolveRef` would tie-break
    * arbitrarily — a silent last-writer-ambiguous outcome. After the
    * create, re-list the dir: if any marker other than our own exists,
    * delete our own and fail LOUDLY (the documented contract). The
    * survivor (listed first lexicographically among the racers) keeps
    * its marker; at most one creator ever reports success with its
    * marker retained, because a loser only deletes ITS OWN marker. */
  private[graft] def confirmSoleCreator(
      fs: org.apache.hadoop.fs.FileSystem,
      d: Path, own: String, what: String): Unit = {
    val ms = refMarkers(fs, d)
    if (ms != Seq(own)) {
      // winner = the marker resolveRef's tie-break selects (numeric
      // MIN version); every other racer backs out its own marker and
      // fails, so at most one creator reports success with a marker
      // retained, and readers were deterministic throughout
      def ver(m: String): Long = m match {
        case BranchRefMarker(_, v) => v.toLong
        case TagRefMarker(v) => v.toLong
        case _ => Long.MaxValue
      }
      if (ms.minBy(m => (ver(m), m)) != own) {
        fs.delete(new Path(d, own), false)
        sys.error(s"$what: lost the create race (found ${ms.sorted}) — " +
          "the ref was created concurrently with a different target")
      }
      // we hold the winning marker: losers delete their OWN markers
      // (never ours); surface the anomaly for the audit log
      else ms.filterNot(_ == own).foreach { m =>
        System.err.println(s"[$what] concurrent create detected: $m " +
          "(loser backs out; this creator holds the resolve winner)")
      }
    }
  }

  /** COMPARE-AND-ADVANCE: move branch `name` to `version` only if it
    * currently resolves to `expected`. Returns true on success, false
    * on any observed interference — in which case this caller's
    * marker is backed out, so a failed CAS never changes what readers
    * resolve. NOTE: filesystem markers cannot make this linearizable
    * (a racer can slide in between validation reads), so a protocol
    * built on it must verify its GOAL state after the call rather
    * than trust the boolean — see GovernedIngest's publish loop. */
  def advanceBranchIfAt(spark: SparkSession, root: String, name: String,
      expected: Long, version: Long): Boolean = {
    val d = refDir(root, name)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, s"commit-$version")),
      s"advanceBranchIfAt($name): version $version was never committed")
    val ms = refMarkers(fs, d)
    require(ms.exists(BranchRefMarker.matches), s"'$name' is not a branch")
    val bySeq = ms.collect { case BranchRefMarker(s, v) => (s.toLong, v.toLong) }
    val (curSeq, curV) = {
      val (s, vs) = bySeq.groupBy(_._1).maxBy(_._1)
      (s, vs.map(_._2).min) // resolveRef's deterministic tie-break
    }
    if (curV != expected) return false
    val seq = curSeq + 1
    val own = s"bref-$seq-$version"
    if (!fs.createNewFile(new Path(d, own))) return false
    // post-create validation: we must be the marker resolution selects
    // (max seq, min version) AND the history below us must still read
    // `expected` — anything else backs out
    val after = refMarkers(fs, d)
      .collect { case BranchRefMarker(s, v) => (s.toLong, v.toLong) }
    val ok = after.map(_._1).max == seq &&
      after.filter(_._1 == seq).map(_._2).min == version &&
      after.filter(_._1 == curSeq).map(_._2).min == expected
    if (!ok) fs.delete(new Path(d, own), false)
    ok
  }

  /** Advance branch `name` to `version`; returns the new sequence.
    * Refuses on tags and on a lost concurrent-advance race. */
  def advanceBranch(spark: SparkSession, root: String, name: String,
      version: Long): Long = {
    val d = refDir(root, name)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, s"commit-$version")),
      s"advanceBranch($name): version $version was never committed")
    val ms = refMarkers(fs, d)
    require(ms.exists(BranchRefMarker.matches),
      s"'$name' is not a branch")
    val seq = ms.collect { case BranchRefMarker(s, _) => s.toLong }.max + 1
    require(fs.createNewFile(new Path(d, s"bref-$seq-$version")),
      s"advanceBranch($name): lost the create race at seq $seq — retry")
    seq
  }

  /** Create immutable tag `name` at `version` (must be committed). */
  def createTag(spark: SparkSession, root: String, name: String,
      version: Long): Unit = {
    val d = refDir(root, name)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, s"commit-$version")),
      s"createTag($name): version $version was never committed")
    require(refMarkers(fs, d).isEmpty, s"ref '$name' already exists")
    fs.mkdirs(d)
    require(fs.createNewFile(new Path(d, s"tagref-$version")),
      s"createTag($name): marker create failed (concurrent create?)")
    confirmSoleCreator(fs, d, s"tagref-$version", s"createTag($name)")
  }

  /** Whether a ref of this name exists (no resolution, no throw). */
  def refExists(spark: SparkSession, root: String, name: String): Boolean = {
    val d = refDir(root, name)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refMarkers(fs, d).nonEmpty
  }

  /** Resolve a branch or tag to its current version. */
  def resolveRef(spark: SparkSession, root: String, name: String): Long = {
    val d = refDir(root, name)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ms = refMarkers(fs, d)
    require(ms.nonEmpty, s"ref '$name' does not exist under $root")
    // seq tie (the pre-backout window of a create/advance race):
    // resolve to the MIN version at the max seq — the same marker the
    // race protocol's winner holds — so readers are deterministic even
    // while a loser's marker still exists
    ms.collect { case TagRefMarker(v) => v.toLong }.minOption.getOrElse(
      ms.collect { case BranchRefMarker(s, v) => (s.toLong, v.toLong) }
        .groupBy(_._1).maxBy(_._1)._2.map(_._2).min)
  }

  /** All refs: (kind, name, version), kind ∈ {branch, tag}. */
  def listRefs(spark: SparkSession, root: String)
      : Seq[(String, String, Long)] = {
    val p = new Path(s"$root/refs")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      val ms = refMarkers(fs, st.getPath)
      val tag = ms.collect { case TagRefMarker(v) => v.toLong }
      if (tag.nonEmpty) Some(("tag", name, tag.max))
      else ms.collect { case BranchRefMarker(s, v) => (s.toLong, v.toLong) }
        .maxByOption(_._1).map(sv => ("branch", name, sv._2))
    }.sortBy(r => (r._1, r._2))
  }

  /** Load the catalog a branch or tag points at. */
  def loadRef(spark: SparkSession, root: String,
      name: String): PartitionedManifest =
    loadVersion(spark, root, resolveRef(spark, root, name))

  /** PUBLISH: fast-forward branch `to` onto ref `from`'s version —
    * the write-audit-publish final step. The version was committed
    * (and audited) on the side branch; publication is ONE atomic
    * marker create on the target branch, no data or catalog IO. */
  def fastForward(spark: SparkSession, root: String, to: String,
      from: String): Long = {
    val v = resolveRef(spark, root, from)
    advanceBranch(spark, root, to, v)
    v
  }

  /** Load a catalog persisted by [[savePartitioned]] — pure driver
    * parquet IO (the catalog is O(files) rows by construction); the
    * old `spark.read` form paid ~4 Spark-job round-trips per load,
    * which dominated every DML statement's wall time. */
  def loadPartitioned(spark: SparkSession, path: String): PartitionedManifest = {
    val column = readColumnSidecar(spark, s"$path/_column")
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val rows = Seq.newBuilder[(String, FileStats)]
    readCatalogGroups(conf, dir.getFileSystem(conf), dir) { g =>
      rows += ((g.getString("partition", 0),
        FileStats(g.getString("path", 0), g.getLong("rows", 0),
          g.getLong("min", 0), g.getLong("max", 0), g.getLong("nulls", 0))))
    }
    val parts = rows.result().groupBy(_._1).map { case (p, fs) =>
      p -> fs.map(_._2).sortBy(_.path)
    }
    PartitionedManifest(column, parts)
  }
}
