package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Driver-side parquet IO for SIDECAR tables — the bounded metadata
  * every index keeps next to its data (stats rows, centroids,
  * codebooks, frozen ranges). These are O(clusters)/O(1) rows by
  * contract, yet going through `spark.read`/`df.write` costs 2–4 Spark
  * job round-trips per touch (schema inference, collect, committer),
  * which profiling showed is a large share of every index-serving
  * query's wall time. Reading and writing them directly keeps the SAME
  * standard parquet layout on disk (Spark can still scan the files,
  * and files written by Spark earlier read back fine — including
  * Spark's 3-level LIST encoding, which [[addLongs]]/[[getLongs]]
  * mirror), so only the transport changes, never the format.
  *
  * Every driver-side parquet OPEN in graft goes through [[openFooter]]
  * or [[groupReader]]. Parquet's convenience entry points
  * (`ParquetFileReader.open(InputFile)`, `ParquetReader.builder(
  * readSupport, path)`) each build a fresh Hadoop `Configuration`,
  * which parses the core/mapred/yarn default XML (~1,100 entries,
  * ~10 ms) on every open — a footer itself reads in under 1 ms. The
  * helpers hand parquet the session's conf instead. [[readFiles]]
  * uses them to give `spark.read.parquet` over graft-written files the
  * schema Spark would infer, read here from one footer instead of in a
  * one-task Spark job.
  */
private[graft] object DriverParquet {

  /** A footer reader for `p` whose options come from `conf` (the
    * session's Hadoop conf), not from a fresh `Configuration`. */
  def openFooter(conf: Configuration, p: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf, p).build())

  /** A reader of every row of `p` as example `Group`s over `conf`.
    * Built on a `HadoopInputFile`, whose builder takes the file's conf;
    * the path-based builder makes its own `Configuration` first. */
  def groupReader(conf: Configuration, p: Path): ParquetReader[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(p, conf)) {
      override protected def getReadSupport(): ReadSupport[Group] =
        new GroupReadSupport()
    }.build()

  /** `spark.read.parquet(paths: _*)` with the schema Spark would infer
    * passed in, so no schema-inference job runs. Mirrors Spark's
    * `ParquetUtils.inferSchema` with `mergeSchema` off: among the
    * files Spark's listing finds, `_common_metadata` wins, then `_metadata`,
    * then the first data file by full path, and its footer converts
    * with Spark's own `readSchemaFromFooter` under the session's SQL
    * conf (so `nanosAsLong` and field ids come out as Spark's would). */
  def readFiles(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val leaves = org.apache.spark.sql.graftshim.SparkShims.listLeafFiles(spark,
      paths.map { s =>
        val p = new Path(s)
        p.getFileSystem(conf).makeQualified(p)
      }).map(_.getPath).sortBy(_.toString)
    val pick = leaves.find(_.getName == "_common_metadata")
      .orElse(leaves.find(_.getName == "_metadata"))
      .orElse(leaves.headOption)
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet file to read a schema from under ${paths.mkString(", ")}"))
    val r = openFooter(conf, pick)
    val footer = try new Footer(pick, r.getFooter) finally r.close()
    val schema = ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(paths: _*)
  }

  def schema(s: String): MessageType = MessageTypeParser.parseMessageType(s)

  private val TmpName = ".part-00000.parquet.tmp"

  /** Overwrite `dir` with a single parquet file holding `rows`.
    * Crash-safe ordering: the new file is fully written under a
    * tmp name readers ignore (dot-prefixed, non-`.parquet`), the old
    * contents are deleted only after the writer closes, and the tmp
    * renames into the final name LAST — a reader can race an
    * in-flight overwrite and see the old file or (after a crash
    * between delete and rename) a loudly-missing one, but never a
    * truncated file under the final name. */
  def overwrite(spark: SparkSession, dir: String, mt: MessageType)
      (fill: SimpleGroupFactory => Seq[Group]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    fs.mkdirs(d)
    val tmp = new Path(d, TmpName)
    fs.delete(tmp, false) // crashed-attempt debris
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(mt).build()
    try fill(new SimpleGroupFactory(mt)).foreach(w.write)
    finally w.close()
    fs.listStatus(d).foreach { st =>
      if (st.isFile && st.getPath.getName != tmp.getName)
        fs.delete(st.getPath, false)
    }
    require(fs.rename(tmp, new Path(d, "part-00000.parquet")),
      s"DriverParquet: rename $tmp failed")
  }

  /** Every row of every parquet file directly under `dir` (sidecars
    * are bounded by contract — this is a driver-side value). A dir
    * holding only an [[overwrite]]'s tmp file (a crash between its
    * delete and its rename) fails loudly rather than reading as empty. */
  def read(spark: SparkSession, dir: String): Seq[Group] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    val listed = fs.listStatus(d).toSeq.filter(_.isFile).map(_.getPath)
    val files = listed.filter(_.getName.endsWith(".parquet"))
    if (files.isEmpty && listed.exists(_.getName == TmpName))
      throw new IllegalStateException(s"DriverParquet: $dir holds only " +
        s"$TmpName, an overwrite that crashed before its rename")
    val out = Seq.newBuilder[Group]
    files.sortBy(_.getName)
      .foreach { f =>
        val r = groupReader(conf, f)
        try {
          var g = r.read()
          while (g != null) { out += g; g = r.read() }
        } finally r.close()
      }
    out.result()
  }

  /** Spark's standard 3-level LIST encoding, parquet-schema side:
    * `optional group <name> (LIST) { repeated group list {
    * optional <t> element; } }` — what `ArrayType` columns serialize
    * to, so mixed writers interoperate. */
  def listField(name: String, elemType: String): String =
    s"optional group $name (LIST) { repeated group list { " +
      s"optional $elemType element; } }"

  def addLongs(g: Group, field: String, vs: Array[Long]): Unit = {
    val lg = g.addGroup(field)
    vs.foreach(v => lg.addGroup("list").add("element", v))
  }

  def addDoubles(g: Group, field: String, vs: Array[Double]): Unit = {
    val lg = g.addGroup(field)
    vs.foreach(v => lg.addGroup("list").add("element", v))
  }

  def getLongs(g: Group, field: String): Array[Long] = {
    val lg = g.getGroup(field, 0)
    val n = lg.getFieldRepetitionCount("list")
    Array.tabulate(n)(i => lg.getGroup("list", i).getLong("element", 0))
  }

  def getDoubles(g: Group, field: String): Array[Double] = {
    val lg = g.getGroup(field, 0)
    val n = lg.getFieldRepetitionCount("list")
    Array.tabulate(n)(i => lg.getGroup("list", i).getDouble("element", 0))
  }

  /** Whether `field` is present (with a value) on this row — covers
    * schema drift between sidecar generations (e.g. a stats column
    * added later reads as absent on old files). */
  def has(g: Group, field: String): Boolean =
    g.getType.containsField(field) &&
      g.getFieldRepetitionCount(field) > 0

  /** An integral field as Long whatever its physical width — old
    * Spark-written sidecars carry partition-derived columns as int32
    * where the driver writer uses int64. */
  def anyLong(g: Group, field: String): Long =
    g.getType.getType(field).asPrimitiveType().getPrimitiveTypeName match {
      case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 =>
        g.getInteger(field, 0).toLong
      case _ => g.getLong(field, 0)
    }
}
