package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for tools/check_oracle.py's DuckDB compare:
  * `runMain graft.Verify <sfDir> <outDir>`. `SPARK_GRAFT_ONLY=q1,q2`
  * dumps just those queries (and their oracles) for fast iteration.
  * A query that throws fails the run: its output dir is deleted (so a
  * stale dump in a reused `outDir` cannot pass the compare, which then
  * reports it MISSING), oracle_sql.json is still written, and the
  * process names the failures and exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local-iteration filter, same contract as Bench: unset → all
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = only.toSeq.flatten.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    def selected(name: String) = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GraftSession, NOT a bare builder: the SQL DML queries (f22-f24,
    // c12) need GraftExtensions' post-hoc resolution rule installed —
    // a plain session fails them with UNSUPPORTED_FEATURE.TABLE_OPERATION
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => selected(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
          dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(dir, true)
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
