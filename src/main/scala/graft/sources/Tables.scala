package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet loaders for the test corpus (TPC-H-ish star schema +
  * `events` stream table + `documents`/`embeddings` LLM-pipeline
  * tables). Loading is schema-on-read from parquet footers so Catalyst
  * gets exact types and can push filters/projections into the scan;
  * the footer is read on the driver ([[DriverParquet.readFiles]]), so
  * a load starts no schema-inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as TIMESTAMP(NANOS) (which Spark's
      // parquet reader rejects — read the raw int64 and truncate to
      // microseconds, identical to DuckDB's ns->us cast) and as plain
      // timestamp[us] (read as NTZ — align it to the session-UTC
      // TimestampType every downstream consumer and oracle expects).
      // Dispatch on the footer type so both generations load.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = DriverParquet.readFiles(spark, Seq(s"$dir/$name.parquet"))
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else {
      DriverParquet.readFiles(spark, Seq(s"$dir/$name.parquet"))
    }
  }

  /** Register every table as a temp view so `spark.sql` works. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
