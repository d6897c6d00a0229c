package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.GraftFunctions.timestamp_to_string
import graft.sources.Json

/** The reference job (StreamingJob.java) recreated Spark-native.
  *
  * Reference pipeline: two Kinesis JSON streams -> POJO mapping ->
  * ascending-timestamp watermarks -> dynamic tables -> SQL interval
  * join -> append stream -> JSON sink. Here: two raw JSON sources
  * (any readStream: kafka/file/socket/memory — anything with a
  * string `value` column) -> `from_json` with explicit schemas ->
  * `withWatermark` -> event-time interval join -> `to_json` sink.
  *
  * `enrich` is the reference's join written as a `Dataset.join`, and
  * engine-agnostic: `plans.RewriteIntervalJoin` plans two watermarked
  * streams on graft's keyed stream interval join (whose timers clear
  * each key once the watermark passes it) and batch frames on the
  * time-bucketed batch join (the 100 TB-safe plan).
  */
object OrderEnrichmentJob {
  /** Reference POJOs (Order.java, ExchangeRate.java, Result.java). */
  case class Order(id: Int, orderTime: java.sql.Timestamp, amount: Int, currency: String)
  case class ExchangeRate(exchangeRateTime: java.sql.Timestamp, currency: String, rate: Int)
  case class Result(id: Int, orderTime: String, originalAmount: Int, convertedAmount: Int)

  /** The reference's exact query (StreamingJob.java:94-105): LEFT
    * interval join on currency with rate time in (orderTime - delta,
    * orderTime], projecting the Result shape. Plus `rate_time` so the
    * output has a deterministic total order (an order can match
    * several rates). A plain join: `plans.RewriteIntervalJoin` runs it
    * on graft's keyed-state operator when both sides are watermarked
    * streams, and as the time-bucketed join over batch frames; both
    * give the same rows.
    */
  def enrich(orders: DataFrame, rates: DataFrame, delta: Duration): DataFrame =
    orders.join(rates, orders("currency") === rates("currency") &&
        orders("orderTime") >= rates("exchangeRateTime") &&
        rates("exchangeRateTime") > orders("orderTime") - lit(delta), "left_outer")
      .select(
        col("id"),
        timestamp_to_string(col("orderTime")).as("order_time"),
        col("amount").as("original_amount"),
        (col("amount") * col("rate")).as("converted_amount"),
        timestamp_to_string(col("exchangeRateTime")).as("rate_time"))

  /** Full streaming pipeline from raw JSON-line sources to a JSON-line
    * output stream; returns the unstarted output frame. */
  def pipeline(rawOrders: DataFrame, rawRates: DataFrame,
      delta: Duration = Duration.ofSeconds(5),
      watermark: String = "10 seconds"): DataFrame = {
    val orders = Json.parse(rawOrders, Json.orderSchema)
      .withWatermark("orderTime", watermark)
    val rates = Json.parse(rawRates, Json.exchangeRateSchema)
      .withWatermark("exchangeRateTime", watermark)
    Json.toJsonLines(enrich(orders, rates, delta))
  }

  /** Pluggable stream-source config — the Spark analogue of the
    * reference's Kinesis consumers (StreamingJob.java:31-41). Every
    * variant yields a one-column `value: string` JSON-lines frame, so
    * the pipeline is source-agnostic downstream.
    *
    *  - `FileSource`: JSON-lines files dropped into a directory
    *    (exactly-once with a checkpoint; used by tests and the demo).
    *  - `KafkaSource`: the public `spark-sql-kafka-0-10` connector —
    *    what a production Spark user runs; needs the connector jar on
    *    the classpath (`--packages org.apache.spark:
    *    spark-sql-kafka-0-10_2.13:<spark-version>`).
    *  - `KinesisSource`: the reference's OWN transport
    *    (StreamingJob.java:26-41 — `FlinkKinesisConsumer` with
    *    AWS_REGION + STREAM_INITIAL_POSITION properties per stream
    *    name), mapped to the public `spark-sql-kinesis-connector`'s
    *    documented surface (format `aws-kinesis`;
    *    `kinesis.streamName` / `kinesis.region` /
    *    `kinesis.startingPosition` — LATEST, TRIM_HORIZON,
    *    AT_TIMESTAMP); needs that connector jar on the classpath.
    *  - `MemorySource`: a caller-supplied frame (MemoryStream in
    *    specs). */
  sealed trait SourceConfig
  final case class FileSource(dir: String) extends SourceConfig
  final case class KafkaSource(bootstrapServers: String, topic: String,
      startingOffsets: String = "earliest") extends SourceConfig
  final case class KinesisSource(streamName: String, region: String,
      startingPosition: String = "LATEST") extends SourceConfig
  final case class MemorySource(frame: DataFrame) extends SourceConfig

  /** Raw JSON-lines stream for a source config. */
  def source(spark: SparkSession, conf: SourceConfig): DataFrame = conf match {
    case FileSource(dir) =>
      spark.readStream.format("text").load(dir).select(col("value").cast("string"))
    case KafkaSource(bootstrap, topic, offsets) =>
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", offsets)
        .load()
        // kafka frames carry (key, value: binary, topic, partition, …);
        // the pipeline wants only the JSON payload
        .select(col("value").cast("string").as("value"))
    case KinesisSource(stream, region, pos) =>
      spark.readStream.format("aws-kinesis")
        .option("kinesis.streamName", stream)
        .option("kinesis.region", region)
        .option("kinesis.startingPosition", pos)
        .load()
        // kinesis frames carry (data: binary, streamName, partitionKey,
        // sequenceNumber, approximateArrivalTimestamp); the pipeline
        // wants only the JSON payload
        .select(col("data").cast("string").as("value"))
    case MemorySource(df) => df.select(col("value").cast("string"))
  }

  /** Start the full pipeline from two configured sources — the
    * reference job's shape (two streams in, one out) with the source
    * kind swappable per deployment. */
  def runFromSources(spark: SparkSession,
      orders: SourceConfig, rates: SourceConfig,
      outDir: String, checkpointDir: String,
      delta: Duration = Duration.ofSeconds(5),
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    pipeline(source(spark, orders), source(spark, rates), delta)
      .writeStream.format("text")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Start the pipeline against file-based JSON directories (swap for
    * kafka config in production; see `runFromSources`). */
  def run(spark: SparkSession, ordersDir: String, ratesDir: String,
      outDir: String, checkpointDir: String,
      delta: Duration = Duration.ofSeconds(5)): StreamingQuery =
    runFromSources(spark, FileSource(ordersDir), FileSource(ratesDir),
      outDir, checkpointDir, delta)
}
