package graft.streaming

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Runnable end-to-end demo of the reference pipeline: writes a batch
  * of Order / ExchangeRate JSON lines (the reference's Kinesis Data
  * Generator shapes, README "Generate the Sample Data"), streams them
  * through `OrderEnrichmentJob.run` (file source -> watermarked
  * interval join, which `plans.RewriteIntervalJoin` runs on graft's
  * keyed-state operator -> JSON-line sink), and prints the enriched
  * output. The unmatched GBP
  * order comes out as a null row once the heartbeat's watermark passes
  * the end of its join bucket (`delta` wide: 5 s here, 6 h in the
  * replay part).
  *
  * Usage: runMain graft.streaming.StreamingDemo /tmp/graft_demo
  */
object StreamingDemo {
  import OrderEnrichmentJob._

  /** `key=value` args + a positional base dir: the demo's config
    * surface. `source=kinesis` (or `kafka`) selects the reference's
    * own two-stream transport topology (StreamingJob.java:26-41);
    * default is the self-contained file demo. */
  private[graft] def parseArgs(args: Array[String])
      : (String, Map[String, String]) = {
    val (kvs, positional) = args.partition(_.contains("="))
    (positional.headOption.getOrElse("/tmp/graft_demo"),
      kvs.map { a =>
        val Array(k, v) = a.split("=", 2); k -> v }.toMap)
  }

  /** The two-stream source pair for a parsed config — the exact
    * reference topology (order stream + exchange-rate stream), with
    * the transport swappable per deployment. Stream/topic names
    * default to the reference README's. */
  private[graft] def sourcesFrom(opts: Map[String, String], base: String)
      : (SourceConfig, SourceConfig) = opts.get("source") match {
    case Some("kinesis") =>
      val region = opts.getOrElse("region", "us-east-1")
      val pos = opts.getOrElse("position", "LATEST")
      (KinesisSource(opts.getOrElse("orders", "flinkjoin-order"),
          region, pos),
        KinesisSource(opts.getOrElse("rates", "flinkjoin-exchangerate"),
          region, pos))
    case Some("kafka") =>
      val brokers = opts.getOrElse("brokers", "localhost:9092")
      (KafkaSource(brokers, opts.getOrElse("orders", "flinkjoin-order")),
        KafkaSource(brokers,
          opts.getOrElse("rates", "flinkjoin-exchangerate")))
    case None | Some("file") =>
      (FileSource(s"$base/orders"), FileSource(s"$base/rates"))
    case Some(other) =>
      sys.error(s"unknown source '$other' (expected file|kafka|kinesis)")
  }

  def main(args: Array[String]): Unit = {
    val (base, opts) = parseArgs(args)
    if (opts.get("source").exists(_ != "file")) { runConnected(base, opts); return }
    val ordersDir = s"$base/orders"; val ratesDir = s"$base/rates"
    val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    Seq(ordersDir, ratesDir).foreach(d => Files.createDirectories(Paths.get(d)))

    val orders = Seq(
      """{"id": 1, "orderTime": "2024-01-01T00:00:03.000Z", "amount": 100, "currency": "EUR"}""",
      """{"id": 2, "orderTime": "2024-01-01T00:00:04.500Z", "amount": 250, "currency": "USD"}""",
      """{"id": 3, "orderTime": "2024-01-01T00:00:07.000Z", "amount": 40, "currency": "GBP"}""",
      """this line is not json at all""",
      """{"id": 4, "orderTime": "2024-01-01T00:00:09.000Z", "amount": 75, "currency": "EUR"}""",
      // heartbeat far in the future: advances the watermark past the
      // join window so unmatched left rows (id=3) can emit their
      // null-extended result before shutdown
      """{"id": 999, "orderTime": "2024-01-01T01:00:00.000Z", "amount": 0, "currency": "XXX"}""")
    val rates = Seq(
      """{"exchangeRateTime": "2024-01-01T00:00:00.000Z", "currency": "EUR", "rate": 2}""",
      """{"exchangeRateTime": "2024-01-01T00:00:01.000Z", "currency": "USD", "rate": 3}""",
      """{"exchangeRateTime": "2024-01-01T00:00:06.000Z", "currency": "EUR", "rate": 5}""",
      """{"exchangeRateTime": "2024-01-01T01:00:00.000Z", "currency": "XXX", "rate": 1}""")
    Files.write(Paths.get(s"$ordersDir/part0.json"),
      orders.mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$ratesDir/part0.json"),
      rates.mkString("\n").getBytes("UTF-8"))

    val spark = GraftSession.local(4)
    val q = OrderEnrichmentJob.run(spark, ordersDir, ratesDir, outDir, ckpt)
    q.processAllAvailable()
    q.stop()

    println("=== enriched output ===")
    spark.read.text(outDir).collect().foreach(r => println(r.getString(0)))

    // Part 2: the reference README's full workflow — a rate-controlled
    // generator (Kinesis Data Generator analogue) driving the same
    // enrichment join: replay parquet-derived orders at 100 rec/s and
    // rates at 20 rec/s, join them live, count enriched rows.
    println("=== rate-controlled replay through the streaming join ===")
    import graft.sources.{Replay, RefTables, Tables}
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val liveOrders = Replay.stream(spark, RefTables.orders(events).limit(200), "orderTime", 100)
      .drop("replay_time").withWatermark("orderTime", "10 seconds")
    val liveRates = Replay.stream(spark, RefTables.rates(events).limit(40), "exchangeRateTime", 20)
      .drop("replay_time").withWatermark("exchangeRateTime", "10 seconds")
    val enriched = OrderEnrichmentJob.enrich(liveOrders, liveRates, java.time.Duration.ofHours(6))
    val q2 = enriched.writeStream.format("memory").queryName("live")
      .outputMode("append").start()
    // poll the sink, never processAllAvailable(): the rate source
    // produces a new offset every second, so "all available" may
    // never hold and that call can park indefinitely — the deadline
    // must stay in THIS loop's hands
    val deadline = System.currentTimeMillis() + 45000
    var n = 0L
    while (n < 40 && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      n = spark.sql("SELECT count(DISTINCT id) FROM live").collect().head.getLong(0)
    }
    q2.stop()
    println(s"live-enriched distinct orders: $n; matched rows: " +
      spark.sql("SELECT count(*) FROM live WHERE converted_amount IS NOT NULL")
        .collect().head.getLong(0))
    spark.stop()
  }

  /** The connected form: the reference's exact deployment topology —
    * two transport streams (kinesis or kafka) through the enrichment
    * join to a JSON-line sink. Runnable end to end the moment the
    * connector jar is on the classpath; without it, the failure is
    * the connector LOOKUP (our side of the seam is probe-spec'd), and
    * the message says exactly what to add. */
  private def runConnected(base: String, opts: Map[String, String]): Unit = {
    val (orders, rates) = sourcesFrom(opts, base)
    val spark = GraftSession.local(4)
    println(s"starting enrichment from $orders + $rates -> $base/out")
    try {
      val q = OrderEnrichmentJob.runFromSources(spark, orders, rates,
        s"$base/out", s"$base/ckpt")
      q.awaitTermination()
    } catch {
      case e: Throwable if Option(e.getMessage)
          .exists(m => m.contains("Failed to find the data source") ||
            m.contains("DATA_SOURCE_NOT_FOUND")) =>
        System.err.println("connector jar not on the classpath — add " +
          (if (opts.get("source").contains("kafka"))
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
          else "the spark-sql-kinesis-connector jar") +
          " and re-run; the pipeline itself is transport-agnostic " +
          s"(${e.getMessage})")
        spark.stop()
        sys.exit(2)
    }
  }
}
