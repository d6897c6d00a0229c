package graft

import java.time.Duration

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

import graft.StreamIntervalJoinSpec.{sqlPipeline, withoutRule}
import graft.sources.Json
import graft.streaming.OrderEnrichmentJob

/** Stream interval joins through every front door (SQL, `Dataset.join`,
  * `joinWith`, the enrichment pipeline) on graft's keyed-state operator,
  * against Spark's stream-stream join of the same query. */
class StreamIntervalJoinSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  val delta = Duration.ofSeconds(5)

  /** Event second `s` after 2024-01-01T00:00:00Z, a multiple of 5 s, so
    * `s % 5 == 0` puts a row on a bucket edge. */
  def at(s: Double) = java.time.Instant.parse("2024-01-01T00:00:00Z")
    .plusMillis((s * 1000).round)
  def order(id: Int, s: Double, cur: String) =
    s"""{"id": $id, "orderTime": "${at(s)}", "amount": 10, "currency": "$cur"}"""
  def rate(s: Double, cur: String, r: Int) =
    s"""{"exchangeRateTime": "${at(s)}", "currency": "$cur", "rate": $r}"""

  /** A pipeline over the raw orders and rates JSON-line streams, fed by
    * one MemoryStream of (side, line) pairs so that each step's rows of
    * both sides land in one micro-batch; every output line lands in
    * `rows` before its micro-batch commits. */
  class Run(pipeline: (DataFrame, DataFrame) => DataFrame, checkpoint: Option[String] = None) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val in = MemoryStream[(String, String)]
    private val raw = in.toDF().toDF("side", "value")
    val rows = ArrayBuffer[String]()
    private val w = pipeline(raw.where(col("side") === "o").select("value"),
        raw.where(col("side") === "r").select("value"))
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        val got = b.as[String].collect()
        rows.synchronized { rows ++= got }
        ()
      }
    val query: StreamingQuery = checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
    def step(os: Seq[String], rs: Seq[String]): Unit = {
      in.addData(os.map(("o", _)) ++ rs.map(("r", _)))
      query.processAllAvailable()
    }
  }

  /** `join` over the parsed streams, each side watermarked 2 s behind
    * its own event time, as JSON lines. */
  def joinRun(join: (DataFrame, DataFrame) => DataFrame) = new Run((orders, rates) =>
    Json.toJsonLines(join(
      Json.parse(orders, Json.orderSchema).withWatermark("orderTime", "2 seconds"),
      Json.parse(rates, Json.exchangeRateSchema).withWatermark("exchangeRateTime", "2 seconds"))))

  /** The reference's condition (`currency` on both sides) in SQL over
    * two temp views, with the upper bound spelled `upper`; every column
    * of both sides comes out. */
  def sqlJoin(joinType: String, upper: String)(o: DataFrame, r: DataFrame): DataFrame = {
    o.createOrReplaceTempView("stream_orders")
    r.createOrReplaceTempView("stream_rates")
    spark.sql(s"""SELECT o.*, r.exchangeRateTime, r.currency AS r_currency, r.rate
      FROM stream_orders o ${if (joinType == "inner") "JOIN" else "LEFT JOIN"} stream_rates r
      ON o.currency = r.currency AND $upper
        AND r.exchangeRateTime > o.orderTime - INTERVAL '5' SECOND""")
  }

  /** The same query as a `Dataset.join`, upper bound `r.t <= o.t`. */
  def dfJoin(joinType: String)(o: DataFrame, r: DataFrame): DataFrame =
    o.join(r, o("currency") === r("currency") && r("exchangeRateTime") <= o("orderTime") &&
        r("exchangeRateTime") > o("orderTime") - lit(delta), joinType)
      .select(o.columns.map(o(_)) ++ Seq(r("exchangeRateTime"), r("currency").as("r_currency"),
        r("rate")): _*)

  def execNodes(q: StreamingQuery): Seq[String] =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      .collect { case p => p.getClass.getSimpleName }

  /** One trigger per step: (orders, rates). Watermark = max event time
    * seen - 2 s, the smaller of the two sides. */
  val steps: Seq[(Seq[String], Seq[String])] = Seq(
    // rates-only trigger
    (Nil, Seq(rate(1, "EUR", 2), rate(2, "USD", 3))),
    // orders-only trigger: EUR@3 and USD@4 match, GBP has no rate
    (Seq(order(1, 3, "EUR"), order(2, 4, "USD"), order(3, 4, "GBP")), Nil),
    // order on a bucket edge (5.0) with three rates in its window
    // (1, 4.5 and r.t = o.t); USD@7 meets USD@2 only at r.t = o.t - delta
    (Seq(order(4, 5, "EUR"), order(5, 7, "USD")),
      Seq(rate(4.5, "EUR", 5), rate(5, "EUR", 7), rate(9.999, "USD", 4))),
    // out of order inside the watermark (max 9.999 -> wm 7.999): an
    // order before a rate it matches, both below the max; an order
    // just past a bucket edge; a rate for an order already stored
    (Seq(order(6, 8.5, "USD"), order(7, 10, "EUR"), order(8, 12, "USD")),
      Seq(rate(8.2, "USD", 6), rate(11, "USD", 8))),
    // null currency, null time, a malformed line, a null-currency rate
    (Seq("""{"id": 9, "orderTime": "2024-01-01T00:00:13Z", "amount": 10}""",
        """{"id": 10, "amount": 10, "currency": "EUR"}""",
        "this line is not json"),
      Seq("""{"exchangeRateTime": "2024-01-01T00:00:12Z", "rate": 9}""")),
    // advance the watermark to 18
    (Seq(order(11, 20, "EUR")), Seq(rate(19, "EUR", 10))),
    // late rows (below 18) on each side, beside timely ones
    (Seq(order(12, 17, "EUR"), order(13, 19.5, "EUR")),
      Seq(rate(16, "EUR", 11), rate(18.5, "GBP", 12))),
    // orders-only and rates-only triggers at a bucket edge
    (Seq(order(14, 25, "GBP")), Nil),
    (Nil, Seq(rate(25, "GBP", 13), rate(20, "GBP", 14))),
    // heartbeat: watermark to 98 flushes every held row
    (Seq(order(99, 100, "XXX")), Seq(rate(100, "XXX", 1))))

  /** The SQL form and the `Dataset.join` form, one upper-bound spelling
    * each, against the same query started with the rule off. */
  def differential(joinType: String): Unit = {
    val graft = Seq(
      "SQL" -> joinRun(sqlJoin(joinType, "o.orderTime >= r.exchangeRateTime")),
      "Dataset.join" -> joinRun(dfJoin(joinType)))
    val ref = withoutRule(spark)(joinRun(dfJoin(joinType)))
    try {
      for ((os, rs) <- steps) { graft.foreach(_._2.step(os, rs)); ref.step(os, rs) }
      assert(execNodes(ref.query).contains("StreamingSymmetricHashJoinExec"))
      val want = ref.rows.sorted
      for ((form, run) <- graft) {
        val nodes = execNodes(run.query)
        assert(nodes.contains("TransformWithStateExec") &&
          !nodes.contains("StreamingSymmetricHashJoinExec"), s"$form: $nodes")
        val got = run.rows.sorted
        assert(got == want, s"$form ${got.mkString("\n", "\n", "\n")} " +
          s"Spark ${want.mkString("\n", "\n", "\n")}")
        val ids = got.map(l => "\"id\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1))).toSet
        // the sequence exercises what it claims: the edge order's three
        // matches, null rows, and late rows that both operators dropped
        assert(got.count(_.contains("\"id\":4,")) == 3, got)
        assert(!ids.contains(Some("12")) && !ids.contains(Some("10")), got)
        if (joinType == "left_outer")
          assert(ids.contains(Some("3")) && ids.contains(Some("9")) && ids.contains(Some("14")), got)
        val dropped = run.query.recentProgress.flatMap(_.stateOperators)
          .map(_.numRowsDroppedByWatermark).sum
        assert(dropped >= 2, s"$form: late rows dropped by the operator: $dropped")
        info(s"$form: ${got.size} rows, ${got.count(!_.contains("rate"))} null rows, " +
          s"$dropped late rows dropped")
      }
    } finally { graft.foreach(_._2.query.stop()); ref.query.stop() }
  }

  test("streaming interval join == Spark's stream-stream join (left_outer)") {
    differential("left_outer")
  }

  test("streaming interval join == Spark's stream-stream join (inner)") {
    differential("inner")
  }

  test("the enrichment pipeline runs one keyed-state operator: no Spark join, ≤ 6 broadcasts") {
    for ((form, pipeline) <- pipelines) {
      val run = new Run(pipeline)
      try {
        run.step(Seq(order(1, 10, "EUR"), order(2, 20, "USD")), Seq(rate(9, "EUR", 2), rate(19, "USD", 3)))
        val names = execNodes(run.query)
        assert(names.contains("TransformWithStateExec") &&
          !names.contains("StreamingSymmetricHashJoinExec"), s"$form: $names")
        // a steady data trigger: rows of both sides inside the watermark
        // (10 s) and below the max event time, so no no-data batch follows
        val sc = spark.sparkContext
        val (batch0, id0) = (run.query.lastProgress.batchId, sc.broadcast(0).id)
        run.step(Seq(order(3, 15, "EUR"), order(4, 16, "USD")), Seq(rate(14, "EUR", 4)))
        val made = sc.broadcast(0).id - id0 - 1
        assert(run.query.lastProgress.batchId == batch0 + 1, s"$form: one micro-batch ran")
        assert(run.rows.exists(_.contains("\"id\":3,")), run.rows)
        assert(made <= 6, s"$form: $made broadcasts in one steady trigger (Spark's join: ~20)")
        info(s"$form: $made broadcasts in one steady trigger")
      } finally run.query.stop()
    }
  }

  test("a joinWith of two watermarked streams starts and returns rows") {
    val run = joinRun((o, r) => o.joinWith(r, o("currency") === r("currency") &&
      r("exchangeRateTime") <= o("orderTime") && r("exchangeRateTime") > o("orderTime") - lit(delta))
      .toDF())
    try {
      for ((os, rs) <- steps) run.step(os, rs)
      assert(run.rows.count(_.contains("\"id\":4,")) == 3, run.rows)
      // an inner joinWith projects the join's columns into two structs
      // above the join, which the rule still takes
      assert(execNodes(run.query).contains("TransformWithStateExec"), execNodes(run.query))
    } finally run.query.stop()
  }

  test("a Spark-join checkpoint does not restart under the keyed-state join") {
    for ((form, pipeline) <- pipelines) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_join_ckpt").toString
      val before = withoutRule(spark)(new Run(pipeline, Some(ckpt)))
      try {
        before.step(Seq(order(1, 3, "EUR")), Seq(rate(1, "EUR", 2)))
        assert(before.rows.nonEmpty)
        assert(execNodes(before.query).contains("StreamingSymmetricHashJoinExec"), form)
      } finally before.query.stop()
      val after = new Run(pipeline, Some(ckpt))
      try {
        val e = intercept[StreamingQueryException] {
          // the new source is rebuilt up to the committed offset first
          after.step(Seq(order(1, 3, "EUR")), Seq(rate(1, "EUR", 2)))
          after.step(Seq(order(2, 4, "EUR")), Nil)
        }
        val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" / ")
        assert(msg.contains("symmetricHashJoin") && msg.contains("transformWithStateExec"),
          s"$form: the error must name both operators: $msg")
        assert(after.rows.isEmpty, s"$form: no batch may run on the old join state")
      } finally after.query.stop()
    }
  }

  /** The enrichment job as `OrderEnrichmentJob.pipeline` and as the
    * reference's SQL. */
  def pipelines: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "enrich" -> (OrderEnrichmentJob.pipeline(_, _)), "SQL" -> sqlPipeline(spark))
}

object StreamIntervalJoinSpec {
  /** `body` with `spark.graft.rewriteIntervalJoins=false`: a stream
    * interval join whose query starts inside it runs on Spark's own
    * stream-stream join. */
  def withoutRule[A](spark: SparkSession)(body: => A): A = {
    spark.conf.set("spark.graft.rewriteIntervalJoins", "false")
    try body finally spark.conf.unset("spark.graft.rewriteIntervalJoins")
  }

  /** `OrderEnrichmentJob.pipeline` as the reference writes it: SQL over
    * two registered watermarked tables (StreamingJob.java:86-105). */
  def sqlPipeline(spark: SparkSession)(rawOrders: DataFrame, rawRates: DataFrame): DataFrame = {
    Json.parse(rawOrders, Json.orderSchema).withWatermark("orderTime", "10 seconds")
      .createOrReplaceTempView("order_stream")
    Json.parse(rawRates, Json.exchangeRateSchema).withWatermark("exchangeRateTime", "10 seconds")
      .createOrReplaceTempView("rate_stream")
    Json.toJsonLines(spark.sql("""
      SELECT o.id, timestamp_to_string(o.orderTime) AS order_time,
        o.amount AS original_amount, o.amount * r.rate AS converted_amount,
        timestamp_to_string(r.exchangeRateTime) AS rate_time
      FROM order_stream o LEFT JOIN rate_stream r ON o.currency = r.currency
        AND o.orderTime >= r.exchangeRateTime
        AND r.exchangeRateTime > o.orderTime - INTERVAL '5' SECOND"""))
  }
}
