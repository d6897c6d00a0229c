package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.{Duration, Instant}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.sources.Json
import graft.streaming.OrderEnrichmentJob

/** One seeded timeline of the reference job's two input streams.
  *
  * Order `i` (id `i`) has event time `i * 1000 / rate` ms
  * after a fixed epoch; a seeded 2% of orders are stamped 1-4 s
  * earlier than that slot (they arrive out of order, inside the 10 s
  * watermark) and a seeded 1% use a currency that never gets a rate
  * (left-outer null rows). One rate per second of event time, the five
  * currencies in turn, so every other order matches exactly one rate.
  * A heartbeat 60 s past the last order lifts the watermark, and the
  * trigger that follows flushes every unmatched order; the heartbeat's
  * own row is not checked (it is never itself flushed).
  */
final class Timeline(seed: Long, val rate: Int, val n: Int) {
  import Timeline._
  private val rnd = new SplittableRandom(seed)
  def offsetMs(i: Int): Long = i.toLong * 1000 / rate
  val orders: Array[String] = Array.tabulate(n) { i =>
    val late = if (rnd.nextDouble() < LateShare) 1000L + rnd.nextInt(3000) else 0L
    val cur = if (rnd.nextDouble() < UnmatchedShare) "JPY" else Currencies(rnd.nextInt(5))
    order(i, offsetMs(i) - late, 1 + rnd.nextInt(999), cur)
  }
  val rates: Array[String] = Array.tabulate((offsetMs(n - 1) / 1000 + 1).toInt) { s =>
    rateJson(s * 1000L, Currencies(s % 5), 1 + rnd.nextInt(100))
  }
  val heartbeatId: Int = n
  /** The heartbeat: (order line, rate line). */
  val heartbeat: (String, String) = {
    val t = offsetMs(n - 1) + 60000L
    (order(heartbeatId, t, 1, "EUR"), rateJson(t, "EUR", 1))
  }
  /** Event time (epoch ms) that flushes every real order once the
    * watermark has passed it. */
  def flushedAtMs: Long = EpochMs + offsetMs(n - 1) + 50000L
  /** The lines a run sent: its first orders and rates, then the heartbeat. */
  def sentOrders(count: Int): Seq[String] = orders.take(count).toSeq :+ heartbeat._1
  def sentRates(count: Int): Seq[String] = rates.take(count).toSeq :+ heartbeat._2
}

object Timeline {
  val Currencies: Array[String] = Array("EUR", "USD", "GBP", "AUD", "CAD")
  val LateShare = 0.02
  val UnmatchedShare = 0.01
  val EpochMs: Long = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private def ts(off: Long): String = Instant.ofEpochMilli(EpochMs + off).toString
  def order(id: Int, off: Long, amount: Int, cur: String): String =
    s"""{"id":$id,"orderTime":"${ts(off)}","amount":$amount,"currency":"$cur"}"""
  def rateJson(off: Long, cur: String, rate: Int): String =
    s"""{"exchangeRateTime":"${ts(off)}","currency":"$cur","rate":$rate}"""
}

/** Writes JSON lines as files into a text-file source's directory:
  * first into a staging directory, then by an atomic rename, so the
  * source never sees a half-written file. */
final class FileFeed(dir: String, staging: String) {
  new File(dir).mkdirs()
  new File(staging).mkdirs()
  def write(name: String, lines: Seq[String], mtime: Option[Long] = None): Unit = {
    val tmp = Paths.get(staging, name)
    val w = new PrintWriter(tmp.toFile, "UTF-8")
    try lines.foreach(w.println) finally w.close()
    mtime.foreach(t => Files.setLastModifiedTime(tmp, FileTime.fromMillis(t)))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** The open-loop generator: one thread, separate from the engine,
  * that at each tick's due time drops that tick's orders (and any rate
  * that fell due) into the source directories, whether or not the
  * engine has kept up, and records when each tick actually went out.
  * Live order `i` is due at the first tick at or after its event time;
  * a tick writes its orders before its rate. It stops at the end of the
  * timeline or at the first tick after `stopRequested` is set. */
final class OpenLoop(tl: Timeline, first: Int, tickMs: Long, orders: FileFeed,
    rates: FileFeed, startMs: Double, tracer: Tracer) extends Thread("open-loop") {
  setDaemon(true)
  private val base = tl.offsetMs(first)
  def dueTick(i: Int): Long = (tl.offsetMs(i) - base + tickMs - 1) / tickMs
  val ticks: Int = dueTick(tl.n - 1).toInt
  val sentMs = new Array[Double](ticks + 1)
  val sentOrders = new Array[Int](ticks + 1)
  @volatile var stopRequested = false
  @volatile var error: Option[Throwable] = None
  /** Ticks sent, and the number of rates (backlog included) sent. */
  var sentTicks = 0
  var ratesSent = 0

  override def run(): Unit = try {
    var o = first
    var r = (tl.offsetMs(first - 1) / 1000 + 1).toInt
    var k = 0
    while (k <= ticks && !stopRequested) {
      val due = startMs + k * tickMs
      var now = tracer.nowMs
      while (now < due) {
        LockSupport.parkNanos(((due - now) * 1e6).toLong)
        now = tracer.nowMs
      }
      var oHi = o
      while (oHi < tl.n && dueTick(oHi) <= k) oHi += 1
      if (oHi > o) orders.write(f"live-$k%06d.json", tl.orders.slice(o, oHi).toSeq)
      o = oHi
      while (r < tl.rates.length && r * 1000L - base <= k * tickMs) {
        rates.write(f"live-$r%06d.json", Seq(tl.rates(r)))
        r += 1
      }
      sentMs(k) = tracer.nowMs
      sentOrders(k) = o - first
      k += 1
      sentTicks = k
      ratesSent = r
    }
  } catch { case t: Throwable => error = Some(t) }
}

/** `ref_stream`: the reference job through `OrderEnrichmentJob.pipeline`,
  * JSON lines in and JSON lines out, read by text-file sources (the
  * reference's `FileSource` transport) with at most `FilesPerChunk`
  * files per source per trigger. One query, one event-time timeline:
  *
  *  - catch-up: a backlog of `WarmChunks + TimedChunks` chunks, each
  *    `ChunkOrders` orders in `FilesPerChunk` files and their rates in
  *    as many files, written before the query starts; the sources drain
  *    it one chunk per trigger (a closed loop). The warm chunks are not timed.
  *  - live: an open loop at `Rate` orders/s plus 1 rate/s; after
  *    `WarmupMs`, its steady phase gives the latency samples. The steady
  *    phase lasts `--seconds`, and longer, up to twice that, until
  *    `MinSteadyTriggers` triggers have run in it: the samples come one
  *    trigger at a time, and a slow host makes triggers long.
  *  - flush: a heartbeat, then the trigger that emits every left-outer
  *    null row.
  *
  * The rows are checked against `OrderEnrichmentJob.enrich` run in
  * batch (`IntervalJoin.bucketed`) over the same lines.
  */
object StreamRun {
  val Rate = 1000
  val TickMs = 50L
  val WarmupMs = 5000L
  val ChunkOrders = 30000
  val FilesPerChunk = 100
  val WarmChunks = 2
  val TimedChunks = 2
  val MinSteadyTriggers = 14

  /** The backlog: chunk c is `FilesPerChunk` orders files, and beside
    * each orders file a rates file with the rates of the same stretch
    * of event time (often none), so every chunk carries its own rates.
    * Modification times, an hour back and increasing, fix the order in
    * which the sources take them. */
  private def writeBacklog(tl: Timeline, n: Int, orders: FileFeed, rates: FileFeed): Unit = {
    val base = System.currentTimeMillis() - 3600 * 1000L
    val per = ChunkOrders / FilesPerChunk
    // rate s has the event time of order s * rate
    val ratesOf = (0 to (tl.offsetMs(n - 1) / 1000).toInt).groupBy(s => s * tl.rate / per)
    for (f <- 0 until n / per) {
      val mtime = Some(base + f * 10L)
      orders.write(f"backlog-$f%06d.json", tl.orders.slice(f * per, (f + 1) * per).toSeq, mtime)
      rates.write(f"backlog-$f%06d.json", ratesOf.getOrElse(f, Nil).map(tl.rates(_)), mtime)
    }
  }

  /** Block until the query has run a trigger under a watermark past
    * `atMs`, i.e. every real order has been flushed. */
  private def awaitFlush(q: StreamingQuery, atMs: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    def done = q.recentProgress.exists(p => Option(p.eventTime.get("watermark"))
      .exists(w => Instant.parse(w).toEpochMilli >= atMs))
    q.processAllAvailable()
    while (!done) {
      require(System.nanoTime() < deadline, "the query never flushed its state")
      Thread.sleep(50)
      q.processAllAvailable()
    }
  }

  def run(spark: SparkSession, o: Opts, tracer: Tracer, work: String,
      rec: mutable.LinkedHashMap[String, String]): Unit = {
    val backlogN = (WarmChunks + TimedChunks) * ChunkOrders
    val liveN = ((WarmupMs + (2 * o.seconds * 1000).toLong) * Rate / 1000).toInt
    val in = s"$work/in"
    val orders = new FileFeed(s"$in/orders", s"$in/staging")
    val rates = new FileFeed(s"$in/rates", s"$in/staging")
    val tl = tracer.span("gen") {
      val tl = new Timeline(o.seed, Rate, backlogN + liveN)
      writeBacklog(tl, backlogN, orders, rates)
      tl
    }

    import spark.implicits._
    val progress = new ConcurrentLinkedQueue[String]()
    val triggerStarts = new ConcurrentLinkedQueue[Long]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress.json)
        triggerStarts.add(Instant.parse(e.progress.timestamp).toEpochMilli)
      }
    })
    val rows = new ConcurrentLinkedQueue[(Long, Array[String])]()
    val sink: (DataFrame, Long) => Unit = (df, id) =>
      rows.add((id, df.collect().map(_.getString(0))))
    def source(d: String) = spark.readStream.format("text")
      .option("maxFilesPerTrigger", FilesPerChunk.toString).load(s"$in/$d")

    tracer.phase = "catchup"
    val q = OrderEnrichmentJob.pipeline(source("orders"), source("rates"), Duration.ofSeconds(5))
      .writeStream.queryName("ref_stream").foreachBatch(sink)
      .option("checkpointLocation", s"$work/checkpoint")
      .start()
    var ordersSent, ratesSent = 0
    try {
      q.processAllAvailable()
      val startMs = tracer.nowMs + 100
      val loop = new OpenLoop(tl, backlogN, TickMs, orders, rates, startMs, tracer)
      val steadyStart = startMs + WarmupMs
      rec("live_start_ms") = Js.num(startMs)
      rec("steady_start_ms") = Js.num(steadyStart)
      tracer.setPhase("warmup")
      loop.start()
      LockSupport.parkNanos(((steadyStart - tracer.nowMs) * 1e6).toLong)
      tracer.setPhase("steady")
      def steadyTriggers = triggerStarts.asScala.count(_ >= steadyStart)
      while (loop.isAlive && (tracer.nowMs < steadyStart + o.seconds * 1000 ||
          steadyTriggers < MinSteadyTriggers)) Thread.sleep(20)
      loop.stopRequested = true
      loop.join()
      loop.error.foreach(throw _)
      ordersSent = backlogN + loop.sentOrders(loop.sentTicks - 1)
      ratesSent = loop.ratesSent
      q.processAllAvailable()
      rec("steady_end_ms") = Js.num(tracer.nowMs)
      tracer.setPhase("flush")
      rec("ticks") = Js.arr((0 until loop.sentTicks).map(k =>
        Js.arr(Seq(Js.num(startMs + k * TickMs), Js.num(loop.sentMs(k)),
          loop.sentOrders(k).toString))))
      orders.write("heartbeat.json", Seq(tl.heartbeat._1))
      rates.write("heartbeat.json", Seq(tl.heartbeat._2))
      awaitFlush(q, tl.flushedAtMs)
    } finally q.stop()

    tracer.setPhase("check")
    rec("rate") = Rate.toString
    rec("tick_ms") = TickMs.toString
    rec("first_live_id") = backlogN.toString
    rec("first_steady_id") = (backlogN + WarmupMs * Rate / 1000).toString
    rec("heartbeat_id") = tl.heartbeatId.toString
    rec("orders_sent") = ordersSent.toString
    rec("catchup_chunk_orders") = ChunkOrders.toString
    rec("catchup_warm_chunks") = WarmChunks.toString
    rec("catchup_timed_chunks") = TimedChunks.toString
    rec("progress") = Js.arr(progress.asScala.toSeq)
    val out = new PrintWriter(s"$work/rows.tsv", "UTF-8")
    try rows.asScala.foreach { case (id, rs) => rs.foreach(r => out.println(s"$id\t$r")) }
    finally out.close()

    // the independent reference: the batch path (IntervalJoin.bucketed)
    // over exactly the lines the stream read
    val ordersDf = tl.sentOrders(ordersSent).toDF("value")
    val ratesDf = tl.sentRates(ratesSent).toDF("value")
    val ref = Json.toJsonLines(OrderEnrichmentJob.enrich(
      Json.parse(ordersDf, Json.orderSchema), Json.parse(ratesDf, Json.exchangeRateSchema),
      Duration.ofSeconds(5))).as[String].collect()
    val w = new PrintWriter(s"$work/reference.txt", "UTF-8")
    try ref.foreach(w.println) finally w.close()

    if (tracer.listeners) {
      // the public source/operator/sink calls, timed on this run's input
      tracer.setPhase("calls")
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      val t0 = tracer.nowMs
      val po = Json.parse(ordersDf, Json.orderSchema).localCheckpoint(true)
      val pr = Json.parse(ratesDf, Json.exchangeRateSchema).localCheckpoint(true)
      val t1 = tracer.nowMs
      val joined = OrderEnrichmentJob.enrich(po, pr, Duration.ofSeconds(5)).localCheckpoint(true)
      val t2 = tracer.nowMs
      noop(Json.toJsonLines(joined))
      val t3 = tracer.nowMs
      rec("calls") = Js.obj("sources.json_parse_s" -> Js.num((t1 - t0) / 1000),
        "operators.enrich_batch_s" -> Js.num((t2 - t1) / 1000),
        "sources.json_write_s" -> Js.num((t3 - t2) / 1000))
    }
  }
}
