package graft

import java.time.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.StreamIntervalJoinSpec.withoutRule
import graft.functions.BloomMightContain
import graft.sources.MarkerLayout
import graft.streaming.{CorpusIngest, OrderEnrichmentJob, StatefulOps, StreamingDedup}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)

  def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  /** Poll `read` until `ok` holds or the deadline passes. Under full-suite
    * contention the memory sink's commit can race `processAllAvailable`'s
    * return, so a single post-return read is a flaky assert; a bounded
    * retry makes the spec deterministic without masking real failures
    * (a genuinely missing row still fails, just after the timeout). */
  def eventually[A](read: => A)(ok: A => Boolean, timeoutMs: Long = 30000L): A = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var last = read
    while (!ok(last) && System.nanoTime() < deadline) {
      Thread.sleep(200)
      last = read
    }
    last
  }

  def rateJson(cur: String, rate: Int) =
    s"""{"exchangeRateTime": "2024-01-01T00:00:00Z", "currency": "$cur", "rate": $rate}"""
  def orderJson(id: Int, cur: String) =
    s"""{"id": $id, "orderTime": "2024-01-01T00:00:02Z", "amount": 10, "currency": "$cur"}"""

  test("stream-stream interval join pipeline (MemoryStream end to end)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[String]
    val rates = MemoryStream[String]
    val out = OrderEnrichmentJob.pipeline(
      orders.toDF().toDF("value"), rates.toDF().toDF("value"),
      Duration.ofSeconds(5))
    val q = out.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      val hit = (rows: Array[String]) =>
        rows.exists(r => r.contains("\"id\":7") && r.contains("\"converted_amount\":30"))
      def read() = spark.sql("SELECT value FROM enriched").as[String].collect()
      rates.addData(rateJson("EUR", 3))
      orders.addData(orderJson(7, "EUR"))
      q.processAllAvailable()
      val rows = eventually(read())(hit, timeoutMs = 10000L)
      assert(hit(rows), s"expected enriched order, got [${rows.mkString("; ")}]; " +
        "progress: " + q.recentProgress.map(p => s"batch ${p.batchId}: in=${p.numInputRows}")
          .mkString(", "))
    } finally q.stop()
  }

  /** Enrichment pipeline over two MemoryStreams; every emitted JSON line
    * lands in the returned buffer before its batch commits. `pipeline`
    * maps the two raw JSON-line streams to the output lines. */
  def startEnrichment(checkpoint: Option[String] = None,
      pipeline: (DataFrame, DataFrame) => DataFrame =
        OrderEnrichmentJob.pipeline(_, _, Duration.ofSeconds(5)))
      : (MemoryStream[String], MemoryStream[String], StreamingQuery,
        collection.mutable.Buffer[String]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[String]
    val rates = MemoryStream[String]
    val lines = collection.mutable.ArrayBuffer[String]()
    val w = pipeline(orders.toDF().toDF("value"), rates.toDF().toDF("value"))
      .writeStream.foreachBatch {
        (b: DataFrame, _: Long) =>
          val got = b.as[String].collect()
          lines.synchronized { lines ++= got }
          ()
      }
    val q = checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
    (orders, rates, q, lines)
  }

  test("a rates-only trigger keeps its rates in join state (no bloom on stream-stream joins)") {
    /** The rate in a trigger of its own, whose orders side is empty (a
      * bloom built from it would reject the rate before it reaches join
      * state), then the order; gives both triggers' optimized plans and
      * the second one's exec nodes. */
    def rateThenOrder(pipeline: (DataFrame, DataFrame) => DataFrame) = {
      val (orders, rates, q, lines) = startEnrichment(pipeline = pipeline)
      try {
        val sq = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        rates.addData(rateJson("EUR", 3))
        q.processAllAvailable()
        val ratesOnly = sq.lastExecution.optimizedPlan
        orders.addData(orderJson(8, "EUR"))
        q.processAllAvailable()
        assert(lines.exists(r => r.contains("\"id\":8") && r.contains("\"converted_amount\":30")),
          s"order 8 must match the rate of the earlier trigger: [${lines.mkString("; ")}]")
        (Seq(ratesOnly, sq.lastExecution.optimizedPlan),
          sq.lastExecution.executedPlan.collect { case p => p.getClass.getSimpleName })
      } finally q.stop()
    }
    rateThenOrder(OrderEnrichmentJob.pipeline(_, _, Duration.ofSeconds(5)))
    // the bloom rule meets stream-stream joins in Spark's own join
    val (plans, nodes) = withoutRule(spark)(rateThenOrder(OrderEnrichmentJob.pipeline(_, _)))
    assert(nodes.contains("StreamingSymmetricHashJoinExec"), nodes)
    for (plan <- plans)
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[BloomMightContain]))),
        s"stream-stream join got a bloom prefilter:\n$plan")
  }

  test("join state: one RocksDB store per partition; a format-2 checkpoint keeps its 16") {
    // Spark's stream-stream join: the enrichment pipeline started with
    // the interval join rule off
    def instances(q: StreamingQuery) =
      q.lastProgress.stateOperators.map(_.numStateStoreInstances).sum
    def sparkJoinEnrichment(checkpoint: Option[String]) =
      withoutRule(spark)(startEnrichment(checkpoint))
    val (orders, rates, fresh, _) = sparkJoinEnrichment(None)
    try {
      rates.addData(rateJson("EUR", 3))
      orders.addData(orderJson(1, "EUR"))
      fresh.processAllAvailable()
      assert(instances(fresh) == 4, "format 3: one store per shuffle partition")
    } finally fresh.stop()

    val ckpt = java.nio.file.Files.createTempDirectory("graft_join_fmt2").toString
    val formatKey = "spark.sql.streaming.join.stateFormatVersion"
    spark.conf.set(formatKey, "2")
    val (_, r2, before, _) =
      try sparkJoinEnrichment(Some(ckpt)) finally spark.conf.unset(formatKey)
    try {
      r2.addData(rateJson("USD", 4))
      before.processAllAvailable()
      assert(instances(before) == 16, "format 2: four stores per shuffle partition")
    } finally before.stop()
    // restarted under the session's default format: the checkpoint's
    // format wins, and the rate stored before the restart still matches
    val (o3, r3, after, lines) = sparkJoinEnrichment(Some(ckpt))
    try {
      // the new source is rebuilt up to the offset the checkpoint
      // committed; that rate is not read again
      r3.addData(rateJson("USD", 4))
      o3.addData(orderJson(2, "USD"))
      after.processAllAvailable()
      assert(instances(after) == 16, "a restart keeps the checkpoint's state format")
      assert(lines.exists(r => r.contains("\"id\":2") && r.contains("\"converted_amount\":40")),
        s"order 2 must match the rate stored before the restart: [${lines.mkString("; ")}]")
    } finally after.stop()
  }

  test("a checkpointed trigger forks no chmod or readlink; files keep modes and checksums") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.PosixFilePermissions
    import scala.jdk.CollectionConverters._
    val ckpt = Files.createTempDirectory("graft_nofork").toString
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val (orders, rates, q, lines) = startEnrichment(Some(ckpt))
      try {
        rates.addData(rateJson("EUR", 3))
        q.processAllAvailable()
        orders.addData(orderJson(9, "EUR"))
        q.processAllAvailable()
        assert(q.lastProgress.batchId >= 1, "at least two triggers ran")
        assert(lines.exists(r => r.contains("\"id\":9") && r.contains("\"converted_amount\":30")),
          s"order 9 must match the rate of the earlier trigger: [${lines.mkString("; ")}]")
      } finally q.stop()
    } finally rec.stop()
    val jfr = Files.createTempFile("graft_nofork", ".jfr")
    try rec.dump(jfr) finally rec.close()
    val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command"))
      .filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    Files.delete(jfr)
    assert(forks.isEmpty,
      s"${forks.size} chmod/readlink forks, e.g. ${forks.take(3).mkString("; ")}")
    val offsets0 = Paths.get(ckpt, "offsets", "0")
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(offsets0)) == "rw-r--r--")
    assert(Files.exists(Paths.get(ckpt, "offsets", ".0.crc")), "the WAL file keeps its .crc")
  }

  test("streaming corpus ingest: cross-batch dedup, pii masked, analysis columns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CorpusIngest.Doc]
    val out = CorpusIngest.pipeline(in.toDF(), Duration.ofMinutes(10))
    val q = out.writeStream.format("memory").queryName("corpus_ingest")
      .outputMode("append").start()
    try {
      val textA = "the quick brown fox is seen to run and the dog is in the barn"
      in.addData(
        CorpusIngest.Doc(1, ts(0), textA),
        CorpusIngest.Doc(2, ts(1), textA), // exact dup inside one batch
        CorpusIngest.Doc(3, ts(2), "ping admin@example.com and el la de que los una"))
      q.processAllAvailable()
      in.addData(CorpusIngest.Doc(4, ts(30), textA)) // dup in a later batch
      q.processAllAvailable()
      val rows = spark.sql("select * from corpus_ingest").collect()
      val ids = rows.map(_.getAs[Long]("doc_id")).toSet
      assert(!ids.contains(4L), "cross-batch duplicate must be dropped")
      assert((ids & Set(1L, 2L)).size == 1, s"same-batch dup must collapse: $ids")
      val r3 = rows.find(_.getAs[Long]("doc_id") == 3L).get
      assert(r3.getAs[String]("masked").contains("[EMAIL]"))
      assert(r3.getAs[Int]("n_emails") == 1)
      assert(r3.getAs[String]("lang_pred") == "es")
      val rA = rows.find(r => Set(1L, 2L).contains(r.getAs[Long]("doc_id"))).get
      assert(rA.getAs[String]("lang_pred") == "en")
      assert(rA.getAs[Int]("n_tokens") > 0 && rA.getAs[Double]("quality_score") > 0)
    } finally q.stop()
    // the same pipeline runs in batch mode, and throughput aggregates it
    val batch = Seq(CorpusIngest.Doc(1, ts(0), "alpha beta gamma"),
      CorpusIngest.Doc(2, ts(1), "alpha beta gamma"),
      CorpusIngest.Doc(3, ts(2), "delta epsilon zeta")).toDF()
    val accepted = CorpusIngest.pipeline(batch, Duration.ofMinutes(10))
    assert(accepted.count() == 2)
    val thr = CorpusIngest.throughput(accepted, Duration.ofMinutes(1)).collect()
    assert(thr.map(_.getAs[Long]("n_docs")).sum == 2)
  }

  test("streaming near-dup: LSH-band state finds cross-batch pairs, batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    val in = MemoryStream[CorpusIngest.Doc]
    val pairs = StreamingDedup.nearDupStream(
      in.toDF(), Duration.ofSeconds(5), Duration.ofMinutes(10), threshold = 0.4)
    val q = pairs.writeStream.format("memory").queryName("ndp")
      .outputMode("append").start()
    try {
      in.addData(
        CorpusIngest.Doc(1, ts(1), base),
        CorpusIngest.Doc(3, ts(2), "completely different content about databases and distributed query engines at scale"))
      q.processAllAvailable()
      assert(spark.sql("select * from ndp").count() == 0, "no pairs yet")
      // the near-dup arrives in a LATER micro-batch: bucket state must
      // still hold doc 1
      in.addData(CorpusIngest.Doc(2, ts(8), base.replace("lazy", "sleepy")))
      q.processAllAvailable()
      val got = spark.sql("select id_a, id_b from ndp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L)), s"got $got")
    } finally q.stop()
    // batch mode: identical pair set (after cross-band dedup) to the
    // batch minhashLsh operator on the same corpus
    val docs = sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), lit(ts(0)).as("ingest_ts"), col("text"))
    val stream = StreamingDedup.nearDupStream(docs, Duration.ofSeconds(5),
        Duration.ofMinutes(10)).toDF()
      .select("id_a", "id_b", "jaccard").distinct()
    val batch = operators.Dedup.minhashLsh(
      sources.Tables.load(spark, "/root/testdata/sf0.001", "documents"),
      "doc_id", "text")
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty,
      "streaming band-state pairs must equal the batch LSH pairs")
  }

  test("stateful sessionization emits finalized sessions via event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    val sessions = StatefulOps.sessionize(
      in.toDS().withWatermark("ts", "0 seconds").as[StatefulOps.Evt],
      Duration.ofMinutes(10))
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // session 1: two events 1 min apart; then a gap > 10 min.
      // (start away from epoch 0: the initial watermark is 0 and rows
      // at-or-before the watermark are dropped as late)
      in.addData(StatefulOps.Evt(1L, ts(1000), 2.0), StatefulOps.Evt(1L, ts(1060), 3.0))
      q.processAllAvailable()
      // new event far beyond the gap closes session 1 in-stream
      in.addData(StatefulOps.Evt(1L, ts(4600), 5.0))
      q.processAllAvailable()
      // watermark push: unrelated user event advances event time so the
      // timeout finalizes session 2
      in.addData(StatefulOps.Evt(2L, ts(99999), 1.0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(2L, ts(999999), 1.0))
      q.processAllAvailable()

      val rows = spark.sql("SELECT * FROM sessions WHERE user_id = 1")
        .as[StatefulOps.SessionOut].collect().sortBy(_.session_start.getTime)
      assert(rows.length == 2, s"expected 2 closed sessions, got ${rows.toSeq}")
      assert(rows(0).n_events == 2 && rows(0).total_value == 5.0)
      assert(rows(1).n_events == 1 && rows(1).total_value == 5.0)
    } finally q.stop()
  }

  test("streaming windowed KLL quantiles: the sketch merges inside the streaming engine") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    // tumbling 100s windows, per-window median from the mergeable
    // sketch — partials merge across micro-batches/partitions through
    // the streaming aggregation state, exact below k
    val agg = in.toDS().withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "100 seconds"))
      .agg(graft.functions.GraftFunctions
        .kll_quantiles(col("value"), 1024, Seq(0.5)).as("qs"))
      .select(col("window.start").as("ws"), element_at(col("qs"), 1).as("median"))
    val q = agg.writeStream.format("memory").queryName("kllwin")
      .outputMode("append").start()
    try {
      // window [1000,1100): values 1..5 split across two micro-batches
      in.addData(StatefulOps.Evt(1L, ts(1001), 1.0), StatefulOps.Evt(1L, ts(1002), 2.0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(1L, ts(1003), 3.0), StatefulOps.Evt(1L, ts(1004), 4.0),
        StatefulOps.Evt(1L, ts(1005), 5.0))
      q.processAllAvailable()
      // advance the watermark past the window so append mode emits it
      in.addData(StatefulOps.Evt(2L, ts(5000), 9.0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(2L, ts(99999), 9.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT median FROM kllwin WHERE ws = timestamp'1970-01-01 00:16:40'")
        .collect()
      assert(rows.length == 1, "window [1000,1100) must have been emitted")
      assert(rows.head.getDouble(0) == 3.0,
        s"median of 1..5 across micro-batches must be exact: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming windowed distinct: registers merge in-engine, estimate == batch path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    val regs = graft.streaming.StreamingDistinct.registerStream(
      in.toDF(), "ts", "user_id", "100 seconds", "0 seconds", p = 6)
    val q = regs.writeStream.format("memory").queryName("hllwin")
      .outputMode("append").start()
    try {
      // window [1000,1100): user_ids 1..40 with repeats, split across
      // micro-batches so the register max must merge through state
      in.addData((1 to 25).map(i =>
        StatefulOps.Evt(i.toLong, ts(1001 + i % 7), 1.0)): _*)
      q.processAllAvailable()
      in.addData((10 to 40).map(i =>
        StatefulOps.Evt(i.toLong, ts(1050 + i % 9), 1.0)): _*)
      q.processAllAvailable()
      // advance the watermark past the window so append emits it
      in.addData(StatefulOps.Evt(99L, ts(5000), 1.0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(99L, ts(99999), 1.0))
      q.processAllAvailable()
      val streamed = graft.streaming.StreamingDistinct.estimate(
        spark.sql("SELECT * FROM hllwin WHERE ws = " +
          "timestamp'1970-01-01 00:16:40'"), p = 6)
        .collect()
      assert(streamed.length == 1, "window [1000,1100) must have emitted")
      // the batch mirror over the same rows must agree exactly —
      // identical hash/bucket/rho chain, register merge order-free
      val batch = (1 to 40).map(i => (i.toLong, "w")).toDF("user_id", "win")
      val expect = graft.functions.Hll.estimate(
        graft.functions.Hll.registers(batch, "win", "user_id", p = 6),
        "win", p = 6).collect()
      assert(streamed.head.getLong(1) == expect.head.getLong(1),
        s"streamed estimate ${streamed.head} != batch ${expect.head}")
      assert(streamed.head.getLong(2) == expect.head.getLong(2),
        "zero-register counts must agree")
      // sanity: the RAW-regime estimate biases high at n ≪ m (the
      // documented a9 contract — zero_regs rides along so a consumer
      // can switch to linear counting); m·ln(m/V) must land near 40
      val v = streamed.head.getLong(2).toDouble
      val lc = 64.0 * math.log(64.0 / v)
      // one 64-register draw at n/m ≈ 0.6 carries ~20% noise — this
      // guards regime sanity, not accuracy (equality above does that)
      assert(math.abs(lc - 40.0) < 15.0,
        s"linear-counting check off: $lc (zero_regs $v)")
    } finally q.stop()
  }

  test("streaming CDC apply: snapshot tracks upserts/deletes across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString + "/snap"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ck").toString
    val in = MemoryStream[(Long, String, Double, Boolean, Long)]
    val changes = in.toDF().toDF("k", "name", "bal", "del", "seq")
    val q = graft.streaming.CdcApply.run(changes, dir, "k", "del", "seq", ckpt)
    try {
      // batch 1: insert 1 and 2; key 2 changes twice in-batch (last wins)
      in.addData((1L, "a", 10.0, false, 1L), (2L, "b0", 0.0, false, 2L),
        (2L, "b", 20.0, false, 3L))
      q.processAllAvailable()
      val s1 = spark.read.parquet(dir).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(s1.toSeq == Seq((1L, "a", 10.0), (2L, "b", 20.0)))
      // batch 2: update 1, delete 2, insert 3
      in.addData((1L, "a2", 11.0, false, 4L), (2L, "b", 0.0, true, 5L),
        (3L, "c", 30.0, false, 6L))
      q.processAllAvailable()
      val s2 = spark.read.parquet(dir).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(s2.toSeq == Seq((1L, "a2", 11.0), (3L, "c", 30.0)))
    } finally q.stop()
  }

  test("CDC apply recovers the snapshot from a crash between swap renames") {
    import spark.implicits._
    import graft.streaming.CdcApply
    val base = java.nio.file.Files.createTempDirectory("graft-cdc-rec").toString
    val dir = base + "/snap"
    def ch(rows: (Long, String, Double, Boolean, Long)*) =
      rows.toSeq.toDF("k", "name", "bal", "del", "seq")
    CdcApply.applyBatch(ch((1L, "a", 10.0, false, 1L),
      (2L, "b", 20.0, false, 2L)), dir, "k", "del", "seq")
    // simulate dying after rename(cur -> old) but before rename(next -> cur)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".old")))
    // the replayed batch must restore the old generation and merge into
    // it — NOT rebuild from only its own rows
    CdcApply.applyBatch(ch((3L, "c", 30.0, false, 3L)), dir, "k", "del", "seq")
    val rows = spark.read.parquet(dir).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"pre-crash keys must survive: ${rows.toSeq}")
  }

  test("streaming SCD2: closed versions match the batch history, duplicates collapse") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.ScdEvent]
    val q = StatefulOps.scd2Stream(in.toDS())
      .writeStream.format("memory").queryName("scdstream")
      .outputMode("append").start()
    try {
      // user 1: a->a (collapse) ->b ->c; user 2: x only (stays open)
      in.addData(StatefulOps.ScdEvent(1L, ts(1000), "a", 1),
        StatefulOps.ScdEvent(1L, ts(1010), "a", 2),
        StatefulOps.ScdEvent(2L, ts(1005), "x", 3))
      q.processAllAvailable()
      in.addData(StatefulOps.ScdEvent(1L, ts(1020), "b", 4),
        StatefulOps.ScdEvent(1L, ts(1030), "c", 5))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, attr, valid_from_us, valid_to_us FROM scdstream")
      // batch mirror over the same events; closed versions only
      val batch = graft.operators.Dimensions.scd2(
        Seq((1L, ts(1000), "a", 1L), (1L, ts(1010), "a", 2L),
          (2L, ts(1005), "x", 3L), (1L, ts(1020), "b", 4L),
          (1L, ts(1030), "c", 5L))
          .toDF("user_id", "ts", "event_type", "event_id"),
        "user_id", "event_type", "ts", "event_id")
        .filter(col("valid_to_us").isNotNull)
        .select(col("user_id"), col("attr"), col("valid_from_us"),
          col("valid_to_us"))
      assert(streamed.count() == 2, "a->b and b->c must have closed")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        s"stream/batch mismatch:\nstream ${streamed.collect().toSeq}\n" +
          s"batch ${batch.collect().toSeq}")
    } finally q.stop()
  }

  test("streaming windowed expectations: violation counts merge across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Expectations
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    val agg = Expectations.auditWindowed(
        in.toDS().withWatermark("ts", "0 seconds").toDF(),
        "ts", "100 seconds",
        Seq(Expectations.inRange("value", 0L, 10L)))
      .select(col("window_start"), col("rule"), col("n_violations"),
        col("n_rows"), col("passed"))
    val q = agg.writeStream.format("memory").queryName("expwin")
      .outputMode("append").start()
    try {
      // window [1000,1100): 3 rows, one breach (42.0), split over batches
      in.addData(StatefulOps.Evt(1L, ts(1001), 5.0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(1L, ts(1002), 42.0),
        StatefulOps.Evt(2L, ts(1003), 7.0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(2L, ts(99999), 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT n_violations, n_rows, passed FROM expwin
          |WHERE window_start = timestamp'1970-01-01 00:16:40'""".stripMargin)
        .collect()
      assert(rows.length == 1, "window [1000,1100) must have been emitted")
      assert(rows.head.getLong(0) == 1 && rows.head.getLong(1) == 3
        && !rows.head.getBoolean(2),
        s"expected 1 violation of 3 rows: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming expectation alerts: only failing windows emit, exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Expectations
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    val alerts = Expectations.alertStream(in.toDS().toDF(),
        "ts", "0 seconds", "100 seconds",
        Seq(Expectations.inRange("value", 0L, 10L),
          Expectations.notNull("user_id")))
      .select(col("window_start"), col("rule"), col("n_violations"))
    val q = alerts.writeStream.format("memory").queryName("alerts")
      .outputMode("append").start()
    try {
      // window [1000,1100): clean; window [1100,1200): one range breach
      in.addData(StatefulOps.Evt(1L, ts(1001), 5.0),
        StatefulOps.Evt(2L, ts(1050), 7.0),
        StatefulOps.Evt(1L, ts(1101), 42.0),
        StatefulOps.Evt(2L, ts(1102), 3.0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(9L, ts(99999), 1.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window_start, rule, n_violations FROM alerts").collect()
      // the clean window and every passing check stay silent; the
      // breached window emits exactly its one failing check
      assert(rows.length == 1, s"expected one alert, got ${rows.toSeq}")
      assert(rows.head.getString(1) == "in_range" &&
        rows.head.getLong(2) == 1L, s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("alert sink: batchId-keyed delivery is idempotent under replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Expectations
    import graft.streaming.AlertSink
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-alert").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-alert-ck").toString
    val in = MemoryStream[StatefulOps.Evt]
    val alerts = Expectations.alertStream(in.toDS().toDF(),
        "ts", "0 seconds", "100 seconds",
        Seq(Expectations.inRange("value", 0L, 10L)))
      .select(col("window_start"), col("rule"), col("column"),
        col("n_violations"))
    val q = AlertSink.run(alerts, dir, ckpt)
    try {
      in.addData(StatefulOps.Evt(1L, ts(1101), 42.0),
        StatefulOps.Evt(2L, ts(1102), 3.0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(9L, ts(99999), 1.0)) // close the window
      q.processAllAvailable()
    } finally q.stop()
    val delivered = AlertSink.readDelivered(spark, dir)
    val rows = delivered.select("rule", "n_violations").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("in_range", 1L)),
      s"expected the one breach delivered once: ${rows.toSeq}")
    // at-least-once replay: redeliver the SAME batch id with the same
    // rows (what a post-sink pre-commit crash does on restart) — the
    // overwrite must leave the channel without duplicates
    // materialize the batch first: a real replay re-derives it from
    // the checkpointed source, not by reading the sink being rewritten
    val alertRows = delivered.filter(col("rule") === "in_range")
      .select("window_start", "rule", "column", "n_violations")
      .collect().toSeq
    val alertBatch = spark.createDataFrame(
      spark.sparkContext.parallelize(alertRows),
      delivered.select("window_start", "rule", "column", "n_violations").schema)
    // replay the batch the alert actually arrived in — at-least-once
    // redelivers the same id, never a fresh one
    val alertBatchId = delivered.filter(col("rule") === "in_range")
      .select(col("batch").cast("long")).head.getLong(0)
    AlertSink.deliverBatch(alertBatch, dir, alertBatchId)
    val replayed = AlertSink.readDelivered(spark, dir)
      .select("rule", "n_violations").collect()
    assert(replayed.length == 1,
      s"replayed delivery must be idempotent: ${replayed.toSeq}")
  }

  test("streaming windowed heavy hitters: MG counters merge across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    val agg = in.toDS().withWatermark("ts", "0 seconds")
      .select(col("ts"), concat(lit("t"), floor(col("value")).cast("long"))
        .as("token"))
      .groupBy(window(col("ts"), "100 seconds"))
      .agg(graft.functions.GraftFunctions
        .heavy_hitters(col("token"), capacity = 8, topN = 2).as("hh"))
      .select(col("window.start").as("ws"), col("hh"))
    val q = agg.writeStream.format("memory").queryName("hhwin")
      .outputMode("append").start()
    try {
      // window [1000,1100): t1 x3 and t2 x2, split across micro-batches
      in.addData(StatefulOps.Evt(1L, ts(1001), 1.0), StatefulOps.Evt(1L, ts(1002), 2.0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(1L, ts(1003), 1.0), StatefulOps.Evt(1L, ts(1004), 2.0),
        StatefulOps.Evt(1L, ts(1005), 1.0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(2L, ts(99999), 9.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT hh FROM hhwin WHERE ws = timestamp'1970-01-01 00:16:40'")
        .as[Seq[(String, Long)]].collect()
      assert(rows.length == 1, "window [1000,1100) must have been emitted")
      assert(rows.head == Seq(("t1", 3L), ("t2", 2L)),
        s"MG counters must merge exactly across micro-batches: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming windowed profile: per-window stats finalize via watermark, batch parity") {
    import spark.implicits._
    import graft.operators.Profile
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    val out = Profile.profileWindowed(in.toDF(), "ts", "100 seconds")
    val q = out.writeStream.format("memory").queryName("profwin")
      .outputMode("append").start()
    // window [1000,1100): 5 rows split across micro-batches, 3 distinct
    // keys, values 1..5 — the per-window partials must merge across
    // batches through streaming state
    val evts = Seq(
      StatefulOps.Evt(1L, ts(1001), 1.0), StatefulOps.Evt(2L, ts(1002), 2.0),
      StatefulOps.Evt(1L, ts(1003), 3.0), StatefulOps.Evt(3L, ts(1004), 4.0),
      StatefulOps.Evt(1L, ts(1005), 5.0))
    try {
      in.addData(evts.take(2): _*)
      q.processAllAvailable()
      in.addData(evts.drop(2): _*)
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(9L, ts(99999), 0.0)) // advance watermark
      q.processAllAvailable()
      val streamed = spark.sql(
        """SELECT column, n_rows, n_nulls, approx_distinct, min_value, max_value
          |FROM profwin
          |WHERE window_start = timestamp'1970-01-01 00:16:40'""".stripMargin)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
        .toMap
      assert(streamed.keySet == Set("user_id", "value"),
        s"expected user_id+value columns, got ${streamed.keySet}")
      assert(streamed("user_id") == ((5L, 0L, 3L, "1", "3")), s"user_id stats: $streamed")
      assert(streamed("value") == ((5L, 0L, 5L, "1.0", "5.0")), s"value stats: $streamed")
      // batch parity: the same call on a batch frame of the same rows
      val batch = Profile.profileWindowed(evts.toDF(), "ts", "100 seconds")
        .where(col("window_start") === lit("1970-01-01 00:16:40").cast("timestamp"))
        .collect().map(r => r.getString(1) ->
          (r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6), r.getString(7)))
        .toMap
      assert(batch == streamed, s"batch $batch != streamed $streamed")
    } finally q.stop()
  }

  test("streaming as-of join: watermark-correct matching incl. late rates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[OrderEnrichmentJob.Order]
    val rates = MemoryStream[OrderEnrichmentJob.ExchangeRate]
    val out = StatefulOps.asOfEnrich(orders.toDS(), rates.toDS(), "5 seconds")
    val q = out.writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // rate@100, order@110 arrive; order NOT emitted yet (wm behind)
      rates.addData(OrderEnrichmentJob.ExchangeRate(ts(100), "EUR", 3))
      orders.addData(OrderEnrichmentJob.Order(1, ts(110), 10, "EUR"))
      q.processAllAvailable()
      // a LATE rate@107 (above the watermark of 110-5=105, so not
      // dropped) arrives before the watermark passes 110 -> must win
      rates.addData(OrderEnrichmentJob.ExchangeRate(ts(107), "EUR", 7))
      q.processAllAvailable()
      // advance the watermark well past 110 via a later rate tick
      rates.addData(OrderEnrichmentJob.ExchangeRate(ts(500), "EUR", 9))
      q.processAllAvailable()
      rates.addData(OrderEnrichmentJob.ExchangeRate(ts(900), "EUR", 11))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, rate, converted FROM asof_stream").collect()
      assert(rows.length == 1, s"expected exactly one enriched order, got ${rows.toSeq}")
      assert(rows(0).getInt(1) == 7 && rows(0).getInt(2) == 70,
        s"late rate@107 must win: ${rows(0)}")
      // order on a key with no prior rate (ts above current watermark
      // so it is not dropped as late) -> null-extended once wm passes
      orders.addData(OrderEnrichmentJob.Order(2, ts(1000), 5, "GBP"))
      q.processAllAvailable()
      rates.addData(OrderEnrichmentJob.ExchangeRate(ts(2000), "GBP", 2))
      q.processAllAvailable()
      rates.addData(OrderEnrichmentJob.ExchangeRate(ts(3000), "GBP", 2))
      q.processAllAvailable()
      val gbp = spark.sql("SELECT rate FROM asof_stream WHERE id = 2").collect()
      assert(gbp.length == 1 && gbp(0).isNullAt(0), s"no-prior-rate order must null-extend: ${gbp.toSeq}")
    } finally q.stop()
  }

  test("streaming as-of join idle TTL drops quiescent keys' state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.AsOfEvent]
    val out = StatefulOps.asOfEnrichStream(
      in.toDS().withWatermark("ts", "0 seconds"),
      idleTtl = Some(Duration.ofSeconds(60)))
    val q = out.writeStream.format("memory").queryName("asof_ttl")
      .outputMode("append").start()
    try {
      def rate(k: String, sec: Long, r: Int) =
        StatefulOps.AsOfEvent(k, isRate = true, ts(sec), r, 0, 0)
      def ord(k: String, sec: Long, id: Int) =
        StatefulOps.AsOfEvent(k, isRate = false, ts(sec), 0, id, 10)
      // EUR rate, then EUR goes quiescent while CHF traffic pushes the
      // watermark far beyond the 60 s TTL
      in.addData(rate("EUR", 100, 3)); q.processAllAvailable()
      for (t <- Seq(200L, 400L, 800L)) {
        in.addData(rate("CHF", t, 1)); q.processAllAvailable()
      }
      // EUR order long after the TTL: state was GC'd, so no rate attaches
      in.addData(ord("EUR", 900, 1)); q.processAllAvailable()
      in.addData(rate("CHF", 2000, 1)); q.processAllAvailable()
      in.addData(rate("CHF", 4000, 1)); q.processAllAvailable()
      val rows = spark.sql("SELECT id, rate FROM asof_ttl WHERE id = 1").collect()
      assert(rows.length == 1, s"order must flush: ${rows.toSeq}")
      assert(rows(0).isNullAt(1),
        s"EUR state should have been TTL-dropped, got rate ${rows(0)}")
    } finally q.stop()
  }

  test("checkpoint recovery: stop mid-stream, restart, exactly-once output") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_ckpt").toString
    val ordersDir = s"$root/orders"; val ratesDir = s"$root/rates"
    val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(ordersDir).mkdirs(); new java.io.File(ratesDir).mkdirs()
    def put(dir: String, name: String, lines: String*): Unit = {
      // write outside the watched dir, then atomic-move in
      val tmp = Paths.get(root, name)
      Files.write(tmp, lines.mkString("\n").getBytes)
      Files.move(tmp, Paths.get(dir, name))
    }
    def order(id: Int, t: String, amount: Int, cur: String) =
      s"""{"id": $id, "orderTime": "$t", "amount": $amount, "currency": "$cur"}"""
    def rate(t: String, cur: String, r: Int) =
      s"""{"exchangeRateTime": "$t", "currency": "$cur", "rate": $r}"""

    // ---- phase 1: one matched order, one order with no rate yet ----
    put(ratesDir, "r1.json", rate("2024-01-01T00:00:00Z", "EUR", 2))
    put(ordersDir, "o1.json",
      order(1, "2024-01-01T00:00:02Z", 100, "EUR"),
      order(2, "2024-01-01T00:00:03Z", 50, "GBP"))
    val q1 = streaming.OrderEnrichmentJob.run(spark, ordersDir, ratesDir, outDir, ckpt)
    try q1.processAllAvailable() finally q1.stop()

    // ---- phase 2: restart from the checkpoint; new currency matches,
    // heartbeats on BOTH streams push the global watermark far past
    // phase-1 event times so order 2's left-outer null row can flush —
    // which only happens if the join state survived the restart ----
    put(ratesDir, "r2.json",
      rate("2024-01-01T00:00:04Z", "JPY", 5),
      rate("2024-01-01T01:00:00Z", "EUR", 9))
    put(ordersDir, "o2.json",
      order(3, "2024-01-01T00:00:06Z", 10, "JPY"),
      order(99, "2024-01-01T01:00:00Z", 1, "EUR"))
    val q2 = streaming.OrderEnrichmentJob.run(spark, ordersDir, ratesDir, outDir, ckpt)
    try {
      q2.processAllAvailable()
      // second data batch at even later event time: the now-advanced
      // watermark takes effect and flushes held state
      put(ratesDir, "r3.json", rate("2024-01-01T02:00:00Z", "EUR", 9))
      put(ordersDir, "o3.json", order(98, "2024-01-01T02:00:00Z", 1, "EUR"))
      q2.processAllAvailable()
    } finally q2.stop()

    val out = spark.read.text(outDir).collect().map(_.getString(0)).toSeq
    def rowsFor(id: Int) = out.filter(_.contains(s""""id":$id"""))
    assert(rowsFor(1).length == 1, s"order 1 must appear exactly once: $out")
    assert(rowsFor(1).head.contains("\"converted_amount\":200"))
    assert(rowsFor(3).length == 1, s"order 3 must appear exactly once: $out")
    assert(rowsFor(3).head.contains("\"converted_amount\":50"))
    val gbp = rowsFor(2)
    assert(gbp.length == 1, s"unmatched GBP order must flush exactly once: $out")
    assert(!gbp.head.contains("converted_amount"),
      s"GBP order has no rate -> null (dropped by to_json): ${gbp.head}")
  }

  test("a 100-file trigger lists its files in one task per core; rows == batch enrich") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val root = Files.createTempDirectory("graft_listing").toString
    // file i of each source holds event second i: one EUR and one USD
    // rate, three orders. Every order matches a rate, so the left
    // outer join holds no row back for the watermark.
    def at(i: Int) = java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i)
    for (d <- Seq("orders", "rates")) Files.createDirectories(Paths.get(root, d))
    for (i <- 0 until 100) {
      Files.write(Paths.get(root, "rates", f"r$i%03d.json"), Seq("EUR", "USD")
        .map(c => s"""{"exchangeRateTime": "${at(i)}", "currency": "$c", "rate": ${i + 1}}""")
        .mkString("\n").getBytes)
      Files.write(Paths.get(root, "orders", f"o$i%03d.json"), Seq("EUR", "USD", "EUR")
        .zipWithIndex.map { case (c, k) =>
          s"""{"id": ${3 * i + k}, "orderTime": "${at(i)}", "amount": ${k + 1}, "currency": "$c"}"""
        }.mkString("\n").getBytes)
    }
    val listingTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).map(_.getProperty("spark.job.description", ""))
            .exists(d => d.startsWith("Listing leaf files") && d.contains(root)))
          listingTasks.add(js.stageInfos.map(_.numTasks).sum)
    }
    def src(d: String) = spark.readStream.format("text")
      .option("maxFilesPerTrigger", "100").load(s"$root/$d")
    spark.sparkContext.addSparkListener(l)
    val q = OrderEnrichmentJob.pipeline(src("orders"), src("rates"))
      .writeStream.format("memory").queryName("listing_enriched")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally {
      q.stop()
      org.apache.spark.sql.graftshim.SparkShims.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(l)
    }
    val tasks = listingTasks.asScala.toSeq
    // Spark lists a getBatch of more than 32 files in a job; uncapped,
    // that job runs one task per file (100 here)
    assert(tasks.size >= 2 && tasks.forall(_ <= 4),
      s"listing jobs must run at most one task per core: $tasks")
    val streamed = spark.sql("SELECT value FROM listing_enriched").as[String]
      .collect().sorted
    import graft.sources.Json
    val batch = Json.toJsonLines(OrderEnrichmentJob.enrich(
        Json.parse(spark.read.text(s"$root/orders"), Json.orderSchema),
        Json.parse(spark.read.text(s"$root/rates"), Json.exchangeRateSchema),
        Duration.ofSeconds(5)))
      .as[String].collect().sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      s"stream ${streamed.length} rows vs batch ${batch.length}")
  }

  test("source config: file and memory wired; kafka reaches the connector lookup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val mdf = streaming.OrderEnrichmentJob.source(spark,
      streaming.OrderEnrichmentJob.MemorySource(ms.toDF().toDF("value")))
    assert(mdf.isStreaming && mdf.columns.toSeq == Seq("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_src").toString
    val fdf = streaming.OrderEnrichmentJob.source(spark,
      streaming.OrderEnrichmentJob.FileSource(dir))
    assert(fdf.isStreaming && fdf.columns.toSeq == Seq("value"))
    // the kafka path resolves through the SAME DataSource lookup seam
    // the real connector registers at — on the test classpath the
    // service-registered KafkaProbeSource answers it (the sandbox has
    // no spark-sql-kafka-0-10 jar); the dedicated contract spec above
    // pins the exact options and schema that cross the seam
    val kdf = streaming.OrderEnrichmentJob.source(spark,
      streaming.OrderEnrichmentJob.KafkaSource("localhost:9092", "orders"))
    assert(kdf.isStreaming && kdf.columns.toSeq == Seq("value"))
  }

  test("streaming index maintenance: top-k tracks the stream, exactly-once, compaction folds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.{Tables, TextIndex}
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val idx = java.nio.file.Files.createTempDirectory("graft-tidx-s").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tidx-ck").toString
    val queries = Seq(1 -> Seq("hash", "join"), 2 -> Seq("dup", "scan"))
    def top(path: String) =
      TextIndex.bm25TopK(spark, path, queries, k = 10).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    // base index over the first slice; the rest arrives as a stream
    TextIndex.build(docs.filter(col("doc_id") < 150), "doc_id", "text", idx,
      buckets = 16)
    val in = MemoryStream[(Long, String)]
    val q = TextIndex.maintainStream(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, ckpt, compactEvery = 2)
    try {
      val mid = docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)
        .as[(Long, String)].collect()
      val rest = docs.filter(col("doc_id") >= 300).as[(Long, String)].collect()
      in.addData(mid.toSeq)
      q.processAllAvailable()
      // queries see the committed batch BEFORE any compaction folds it
      val expectMid = {
        val ref = java.nio.file.Files.createTempDirectory("graft-tidx-r1").toString
        TextIndex.build(docs.filter(col("doc_id") < 300), "doc_id", "text",
          ref, buckets = 16)
        top(ref)
      }
      assert(top(idx) == expectMid,
        "indexed top-k must include the streamed batch")
      in.addData(rest.toSeq)
      q.processAllAvailable() // batch id 1 → compactEvery=2 fires here
      assert(MarkerLayout.liveGeneration(spark, idx).nonEmpty,
        "compaction must have committed a generation")
      // GRACE PERIOD: just-folded batch dirs + markers are retained one
      // compaction round for in-flight readers; folded_through already
      // excludes them from every new read, and the NEXT compaction
      // sweeps them (asserted below)
      assert(MarkerLayout.committedBatches(spark, idx) == Seq(0L, 1L),
        "just-folded batch markers get a grace round before the sweep")
      val expectAll = {
        val ref = java.nio.file.Files.createTempDirectory("graft-tidx-r2").toString
        TextIndex.build(docs, "doc_id", "text", ref, buckets = 16)
        top(ref)
      }
      assert(top(idx) == expectAll,
        "after fold, indexed top-k must equal a full rebuild")
      // exactly-once: re-delivering a committed batch must change nothing
      TextIndex.appendBatch(
        spark.createDataFrame(mid.toSeq).toDF("doc_id", "text"),
        "doc_id", "text", idx, batchId = 0L)
      assert(top(idx) == expectAll,
        "replaying a committed batch must be a no-op")
      // the NEXT compaction sweeps the grace-retained folded batches
      TextIndex.compact(spark, idx)
      assert(MarkerLayout.committedBatches(spark, idx).isEmpty,
        "batches past their grace round must be swept")
      assert(top(idx) == expectAll,
        "grace sweep must not change answers")
      // run-id guard: a maintainer restarted against a FRESH checkpoint
      // restarts batch ids at 0 — its batches must not be silently
      // dropped as replays once the index has stream history
      val regress = intercept[IllegalStateException] {
        TextIndex.appendBatch(
          spark.createDataFrame(mid.toSeq).toDF("doc_id", "text"),
          "doc_id", "text", idx, batchId = 0L, runId = "a-new-checkpoint")
      }
      assert(regress.getMessage.contains("run id changed"))
    } finally q.stop()
  }

  test("continuous retrieval: standing top-k refreshes per batch, == full rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.{Tables, TextIndex}
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val idx = java.nio.file.Files.createTempDirectory("graft-srv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-srv-ck").toString
    val queries = Seq(1 -> Seq("hash", "join"), 2 -> Seq("dup", "scan"))
    TextIndex.build(docs.filter(col("doc_id") < 150), "doc_id", "text", idx,
      buckets = 16)
    // full-rebuild parity target: the AD-HOC scorer over the corpus
    // the stream has delivered so far
    def adhoc(upTo: Long) = operators.TextRank.bm25TopK(
        docs.filter(col("doc_id") < upTo), queries, k = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    def served() = MarkerLayout.servedTopK(spark, idx)
      .select("query_id", "rank", "doc_id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val in = MemoryStream[(Long, String)]
    val q = TextIndex.maintainAndServeStream(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, ckpt, queries, k = 10, compactEvery = 2)
    try {
      in.addData(docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)
        .as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      assert(served() == adhoc(300),
        "standing results must reflect the first streamed batch")
      assert(MarkerLayout.servedTopK(spark, idx).select("batch_id")
        .head.getLong(0) == 0L)
      in.addData(docs.filter(col("doc_id") >= 300)
        .as[(Long, String)].collect().toSeq)
      q.processAllAvailable() // batch 1 -> compaction folds, then re-serve
      assert(MarkerLayout.liveGeneration(spark, idx).nonEmpty)
      assert(served() == adhoc(Long.MaxValue),
        "standing results must track the stream through the fold")
      assert(MarkerLayout.servedTopK(spark, idx).select("batch_id")
        .head.getLong(0) == 1L)
      // each refresh is its own committed dir; a replay overwrites in
      // place rather than duplicating
      def servedDirs() = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$idx/served")).toArray
        .map(_.toString.split('/').last).filter(_.startsWith("batch-"))
        .toSet
      assert(servedDirs() == Set("batch-0", "batch-1"))
      // a running stream keeps only the latest two refreshes: the
      // older one is the grace copy for a reader that resolved it
      val late = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      in.addData(late.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      assert(servedDirs() == Set("batch-1", "batch-2"),
        s"served/ must hold the latest two refreshes, got ${servedDirs()}")
      assert(served() == operators.TextRank.bm25TopK(docs.unionByName(late),
          queries, k = 10).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet,
        "the latest refresh must cover the third batch")
    } finally q.stop()
  }

  test("streaming vector index maintenance: exactly-once, capacity held, compaction folds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.{Tables, VectorIndex}
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val idx = java.nio.file.Files.createTempDirectory("graft-vidx-s").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vidx-ck").toString
    val cap = math.ceil(n / 6.0).toLong
    VectorIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      idx, clusters = 8, iterations = 2, capacity = cap, maxRounds = 6)
    // exact quantized cosine top-k from first principles — what a
    // full-probe (nprobe = clusters) index read must equal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def quantize(c: org.apache.spark.sql.Column) =
      transform(c.cast(ArrayType(DoubleType)), x => floor(x * 1024).cast("long"))
    def dotl(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)
    def sqn(a: org.apache.spark.sql.Column) =
      aggregate(transform(a, x => x * x), lit(0L), _ + _)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def brute(corpus: org.apache.spark.sql.DataFrame) = {
      val cq = corpus.select(col("vec_id"), quantize(col("embedding")).as("cq"))
        .withColumn("cna", sqn(col("cq")))
      val qq = q.select(col("query_id"), quantize(col("query_vec")).as("qq"))
        .withColumn("qna", sqn(col("qq")))
      qq.crossJoin(cq)
        .where(col("query_id") =!= col("vec_id"))
        .withColumn("sim", dotl(col("qq"), col("cq")).cast("double") /
          sqrt(col("qna").cast("double") * col("cna")))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(col("sim").desc, col("vec_id").asc)))
        .where(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e12))).toSet
    }
    def top() = VectorIndex.topK(spark, idx, q, k = 5, nprobe = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12))).toSet
    val in = MemoryStream[(Long, Seq[Float])]
    // maintain AND serve: the standing query batch refreshes per
    // committed micro-batch (full probe => refresh == quantized
    // brute force over everything delivered so far)
    val sq = VectorIndex.maintainAndServeStream(
      in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, ckpt, q, k = 5, nprobe = 8,
      compactEvery = 2)
    def servedRows() = MarkerLayout.servedTopK(spark, idx)
      .select("query_id", "rank", "neighbor_id", "sim")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12))).toSet
    try {
      val mid = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
        .as[(Long, Seq[Float])].collect()
      val rest = emb.filter(col("vec_id") >= 400).as[(Long, Seq[Float])].collect()
      in.addData(mid.toSeq)
      sq.processAllAvailable()
      // committed batch visible before any compaction folds it
      assert(top() == brute(emb.filter(col("vec_id") < 400)),
        "index must include the streamed batch")
      assert(servedRows() == brute(emb.filter(col("vec_id") < 400)),
        "standing serving must reflect the first streamed batch")
      in.addData(rest.toSeq)
      sq.processAllAvailable() // batch 1 -> compactEvery=2 fires
      assert(MarkerLayout.liveGeneration(spark, idx).nonEmpty,
        "compaction must have committed a generation")
      assert(top() == brute(emb), "after fold, index must cover everything")
      assert(servedRows() == brute(emb),
        "standing serving must track the stream through the fold")
      assert(MarkerLayout.servedTopK(spark, idx).select("batch_id")
        .head.getLong(0) == 1L)
      // capacity held through streaming appends AND the fold
      val counts = VectorIndex.cellCounts(spark, idx).collect().map(_.getLong(1))
      assert(counts.forall(_ <= cap), s"capacity broken: ${counts.toSeq}")
      assert(counts.sum == n)
      // exactly-once: re-delivering a committed batch is a no-op
      VectorIndex.appendBatch(
        spark.createDataFrame(mid.toSeq).toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx, batchId = 0L)
      assert(top() == brute(emb), "replaying a committed batch must be a no-op")
      // grace-retained folded batches are swept by the NEXT compaction
      VectorIndex.compact(spark, idx)
      assert(MarkerLayout.committedBatches(spark, idx).isEmpty,
        "batches past their grace round must be swept")
      assert(top() == brute(emb), "grace sweep must not change answers")
      // a fresh checkpoint restarting batch ids must fail loudly, not
      // silently drop its batches as replays
      val regress = intercept[IllegalStateException] {
        VectorIndex.appendBatch(
          spark.createDataFrame(mid.toSeq).toDF("vec_id", "embedding"),
          "vec_id", "embedding", idx, batchId = 0L, runId = "a-new-checkpoint")
      }
      assert(regress.getMessage.contains("run id changed"))
    } finally sq.stop()
  }

  test("streaming tumbling-window aggregation with watermark (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    val agg = in.toDF().withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val q = agg.writeStream.format("memory").queryName("tumbled")
      .outputMode("append").start()
    try {
      in.addData(StatefulOps.Evt(1, ts(10), 1.0), StatefulOps.Evt(2, ts(20), 2.0))
      q.processAllAvailable()
      // watermark must pass the window end before append emits it
      in.addData(StatefulOps.Evt(3, ts(7200), 9.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT n, total FROM tumbled").collect()
      assert(rows.length == 1 && rows(0).getLong(0) == 2 && rows(0).getDouble(1) == 3.0,
        s"expected finalized first window, got ${rows.mkString(";")}")
    } finally q.stop()
  }

  test("streaming window top-k: MG state finalizes per window, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingTopK
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    // key = user_id as string; 10-minute windows, watermark 0
    val out = StreamingTopK.topKPerWindowStream(
      in.toDF().select(col("ts"), col("user_id")),
      "ts", "user_id", Duration.ofMinutes(10), Duration.ZERO, k = 2,
      capacity = 16)
    val q = out.writeStream.format("memory").queryName("wtopk")
      .outputMode("append").start()
    try {
      // window [600, 1200): user 1 × 3, user 2 × 2, user 3 × 1 —
      // split across two micro-batches so state genuinely merges
      in.addData(StatefulOps.Evt(1, ts(610), 0), StatefulOps.Evt(2, ts(620), 0),
        StatefulOps.Evt(1, ts(630), 0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(1, ts(640), 0), StatefulOps.Evt(2, ts(650), 0),
        StatefulOps.Evt(3, ts(660), 0))
      q.processAllAvailable()
      // nothing emits while the window is open
      assert(spark.sql("SELECT * FROM wtopk").count() == 0)
      // advance the watermark past the window end → exactly one final
      // top-2 for the closed window, nothing for the open one
      in.addData(StatefulOps.Evt(9, ts(5000), 0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(9, ts(9000), 0))
      q.processAllAvailable()
      // (the watermark-pusher's own later window may close too —
      // restrict to the window under test)
      val rows = spark.sql(
          "SELECT key, n, rank FROM wtopk " +
            "WHERE window_start = to_timestamp(600) " +
            "ORDER BY rank").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
      assert(rows == Seq(("1", 3L, 1), ("2", 2L, 2)),
        s"expected exact top-2 of the closed window, got $rows")
      // batch parity in the exact regime (capacity covers keys)
      val batch = StreamingTopK.topKPerWindow(
          Seq((ts(610), 1L), (ts(620), 2L), (ts(630), 1L), (ts(640), 1L),
            (ts(650), 2L), (ts(660), 3L)).toDF("ts", "user_id"),
          "ts", "user_id", "10 minutes", k = 2)
        .select("key", "n", "rank").orderBy("rank").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
      assert(batch == rows, s"stream $rows != batch $batch")
    } finally q.stop()
  }

  test("window top-k: MG state survives restart, window emits exactly once") {
    import java.nio.file.{Files, Paths}
    import java.time.Duration
    import graft.streaming.StreamingTopK
    val root = Files.createTempDirectory("graft_t8ckpt").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(inDir).mkdirs()
    def put(name: String, lines: String*): Unit = {
      val tmp = Paths.get(root, name)
      Files.write(tmp, lines.mkString("\n").getBytes)
      Files.move(tmp, Paths.get(inDir, name))
    }
    def ev(sec: Long, key: String) = s"""{"tsec": $sec, "key": "$key"}"""
    def runQ() = {
      val in = spark.readStream
        .schema("tsec LONG, key STRING").json(inDir)
        .select(to_timestamp(col("tsec")).as("ts"), col("key"))
      StreamingTopK.topKPerWindowStream(in, "ts", "key",
          Duration.ofMinutes(10), Duration.ZERO, k = 2, capacity = 16)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    def closedRows() = spark.read.parquet(outDir)
      .where(col("window_start") === to_timestamp(lit(600)))
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getInt(3))).toSeq
    // phase 1: the window fills but never closes — nothing emits
    put("b1.json", ev(610, "a"), ev(620, "a"), ev(630, "b"))
    val q1 = runQ(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart from the checkpoint; a watermark pusher closes
    // the window — counts include phase-1 events ONLY IF the MG state
    // survived the restart
    put("b2.json", ev(99999, "zz"))
    val q2 = runQ(); try q2.processAllAvailable() finally q2.stop()
    assert(closedRows() == Seq(("a", 2L, 1), ("b", 1L, 2)),
      s"state lost across restart: ${closedRows()}")
    // phase 3: another restart + later data must NOT re-emit the
    // closed window (exactly-once emission)
    put("b3.json", ev(999999, "zz"))
    val q3 = runQ(); try q3.processAllAvailable() finally q3.stop()
    assert(closedRows() == Seq(("a", 2L, 1), ("b", 1L, 2)),
      s"closed window re-emitted: ${closedRows()}")
  }

  test("streaming window top-k: MG capacity bounds state, hitter survives") {
    import spark.implicits._
    import graft.streaming.StreamingTopK
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    // 100 distinct keys through capacity 4: state can never hold them
    // all, but the true heavy hitter (120 of 220 rows) must survive
    // the decrements and rank first in the final emission
    val out = StreamingTopK.topKPerWindowStream(
      in.toDF().select(col("ts"),
        when(col("user_id") === 0L, lit("hot"))
          .otherwise(concat(lit("k"), col("user_id"))).as("key")),
      "ts", "key", Duration.ofHours(1), Duration.ZERO, k = 1,
      capacity = 4)
    val q = out.writeStream.format("memory").queryName("wtopk_mg")
      .outputMode("append").start()
    try {
      val evs = (1 to 120).map(i => StatefulOps.Evt(0, ts(3600 + i), 0)) ++
        (1 to 100).map(i => StatefulOps.Evt(i, ts(3600 + i), 0))
      in.addData(evs)
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(999, ts(99999), 0))
      q.processAllAvailable()
      val top = spark.sql("SELECT key, n, rank FROM wtopk_mg").collect()
      assert(top.length == 1 && top(0).getString(0) == "hot",
        s"heavy hitter lost under MG capacity: ${top.toSeq}")
      // MG undercount bound: n >= true - (total / capacity)
      assert(top(0).getLong(1) >= 120L - 220L / 4,
        s"undercount beyond the MG bound: ${top.toSeq}")
    } finally q.stop()
  }

  test("kinesis connector boundary: the reference's own transport, exact options and schema") {
    // the reference job's whole Kinesis surface is stream name +
    // region/initial-position properties (StreamingJob.java:26-41);
    // the service-registered KinesisProbeSource stands in at the SAME
    // connector-lookup seam as the kafka probe, pinning the options
    // KinesisSource passes and the connector read schema's reduction
    // to the one-column JSON-lines contract
    KinesisProbeSource.captured = Map.empty
    val conf = OrderEnrichmentJob.KinesisSource(
      "flinkjoin-order", "us-west-2", "LATEST")
    val orders = OrderEnrichmentJob.source(spark, conf)
    val got = KinesisProbeSource.captured.map { case (k, v) =>
      k.toLowerCase -> v }
    assert(got.get("kinesis.streamname").contains("flinkjoin-order"),
      s"options: $got")
    assert(got.get("kinesis.region").contains("us-west-2"), s"options: $got")
    assert(got.get("kinesis.startingposition").contains("LATEST"),
      s"options: $got")
    assert(orders.isStreaming)
    assert(orders.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("value", "string")), s"schema: ${orders.schema}")
    // the full reference pipeline composes over two kinesis streams —
    // the exact two-consumer topology of StreamingJob.java
    val rates = OrderEnrichmentJob.source(spark,
      conf.copy(streamName = "flinkjoin-exchangerate"))
    val out = OrderEnrichmentJob.pipeline(orders, rates,
      Duration.ofSeconds(5))
    assert(out.isStreaming && out.schema.map(_.name) == Seq("value"),
      s"pipeline: ${out.schema}")
    // r10: the DEMO's config surface produces the same two-stream
    // topology — `source=kinesis region=...` is runnable end to end
    // the moment the connector jar appears
    val (b, o) = graft.streaming.StreamingDemo.parseArgs(
      Array("/tmp/demo", "source=kinesis", "region=eu-west-1",
        "position=TRIM_HORIZON"))
    assert(b == "/tmp/demo")
    val (co, cr) = graft.streaming.StreamingDemo.sourcesFrom(o, b)
    assert(co == OrderEnrichmentJob.KinesisSource(
      "flinkjoin-order", "eu-west-1", "TRIM_HORIZON"), s"orders: $co")
    assert(cr == OrderEnrichmentJob.KinesisSource(
      "flinkjoin-exchangerate", "eu-west-1", "TRIM_HORIZON"), s"rates: $cr")
    KinesisProbeSource.captured = Map.empty
    val demoPipe = OrderEnrichmentJob.pipeline(
      OrderEnrichmentJob.source(spark, co),
      OrderEnrichmentJob.source(spark, cr), Duration.ofSeconds(5))
    assert(demoPipe.isStreaming &&
      KinesisProbeSource.captured.map { case (k, v) => k.toLowerCase -> v }
        .get("kinesis.startingposition").contains("TRIM_HORIZON"),
      "the demo config must reach the connector seam with its options")
  }

  test("kafka connector boundary: exact options and schema contract") {
    // the real connector jar is environmentally absent (offline
    // sandbox); the service-registered KafkaProbeSource stands in at
    // the SAME lookup seam, so this spec pins everything on our side
    // of it: the exact options OrderEnrichmentJob passes, the
    // connector's fixed read schema resolving through the pipeline's
    // projection, and the composed streaming plan analyzing cleanly.
    // A real deployment changes nothing but the jar on the classpath.
    KafkaProbeSource.captured = Map.empty
    val conf = OrderEnrichmentJob.KafkaSource(
      "broker1:9092,broker2:9092", "flinkjoin-order")
    val orders = OrderEnrichmentJob.source(spark, conf)
    // resolution happened at load(): the probe holds the exact options
    val got = KafkaProbeSource.captured.map { case (k, v) =>
      k.toLowerCase -> v }
    assert(got.get("kafka.bootstrap.servers")
        .contains("broker1:9092,broker2:9092"), s"options: $got")
    assert(got.get("subscribe").contains("flinkjoin-order"), s"options: $got")
    assert(got.get("startingoffsets").contains("earliest"), s"options: $got")
    // the kafka frame (key/value binary, topic, partition, ...) must
    // reduce to the pipeline's one-column JSON-lines contract
    assert(orders.isStreaming)
    assert(orders.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("value", "string")), s"schema: ${orders.schema}")
    // and the full reference pipeline composes over two kafka sources
    val rates = OrderEnrichmentJob.source(spark,
      conf.copy(topic = "flinkjoin-exchangerate"))
    val out = OrderEnrichmentJob.pipeline(orders, rates,
      Duration.ofSeconds(5))
    assert(out.isStreaming &&
      out.schema.map(_.name) == Seq("value"), s"pipeline: ${out.schema}")
  }

  test("streaming window top-k: post-close straggler cannot re-emit the window") {
    import spark.implicits._
    import graft.streaming.StreamingTopK
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StatefulOps.Evt]
    val out = StreamingTopK.topKPerWindowStream(
      in.toDF().select(col("ts"), col("user_id")),
      "ts", "user_id", Duration.ofMinutes(10), Duration.ZERO, k = 2,
      capacity = 16)
    val q = out.writeStream.format("memory").queryName("wtopk_late")
      .outputMode("append").start()
    def closed() = spark.sql(
        "SELECT key, n, rank FROM wtopk_late " +
          "WHERE window_start = to_timestamp(600) ORDER BY rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    try {
      // fill window [600, 1200), then close it with a watermark pusher
      in.addData(StatefulOps.Evt(1, ts(610), 0), StatefulOps.Evt(1, ts(620), 0),
        StatefulOps.Evt(2, ts(630), 0))
      q.processAllAvailable()
      in.addData(StatefulOps.Evt(9, ts(5000), 0))
      q.processAllAvailable()
      assert(closed() == Seq(("1", 2L, 1), ("2", 1L, 2)),
        s"window should have emitted once: ${closed()}")
      // a straggler for the CLOSED window: flatMapGroupsWithState does
      // not auto-drop late rows, so without the explicit closed-window
      // guard this recreates empty MG state whose clamped timeout
      // (watermark+1) re-emits a second, undercounted top-k row set
      in.addData(StatefulOps.Evt(3, ts(700), 0))
      q.processAllAvailable()
      // push the watermark further so any illegally-recreated state's
      // timeout would fire now
      in.addData(StatefulOps.Evt(9, ts(9000), 0))
      q.processAllAvailable()
      assert(closed() == Seq(("1", 2L, 1), ("2", 1L, 2)),
        s"closed window re-emitted after a straggler: ${closed()}")
    } finally q.stop()
  }

  test("governed enrichment: a fastForward publish is visible to the NEXT batch") {
    import spark.implicits._
    import graft.sources.FileManifest
    import graft.streaming.GovernedEnrich
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_genrich").toString
    val vroot = s"$tmp/cat"
    // dim v0: key → "old"; dim v1: key → "new" (staged, then published
    // mid-stream by ONE atomic marker create)
    def writeDim(sub: String, attr: String): Long = {
      Seq((1L, attr, "p"), (2L, attr, "p"))
        .toDF("k", "attr", "part")
        .write.mode("overwrite").partitionBy("part").parquet(s"$tmp/$sub")
      FileManifest.commitVersion(spark,
        FileManifest.buildPartitioned(spark, s"$tmp/$sub", "k"), vroot)
    }
    val v0 = writeDim("d0", "old")
    FileManifest.createBranch(spark, vroot, "serving", v0)
    val v1 = writeDim("d1", "new")
    FileManifest.createBranch(spark, vroot, "staged", v1)
    val in = MemoryStream[Long]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val q = GovernedEnrich.stream(spark,
      in.toDF().toDF("k2"), vroot, "serving", "k2", "k", Seq("attr"),
      s"$tmp/ckpt") { (batch, id) =>
      got.synchronized {
        got ++= batch.collect().map(r =>
          (id, r.getAs[Long]("k2"), r.getAs[String]("attr")))
      }
    }
    try {
      in.addData(1L)
      q.processAllAvailable()
      assert(got.synchronized(got.toSet) == Set((0L, 1L, "old")),
        s"batch 0 must join the pre-publish snapshot: $got")
      // PUBLISH: one marker create — no stream restart, no data IO
      FileManifest.fastForward(spark, vroot, "serving", "staged")
      in.addData(2L)
      q.processAllAvailable()
      assert(got.synchronized(got.toSet) ==
        Set((0L, 1L, "old"), (1L, 2L, "new")),
        s"the next batch must see the published version: $got")
    } finally q.stop()
  }

  test("continuous WAP: stream publishes audited batches, rejects bad, replay no-op") {
    import spark.implicits._
    import graft.sources.FileManifest
    import graft.streaming.GovernedIngest
    import graft.operators.Expectations
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_wapstream").toString
    val t = GovernedIngest.Table(s"$tmp/cat", s"$tmp/t", s"$tmp/stage",
      "k", "id", Seq(Expectations.inRange("v", 0L, 100L)), numFiles = 2)
    def served: Set[(Long, String, Long)] =
      GovernedIngest.publishedRead(spark, t).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("k"),
          r.getAs[Long]("v"))).toSet
    GovernedIngest.init(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "k", "v"))
    val base = Set((1L, "a", 10L), (2L, "b", 20L))
    assert(served == base)
    val in = MemoryStream[(Long, String, Long)]
    val ckpt = s"$tmp/ckpt"
    val q = GovernedIngest.wapStream(in.toDF().toDF("id", "k", "v"), t, ckpt)
    try {
      // batch 0: clean — audited through the increment, published
      in.addData((3L, "a", 30L), (4L, "b", 40L))
      q.processAllAvailable()
      val afterB0 = base + ((3L, "a", 30L)) + ((4L, "b", 40L))
      assert(served == afterB0, "a clean batch must publish")
      // batch 1: out-of-range value — the audit trips; the version is
      // committed (audit-branch visible, tagged) but main NEVER moves
      in.addData((5L, "a", 999L))
      q.processAllAvailable()
      assert(served == afterB0, "a rejected batch must never reach main")
      val run = GovernedIngest.runTag(spark, ckpt)
      assert(FileManifest.refExists(spark, t.vroot, s"rejected-$run-1"),
        "the rejected batch must carry its audit-trail tag")
      // batch 2: clean again — ingest continues past the rejection,
      // adopting onto main (the rejected rows stay excluded)
      in.addData((6L, "b", 50L))
      q.processAllAvailable()
      val afterB2 = afterB0 + ((6L, "b", 50L))
      assert(served == afterB2, "ingest must continue past a rejection")
      // REPLAY: redeliver batch 0 through the same closure with its
      // committed (runTag, batchId) — the tag binding makes it a
      // committed no-op (a double-apply would duplicate rows 3-4)
      val v0 = FileManifest.resolveRef(spark, t.vroot, s"ingest-$run-0")
      val vReplay = GovernedIngest.ingestBatch(spark, t,
        Seq((3L, "a", 30L), (4L, "b", 40L)).toDF("id", "k", "v"), run, 0L)
      assert(vReplay == v0, "a replayed batch must return its version")
      assert(served == afterB2, "a replayed batch must be a no-op")
      assert(FileManifest.resolveRef(spark, t.vroot, "main") ==
        FileManifest.resolveRef(spark, t.vroot, s"ingest-$run-2"),
        "main must still point at the last published batch")
    } finally q.stop()
  }

  test("concurrent ingest writers: optimistic retry lands every batch exactly once") {
    import spark.implicits._
    import graft.sources.FileManifest
    import graft.streaming.GovernedIngest
    import graft.operators.Expectations
    val tmp = java.nio.file.Files.createTempDirectory("graft_conc").toString
    val t = GovernedIngest.Table(s"$tmp/cat", s"$tmp/t", s"$tmp/stage",
      "k", "id", Seq(Expectations.inRange("v", 0L, 1000L)), numFiles = 2)
    GovernedIngest.init(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "k", "v"))
    // four INDEPENDENT writers (own runTags — four pipelines into one
    // table) race: commit-number conflicts retry by re-resolving main
    // and re-folding the already-moved batch stats; publish conflicts
    // converge through the goal-verified merge loop. Every batch must
    // land exactly once whatever the interleaving.
    val slices = (0 until 4).map { w =>
      w -> Seq((10L + w, if (w % 2 == 0) "a" else "b", 100L + w))
    }.toMap
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val versions = Await.result(Future.sequence(slices.toSeq.map {
      case (w, rows) => Future {
        w -> GovernedIngest.ingestBatch(spark, t,
          rows.toDF("id", "k", "v"), s"w$w", 0L)
      }
    }), 5.minutes).toMap
    val got = GovernedIngest.publishedRead(spark, t).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("k"),
        r.getAs[Long]("v"))).toSet
    val want = Set((1L, "a", 10L), (2L, "b", 20L)) ++
      slices.valuesIterator.flatten
    assert(got == want,
      s"main must equal base ∪ all four batches: missing ${want -- got}, " +
        s"extra ${got -- want}")
    // each batch is bound to its committed version exactly once
    (0 until 4).foreach { w =>
      assert(FileManifest.resolveRef(spark, t.vroot, s"ingest-w$w-0") ==
        versions(w), s"writer $w's tag must bind its version")
    }
    // replays of every writer are no-ops returning the bound version
    (0 until 4).foreach { w =>
      val v2 = GovernedIngest.ingestBatch(spark, t,
        slices(w).toDF("id", "k", "v"), s"w$w", 0L)
      assert(v2 == versions(w), s"writer $w replay must return its version")
    }
    assert(GovernedIngest.publishedRead(spark, t).count() == want.size,
      "replays must not duplicate rows")
    // a rejected concurrent batch never leaks into main even though
    // later merges union increments (versions are independent proposals)
    val vBad = GovernedIngest.ingestBatch(spark, t,
      Seq((99L, "a", 9999L)).toDF("id", "k", "v"), "wbad", 0L)
    assert(FileManifest.refExists(spark, t.vroot, "rejected-wbad-0"))
    val v5 = GovernedIngest.ingestBatch(spark, t,
      Seq((50L, "b", 500L)).toDF("id", "k", "v"), "w5", 0L)
    val got2 = GovernedIngest.publishedRead(spark, t).collect()
      .map(r => r.getAs[Long]("id")).toSet
    assert(got2 == (want.map(_._1) + 50L),
      s"rejected rows must stay out of main across later publishes: $got2")
    assert(vBad != v5)
  }

  test("graft stream source: version metering drains one per trigger, version column tags rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-meter").toString
    val root = s"$tmp/cat"
    def save(rows: Seq[(Long, String, Long)], mode: String): Unit =
      rows.toDF("k", "p", "v").write.format("graft").option("path", root)
        .option("partitionBy", "p").option("clusterBy", "k")
        .option("files", "2").mode(mode).save()
    save(Seq((1L, "a", 10L), (2L, "a", 20L)), "overwrite") // v0
    save(Seq((3L, "b", 30L)), "append") // v1
    save(Seq((4L, "a", 40L)), "append") // v2
    val batches =
      scala.collection.mutable.ArrayBuffer[Set[(Long, Long)]]()
    val q = spark.readStream.format("graft").option("path", root)
      .option("maxVersionsPerBatch", "1")
      .option("withVersionColumn", "true").load()
      .writeStream.option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val got = b.collect().map(r =>
            (r.getAs[Long]("k"), r.getAs[Long]("_graft_version"))).toSet
          batches.synchronized { batches += got }
          ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // the 3-version history drains ONE version per trigger, each row
    // tagged with the version that carried it
    assert(batches.toList == List(
      Set((1L, 0L), (2L, 0L)), Set((3L, 1L)), Set((4L, 2L))),
      s"metered drain must be per-version and tagged: $batches")
    // a malformed meter refuses loudly (at source construction —
    // readStream.load() is lazy)
    intercept[IllegalArgumentException] {
      new graft.sources.GraftStreamSource(spark, root, 0L,
        maxVersionsPerBatch = Some(0L))
    }
  }

  test("medallion hop: bronze tail feeds silver WAP, rejected increment never lands") {
    import spark.implicits._
    import graft.sources.FileManifest
    import graft.streaming.GovernedIngest
    import graft.operators.Expectations
    val tmp = java.nio.file.Files.createTempDirectory("graft-hop").toString
    val bronze = s"$tmp/bronze"
    def save(rows: Seq[(Long, String, Long)], mode: String): Unit =
      rows.toDF("id", "k", "v").write.format("graft").option("path", bronze)
        .option("partitionBy", "k").option("clusterBy", "id")
        .option("files", "2").mode(mode).save()
    save(Seq((1L, "a", 10L), (2L, "b", 20L)), "overwrite") // bronze v0
    val t = GovernedIngest.Table(s"$tmp/scat", s"$tmp/st", s"$tmp/sstage",
      "k", "id", Seq(Expectations.inSet("k", Seq("a", "b"))), numFiles = 2)
    def served: Set[(Long, String, Long)] =
      GovernedIngest.publishedRead(spark, t).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("k"),
          r.getAs[Long]("v"))).toSet
    GovernedIngest.init(spark, t,
      spark.read.format("graft").option("path", bronze)
        .option("version", "0").load().select("id", "k", "v"))
    assert(served == Set((1L, "a", 10L), (2L, "b", 20L)))
    val src = spark.readStream.format("graft").option("path", bronze)
      .option("startingVersion", "1").load().select("id", "k", "v")
    val q = GovernedIngest.wapStream(src, t, s"$tmp/ckpt")
    try {
      // bronze v1: clean — the hop must land it on silver main
      save(Seq((3L, "a", 30L)), "append")
      q.processAllAvailable()
      assert(served == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)),
        s"clean bronze increment must publish: $served")
      // bronze v2: partition value outside silver's contract — the
      // audit refuses; bronze keeps it, silver main never moves
      save(Seq((4L, "zz", 40L)), "append")
      q.processAllAvailable()
      assert(served == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)),
        s"rejected increment must never reach silver: $served")
      val run = GovernedIngest.runTag(spark, s"$tmp/ckpt")
      assert(FileManifest.listRefs(spark, t.vroot)
        .exists(_._2.startsWith(s"rejected-$run-")),
        "the refusal must leave its audit-trail tag")
      // bronze v3: the hop continues past the rejection
      save(Seq((5L, "b", 50L)), "append")
      q.processAllAvailable()
      assert(served == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L),
        (5L, "b", 50L)), s"hop must continue past a rejection: $served")
    } finally q.stop()
  }

  test("graft stream source: incremental version tail, checkpoint resume, non-append refusal") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ssrc").toString
    val root = s"$tmp/cat"
    val ckpt = s"$tmp/ckpt"
    def save(rows: Seq[(Long, String, Long)], mode: String): Unit =
      rows.toDF("k", "p", "v").write.format("graft").option("path", root)
        .option("partitionBy", "p").option("clusterBy", "k")
        .option("files", "2").mode(mode).save()
    save(Seq((1L, "a", 10L), (2L, "a", 20L)), "overwrite") // v0 (create)
    val batches =
      scala.collection.mutable.ArrayBuffer[(Long, Set[(Long, String)])]()
    def startQ(extra: Map[String, String] = Map.empty,
        cp: String = ckpt) = {
      val reader = spark.readStream.format("graft").option("path", root)
      extra.foreach { case (k, v) => reader.option(k, v) }
      reader.load()
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            val got = b.collect()
              .map(r => (r.getAs[Long]("k"), r.getAs[String]("p"))).toSet
            batches.synchronized { batches += ((id, got)) }
            ()
        }
        .start()
    }
    // v0 drains as the first batch; v1 arrives WHILE the stream runs
    // and must surface as its own increment (only the new files read)
    val q = startQ()
    try {
      q.processAllAvailable()
      save(Seq((3L, "b", 30L), (4L, "b", 40L)), "append") // v1
      q.processAllAvailable()
    } finally q.stop()
    assert(batches.map(_._2).toList == List(
      Set((1L, "a"), (2L, "a")), Set((3L, "b"), (4L, "b"))),
      s"increments must be per-version and partition-restored: $batches")
    // v2 lands while the stream is DOWN; the checkpointed restart owes
    // exactly that increment — nothing re-read, nothing skipped
    save(Seq((5L, "a", 50L)), "append") // v2
    batches.clear()
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    assert(batches.map(_._2).toList == List(Set((5L, "a"))),
      s"resume must deliver only the unseen version: $batches")
    // startingVersion skips history: a FRESH checkpoint tailing from
    // v2 sees only v2's files
    batches.clear()
    val q3 = startQ(Map("startingVersion" -> "2"), cp = s"$tmp/ckpt3")
    try q3.processAllAvailable() finally q3.stop()
    assert(batches.map(_._2).toList == List(Set((5L, "a"))),
      s"startingVersion=2 must read only v2's increment: $batches")
    // an overwrite REPLACES files — tailing across it must refuse
    // loudly (silently re-emitting rewritten rows would corrupt every
    // downstream aggregate)
    save(Seq((9L, "a", 90L)), "overwrite") // v3: non-append
    batches.clear()
    val q4 = startQ()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q4.processAllAvailable() finally q4.stop()
    }
    def chainMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chainMessages(x.getCause))
    assert(chainMessages(e).exists(_.contains("append-only")),
      s"refusal must name the append-only contract: ${chainMessages(e)}")
  }

  test("change feed: I/D rows across CoW versions, restart owes exactly the unseen diff") {
    import spark.implicits._
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdf").toString
    val root = s"$tmp/cat"
    val ckpt = s"$tmp/ckpt"
    def save(rows: Seq[(Long, String, Long)], mode: String): Unit =
      rows.toDF("k", "p", "v").write.format("graft").option("path", root)
        .option("partitionBy", "p").option("clusterBy", "k")
        .option("files", "2").mode(mode).save()
    save(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)), "overwrite") // v0
    spark.sql("DROP TABLE IF EXISTS cdf_t")
    spark.sql(s"CREATE TABLE cdf_t USING graft OPTIONS (path '$root')")
    spark.sql("UPDATE cdf_t SET v = v + 100 WHERE k = 2") // v1: CoW rewrite
    save(Seq((4L, "b", 40L)), "append") // v2: plain append
    assert(FileManifest.latestVersion(spark, root).contains(2L))
    val batches = scala.collection.mutable
      .ArrayBuffer[Set[(Long, Long, Long, String)]]()
    def startQ() = spark.readStream.format("graft").option("path", root)
      .option("changeFeed", "true").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val got = b.collect().map(r => (r.getAs[Long]("k"),
            r.getAs[Long]("v"), r.getAs[Long]("_graft_version"),
            r.getAs[String]("_change_type"))).toSet
          batches.synchronized { if (got.nonEmpty) batches += got }
          ()
      }
      .start()
    val q = startQ()
    try q.processAllAvailable() finally q.stop()
    // one drained batch carrying: v0 all-I, v1 the update's D/I pair
    // (carried rows 1 and 3 cancel in the file diff), v2 the append-I
    assert(batches.flatten.toSet == Set(
      (1L, 10L, 0L, "I"), (2L, 20L, 0L, "I"), (3L, 30L, 0L, "I"),
      (2L, 20L, 1L, "D"), (2L, 120L, 1L, "I"),
      (4L, 40L, 2L, "I")),
      s"feed must be exactly the I/D/I history: ${batches.flatten.toSet}")
    // v3: a CoW DELETE while the stream is down — the checkpointed
    // restart owes exactly that version's D rows, nothing re-emitted
    spark.sql("DELETE FROM cdf_t WHERE k = 1")
    assert(FileManifest.latestVersion(spark, root).contains(3L))
    batches.clear()
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    assert(batches.flatten.toSet == Set((1L, 10L, 3L, "D")),
      s"restart must deliver only the delete's D row: ${batches.flatten.toSet}")
    // the plain tail (changeFeed off) still refuses the rewrite history
    val q3 = spark.readStream.format("graft").option("path", root).load()
      .writeStream.option("checkpointLocation", s"$tmp/ckpt-plain")
      .foreachBatch {
        (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => ()
      }.start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q3.processAllAvailable() finally q3.stop()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("changeFeed")),
      s"the refusal must point at changeFeed mode: ${chain(e)}")
  }

  test("graft stream source ahead of the catalog waits instead of crashing") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ahead").toString
    val root = s"$tmp/cat"
    def save(rows: Seq[(Long, String, Long)], mode: String): Unit =
      rows.toDF("k", "p", "v").write.format("graft").option("path", root)
        .option("partitionBy", "p").option("clusterBy", "k")
        .option("files", "2").mode(mode).save()
    save(Seq((1L, "a", 10L)), "overwrite") // v0 — catalog exists
    // startingVersion=2 while the catalog is at v0: the source must
    // OFFER nothing (no offset) rather than resolve versions that do
    // not exist yet — the stream idles, then catches the versions up
    val src = new graft.sources.GraftStreamSource(spark, root, 2L)
    assert(src.getOffset.isEmpty,
      "a stream ahead of the catalog must not offer an offset")
    // an explicit empty range never touches filesOf(from-1)
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val empty = src.getBatch(Some(LongOffset(1L)), LongOffset(1L))
    assert(empty.isStreaming && empty.schema == src.schema,
      "from > to must short-circuit to the empty streaming frame " +
        "(no filesOf() touch on a version that does not exist)")
    val batches =
      scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val q = spark.readStream.format("graft").option("path", root)
      .option("startingVersion", "2")
      .load()
      .writeStream.option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val got = b.collect().map(_.getAs[Long]("k")).toSet
          batches.synchronized { if (got.nonEmpty) batches += got }
          ()
      }
      .start()
    try {
      q.processAllAvailable() // idles — nothing committed at >= v2 yet
      assert(batches.isEmpty, s"nothing owed before v2 commits: $batches")
      save(Seq((2L, "a", 20L)), "append") // v1 — still below the start
      q.processAllAvailable()
      assert(batches.isEmpty, s"v1 is below startingVersion=2: $batches")
      save(Seq((3L, "b", 30L)), "append") // v2 — the first owed version
      q.processAllAvailable()
    } finally q.stop()
    assert(batches.toList == List(Set(3L)),
      s"catch-up must deliver exactly v2's increment: $batches")
  }

  test("graft streaming sink: one version per batch, restart resume, replay dedupe, mode refusal") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ssink").toString
    val src = s"$tmp/src"
    val dst = s"$tmp/dst"
    def save(rows: Seq[(Long, String, Long)], mode: String): Unit =
      rows.toDF("k", "p", "v").write.format("graft").option("path", src)
        .option("partitionBy", "p").option("clusterBy", "k")
        .option("files", "2").mode(mode).save()
    save(Seq((1L, "a", 10L), (2L, "a", 20L)), "overwrite") // v0
    save(Seq((3L, "b", 30L), (4L, "b", 40L)), "append") // v1
    def startQ() = spark.readStream.format("graft").option("path", src)
      .option("maxVersionsPerBatch", "1").load()
      .writeStream.format("graft")
      .option("path", dst).option("partitionBy", "p")
      .option("clusterBy", "k").option("files", "2")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append").start()
    val q = startQ()
    try q.processAllAvailable() finally q.stop()
    def dstRows() = spark.read.format("graft").option("path", dst).load()
      .select("k").as[Long].collect().sorted.toSeq
    assert(dstRows() == Seq(1L, 2L, 3L, 4L),
      "two metered source versions must land, once each")
    val vDst = graft.sources.FileManifest.latestVersion(spark, dst)
    assert(vDst.contains(1L), s"one sink version per batch: $vDst")
    // each version carries its batch id in _meta (the dedupe key)
    val ids = (0L to 1L).map(v => graft.sources.FileManifest
      .versionMeta(spark, dst, v).get("streamingBatchId"))
    assert(ids == Seq(Some("0"), Some("1")), s"batch ids: $ids")

    // a version lands while the stream is DOWN: the checkpointed
    // restart appends exactly the new rows, nothing twice
    save(Seq((5L, "a", 50L)), "append") // v2
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    assert(dstRows() == Seq(1L, 2L, 3L, 4L, 5L),
      s"restart must append only the unseen increment: ${dstRows()}")

    // recovery replay straight at the Sink API: the same batch id
    // re-added is a no-op even through a FRESH sink instance (the id
    // is read back from the committed version's _meta, not memory)
    val dst2 = s"$tmp/dst2"
    val batch = Seq((7L, "a", 70L)).toDF("k", "p", "v")
    val sink = new graft.sources.GraftStreamSink(spark, dst2, Seq("p"), "k", 2)
    sink.addBatch(0L, batch)
    sink.addBatch(0L, batch) // same-instance replay
    new graft.sources.GraftStreamSink(spark, dst2, Seq("p"), "k", 2)
      .addBatch(0L, batch) // crash-recovery replay
    assert(graft.sources.FileManifest.latestVersion(spark, dst2)
      .contains(0L), "a replayed batch must commit exactly once")
    // an empty batch commits nothing (and replays as a no-op)
    sink.addBatch(1L, batch.where(lit(false)))
    assert(graft.sources.FileManifest.latestVersion(spark, dst2)
      .contains(0L), "an empty batch must not commit a version")

    // update/complete refuse: history is append-only by contract
    val bad = intercept[Throwable] {
      new graft.sources.GraftManifestSource().createSink(
        spark.sqlContext, Map("path" -> dst2, "partitionby" -> "p",
          "clusterby" -> "k"), Nil,
        org.apache.spark.sql.streaming.OutputMode.Update())
    }
    assert(Option(bad.getMessage).exists(_.contains("Append")), bad)

    // multi-column partitionBy is SUPPORTED since r13 (f40 — one
    // directory level per column); a sink with NO partitioning at all
    // still refuses loudly
    new graft.sources.GraftManifestSource().createSink(
      spark.sqlContext, Map("path" -> dst2, "clusterby" -> "k"),
      Seq("p", "k"), org.apache.spark.sql.streaming.OutputMode.Append())
    val badPart = intercept[Throwable] {
      new graft.sources.GraftManifestSource().createSink(
        spark.sqlContext, Map("path" -> dst2, "clusterby" -> "k"),
        Nil, org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(Option(badPart.getMessage)
      .exists(_.contains("partitionBy")), badPart)
  }

  test("graft sink dedupe is scoped per QUERY: a fresh query's batch 0 is not a replay") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sinkq").toString
    val dst = s"$tmp/dst"
    val key = org.apache.spark.sql.execution.streaming.runtime
      .StreamExecution.QUERY_ID_KEY
    val b0 = Seq((1L, "a", 10L)).toDF("k", "p", "v")
    val b1 = Seq((2L, "a", 20L)).toDF("k", "p", "v")
    def rows() = spark.read.format("graft").option("path", dst).load()
      .select("k").as[Long].collect().sorted.toSeq
    try {
      spark.sparkContext.setLocalProperty(key, "query-A")
      val sinkA = new graft.sources.GraftStreamSink(spark, dst, Seq("p"), "k", 2)
      sinkA.addBatch(0L, b0)
      sinkA.addBatch(1L, b1)
      assert(rows() == Seq(1L, 2L), "query A's two batches land")
      // query B: a NEW query (fresh checkpoint) writing the same table
      // restarts at batch 0 — the bare-batch-id dedupe would silently
      // skip it (the ADVICE data-loss scenario); (queryId, batchId)
      // scoping must let it through
      spark.sparkContext.setLocalProperty(key, "query-B")
      val sinkB = new graft.sources.GraftStreamSink(spark, dst, Seq("p"), "k", 2)
      sinkB.addBatch(0L, Seq((3L, "b", 30L)).toDF("k", "p", "v"))
      assert(rows() == Seq(1L, 2L, 3L),
        s"a fresh query's batch 0 must land, got ${rows()}")
      // but query B's OWN replay of batch 0 — through a fresh
      // instance (crash recovery) — is still a no-op
      new graft.sources.GraftStreamSink(spark, dst, Seq("p"), "k", 2)
        .addBatch(0L, Seq((9L, "b", 90L)).toDF("k", "p", "v"))
      assert(rows() == Seq(1L, 2L, 3L),
        "query B's replayed batch 0 must not land twice")
      // and query A resuming (crash recovery, fresh instance) still
      // dedupes ITS OWN batches
      spark.sparkContext.setLocalProperty(key, "query-A")
      new graft.sources.GraftStreamSink(spark, dst, Seq("p"), "k", 2)
        .addBatch(1L, b1)
      assert(rows() == Seq(1L, 2L, 3L),
        "query A's replayed batch 1 must not land twice")
    } finally spark.sparkContext.setLocalProperty(key, null)
  }
}
