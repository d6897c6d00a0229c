package graft

import java.time.Duration

import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftHash
import graft.operators.{AsOfJoin, IntervalJoin}
import graft.sources.RefTables

class CoreSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"

  def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("entry smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("driver contract consistency: oracles reference real queries, no dropped keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without queries: ${o -- q}")
    // a duplicated key in the Map literal would silently drop an entry
    assert(q.size == 254, s"expected 254 queries, got ${q.size}: check for duplicate keys")
    assert(o.size == 253, s"expected 253 oracle-checked queries, got ${o.size}")
  }

  test("every declared query has an oracle or is rows-only, and runs") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      assert(df.count() >= 0, s"$name failed")
    }
  }

  test("q33 recursion is structurally bounded: over-depth fails loudly") {
    // depth 2 runs (the shipped entry), and restores the session valve
    val key = "spark.sql.cteRecursionRowLimit"
    val before = spark.conf.getOption(key)
    assert(SparkEntry.recursiveReach(spark, dir, depth = 2).count() > 0)
    assert(spark.conf.getOption(key) == before,
      "recursion row-limit conf must be restored after the run")
    // a depth whose walk bound (Σ maxDeg^d) exceeds the 2^26 cap must
    // refuse BEFORE running, pointing at the frontier path — walks,
    // not frontiers, is the scale-killer shape
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.recursiveReach(spark, dir, depth = 64)
    }
    assert(ex.getMessage.contains("Graph.bfs"))
    assert(spark.conf.getOption(key) == before)
  }

  test("csv mirror round-trips documents exactly (quotes, commas, newlines)") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      // make the payload hostile: embedded commas, quotes, newline
      .withColumn("text", concat(col("text"), lit(", \"quoted\"\nnext line")))
    val out = java.nio.file.Files.createTempDirectory("graft_csv").toString
    graft.sources.Csv.write(docs, out)
    val back = graft.sources.Csv.read(spark, out, docs.schema)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty,
      "csv round-trip must be lossless")
  }

  test("timestamp_to_string formats UTC millis") {
    assert(GraftHash.formatTimestampMicros(1704067198778549L).toString ==
      "2023-12-31 23:59:58.778")
    assert(GraftHash.formatTimestampMicros(0L).toString == "1970-01-01 00:00:00.000")
    assert(GraftHash.formatTimestampMicros(1500000L).toString == "1970-01-01 00:00:01.500")
  }

  test("plain interval join (rule) == naive interval join (inner and left)") {
    val e = graft.sources.Tables.load(spark, dir, "events")
    val o = RefTables.orders(e)
    val r = RefTables.rates(e).withColumnRenamed("currency", "r_currency")
    for (jt <- Seq("inner", "left_outer")) {
      val b = o.join(r, o("currency") === r("r_currency") &&
        r("exchangeRateTime") <= o("orderTime") &&
        r("exchangeRateTime") > o("orderTime") - lit(Duration.ofHours(6)), jt)
      assert(castToImpl(b).queryExecution.optimizedPlan.exists(_.isInstanceOf[Generate]),
        s"the rule must bucket the $jt join")
      val n = IntervalJoin.naive(o, r, "currency", "r_currency",
        "orderTime", "exchangeRateTime", Duration.ofHours(6), jt)
      assert(b.count() == n.count(), s"count mismatch for $jt")
      assert(b.exceptAll(n).isEmpty && n.exceptAll(b).isEmpty, s"rows mismatch for $jt")
    }
  }

  test("as-of join: every matched rate is the latest one <= order time") {
    val e = graft.sources.Tables.load(spark, dir, "events")
    val o = RefTables.orders(e)
    val r = RefTables.rates(e)
    val res = AsOfJoin.backward(o, r, "currency", "orderTime", "exchangeRateTime",
      Seq("rate", "exchangeRateTime"))
    assert(res.count() == o.count(), "as-of must preserve left cardinality")
    // no matched rate may be after the order time
    assert(res.filter(col("exchangeRateTime") > col("orderTime")).count() == 0)
    // cross-check one order against a brute-force lookup
    val sample = res.filter(col("exchangeRateTime").isNotNull).orderBy("id").limit(1)
      .collect().head
    val cur = sample.getAs[String]("currency")
    val ot = sample.getAs[java.sql.Timestamp]("orderTime")
    val expect = r.filter(col("currency") === cur &&
        col("exchangeRateTime") <= lit(ot))
      .orderBy(col("exchangeRateTime").desc).limit(1).collect().head
    assert(sample.getAs[Int]("rate") == expect.getAs[Int]("rate"))
  }

  test("c2 tie: same-timestamp SCD2 versions resolve deterministically end to end") {
    import spark.implicits._
    import graft.operators.Dimensions
    import org.apache.spark.sql.functions._
    // two NON-purchase events sharing (user_id, ts) — the SCD2 dim
    // keeps both as versions valid from the same instant, so the
    // point-in-time as-of join sees a right-side tie that the pack
    // tiebreak (greatest (vts, attr)) must resolve; attrs chosen so
    // the pack winner (zebra) differs from the sequence-latest
    // (apple, event_id 2) — the rule under test is visible, not
    // accidentally satisfied
    val base = Seq(
      (1L, ts(10), "zebra", 1L, 0.0),
      (1L, ts(10), "apple", 2L, 0.0),
      (1L, ts(20), "purchase", 3L, 5.0),
      (2L, ts(5), "click", 4L, 0.0),
      (2L, ts(30), "purchase", 5L, 7.0)
    ).toDF("user_id", "ts", "event_type", "event_id", "value")
    def pipeline(ev: org.apache.spark.sql.DataFrame) = {
      val dim = Dimensions.scd2(ev.filter(col("event_type") =!= "purchase"),
          "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"),
          timestamp_micros(col("valid_from_us")).as("vts"), col("attr"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsOfJoin.backward(facts, dim, "user_id", "ts", "vts", Seq("attr"))
        .groupBy("attr")
        .agg(count(lit(1)).as("n"), sum("value").as("v"))
        .orderBy(col("attr").asc_nulls_first)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    }
    val want = Seq(("click", 1L, 7.0), ("zebra", 1L, 5.0))
    assert(pipeline(base) == want,
      s"tie must resolve to the greatest pack (zebra): ${pipeline(base)}")
    // deterministic under partitioning AND input order — the exact
    // run-to-run flake the pack tiebreak exists to kill
    assert(pipeline(base.repartition(7)) == want)
    assert(pipeline(base.orderBy(col("event_id").desc).coalesce(1)) == want)
  }

  test("as-of forward/nearest: direction bounds, tie to backward, tolerance") {
    import spark.implicits._
    val o = Seq((1L, "EUR", ts(100)), (2L, "EUR", ts(200)),
        (3L, "EUR", ts(301)), (4L, "GBP", ts(100)))
      .toDF("id", "currency", "orderTime")
    val r = Seq(("EUR", ts(90), 9), ("EUR", ts(103), 10),
        ("EUR", ts(210), 21), ("EUR", ts(300), 30), ("EUR", ts(302), 31))
      .toDF("currency", "exchangeRateTime", "rate")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(rr => rr.getLong(0) -> Option(rr.get(1))).toMap
    // forward: earliest rate AT-OR-AFTER each order
    val f = m(AsOfJoin.forward(o, r, "currency", "orderTime",
      "exchangeRateTime", Seq("rate")).select("id", "rate"))
    assert(f == Map(1L -> Some(10), 2L -> Some(21), 3L -> Some(31),
      4L -> None), s"forward got $f")
    // nearest: closer side wins (id 1: forward 103 at dist 3 beats
    // backward 90 at dist 10); id 3 at t=301 is 1s from both 300 and
    // 302 -> TIE resolves backward (rate 30)
    val n = m(AsOfJoin.nearest(o, r, "currency", "id", "orderTime",
      "exchangeRateTime", Seq("rate")).select("id", "rate"))
    assert(n == Map(1L -> Some(10), 2L -> Some(21), 3L -> Some(30),
      4L -> None), s"nearest got $n")
    // forward tolerance: a match farther than tol nulls out (id 2's
    // next rate is 10s ahead)
    val ft = m(AsOfJoin.forward(o, r, "currency", "orderTime",
      "exchangeRateTime", Seq("rate"), Some(Duration.ofSeconds(5)))
      .select("id", "rate"))
    assert(ft == Map(1L -> Some(10), 2L -> None, 3L -> Some(31), 4L -> None),
      s"forward+tol got $ft")
  }

  test("backwardBounded as-of == backward with tolerance (matched rows)") {
    val e = graft.sources.Tables.load(spark, dir, "events")
    val o = RefTables.orders(e)
    val r = RefTables.rates(e)
    val tol = Duration.ofHours(6)
    val viaWindow = AsOfJoin.backward(o, r, "currency", "orderTime",
        "exchangeRateTime", Seq("rate", "exchangeRateTime"), Some(tol))
      .select(col("id"), col("rate"), col("exchangeRateTime"))
    val viaBucketed = AsOfJoin.backwardBounded(o,
        r.select(col("currency"), col("exchangeRateTime"), col("rate")),
        "currency", "id", "orderTime", "exchangeRateTime", tol)
      .select(col("id"), col("rate"), col("exchangeRateTime"))
    assert(viaBucketed.count() == o.count(), "left cardinality preserved")
    assert(viaWindow.exceptAll(viaBucketed).isEmpty &&
      viaBucketed.exceptAll(viaWindow).isEmpty,
      "bounded (bucketed) and window formulations must agree")
  }

  test("minhash signature is deterministic and length-k") {
    import org.apache.spark.unsafe.types.UTF8String
    val a = GraftHash.minhashSignature(UTF8String.fromString("a b c d e f g"), 3, 16)
    val b = GraftHash.minhashSignature(UTF8String.fromString("a b c d e f g"), 3, 16)
    assert(a.toLongArray().toSeq == b.toLongArray().toSeq)
    assert(a.numElements() == 16)
    // similar docs share signature slots; disjoint docs shouldn't match everywhere
    val c = GraftHash.minhashSignature(UTF8String.fromString("x y z w q r s"), 3, 16)
    assert(a.toLongArray().toSeq != c.toLongArray().toSeq)
  }

  test("custom functions are callable from SQL via GraftExtensions") {
    val rows = spark.sql("""
      SELECT timestamp_to_string(TIMESTAMP '2024-01-01 00:00:01.5') AS t,
             simhash64('hello world') AS sh,
             rolling_hash('abc') AS rh,
             size(minhash_signature('a b c d', 2, 8)) AS k""").collect().head
    assert(rows.getString(0) == "2024-01-01 00:00:01.500")
    assert(rows.getLong(1) != 0L)
    assert(rows.getLong(2) == (('a' * 1000003L + 'b') * 1000003L + 'c'))
    assert(rows.getInt(3) == 8)
    // aggregates and the sketch-overlap scalar through pure SQL
    spark.sql("SELECT explode(sequence(1, 40)) AS v").createOrReplaceTempView("nums")
    val kmv = spark.sql("""
      WITH s AS (SELECT v % 2 AS g, kmv_values(v, 64) AS sk,
                        kmv_distinct(v, 64) AS est
                 FROM nums GROUP BY v % 2)
      SELECT a.est, kmv_overlap(a.sk, b.sk, 64).union_est AS u
      FROM s a JOIN s b ON a.g < b.g""").collect().head
    assert(kmv.getDouble(0) == 20.0) // exact below k
    assert(kmv.getDouble(1) == 40.0) // disjoint union, exact below k
    assert(spark.sql("SELECT size(shingle_strings('a b c', 2)) AS n")
      .head().getInt(0) == 2)
  }

  test("cosine similarity: identical=1, orthogonal=0") {
    import graft.functions.GraftFunctions._
    val df = spark.createDataFrame(Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)))).toDF("a", "b")
    val sims = df.select(cosine_similarity(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(sims(0) - 1.0) < 1e-12)
    assert(math.abs(sims(1)) < 1e-12)
  }

  test("sidecar read after a crash between overwrite's delete and rename fails loudly") {
    import java.nio.file.{Files, Paths}
    import graft.sources.DriverParquet
    val dir = Files.createTempDirectory("graft_sidecar").toString
    val mt = DriverParquet.schema("message s { required int64 n; }")
    DriverParquet.overwrite(spark, dir, mt)(f => Seq(f.newGroup().append("n", 7L)))
    assert(DriverParquet.read(spark, dir).map(_.getLong("n", 0)) == Seq(7L))
    // the crash: overwrite has written its tmp file and deleted the old
    // file, but not renamed the tmp into place
    Files.move(Paths.get(dir, "part-00000.parquet"), Paths.get(dir, ".part-00000.parquet.tmp"))
    val e = intercept[IllegalStateException](DriverParquet.read(spark, dir))
    assert(e.getMessage.contains(dir), e.getMessage)
    // the next overwrite clears the debris and reads back
    DriverParquet.overwrite(spark, dir, mt)(f => Seq(f.newGroup().append("n", 8L)))
    assert(DriverParquet.read(spark, dir).map(_.getLong("n", 0)) == Seq(8L))
  }

  test("NIO local file system: Hadoop's modes, renames and link status") {
    import java.io.FileNotFoundException
    import java.nio.file.{Files, Paths}
    import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options,
      Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    import graft.shims.{NioLocalFileSystem, NioRawLocalFileSystem}
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    val root = Files.createTempDirectory("graft_nio_fs")
    def init(fs: RawLocalFileSystem) = { fs.initialize(new java.net.URI("file:///"), conf); fs }
    val ours = init(new NioRawLocalFileSystem)
    val hadoop = init(new RawLocalFileSystem)
    def mode(p: String) = Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff
    def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

    // create, mkdirs and setPermission leave the same modes
    for ((name, fs) <- Seq("ours" -> ours, "hadoop" -> hadoop)) {
      fs.create(new Path(s"$root/$name.f")).close()
      fs.mkdirs(new Path(s"$root/$name.d/sub"))
      fs.create(new Path(s"$root/$name.600")).close()
      fs.setPermission(new Path(s"$root/$name.600"), octal("600"))
      fs.setPermission(new Path(s"$root/$name.d"), octal("1777"))
    }
    for ((suffix, want) <- Seq(".f" -> "644", ".d/sub" -> "755", ".600" -> "600",
        ".d" -> "1777")) {
      assert(mode(s"$root/ours$suffix") == mode(s"$root/hadoop$suffix"), suffix)
      assert(mode(s"$root/ours$suffix") == Integer.parseInt(want, 8), suffix)
    }

    // FileContext (checkpoint writes) renames over an existing target
    val fc = FileContext.getFileContext(root.toUri, conf)
    def write(p: Path, text: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(text.getBytes) finally out.close()
    }
    val src = new Path(root.toUri.toString, "src")
    val dst = new Path(root.toUri.toString, "dst")
    write(src, "new"); write(dst, "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(Paths.get(s"$root/dst"))) == "new")
    assert(!Files.exists(Paths.get(s"$root/src")))
    assert(Files.exists(Paths.get(s"$root/.dst.crc")), "the renamed file keeps its .crc")

    // link status: a missing path throws; a symlink reads as Hadoop reads it
    val missing = new Path(root.toUri.toString, "missing")
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/dst"))
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getPermission)
    for (link <- Seq(new Path(s"$root/link"), new Path(root.toUri.toString, "link")))
      assert(view(ours.getFileLinkStatus(link)) == view(hadoop.getFileLinkStatus(link)), link)
  }
}
