package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Bucketing, MarkerLayout, RefTables, Tables}

/** Locks in the SURVEY §4 plan claims: predicate pushdown reaches the
  * parquet scan, dims broadcast, and bucketed tables join without a
  * shuffle. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
  }
  val dir = "/root/testdata/sf0.001"

  def plan(df: DataFrame): SparkPlan = castToImpl(df).queryExecution.executedPlan

  test("filters are pushed into the parquet scan") {
    val df = SparkEntry.queries("q2_filter_project")(spark, dir)
    val scans = plan(df).toString
    assert(scans.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"expected pushed filters in:\n$scans")
    assert(!scans.contains("l_comment"), "column pruning lost")
  }

  test("dim join broadcasts the small side") {
    val df = SparkEntry.queries("q3_join_broadcast")(spark, dir)
    df.count() // let AQE finalize
    assert(plan(df).toString.contains("BroadcastHashJoin"),
      s"expected broadcast join in:\n${plan(df)}")
  }

  test("as-of merge join preserves partitioning: downstream agg adds no exchange") {
    val e = Tables.load(spark, dir, "events")
    val orders = RefTables.orders(e)
    val rates = RefTables.rates(e)
    val joined = graft.operators.AsOfJoin.merge(
      orders, rates.withColumnRenamed("currency", "r_currency"),
      "currency", "r_currency", "orderTime", "exchangeRateTime")
    // aggregate on the join key: the merge output is already hash
    // partitioned by it, so only the join's own two input shuffles
    // may appear
    val agg = joined.groupBy("currency").agg(count(lit(1)).as("n"), avg("rate").as("r"))
    agg.collect() // force the final AQE plan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def shuffles(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case e: ShuffleExchangeLike => 1 + e.children.map(shuffles).sum
      case other => other.children.map(shuffles).sum
    }
    val n = shuffles(plan(agg))
    assert(n == 2, s"expected only the 2 join-input exchanges, got $n:\n${plan(agg)}")
  }

  test("as-of merge join compiles into whole-stage codegen, parity with interpreted") {
    val e = Tables.load(spark, dir, "events")
    def joined = graft.operators.AsOfJoin.merge(
      RefTables.orders(e), RefTables.rates(e).withColumnRenamed("currency", "r_currency"),
      "currency", "r_currency", "orderTime", "exchangeRateTime")
    // fallback=false turns a silent interpreted fallback (how Spark
    // hides generated-code bugs) into a hard failure
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = joined
      val compiled = df.collect() // finalize AQE stages; fallback=false throws on codegen bugs
      val p = plan(df).toString
      assert("""\*\(\d+\) AsOfMergeJoin""".r.findFirstIn(p).isDefined,
        s"expected AsOfMergeJoin inside a WholeStageCodegen stage:\n$p")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = joined.collect()
      assert(compiled.toSeq == interpreted.toSeq,
        "codegen and interpreted merge must agree row for row")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  test("date-partitioned layout: a date predicate prunes partitions at planning") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.load(spark, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").mode("overwrite").parquet(out)
    val read = spark.read.parquet(out)
      .where(col("event_date") === "2024-01-01")
    val scan = plan(read).toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.contains("event_date"),
      s"expected a partition filter on event_date in:\n$scan")
    // the pruned read must touch exactly the one matching partition
    val all = spark.read.parquet(out)
    val datePart = all.select("event_date").distinct().count()
    assert(datePart > 1, "fixture must span multiple partitions")
    assert(read.count() > 0 &&
      read.count() == all.where(col("event_date") === "2024-01-01").count())
  }

  test("bloom decontamination: literal probe, no nested-loop join, no bloom shuffle") {
    val df = SparkEntry.queries("d9_decontam_bloom")(spark, dir)
    df.count()
    val p = plan(df).toString
    // the bit array must ride inside the filter as a literal, never
    // through a join (a joined 1-row bloom copies 128KB per probed row)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bloom must not join in via nested loop:\n$p")
    assert(p.contains("bloom_might_contain"),
      s"expected the probe predicate in the plan:\n$p")
  }

  test("stratified sample: the md5 predicate is a scan-stage filter, no shuffle") {
    val df = SparkEntry.queries("x9_sample")(spark, dir)
    df.count()
    // one global sort for the ORDER BY is expected; the sampling
    // itself must add no exchange beyond it
    val exchanges = plan(df).collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.length <= 1,
      s"sampling must be map-side (only the ORDER BY may shuffle):\n${plan(df)}")
  }

  test("chunking is shuffle-free before its ORDER BY") {
    val df = graft.operators.CorpusOps.chunk(
      Tables.load(spark, dir, "documents"), "doc_id", "text", 64, 48)
    df.count()
    val exchanges = plan(df).collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.isEmpty, s"chunking must not shuffle:\n${plan(df)}")
  }

  test("bucketed tables join with zero exchanges") {
    spark.sparkContext.setLogLevel("ERROR")
    // the session may be shared across suites (getOrCreate) with a
    // CWD warehouse; clear catalog entries AND stale on-disk locations
    // left by previous forked runs
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    Bucketing.writeBucketed(Tables.load(spark, dir, "orders"), "b_orders",
      "o_orderkey", 4)
    Bucketing.writeBucketed(
      Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_quantity"),
      "b_lineitem", "l_orderkey", 4)
    val joined = Bucketing.colocatedJoin(spark, "b_orders", "b_lineitem",
      "o_orderkey", "l_orderkey")
    assert(joined.count() > 0)
    // the planner may still elect to BROADCAST a small bucketed side
    // (legitimate, also shuffle-free); the claim is no shuffle exchange
    val shuffles = plan(joined).collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.isEmpty,
      s"bucketed join must not shuffle, found: $shuffles\n${plan(joined)}")
    // sanity: result matches the plain (shuffled) join
    val plain = Tables.load(spark, dir, "orders").join(
      Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_quantity"),
      col("o_orderkey") === col("l_orderkey"))
    assert(joined.count() == plain.count())
  }

  test("manifest pruning opens only the files whose range can match") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val ev = Tables.load(spark, dir, "events")
    FileManifest.writeLayout(ev, tmp, "user_id", 16)
    val manifest = FileManifest.buildManifest(spark, tmp, "user_id")
    // empty range partitions write no file; at sf0.001 the 15 distinct
    // user_ids fill 14 of the 16 requested buckets
    assert(manifest.length >= 10, s"too few files: ${manifest.length}")
    // range layout => per-file key ranges are pairwise disjoint (tight
    // stats are what make the manifest selective)
    val sorted = manifest.sortBy(_.min)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.max <= b.min,
        s"overlapping file ranges: $a vs $b")
      case _ =>
    }
    // a predicate spanning three adjacent files, wherever they fall
    val (lo, hi) = (sorted(4).min, sorted(6).max)
    val pruned = FileManifest.readPruned(spark, manifest, "user_id", lo, hi)
    // the scan must actually skip: survivors are a strict minority
    val opened = pruned.inputFiles.length
    assert(opened <= 3, s"pruning opened $opened of ${manifest.length} files")
    // and lose nothing: identical to the full-scan filter
    val full = ev.filter(col("user_id").between(lo, hi))
    assert(pruned.count() == full.count())
    assert(pruned.agg(sum("event_id")).head.getLong(0)
      == full.agg(sum("event_id")).head.getLong(0))
    // the residual predicate still pushes into the surviving files'
    // scan (row-group/page skipping inside survivors is free)
    val p = plan(pruned).toString
    assert(p.contains("PushedFilters: [IsNotNull(user_id), " +
      "GreaterThanOrEqual(user_id"), s"residual filter not pushed:\n$p")
  }

  test("dynamic file pruning: scattered keys skip the files between them, lose nothing") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-dfp").toString
    import spark.implicits._
    // 160 keys over 16 range-partitioned files → file ranges ≈ [0,9],
    // [10,19], …  — deterministic geometry for the prune assertions
    val fact = (0L until 160L).map(i => (i, i * 100L)).toDF("k", "v")
    FileManifest.writeLayout(fact, tmp, "k", 16)
    val m = FileManifest.buildManifest(spark, tmp, "k")
    assert(m.length == 16)
    // two scattered keys: the range prune must keep every file between
    // them; the exact prune keeps exactly the two containing files
    val jp = FileManifest.pruneForKeys(m, Seq(5L, 105L))
    assert(jp.rangeSurvivors >= 10,
      s"range rung should span the gap: ${jp.rangeSurvivors}")
    assert(jp.files.length == 2,
      s"exact rung must keep 2 files, kept ${jp.files.map(f => (f.min, f.max))}")
    // the read+join equals the unpruned join (superset + residual)
    val dim = Seq(5L, 105L, 9999L).toDF("dk") // 9999 matches nothing
    val got = FileManifest.readJoinPruned(spark, m, "k", dim, "dk")
      .join(dim, col("k") === col("dk")).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((5L, 500L), (105L, 10500L)))
    // over-threshold dim degrades to the range rung, same answer
    val ranged = FileManifest.readJoinPruned(spark, m, "k", dim, "dk",
      exactLimit = 1)
    assert(ranged.inputFiles.length >= 10, "fallback should be range-pruned")
    assert(ranged.join(dim, col("k") === col("dk")).count() == 2)
    // an empty dim side prunes everything and yields the empty result
    val none = FileManifest.readJoinPruned(spark, m, "k",
      dim.where(lit(false)), "dk")
    assert(none.count() == 0)
    // NULL dim keys are dropped, not NPE'd or min/max-poisoning
    val withNull = Seq(Some(5L), None).toDF("dk")
    assert(FileManifest.readJoinPruned(spark, m, "k", withNull, "dk")
      .inputFiles.length == 1)
  }

  test("bloom sidecar: zero false negatives, skips on a non-clustered column, word replay") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    import spark.implicits._
    // cluster by k; the probe column p cycles 0..39 so every file's
    // [min,max] of p spans the domain — the range rung is useless and
    // only the bloom can skip. p values are file-disjoint mod stripes:
    // file of row i holds p = i % 40 only for its own k-range
    val rows = (0L until 160L).map(i => (i, i % 40L, i * 10L))
    val fact = rows.toDF("k", "p", "v")
    FileManifest.writeLayout(fact, tmp, "k", 8)
    val blooms = FileManifest.buildBloomManifest(spark, tmp, "p",
      m = 4096, k = 3)
    assert(blooms.length == 8)
    // word replay: rebuild every file's words from its rows in plain
    // scala via bloomPos — must match the executor-side bit_or fold
    val byFile = spark.read.parquet(tmp)
      .select(input_file_name().as("f"), col("p")).collect()
      .map(r => (new java.net.URI(r.getString(0)).getPath, r.getLong(1)))
      .groupBy(_._1)
    def filePath(b: FileManifest.BloomStats): String =
      new java.net.URI(b.path).getPath
    blooms.foreach { b =>
      val words = new Array[Long](4096 / 64)
      byFile.getOrElse(filePath(b), Array.empty).map(_._2).distinct.foreach { v =>
        (0 until 3).foreach { i =>
          val pos = FileManifest.bloomPos(i, v, 4096)
          words(pos >> 6) |= 1L << (pos & 63)
        }
      }
      assert(java.util.Arrays.equals(b.words, words),
        s"word replay mismatch for ${b.path}")
    }
    // zero false negatives: every present value's file survives
    byFile.foreach { case (path, frows) =>
      val b = blooms.find(filePath(_) == path).get
      frows.map(_._2).distinct.foreach(v =>
        assert(b.mightContain(v), s"false negative: $v in $path"))
    }
    // the read equals the plain predicate for present AND absent keys
    val keys = Seq(7L, 23L, 9999L)
    val got = FileManifest.readBloomPruned(spark, blooms, "p", keys)
      .select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = rows.filter(t => keys.contains(t._2)).toSet
    assert(got == want, s"bloom read must equal the plain filter")
    // an absent key actually SKIPS files (m is sized far above n/file)
    val absent = FileManifest.bloomSurvivors(blooms, Seq(999983L))
    assert(absent.length < blooms.length,
      s"absent key should prune some of ${blooms.length} files, " +
        s"kept ${absent.length}")
    // an all-pruned key set returns the legitimate empty frame
    if (absent.isEmpty)
      assert(FileManifest.readBloomPruned(spark, blooms, "p",
        Seq(999983L)).count() == 0)
    // malformed shapes refuse loudly
    intercept[IllegalArgumentException] {
      FileManifest.buildBloomManifest(spark, tmp, "p", m = 100, k = 3)
    }
  }

  test("string manifest: truncated bounds prune, residual exact, empty range empty") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-strm").toString
    import spark.implicits._
    // 160 keys "key-000".."key-159" range-clustered over 8 files;
    // truncation to 6 chars keeps "key-0X" resolution — enough to
    // prune distant files, loose enough to exercise the widening
    val rows = (0 until 160).map(i => (f"key-$i%03d", i.toLong))
    FileManifest.writeLayout(rows.toDF("k", "v"), tmp, "k", 8)
    val m = FileManifest.buildStringManifest(spark, tmp, "k", truncateTo = 6)
    assert(m.length == 8)
    // bounds bracket their file's true values
    m.foreach { f =>
      assert(FileManifest.u8cmp(f.min, f.max) <= 0, s"min>max in $f")
    }
    val survivors = FileManifest.pruneString(m, "key-020", "key-039")
    assert(survivors.length < m.length,
      s"a narrow range must prune some of 8 files, kept ${survivors.length}")
    val got = FileManifest.readStringPruned(spark, m, "k",
        "key-020", "key-039")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == rows.filter(t =>
      t._1 >= "key-020" && t._1 <= "key-039").toSet,
      "string-pruned read must equal the plain BETWEEN")
    // a range beyond every bound prunes everything -> empty result
    assert(FileManifest.readStringPruned(spark, m, "k",
      "zzz", "zzzz").count() == 0)
    intercept[IllegalArgumentException] {
      FileManifest.buildStringManifest(spark, tmp, "k", truncateTo = 0)
    }
  }

  test("incremental agg refresh: added-files-only IO, exact merge, append-only refusal") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-iagg").toString
    val ev = Tables.load(spark, dir, "events")
    FileManifest.writeLayout(ev.where(col("event_id") % 2 === 0),
      s"$tmp/t", "user_id", 4)
    val v1 = FileManifest.buildManifest(spark, s"$tmp/t", "user_id")
    val keys = Seq("event_type")
    FileManifest.aggPartial(spark, v1, keys, "value")
      .write.parquet(s"$tmp/agg1")
    FileManifest.writeLayout(ev.where(col("event_id") % 2 === 1),
      s"$tmp/b2", "user_id", 2)
    val v2 = FileManifest.append(v1, spark,
      FileManifest.listParquet(spark, s"$tmp/b2"), "user_id")
    val refreshed = FileManifest.aggRefresh(spark,
      spark.read.parquet(s"$tmp/agg1"), v1, v2, keys, "value")
    // the refresh never re-reads the base table: its lineage is the
    // stored state plus the ADDED batch only
    val inputs = refreshed.inputFiles.toSet
    assert(inputs.nonEmpty &&
      inputs.forall(p => p.contains("/agg1/") || p.contains("/b2/")),
      s"refresh read base-table files: $inputs")
    // incremental == one-shot, exactly (DECIMAL state)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString)).sortBy(_._1).toSeq
    val full = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,2)")).as("agg_sum"))
    assert(canon(refreshed) == canon(full), "incremental != full recompute")
    // a no-churn snapshot is a no-op (the same frame back)
    assert(canon(FileManifest.aggRefresh(spark, refreshed, v2, v2, keys,
      "value")) == canon(refreshed))
    // a snapshot that removed files refuses loudly
    val err = intercept[IllegalArgumentException] {
      FileManifest.aggRefresh(spark, refreshed, v2, v2.drop(1), keys,
        "value")
    }
    assert(err.getMessage.contains("append-only"), err.getMessage)
  }

  test("aggregate maintenance across rewrites: retraction-exact, carried files never read, tombstones leave") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-magg2").toString
    val ev = Tables.load(spark, dir, "events")
    FileManifest.writeLayout(ev.where(col("event_id") % 2 === 0),
      s"$tmp/t", "user_id", 4)
    val v1 = FileManifest.buildManifest(spark, s"$tmp/t", "user_id")
    val keys = Seq("event_type")
    FileManifest.aggPartial(spark, v1, keys, "value")
      .write.parquet(s"$tmp/agg1")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString)).sortBy(_._1).toSeq
    def recompute(m: Seq[FileManifest.FileStats]) =
      FileManifest.readAll(spark, m).groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(18,2)")).as("agg_sum"))

    // a CoW UPDATE version: aggRefresh refuses it, aggMaintain folds it
    val v2 = FileManifest.updateRange(spark, v1, "user_id", 3L, 9L,
      "value", col("value") * 2, s"$tmp/rw")
    intercept[IllegalArgumentException] {
      FileManifest.aggRefresh(spark, spark.read.parquet(s"$tmp/agg1"),
        v1, v2, keys, "value")
    }
    val m2 = FileManifest.aggMaintain(spark,
      spark.read.parquet(s"$tmp/agg1"), v1, v2, keys, "value")
    assert(canon(m2) == canon(recompute(v2)),
      "maintained state != recompute after the update version")
    // carried (unchurned) files are NEVER read by the fold
    val carried = v2.map(_.path).toSet.intersect(v1.map(_.path).toSet)
    val inputs = m2.inputFiles.toSet
    assert(carried.nonEmpty && inputs.nonEmpty)
    assert(!inputs.exists(p => carried.exists(c => p.endsWith(
        c.stripPrefix("file:")))),
      s"maintenance read a carried file: ${inputs.intersect(carried)}")
    m2.write.parquet(s"$tmp/agg2")

    // a CoW DELETE version folds as pure retraction
    val v3 = FileManifest.deleteRange(spark, v2, "user_id", 12L, 13L,
      s"$tmp/rw2")
    val m3 = FileManifest.aggMaintain(spark,
      spark.read.parquet(s"$tmp/agg2"), v2, v3, keys, "value")
    assert(canon(m3) == canon(recompute(v3)),
      "maintained state != recompute after the delete version")

    // a key whose count returns to zero LEAVES the state (no
    // (0, 0.00) tombstone): craft a layout where one key's rows all
    // sit inside the deleted range
    import spark.implicits._
    val crafted = Seq((1L, "keep", 1.5), (2L, "keep", 2.5),
      (100L, "gone", 9.0), (101L, "gone", 4.0))
      .toDF("user_id", "event_type", "value")
    FileManifest.writeLayout(crafted, s"$tmp/c", "user_id", 2)
    val c1 = FileManifest.buildManifest(spark, s"$tmp/c", "user_id")
    val st = FileManifest.aggPartial(spark, c1, keys, "value")
    val c2 = FileManifest.deleteRange(spark, c1, "user_id", 100L, 101L,
      s"$tmp/crw")
    val folded = FileManifest.aggMaintain(spark, st, c1, c2, keys, "value")
    assert(canon(folded) == canon(recompute(c2)))
    assert(!folded.collect().map(_.getString(0)).contains("gone"),
      "a fully-deleted key must leave the maintained state")
  }

  test("metadata-only aggregate scans at most the two boundary files") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-magg").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    FileManifest.writeLayout(ev, tmp, "user_id", 16)
    val manifest = FileManifest.buildManifest(spark, tmp, "user_id")
    val sorted = manifest.sortBy(_.min)
    // a range spanning many interior files with ragged edges: interior
    // files answer from footer stats, only the two edge files scan
    val (lo, hi) = (sorted(1).min + 1, sorted(12).max - 1)
    val (full, partial) = FileManifest.coveredSplit(manifest, lo, hi)
    assert(full.size >= 8, s"metadata path unused: ${full.size} covered")
    assert(partial.size <= 2, s"${partial.size} boundary files (expected <=2)")
    val got = FileManifest.aggRanged(spark, manifest, "user_id", lo, hi).head
    val exp = ev.filter(col("user_id").between(lo, hi))
      .agg(count(lit(1)), min(col("user_id")).cast("long"),
        max(col("user_id")).cast("long")).head
    assert(got.getLong(0) == exp.getLong(0) &&
      got.getLong(1) == exp.getLong(1) && got.getLong(2) == exp.getLong(2),
      s"metadata aggregate mismatch: $got vs $exp")
    // an empty range yields (0, null, null) — same as the full scan
    val empty = FileManifest.aggRanged(spark, manifest, "user_id",
      -100L, -50L).head
    assert(empty.getLong(0) == 0L && empty.isNullAt(1) && empty.isNullAt(2))

    // NULLABLE clustering column: footer row counts include NULL rows,
    // the BETWEEN aggregate excludes them — the metadata path must
    // subtract per-file null counts (Iceberg null_value_counts), not
    // credit covered files their whole footer count
    val tmpN = java.nio.file.Files.createTempDirectory("graft-maggn").toString
    val evN = ev.withColumn("uid_n",
      when(col("event_id") % 7 === 0, lit(null)).otherwise(col("user_id"))
        .cast("long"))
    // cluster on user_id so files stay range-disjoint while uid_n has
    // nulls scattered through every file
    FileManifest.writeLayout(evN, tmpN, "user_id", 16)
    val mN = FileManifest.buildManifests(spark, tmpN, Seq("uid_n"))("uid_n")
    assert(mN.map(_.nulls).sum > 0, "test premise: files must carry nulls")
    val sortedN = mN.sortBy(_.min)
    val (loN, hiN) = (sortedN.head.min, sortedN(12).max)
    val (fullN, _) = FileManifest.coveredSplit(mN, loN, hiN)
    assert(fullN.exists(_.nulls > 0),
      "test premise: a covered file must carry nulls")
    val gotN = FileManifest.aggRanged(spark, mN, "uid_n", loN, hiN).head
    val expN = evN.filter(col("uid_n").between(loN, hiN))
      .agg(count(lit(1)), min(col("uid_n")).cast("long"),
        max(col("uid_n")).cast("long")).head
    assert(gotN.getLong(0) == expN.getLong(0),
      s"null-aware count mismatch: ${gotN.getLong(0)} vs ${expN.getLong(0)}")
    assert(gotN.getLong(1) == expN.getLong(1) &&
      gotN.getLong(2) == expN.getLong(2))
  }

  test("merge-on-read delete: O(keys) now, anti-join reads, pruned compaction") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-mor").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    FileManifest.writeLayout(ev, s"$tmp/t", "user_id", 16)
    val m = FileManifest.buildManifest(spark, s"$tmp/t", "user_id")
    val keys = ev.where(col("user_id").between(10, 30))
      .select("user_id").distinct()
    val table0 = FileManifest.MorTable("user_id", m, Nil)
    val mor = FileManifest.deleteKeysMoR(spark, table0, keys, s"$tmp/del")
    // O(keys) now: the DATA manifest is untouched — no file rewritten,
    // only the tiny sidecar appeared
    assert(mor.data == m, "MoR delete must not touch data files")
    assert(mor.deleteFiles.length == 1)
    // the MoR read equals the copy-on-write rewrite, row for row
    val cow = FileManifest.readAll(spark,
      FileManifest.deleteRange(spark, m, "user_id", 10L, 30L, s"$tmp/cow"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum("event_id")).head
    assert(key(FileManifest.readMoR(spark, mor)).toSeq ==
      key(cow).toSeq, "MoR read != CoW result")
    // compaction folds the deletes in, rewriting ONLY files whose
    // [min,max] can hold a deleted key — the rest carry verbatim
    val compacted = FileManifest.applyDeletesMoR(spark, mor, s"$tmp/rw")
    assert(compacted.deleteFiles.isEmpty)
    val carried = compacted.data.map(_.path).toSet intersect m.map(_.path).toSet
    assert(carried.nonEmpty, "untouched files must carry verbatim")
    assert(compacted.data.map(_.path).toSet != m.map(_.path).toSet,
      "intersecting files must have been rewritten")
    assert(key(FileManifest.readAll(spark, compacted.data)).toSeq ==
      key(cow).toSeq, "post-compaction read changed the answer")
    // deleting absent keys: a no-op at read time AND at compaction
    import spark.implicits._
    val ghost = FileManifest.deleteKeysMoR(spark, compacted,
      Seq(99999L, 88888L).toDF("user_id"), s"$tmp/del2")
    assert(key(FileManifest.readMoR(spark, ghost)).toSeq == key(cow).toSeq)
    val ghostC = FileManifest.applyDeletesMoR(spark, ghost, s"$tmp/rw2")
    assert(ghostC.data.map(_.path) == compacted.data.map(_.path),
      "absent-key compaction must rewrite nothing")
    // NULL delete keys (e.g. a non-numeric source column cast away):
    // a NULL can never equality-match, so it must be dropped at
    // sidecar-write time — and compaction must not NPE on it
    val nullKeys = Seq(Some(99999L), None, None).toDF("user_id")
    val nullMor = FileManifest.deleteKeysMoR(spark, compacted, nullKeys,
      s"$tmp/del3")
    assert(spark.read.parquet(nullMor.deleteFiles.last)
      .where(col("user_id").isNull).count() == 0,
      "NULL keys must not reach the sidecar")
    assert(key(FileManifest.readMoR(spark, nullMor)).toSeq == key(cow).toSeq)
    val nullC = FileManifest.applyDeletesMoR(spark, nullMor, s"$tmp/rw3")
    assert(key(FileManifest.readAll(spark, nullC.data)).toSeq ==
      key(cow).toSeq, "null-key compaction changed the answer")
    // two deletes derived from the SAME snapshot (branched/retried
    // callers) must not clobber each other's sidecar
    val b1 = FileManifest.deleteKeysMoR(spark, compacted,
      Seq(40L).toDF("user_id"), s"$tmp/del4")
    val b2 = FileManifest.deleteKeysMoR(spark, compacted,
      Seq(41L).toDF("user_id"), s"$tmp/del4")
    assert(b1.deleteFiles.last != b2.deleteFiles.last,
      "branched deletes from one snapshot must get distinct sidecars")
  }

  test("graph round reuses cached edge partitioning: one shuffle per round, none above the edge cache") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.operators.Graph
    def shuffles(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case e: ShuffleExchangeLike => 1 + e.children.map(shuffles).sum
      case other => other.children.map(shuffles).sum
    }
    // a shuffle INSIDE the join's subtree = an input side re-Exchanged
    // (the one legitimate exchange, the target-side agg, sits ABOVE)
    def joinSubtreeShuffles(p: SparkPlan): Option[Int] = p match {
      case a: AdaptiveSparkPlanExec => joinSubtreeShuffles(a.executedPlan)
      case q: QueryStageExec => joinSubtreeShuffles(q.plan)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        Some(shuffles(j))
      case other => other.children.flatMap(joinSubtreeShuffles(_)).headOption
    }
    def usesCache(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => usesCache(a.executedPlan)
      case q: QueryStageExec => usesCache(q.plan)
      case _: InMemoryTableScanExec => true
      case other => other.children.exists(usesCache)
    }
    val li = Tables.load(spark, dir, "lineitem")
    val edges = li.select((col("l_orderkey") % 512).as("src"),
      ((col("l_partkey") * 7 + col("l_suppkey")) % 512).as("dst"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val g = Graph.buildRankGraph(edges, "src", "dst")
      g.eo.count() // materialize the cache with its hash(src) layout
      // the operator's EXACT round-state shape: init ranks from the
      // cached (hash(node)) node set, layout-keeping eager checkpoint
      val ranks = org.apache.spark.sql.graftshim.SparkShims
        .localCheckpointKeepingLayout(
          g.nodes.withColumn("rank_u", lit(1000000L)))
      val inflow = Graph.rankInflow(g.eo, ranks)
      inflow.collect() // finalize AQE
      val p = plan(inflow)
      assert(usesCache(p), s"round join must read the edge cache:\n$p")
      assert(joinSubtreeShuffles(p).contains(0),
        s"round join inputs re-Exchanged (cached hash(src) edge layout " +
          s"or checkpointed hash(node) rank state not reused):\n$p")
      assert(shuffles(p) == 1,
        s"a round must cost exactly ONE shuffle (the target-side agg):\n$p")
      g.nodes.unpersist(); g.eo.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("r8 plan shapes: containment stays equi-join, MoR reads broadcast-anti, gram serve reads postings only, MIPS broadcasts") {
    // d18: candidate generation is a shuffle EQUI-join — a containment
    // join that planned a nested-loop/cartesian would be quadratic
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val d18 = graft.operators.Dedup.containmentJoin(docs, "doc_id", "text",
      shingleWords = 3, threshold = 0.5)
    d18.count()
    val p18 = plan(d18).toString
    assert(!p18.contains("CartesianProduct") &&
      !p18.contains("BroadcastNestedLoopJoin"),
      s"containment join must stay an equi-join:\n$p18")
    // f13: the merge-on-read read is a BROADCAST anti-join (the delete
    // sidecar is tiny by design — a shuffled anti-join would move the
    // table to subtract a handful of keys)
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-morplan").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    FileManifest.writeLayout(ev, s"$tmp/t", "user_id", 8)
    val mor = FileManifest.deleteKeysMoR(spark,
      FileManifest.MorTable("user_id",
        FileManifest.buildManifest(spark, s"$tmp/t", "user_id"), Nil),
      ev.where(col("user_id").between(10, 30)).select("user_id").distinct(),
      s"$tmp/del")
    val rd = FileManifest.readMoR(spark, mor)
    rd.count()
    val pMor = plan(rd).toString
    assert(pMor.contains("BroadcastHashJoin") && pMor.contains("LeftAnti"),
      s"MoR read must broadcast-anti-join the delete keys:\n$pMor")
    // d17: the served span stats read ONLY the postings columns — a
    // ReadSchema carrying text would mean the layout re-derives grams
    val gp = java.nio.file.Files.createTempDirectory("graft-gidxplan").toString
    graft.sources.GramIndex.build(docs.limit(50), "doc_id", "text", gp, n = 8)
    val served = graft.sources.GramIndex.dupStats(spark, gp)
    val pServe = plan(served).toString
    assert(pServe.contains("ReadSchema") && !pServe.contains("text"),
      s"gram serve must read postings, never text:\n$pServe")
    // s25: exact MIPS broadcasts the query side like s1 (corpus-sized
    // side never shuffles for a fixed query batch)
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val mips = graft.operators.Similarity.mipsTopK(q, emb, k = 5)
    mips.count()
    assert(plan(mips).toString.contains("BroadcastNestedLoopJoin") ||
      plan(mips).toString.contains("BroadcastHashJoin"),
      s"MIPS must broadcast the query batch:\n${plan(mips)}")
  }

  test("scd2: lag and lead share one shuffle and one sort") {
    val df = SparkEntry.queries("q28_scd2")(spark, dir)
    // the final orderBy adds a range-partition exchange; the history
    // build itself must contribute exactly one hash exchange (the
    // plan string survives AQE wrapping, node collect does not)
    val p = plan(df).toString
    assert("hashpartitioning".r.findAllIn(p).length == 1,
      s"lag/lead must share one hash exchange:\n$p")
    assert("\\+- Sort ".r.findAllIn(p).length <= 2,
      s"lead must reuse lag's sort:\n$p")
  }

  test("incremental manifest append/expire == full rebuild") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-incr").toString
    val ev = Tables.load(spark, dir, "events")
    FileManifest.writeLayout(ev.filter(col("user_id") < 8), s"$tmp/t", "user_id", 4)
    val m0 = FileManifest.buildManifest(spark, s"$tmp/t", "user_id")
    // an ingest batch lands as new files alongside the old ones
    FileManifest.writeLayout(ev.filter(col("user_id") >= 8), s"$tmp/more", "user_id", 4)
    val newFiles = FileManifest.buildManifest(spark, s"$tmp/more", "user_id")
      .map(_.path)
    val appended = FileManifest.append(m0, spark, newFiles, "user_id")
    assert(appended.map(_.path).toSet == (m0.map(_.path) ++ newFiles).toSet)
    // append is idempotent (re-offering known files stats nothing new)
    assert(FileManifest.append(appended, spark, newFiles, "user_id") == appended)
    // incremental result == rebuilding from scratch over the same files
    val rebuilt = (FileManifest.buildManifest(spark, s"$tmp/t", "user_id") ++
      FileManifest.buildManifest(spark, s"$tmp/more", "user_id"))
      .sortBy(_.path)
    assert(appended == rebuilt)
    // expire removes exactly the compacted-away entries
    val expired = FileManifest.expire(appended, newFiles)
    assert(expired == m0.sortBy(_.path))
    // and the appended manifest still answers ranged reads correctly
    val pruned = FileManifest.readPruned(spark, appended, "user_id", 6L, 10L)
    val full = ev.filter(col("user_id").between(6, 10))
    assert(pruned.count() == full.count())

    // 40 files (above the default parallel-discovery threshold of 32)
    // stat in one job of at most one task per core, and the stats
    // equal the driver-side reads of the same files, 8 at a time
    spark.range(0, 4000, 1, 40).write.parquet(s"$tmp/wide")
    val jobTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobTasks.add(js.stageInfos.map(_.numTasks).sum)
    }
    spark.sparkContext.addSparkListener(l)
    val wide = try FileManifest.buildManifest(spark, s"$tmp/wide", "id")
      finally {
        org.apache.spark.sql.graftshim.SparkShims.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(l)
      }
    assert(wide.size == 40)
    val byEight = wide.map(_.path).grouped(8)
      .foldLeft(Seq.empty[FileManifest.FileStats])(
        FileManifest.append(_, spark, _, "id"))
    assert(wide == byEight)
    import scala.jdk.CollectionConverters._
    val tasks = jobTasks.asScala.toSeq
    assert(tasks.nonEmpty && tasks.forall(_ <= spark.sparkContext.defaultParallelism),
      s"footer stats must run at most one task per core: $tasks")
  }

  test("write mix: one pass of f1, f13 and f22 runs at most 30 Spark jobs") {
    // perfbench's batch_write pass: each builder call, then a noop
    // write of its rows. Footers and the schemas of graft's own files
    // are read on the driver, so the jobs left are the queries' own
    // writes and AQE stages.
    val mix = Seq("f1_manifest_prune", "f13_delete_mor", "f22_sql_delete")
    def pass(): Unit = mix.foreach(n =>
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save())
    pass() // the f22 table and the layout dirs exist from here on
    val sc = spark.sparkContext
    org.apache.spark.sql.graftshim.SparkShims.drainListenerBus(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      pass()
      org.apache.spark.sql.graftshim.SparkShims.drainListenerBus(spark)
    } finally sc.removeSparkListener(l)
    info(s"${jobs.get} Spark jobs in one write-mix pass")
    assert(jobs.get <= 30, s"${jobs.get} Spark jobs in one write-mix pass")
  }

  test("bloom-join rule injects a probe-side prefilter and preserves the result") {
    import graft.plans.InjectBloomJoinFilter
    // force the heuristics on at test scale: any probe qualifies, the
    // build side must still be the smaller relation by stats
    spark.conf.set(InjectBloomJoinFilter.MinProbeKey, "1")
    try {
      val probe = Tables.load(spark, "/root/testdata/sf0.01", "orders")
      val build = Tables.load(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name")
      def joined = probe.join(build, col("o_custkey") === col("c_custkey"))
      val p = plan(joined).toString
      assert(p.contains("bloom_might_contain") || p.contains("BloomMightContain"),
        s"no injected bloom probe in:\n$p")
      assert(p.contains("Subquery") || p.contains("subquery"),
        s"bloom build must be a scalar subquery:\n$p")
      // exactly ONE bloom Filter node on the probe side of the logical
      // plan — the fixpoint batch must not stack them. (The plan STRING
      // shows more: each subquery reference re-prints its tree, and
      // constraint inference may copy the predicate across the join
      // equality onto the build side — a self-bloom every build row
      // passes, harmless by the zero-false-negative argument.)
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
      val opt = castToImpl(joined).queryExecution.optimizedPlan
      val joins = opt.collect { case j: LJoin => j }
      assert(joins.size == 1, s"expected one join:\n$opt")
      val probeBlooms = joins.head.left.collect {
        case f @ LFilter(c, _) if c.exists(
          _.isInstanceOf[graft.functions.BloomMightContain]) => f
      }
      assert(probeBlooms.size == 1,
        s"expected exactly one probe-side bloom filter:\n$opt")
      val on = joined.agg(count(lit(1)), sum("o_totalprice")).head()

      // LEFT OUTER with a big RIGHT side: only the right side may be
      // filtered (a bloom-negative LEFT row is exactly a row the join
      // must keep null-extended) — and the result must be identical,
      // null-extended rows included
      def louter = build.join(probe, col("c_custkey") === col("o_custkey"),
        "left_outer")
      val lp = plan(louter).toString
      assert(lp.contains("bloom_might_contain"),
        s"left-outer big-right must bloom the right side:\n$lp")
      val lOn = louter.agg(count(lit(1)), count("o_orderkey")).head()

      // DETERMINISM GUARD: a nondeterministic build side is evaluated
      // twice (bloom subquery + join); the evaluations can disagree and
      // a bloom false NEGATIVE would silently drop matching probe rows.
      // The rule must not fire.
      // (not `rand >= 0.0` — the optimizer proves that true and folds
      // the filter away, leaving a deterministic build side)
      val ndBuild = build.filter(rand(7) < 0.9999999)
      val ndPlan = plan(probe.join(ndBuild,
        col("o_custkey") === col("c_custkey"))).toString
      assert(!ndPlan.toLowerCase.contains("bloom_might_contain"),
        s"rule must skip a nondeterministic build side:\n$ndPlan")

      spark.conf.set(InjectBloomJoinFilter.EnabledKey, "false")
      val offPlan = plan(joined).toString
      assert(!offPlan.toLowerCase.contains("bloom_might_contain"),
        s"rule must respect the enabled flag:\n$offPlan")
      val off = joined.agg(count(lit(1)), sum("o_totalprice")).head()
      assert(on == off, s"bloom prefilter changed the result: $on vs $off")
      val lOff = louter.agg(count(lit(1)), count("o_orderkey")).head()
      assert(lOn == lOff,
        s"left-outer bloom prefilter changed the result: $lOn vs $lOff")
    } finally {
      spark.conf.unset(InjectBloomJoinFilter.MinProbeKey)
      spark.conf.unset(InjectBloomJoinFilter.EnabledKey)
    }
  }

  test("partitioned catalog: per-partition append/expire, two-level pruned read") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-pcat").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    FileManifest.writePartitionedLayout(ev, s"$tmp/t", "event_type",
      "user_id", numFiles = 20)
    val pm = FileManifest.buildPartitioned(spark, s"$tmp/t", "user_id")
    val types = ev.select("event_type").distinct().collect()
      .map(r => s"event_type=${r.getString(0)}").toSet
    assert(pm.partitions.keySet == types, s"got ${pm.partitions.keySet}")

    // ingest batch into ONE partition: only that key changes
    FileManifest.writeLayout(
      ev.filter(col("event_type") === "click").limit(100),
      s"$tmp/t/event_type=click/extra", "user_id", 2)
    // (files written under a nested dir so the catalog doesn't see
    // them on rebuild; append is told about them explicitly)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), conf)
    val extra = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/t/event_type=click/extra"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq
    val pm2 = FileManifest.appendPartition(pm, spark, "event_type=click", extra)
    assert(pm2.partitions("event_type=click").size ==
      pm.partitions("event_type=click").size + extra.size)
    assert((pm2.partitions - "event_type=click") ==
      (pm.partitions - "event_type=click"),
      "append must not touch other partitions")
    // expire returns to the original catalog
    assert(FileManifest.expirePartition(pm2, "event_type=click", extra) == pm)
    // expiring a whole partition drops its key
    val clickFiles = pm.partitions("event_type=click").map(_.path)
    assert(!FileManifest.expirePartition(pm, "event_type=click", clickFiles)
      .partitions.contains("event_type=click"))

    // two-level pruned read: partition + range in ONE scan, equal to
    // the plain full-scan filter
    val pruned = FileManifest.readPrunedPartitioned(spark, pm,
      Some(Seq("event_type=click", "event_type=view")), 2L, 8L)
    val full = ev.filter(col("event_type").isin("click", "view") &&
      col("user_id").between(2, 8))
    assert(pruned.count() == full.count())
    assert(pruned.agg(sum("event_id")).head.getLong(0) ==
      full.agg(sum("event_id")).head.getLong(0))
    // and it actually skipped: no file from an excluded partition is
    // opened, and within kept partitions only range survivors are
    val opened = pruned.inputFiles.map(f =>
      java.net.URLDecoder.decode(f, "UTF-8")).toSet
    assert(opened.forall(f =>
      f.contains("event_type=click") || f.contains("event_type=view")),
      s"opened excluded partition files: $opened")
    val total = pm.partitions.values.map(_.size).sum
    assert(opened.size < total,
      s"no skipping: opened ${opened.size} of $total")
    // empty-survivor range: zero rows, schema intact
    assert(FileManifest.readPrunedPartitioned(spark, pm,
      Some(Seq("event_type=click")), Long.MaxValue - 1, Long.MaxValue)
      .count() == 0)

    // persisted catalog round-trips exactly (the parquet side-table
    // form a deployment reads at planning time), including the
    // clustering-column sidecar
    FileManifest.savePartitioned(spark, pm, s"$tmp/cat")
    val loaded = FileManifest.loadPartitioned(spark, s"$tmp/cat")
    assert(loaded == pm, "persisted catalog must round-trip")

    // SNAPSHOT VERSIONING (time travel): each commit is a complete
    // catalog + one atomic marker; readers resolve latest or any
    // committed older version
    val vroot = s"$tmp/versions"
    assert(FileManifest.commitVersion(spark, pm, vroot) == 0L)
    assert(FileManifest.commitVersion(spark, pm2, vroot) == 1L)
    assert(FileManifest.latestVersion(spark, vroot).contains(1L))
    assert(FileManifest.loadLatest(spark, vroot) == pm2)
    assert(FileManifest.loadVersion(spark, vroot, 0L) == pm,
      "time travel must read the superseded catalog")
    // TIMESTAMP AS OF: resolves against the atomic markers' commit
    // times (newest version at-or-before the asked instant); a
    // timestamp predating every commit is refused loudly
    val hist = FileManifest.versionHistory(spark, vroot)
    assert(hist.map(_._1) == Seq(0L, 1L), s"history: $hist")
    assert(FileManifest.loadAsOf(spark, vroot, Long.MaxValue) == pm2)
    assert(FileManifest.loadAsOf(spark, vroot, hist.last._2) == pm2)
    val at0 = FileManifest.loadAsOf(spark, vroot, hist.head._2)
    assert(at0 == (if (hist.last._2 <= hist.head._2) pm2 else pm),
      "AS OF v0's commit instant must resolve to v0 (or a same-tick v1)")
    val tooEarly = intercept[RuntimeException] {
      FileManifest.loadAsOf(spark, vroot, hist.head._2 - 1)
    }
    assert(tooEarly.getMessage.contains("predates"))
    // a crashed commit (payload, no marker) is invisible
    FileManifest.savePartitioned(spark, pm, s"$vroot/v2")
    assert(FileManifest.latestVersion(spark, vroot).contains(1L),
      "an unmarked payload must not be a committed version")
    // ...and the next commit overwrites the orphan
    assert(FileManifest.commitVersion(spark, pm, vroot) == 2L)
    assert(FileManifest.loadLatest(spark, vroot) == pm)
    // ROLLBACK: a new commit whose content is the old snapshot —
    // history (and the rolled-over version) stays readable
    assert(FileManifest.rollbackTo(spark, vroot, 1L) == 3L)
    assert(FileManifest.loadLatest(spark, vroot) == pm2)
    assert(FileManifest.loadVersion(spark, vroot, 2L) == pm,
      "rollback must not destroy the version it rolls over")
    // retention keeps the tail; expired versions fail loudly
    FileManifest.expireVersions(spark, vroot, keepLast = 2)
    assert(FileManifest.loadVersion(spark, vroot, 3L) == pm2)
    val gone = intercept[IllegalArgumentException] {
      FileManifest.loadVersion(spark, vroot, 0L)
    }
    assert(gone.getMessage.contains("never committed"))
    // ORPHAN GC: files referenced by ANY retained version survive;
    // a planted unreferenced file is reclaimed; reads stay exact
    val plantDir = new java.io.File(s"$tmp/t/event_type=click")
    val plant = new java.io.File(plantDir, "orphan-plant.parquet")
    java.nio.file.Files.write(plant.toPath, Array[Byte](1, 2, 3))
    val before = FileManifest.readPrunedPartitioned(spark,
      FileManifest.loadLatest(spark, vroot), None, Long.MinValue,
      Long.MaxValue).count()
    val deleted = FileManifest.gcOrphans(spark, vroot, Seq(s"$tmp/t"))
    assert(deleted.exists(_.endsWith("orphan-plant.parquet")),
      s"planted orphan not reclaimed: $deleted")
    assert(!plant.exists())
    assert(FileManifest.readPrunedPartitioned(spark,
      FileManifest.loadLatest(spark, vroot), None, Long.MinValue,
      Long.MaxValue).count() == before,
      "GC must not touch referenced files")
    // zero committed versions: refuse loudly, delete nothing
    val e2 = intercept[IllegalArgumentException] {
      FileManifest.gcOrphans(spark, s"$tmp/empty-cat", Seq(s"$tmp/t"))
    }
    assert(e2.getMessage.contains("refusing"))
  }

  test("refs: branches advance atomically, tags pin against expiry, WAP isolation") {
    import graft.sources.FileManifest
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_refs").toString
    val ev = (0L until 200L)
      .map(i => (i, i % 20, if (i % 2 == 0) "a" else "b"))
      .toDF("event_id", "user_id", "event_type")
    FileManifest.writePartitionedLayout(ev, s"$tmp/t", "event_type",
      "user_id", numFiles = 4)
    val pm = FileManifest.buildPartitioned(spark, s"$tmp/t", "user_id")
    val pmA = pm.copy(partitions = pm.partitions - "event_type=b")
    val vroot = s"$tmp/cat"
    val v0 = FileManifest.commitVersion(spark, pm, vroot)
    val v1 = FileManifest.commitVersion(spark, pmA, vroot)
    val v2 = FileManifest.commitVersion(spark, pm, vroot)
    // branch + tag resolution; tags immutable; unknown refs loud
    FileManifest.createBranch(spark, vroot, "main", v0)
    FileManifest.createTag(spark, vroot, "rel", v0)
    assert(FileManifest.resolveRef(spark, vroot, "main") == v0)
    assert(FileManifest.advanceBranch(spark, vroot, "main", v1) == 1L)
    assert(FileManifest.resolveRef(spark, vroot, "main") == v1)
    assert(FileManifest.loadRef(spark, vroot, "main") == pmA)
    assert(FileManifest.loadRef(spark, vroot, "rel") == pm)
    intercept[IllegalArgumentException] {
      FileManifest.advanceBranch(spark, vroot, "rel", v1) // a tag
    }
    intercept[IllegalArgumentException] {
      FileManifest.createTag(spark, vroot, "rel", v1) // exists
    }
    intercept[IllegalArgumentException] {
      FileManifest.createBranch(spark, vroot, "dangling", 99L) // uncommitted
    }
    intercept[IllegalArgumentException] {
      FileManifest.resolveRef(spark, vroot, "nope")
    }
    intercept[IllegalArgumentException] {
      FileManifest.createBranch(spark, vroot, "../escape", v0)
    }
    // fast-forward = publish: main lands on the audited branch's head
    FileManifest.createBranch(spark, vroot, "audit", v2)
    assert(FileManifest.fastForward(spark, vroot, "main", "audit") == v2)
    assert(FileManifest.resolveRef(spark, vroot, "main") == v2)
    assert(FileManifest.listRefs(spark, vroot).map(r => (r._1, r._2, r._3))
      .toSet == Set(("branch", "main", v2), ("branch", "audit", v2),
        ("tag", "rel", v0)))
    // expiry honors ref pins: keepLast=1 would drop v0 and v1, but
    // the tag pins v0 — only the unpinned v1 is reclaimed
    FileManifest.expireVersions(spark, vroot, keepLast = 1)
    assert(FileManifest.loadRef(spark, vroot, "rel") == pm,
      "a tag-pinned version must survive expiry")
    intercept[IllegalArgumentException] {
      FileManifest.loadVersion(spark, vroot, v1)
    }
    // create-race protocol (r10): a racer's marker that survived the
    // empty-dir check makes resolveRef DETERMINISTIC (min version at
    // the max seq — the marker the race winner holds) while the loser
    // backs out; confirmSoleCreator deletes ONLY the loser's marker
    FileManifest.createBranch(spark, vroot, "race", v0)
    val raceDir = new org.apache.hadoop.fs.Path(s"$vroot/refs/race")
    val rfs = raceDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rfs.createNewFile(new org.apache.hadoop.fs.Path(raceDir, s"bref-0-$v2"))
    assert(FileManifest.resolveRef(spark, vroot, "race") == math.min(v0, v2),
      "seq-tie resolution must pick the min version deterministically")
    // the racer (second creator, higher version) loses: its own marker
    // is deleted and the call fails loudly
    val raceErr = intercept[RuntimeException] {
      FileManifest.confirmSoleCreator(rfs, raceDir, s"bref-0-$v2",
        "createBranch(race)")
    }
    assert(raceErr.getMessage.contains("lost the create race"))
    assert(!rfs.exists(new org.apache.hadoop.fs.Path(raceDir, s"bref-0-$v2")),
      "the losing racer must back out its own marker")
    assert(rfs.exists(new org.apache.hadoop.fs.Path(raceDir, s"bref-0-$v0")),
      "the winner's marker must never be touched by a loser")
    assert(FileManifest.resolveRef(spark, vroot, "race") == v0)
    // adoptBatch: staged files MOVE into the table tree and append;
    // the read through the appended catalog sees base + batch exactly
    val batch = (1000L until 1100L)
      .map(i => (i, i % 20, "a")).toDF("event_id", "user_id", "event_type")
    FileManifest.writePartitionedLayout(batch, s"$tmp/stage", "event_type",
      "user_id", numFiles = 2)
    val adopted = FileManifest.adoptBatch(spark, pm, s"$tmp/t", s"$tmp/stage")
    val rows = FileManifest.readPrunedPartitioned(spark, adopted, None,
      Long.MinValue, Long.MaxValue)
    assert(rows.count() == 300)
    assert(rows.inputFiles.forall(f => f.contains("/t/")),
      "adopted files must live under the table root")
  }

  test("changelog refresh: the diff reads ONLY added files, feeds append exactly") {
    import graft.sources.{FileManifest, TextIndex}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft_c7").toString
    FileManifest.writeLayout(docs.where(col("doc_id") % 2 === 0),
      s"$tmp/t0", "doc_id", 4)
    FileManifest.writeLayout(docs.where(col("doc_id") % 2 === 1),
      s"$tmp/t1", "doc_id", 4)
    val m0 = FileManifest.buildManifest(spark, s"$tmp/t0", "doc_id")
    val m1 = m0 ++ FileManifest.buildManifest(spark, s"$tmp/t1", "doc_id")
    val inserts = FileManifest.snapshotDiff(spark, m0, m1)
      .where(col("change_type") === "I")
    // incrementality: the changelog plans IO over the ADDED files
    // only — carried files are never opened
    assert(inserts.inputFiles.forall(_.contains("/t1/")),
      s"diff opened carried files: ${inserts.inputFiles.toSeq}")
    assert(inserts.count() == docs.where(col("doc_id") % 2 === 1).count())
    // fed to append, retrieval == an index built over the full corpus
    val inc = s"$tmp/inc"; val full = s"$tmp/full"
    TextIndex.build(docs.where(col("doc_id") % 2 === 0), "doc_id",
      "text", inc, buckets = 8)
    TextIndex.append(inserts.drop("change_type"), "doc_id", "text", inc)
    TextIndex.build(docs, "doc_id", "text", full, buckets = 8)
    val q = Seq((1, Seq("the", "data")))
    val a = TextIndex.bm25TopK(spark, inc, q, k = 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val b = TextIndex.bm25TopK(spark, full, q, k = 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(a == b, "changelog-fed append must equal the full rebuild")
  }

  test("partition evolution: each epoch prunes by ITS spec, unrecoverable filter loud") {
    import graft.sources.FileManifest
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    val tmp = java.nio.file.Files.createTempDirectory("graft_evo").toString
    FileManifest.writePartitionedLayout(
      ev.where(col("event_id") % 2 === 0), s"$tmp/a", "event_type",
      "user_id", numFiles = 8)
    FileManifest.writePartitionedLayout(
      ev.where(col("event_id") % 2 === 1)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
      s"$tmp/b", "day", "user_id", numFiles = 8)
    val pmA = FileManifest.buildPartitioned(spark, s"$tmp/a", "user_id")
    val pmB = FileManifest.buildPartitioned(spark, s"$tmp/b", "user_id")
    val cols = Seq("event_id", "user_id", "event_type", "value")
    val got = FileManifest.readPrunedEvolved(spark, Seq(pmA, pmB),
      Map("event_type" -> Seq("purchase")), 10L, 60L, cols)
    val want = ev.where(col("event_type") === "purchase" &&
      col("user_id").between(10, 60))
    assert(got.count() == want.count())
    assert(got.agg(sum("event_id")).head.getLong(0) ==
      want.agg(sum("event_id")).head.getLong(0))
    // epoch A (spec = event_type) must never open a non-purchase dir;
    // epoch B (spec = day) opens only range survivors
    val opened = got.inputFiles.map(f =>
      java.net.URLDecoder.decode(f, "UTF-8"))
    assert(opened.filter(_.contains("/a/"))
      .forall(_.contains("event_type=purchase")),
      s"epoch A opened excluded partitions: ${opened.toSeq}")
    val bTotal = pmB.partitions.values.map(_.size).sum
    assert(opened.count(_.contains("/b/")) < bTotal,
      "epoch B must skip files by footer-stat range")
    // a filter on a column an epoch can neither derive nor read is a
    // loud error, never a silently-wrong answer
    val ex = intercept[IllegalArgumentException] {
      FileManifest.readPrunedEvolved(spark, Seq(pmA, pmB),
        Map("day" -> Seq("2024-01-01")), Long.MinValue, Long.MaxValue,
        cols).count()
    }
    assert(ex.getMessage.contains("unrecoverable"))
  }

  test("range join: bucketed equi-join plan, == naive BETWEEN join, outer safe") {
    import graft.operators.RangeJoin
    import spark.implicits._
    val points = (0L until 500L).map(i => (i, s"t${i % 3}"))
      .toDF("p", "tag")
    val iv = (0L until 300L)
      .map(i => (i * 3 % 450, i * 3 % 450 + i % 29, i))
      .toDF("lo", "hi", "iv_id")
    val got = RangeJoin.pointInInterval(points, iv, "p", "lo", "hi")
      .select("p", "iv_id")
    val naive = points.join(iv, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("p", "iv_id")
    def s(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s(got) == s(naive), "bucketed range join != naive BETWEEN join")
    assert(s(got).nonEmpty, "test premise: matches exist")
    // the PLAN is the point: the naive form is a BroadcastNestedLoop
    // (O(n x m)); the bucketed form must be a plain equi-join
    val naivePlan = plan(naive).toString
    assert(naivePlan.contains("BroadcastNestedLoopJoin"),
      s"premise: naive inequality join should plan as BNLJ:\n$naivePlan")
    val gotPlan = plan(got).toString
    assert(!gotPlan.contains("BroadcastNestedLoopJoin") &&
      !gotPlan.contains("CartesianProduct"),
      s"bucketed range join must be an equi-join:\n$gotPlan")
    assert(gotPlan.contains("SortMergeJoin") ||
      gotPlan.contains("ShuffledHashJoin") ||
      gotPlan.contains("BroadcastHashJoin"),
      s"no hash/merge equi-join in:\n$gotPlan")
    // left_outer: unmatched points survive null-extended, matched ones
    // never duplicate beyond their true interval count
    val lo = RangeJoin.pointInInterval(points, iv, "p", "lo", "hi",
      joinType = "left_outer")
    assert(lo.count() ==
      naive.groupBy("p").count()
        .join(points, Seq("p"), "right_outer")
        .select(coalesce(col("count"), lit(1L)).as("n"))
        .agg(sum("n")).head.getLong(0),
      "left_outer cardinality wrong")
    // a pinned width gives the same answer (width is a cost knob, not
    // a semantics knob)
    assert(s(RangeJoin.pointInInterval(points, iv, "p", "lo", "hi",
      width = 7L).select("p", "iv_id")) == s(naive))
  }

  test("range-join rewrite rule: BNLJ becomes an equi-join under the width conf") {
    import graft.plans.RewriteRangeJoin
    import spark.implicits._
    val points = (0L until 400L).map(i => (i, i % 7)).toDF("p", "tag")
    val iv = (0L until 250L)
      .map(i => (i * 3 % 380, i * 3 % 380 + i % 23, i)).toDF("lo", "hi", "iv_id")
    def joined = points.join(iv,
      col("p") >= col("lo") && col("p") <= col("hi"))
    def louter = points.join(iv,
      col("p") >= col("lo") && col("p") <= col("hi"), "left_outer")
    def s(df: org.apache.spark.sql.DataFrame) = df.select("p", "iv_id")
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    // dormant without the width conf (a good width needs stats the
    // optimizer must not compute) — the naive plan stays BNLJ
    val dormant = plan(joined).toString
    assert(dormant.contains("BroadcastNestedLoopJoin"),
      s"premise: inequality join should be BNLJ when dormant:\n$dormant")
    val base = s(joined)
    val baseOuter = (s(louter), louter.count())
    spark.conf.set(RewriteRangeJoin.WidthKey, "11")
    try {
      val p = plan(joined).toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"rewrite must remove the nested loop:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"no equi-join in:\n$p")
      assert(s(joined) == base, "rewrite changed inner results")
      // LEFT OUTER with points preserved: identical rows AND cardinality
      assert(s(louter) == baseOuter._1 && louter.count() == baseOuter._2,
        "rewrite changed left-outer results")
      // a join that already has an equi-key is left alone (it can
      // shuffle on that key; the rewrite would only add work)
      val iv2 = iv.withColumn("itag", col("iv_id") % 7)
      val eq = points.join(iv2,
        col("tag") === col("itag") && col("p") >= col("lo") &&
          col("p") <= col("hi"))
      assert(!plan(eq).toString.contains("__graft_rjb"),
        "equi-keyed join must not be rewritten")
    } finally spark.conf.unset(RewriteRangeJoin.WidthKey)
  }

  test("ann planner: tier flips on amortized training cost, results match the chosen tier") {
    import graft.plans.AnnPlanner
    import graft.operators.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val n = emb.count()
    val cap = math.ceil(n / 8.0).toLong
    // the COST MODEL flips on query-batch size: training amortizes, so
    // a few queries keep the flat scan and a standing batch flips to
    // the index — assert the flip and that each side's estimate says
    // why
    val few = AnnPlanner.choose(n, 3, clusters = 8, nprobe = 2,
      capacity = cap, iterations = 2, maxRounds = 6)
    assert(!few.useIvf && few.flatCost < few.ivfCost,
      s"3 queries must stay flat: $few")
    val many = AnnPlanner.choose(n, 450, clusters = 8, nprobe = 2,
      capacity = cap, iterations = 2, maxRounds = 6)
    assert(many.useIvf && many.ivfCost < many.flatCost,
      s"450 queries must flip to IVF: $many")
    // stats-driven dispatch: results identical to the chosen tier's
    // direct call, and the PLAN shows the tier (the flat scan never
    // materializes a cluster column; IVF plans join on it)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12))).toSet
    val q3 = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val auto3 = AnnPlanner.topKAuto(q3, emb, k = 5, clusters = 8,
      nprobe = 2, iterations = 2, capacity = cap, maxRounds = 6)
    assert(rows(auto3) == rows(Similarity.bruteForceQuantizedTopK(
      q3, emb, k = 5)), "auto(flat regime) != flat tier")
    assert(!plan(auto3).toString.contains("cluster"),
      "flat tier must not carry IVF machinery")
    val qMany = emb.filter(col("vec_id") < 450)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val autoMany = AnnPlanner.topKAuto(qMany, emb, k = 5, clusters = 8,
      nprobe = 2, iterations = 2, capacity = cap, maxRounds = 6)
    assert(plan(autoMany).toString.contains("cluster"),
      "IVF tier must probe cells")
    assert(rows(autoMany) == rows(Similarity.ivfBalancedTopK(qMany, emb,
      k = 5, clusters = 8, nprobe = 2, iterations = 2, capacity = cap,
      maxRounds = 6)), "auto(ivf regime) != IVF tier")
  }

  test("vector index: == ad-hoc balanced IVF; scan opens only probed cells") {
    import graft.sources.VectorIndex
    import graft.operators.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft-vidx").toString
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val cap = math.ceil(emb.count() / 8.0).toLong
    VectorIndex.build(emb, "vec_id", "embedding", tmp,
      clusters = 8, iterations = 2, capacity = cap, maxRounds = 6)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12)))
      .toSet
    val idx = VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 2)
    // BIT-identical to the ad-hoc operator with the same parameters:
    // the index changes the read path, never the answer
    val adhoc = Similarity.ivfBalancedTopK(q, emb, k = 5, clusters = 8,
      nprobe = 2, iterations = 2, capacity = cap, maxRounds = 6)
    assert(rows(idx) == rows(adhoc), "indexed != ad-hoc balanced IVF")
    // partition pruning: the cells scan carries a partition filter
    // whose IN-list covers at most queries x nprobe cells — a strict
    // subset of the 8 (2 queries x nprobe=2 here, so <= 4)
    val q2 = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val idx2 = VectorIndex.topK(spark, tmp, q2, k = 5, nprobe = 2)
    idx2.count() // finalize AQE
    val p = plan(idx2).toString
    val m = "PartitionFilters: \\[[^\\]]*?IN \\(([0-9, ]+)\\)".r
      .findFirstMatchIn(p)
    assert(m.isDefined, s"no cell IN partition filter in:\n$p")
    val opened = m.get.group(1).split(",").map(_.trim.toLong).toSet
    assert(opened.size <= 4,
      s"pruning vacuous: 2 queries x nprobe=2 opened $opened")
    // capacity is a physical invariant of the layout: no cell's
    // occupancy exceeds the build capacity
    val counts = VectorIndex.cellCounts(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(counts.forall(_._2 <= cap),
      s"cell over capacity $cap: ${counts.toSeq}")
    assert(counts.map(_._2).sum == emb.count())
  }

  test("vector index BQ tier: exact in oracle regime, 16-byte candidate scan, append carries bits") {
    import graft.sources.VectorIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-vbq").toString
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val cap = math.ceil(emb.count() / 8.0).toLong
    VectorIndex.build(emb.filter(col("vec_id") < 450), "vec_id",
      "embedding", tmp, clusters = 8, iterations = 2, capacity = cap,
      maxRounds = 6, bqTier = true)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12))).toSet
    // oracle regime: candidates >= probed rows → bit-identical to topK
    val bq = VectorIndex.topKBq(spark, tmp, q, k = 5, nprobe = 2,
      candidates = (2 * cap).toInt + 16)
    val exact = VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 2)
    assert(rows(bq) == rows(exact), "lossless BQ staging must equal topK")
    // the stage-1 candidate scan reads ONLY the sign words: its
    // parquet ReadSchema must not contain the wide q column
    bq.count()
    val scans = "ReadSchema: [^\n]*".r
      .findAllIn(plan(bq).toString).toSeq
    val codeScan = scans.filter(s => s.contains("bqhi"))
    assert(codeScan.nonEmpty, s"no bq scan found in:\n${scans.mkString("\n")}")
    assert(codeScan.forall(!_.contains("q:array")),
      s"stage-1 must not read the wide column:\n$codeScan")
    // a tight budget still returns k rows per query (recall, not
    // correctness, is what shrinks)
    val tight = VectorIndex.topKBq(spark, tmp, q, k = 5, nprobe = 2,
      candidates = 5)
    assert(tight.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 5))
    // appended vectors carry their sign bits and become findable
    VectorIndex.append(emb.filter(col("vec_id") >= 450), "vec_id",
      "embedding", tmp)
    val after = VectorIndex.topKBq(spark, tmp, q, k = 5, nprobe = 8,
      candidates = 4096)
    val flatAll = VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8)
    assert(rows(after) == rows(flatAll),
      "append must carry bq bits (full probe equality)")
  }

  test("nn-descent: refinement crosses cells; graph serving buys recall, lossless at full probe") {
    import graft.sources.VectorIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-nnd").toString
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val cap = math.ceil(emb.count() / 8.0).toLong
    VectorIndex.build(emb, "vec_id", "embedding", tmp,
      clusters = 8, iterations = 2, capacity = cap, maxRounds = 6)
    VectorIndex.buildKnnGraph(spark, tmp, k = 8, rounds = 2,
      idBuckets = 8)
    // 1. the refined graph holds CROSS-CELL edges — pairs no
    // within-cell candidate generation can produce (the whole point
    // of the id-hash seed arm + two-hop refinement)
    val cellOf = spark.read.parquet(s"$tmp/cells")
      .select(col("vec_id"), col("cluster").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val refined = VectorIndex.readKnnGraph(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val crossCell = refined.count { case (s, d) => cellOf(s) != cellOf(d) }
    assert(crossCell > 0,
      s"refined graph has no cross-cell edges (${refined.length} edges)")
    // 2. serving: expansion recall vs the nprobe-1 base, judged
    // against the exact full-probe ranking; supersets re-ranked
    // exactly can only add true hits, never lose one
    val q = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def hitSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = hitSet(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8,
      candidates = 4096))
    val base = hitSet(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 1,
      candidates = 4096))
    val served = hitSet(VectorIndex.topKExpand(spark, tmp, q, k = 5,
      nprobe = 1))
    val baseHits = (base intersect exact).size
    val servedHits = (served intersect exact).size
    assert(servedHits >= baseHits,
      s"expansion lost recall: $servedHits < $baseHits")
    assert(servedHits > baseHits,
      s"expansion bought nothing on 50 queries ($baseHits hits both ways)" +
        " — graph edges never reached an unprobed true neighbor")
    // per-query monotonicity: a superset re-ranked exactly cannot
    // displace a true top-5 member except by another true member
    val baseBy = base.groupBy(_._1); val servedBy = served.groupBy(_._1)
    exact.groupBy(_._1).foreach { case (qid, ex) =>
      val b = baseBy.getOrElse(qid, Set.empty[(Long, Long)]) & ex
      val sv = servedBy.getOrElse(qid, Set.empty[(Long, Long)]) & ex
      assert(sv.size >= b.size, s"query $qid lost recall: $sv vs $b")
    }
    // 3. lossless regime: at a full probe the base candidates already
    // contain the global top-k, so serving == topK bit for bit
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12))).toSet
    assert(rows(VectorIndex.topKExpand(spark, tmp, q, k = 5, nprobe = 8)) ==
      rows(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8,
        candidates = 4096)),
      "full-probe graph serving must equal exact topK")
    // 4. the halo's graph read partition-prunes to the probed cells'
    // dirs (the layout's point): one probed cell → a 1-element IN
    // partition filter on src_cluster
    val oneQ = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val one = VectorIndex.topKExpand(spark, tmp, oneQ, k = 3, nprobe = 1)
    assert(one.collect().length == 3)
    val p = plan(one).toString
    // a 1-element isin renders as equality; a wider probe as IN (…)
    val m = ("PartitionFilters: \\[[^\\]]*?src_cluster[^\\]]*?" +
      "(?:= ([0-9]+)|IN \\(([0-9, ]+)\\))").r.findFirstMatchIn(p)
    assert(m.isDefined, s"no src_cluster partition filter in:\n$p")
    val vals = Option(m.get.group(1)).getOrElse(m.get.group(2))
    assert(vals.split(",").length == 1,
      s"graph read did not prune to the one probed cell: $vals")
    // 5. append staleness is GRACEFUL: appended vectors enter the
    // BASE candidates immediately (the live cell read), only the
    // halo is stale until a graph rebuild — so a full probe is still
    // bit-identical to exact topK over the grown corpus
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-nnd2").toString
    VectorIndex.build(emb.filter(col("vec_id") < 450), "vec_id",
      "embedding", tmp2, clusters = 8, iterations = 2, capacity = cap,
      maxRounds = 6)
    VectorIndex.buildKnnGraph(spark, tmp2, k = 8, rounds = 1,
      idBuckets = 8)
    VectorIndex.append(emb.filter(col("vec_id") >= 450), "vec_id",
      "embedding", tmp2)
    val q5 = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    assert(rows(VectorIndex.topKExpand(spark, tmp2, q5, k = 5, nprobe = 8)) ==
      rows(VectorIndex.topK(spark, tmp2, q5, k = 5, nprobe = 8,
        candidates = 4096)),
      "appended vectors must be served exactly at full probe despite a stale graph")
  }

  test("knn graph: == within-cell brute force, no broadcast of the corpus side") {
    import graft.sources.VectorIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-knng").toString
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val cap = math.ceil(emb.count() / 8.0).toLong
    VectorIndex.build(emb, "vec_id", "embedding", tmp,
      clusters = 8, iterations = 2, capacity = cap, maxRounds = 6)
    val g = VectorIndex.knnGraph(spark, tmp, k = 3)
    val rows = g.collect()
    // every vector has out-degree ≤ 3; ranks are 1..deg contiguous
    val bys = rows.groupBy(_.getLong(0))
    assert(bys.size == emb.count())
    assert(bySrcOk(bys.map { case (s, rs) =>
      s -> rs.map(_.getInt(1)).sorted.toSeq }))
    // brute-force within-cell reference: same pairs, same ranking
    val asg = spark.read.parquet(s"$tmp/cells")
      .select(col("vec_id"), col("q"), col("na"),
        col("cluster").cast("long").as("cell")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2),
        r.getLong(3)))
    val ref = asg.toSeq.groupBy(_._4).values.toSeq.flatMap { cell =>
      cell.flatMap { case (src, q, na, _) =>
        cell.filter(_._1 != src).map { case (dst, qb, nb, _) =>
          val dot = q.zip(qb).map { case (a, b) => a * b }.sum
          (src, dst, dot.toDouble / math.sqrt(na.toDouble * nb))
        }.sortBy(t => (-t._3, t._2)).take(3).zipWithIndex
          .map { case ((s2, d, sim), i) => (s2, i + 1, d,
            math.round(sim * 1e12)) }
      }
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      math.round(r.getDouble(3) * 1e12))).toSet
    assert(got == ref, "knn graph != within-cell brute force")
    // scale shape: with every vector a query there is NO broadcast
    // hint — once the corpus outgrows the auto threshold (disabled
    // here to simulate that), the candidate join is a shuffled join
    // on the cell id and the top-k window rides its clustering
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val g2 = VectorIndex.knnGraph(spark, tmp, k = 3)
      g2.count()
      val p = plan(g2).toString
      assert(!p.contains("BroadcastHashJoin"),
        s"knn graph must not broadcast a corpus-sized side:\n$p")
      assert(got == g2.collect().map(r => (r.getLong(0), r.getInt(1),
        r.getLong(2), math.round(r.getDouble(3) * 1e12))).toSet,
        "join strategy must never change the answer")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  private def bySrcOk(m: Iterable[(Long, Seq[Int])]): Boolean =
    m.forall { case (_, ranks) =>
      ranks.size <= 3 && ranks == (1 to ranks.size) }

  test("vector index PQ tier: exact in oracle regime, codes-only candidate scan") {
    import graft.sources.VectorIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-vpq").toString
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val cap = math.ceil(emb.count() / 8.0).toLong
    // near-isotropic synthetic vectors are PQ's WORST case (residuals
    // carry little subspace structure), so the spec uses a fine book:
    // 16 subspaces x 256 codewords — still 16 ints/row vs 64 longs
    VectorIndex.build(emb, "vec_id", "embedding", tmp,
      clusters = 8, iterations = 2, capacity = cap, maxRounds = 6,
      pqSubspaces = 16, pqCodewords = 256)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12))).toSet
    val exact = rows(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 2,
      candidates = 200))
    // ORACLE REGIME: candidates >= probed row count makes the ADC
    // staging lossless, so the re-ranked result is bit-identical to
    // the exact path — the PQ plumbing is hash-checked end to end
    val pq = VectorIndex.topKPq(spark, tmp, q, k = 5, nprobe = 2,
      candidates = 200, rerank = true)
    assert(rows(pq) == exact, "oracle-regime PQ != exact path")
    // the candidate stage scans ONLY (vec_id, codes): some scan in the
    // plan reads codes without the wide q column — the columnar-IO win
    pq.count() // finalize AQE
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan(pq).toString).map(_.group(1)).toSeq
    assert(schemas.exists(s => s.contains("codes:") && !s.contains("q:")),
      s"no codes-only scan in:\n${schemas.mkString("\n")}")
    // pure ADC (no re-rank, tight candidates): the cheap serving path
    // still recalls most true neighbors on this corpus
    val adc = rows(VectorIndex.topKPq(spark, tmp, q, k = 5, nprobe = 2,
      candidates = 10, rerank = false))
    val truePairs = exact.map(t => (t._1, t._3))
    val adcPairs = adc.map(t => (t._1, t._3))
    val recall = (truePairs & adcPairs).size.toDouble / truePairs.size
    assert(recall >= 0.5, s"ADC recall $recall below 0.5")
    // appends encode with the FROZEN book: grow the index, the oracle
    // regime still holds
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-vpq2").toString
    VectorIndex.build(emb.filter(col("vec_id") < 350), "vec_id", "embedding",
      tmp2, clusters = 8, iterations = 2,
      capacity = math.ceil(emb.count() / 6.0).toLong, maxRounds = 6,
      pqSubspaces = 8)
    VectorIndex.append(emb.filter(col("vec_id") >= 350), "vec_id",
      "embedding", tmp2)
    val exact2 = rows(VectorIndex.topK(spark, tmp2, q, k = 5, nprobe = 8,
      candidates = 600))
    val pq2 = rows(VectorIndex.topKPq(spark, tmp2, q, k = 5, nprobe = 8,
      candidates = 600, rerank = true))
    assert(pq2 == exact2, "appended PQ index: oracle regime broken")
  }

  test("vector index SQ tier: exact in oracle regime, sq-only candidate scan") {
    import graft.sources.VectorIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-vsq").toString
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val cap = math.ceil(emb.count() / 8.0).toLong
    VectorIndex.build(emb, "vec_id", "embedding", tmp,
      clusters = 8, iterations = 2, capacity = cap, maxRounds = 6,
      sqTier = true)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12))).toSet
    val exact = rows(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 2,
      candidates = 200))
    // oracle regime: lossless staging + exact re-rank == exact path
    val sq = VectorIndex.topKSq(spark, tmp, q, k = 5, nprobe = 2,
      candidates = 200, rerank = true)
    assert(rows(sq) == exact, "oracle-regime SQ != exact path")
    // the candidate stage reads sq without the wide q column (checked
    // on the single-stage pure-SQ plan — the re-ranked plan hides the
    // broadcast subtree behind exchange reuse)
    val pureDf = VectorIndex.topKSq(spark, tmp, q, k = 5, nprobe = 2,
      candidates = 10, rerank = false)
    pureDf.count()
    val schemas = "ReadSchema: struct<([^>]*)".r
      .findAllMatchIn(plan(pureDf).toString).map(_.group(1)).toSeq
    assert(schemas.exists(s => s.contains("sq:") && !s.contains(",q:")),
      s"no sq-only scan in:\n${schemas.mkString("\n")}")
    // pure SQ (no re-rank): 8-bit-per-dim scoring recalls most true
    // neighbors — SQ reconstruction is far tighter than coarse PQ
    val pure = rows(pureDf)
    val recall = (exact.map(t => (t._1, t._3)) &
      pure.map(t => (t._1, t._3))).size.toDouble / exact.size
    assert(recall >= 0.8, s"pure-SQ recall $recall below 0.8")
    // appends encode with the FROZEN ranges; oracle regime holds on
    // the grown index
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-vsq2").toString
    VectorIndex.build(emb.filter(col("vec_id") < 350), "vec_id", "embedding",
      tmp2, clusters = 8, iterations = 2,
      capacity = math.ceil(emb.count() / 6.0).toLong, maxRounds = 6,
      sqTier = true)
    VectorIndex.append(emb.filter(col("vec_id") >= 350), "vec_id",
      "embedding", tmp2)
    val exact2 = rows(VectorIndex.topK(spark, tmp2, q, k = 5, nprobe = 8,
      candidates = 600))
    val sq2 = rows(VectorIndex.topKSq(spark, tmp2, q, k = 5, nprobe = 8,
      candidates = 600, rerank = true))
    assert(sq2 == exact2, "appended SQ index: oracle regime broken")
  }

  test("graft SQL table: manifest prunes files, partition filter prunes dirs, filters pushed") {
    import graft.sources.FileManifest
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqltab").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    FileManifest.writePartitionedLayout(ev, s"$tmp/t", "event_type",
      "user_id", 16)
    val pm = FileManifest.buildPartitioned(spark, s"$tmp/t", "user_id")
    FileManifest.commitVersion(spark, pm, s"$tmp/cat")
    spark.sql("DROP TABLE IF EXISTS gtab_spec")
    spark.sql(s"CREATE TABLE gtab_spec USING graft OPTIONS (path '$tmp/cat')")
    val totalFiles = pm.partitions.values.map(_.size).sum
    val clickFiles = pm.partitions.filterKeys(_.contains("click"))
      .values.map(_.size).sum
    val df = spark.sql("SELECT count(*) AS n, sum(event_id) AS s " +
      "FROM gtab_spec WHERE user_id BETWEEN 100 AND 160 " +
      "AND event_type = 'click'")
    // collect() (not head()): head plans its own limited execution,
    // leaving the inspected QueryExecution's scan metrics untouched
    val got = df.collect().head
    // correctness first: the front door must equal the plain read
    val want = ev.where(col("user_id").between(100, 160) &&
        col("event_type") === "click")
      .agg(count(lit(1)), sum("event_id")).head
    assert(got.getLong(0) == want.getLong(0) &&
      got.getLong(1) == want.getLong(1), "SQL table read changed the answer")
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(plan(df)).headOption.getOrElse(
      fail("no FileSourceScan — the graft table must plan as a native file scan"))
    // predicates reach the parquet reader
    val meta = scan.metadata
    assert(meta("PushedFilters").contains("GreaterThanOrEqual(user_id,100)"),
      s"range predicate not pushed: ${meta("PushedFilters")}")
    // the manifest decided the IO: partition filter dropped the other
    // event types' directories, the range predicate dropped files
    // whose [min,max] cannot intersect [100,160]
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles < clickFiles || clickFiles == 1,
      s"range pruning ineffective: $numFiles of $clickFiles click files")
    assert(numFiles < totalFiles,
      s"no pruning at all: $numFiles of $totalFiles files")
    assert(numFiles >= 1)
    // TIME TRAVEL through the same door: version 0 pinned explicitly
    spark.sql("DROP TABLE IF EXISTS gtab_spec_v0")
    spark.sql(s"CREATE TABLE gtab_spec_v0 USING graft " +
      s"OPTIONS (path '$tmp/cat', version '0')")
    assert(spark.sql("SELECT count(*) FROM gtab_spec_v0").head.getLong(0) ==
      ev.count(), "version-pinned read must see the committed snapshot")
  }

  test("graft SQL table writes: create/append/INSERT INTO commit versions, time travel, OVERWRITE refused") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqlwr").toString
    val root = s"$tmp/cat"
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val loCount = ev.where(col("user_id") < 7).count()
    ev.where(col("user_id") < 7).write.format("graft")
      .option("path", root).option("partitionBy", "event_type")
      .option("clusterBy", "user_id").mode("errorifexists").save()
    // a second create must refuse (the table exists)
    intercept[IllegalStateException] {
      ev.limit(1).write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").mode("errorifexists").save()
    }
    Thread.sleep(30) // commit mtimes separate the snapshots
    val betweenTs = System.currentTimeMillis()
    Thread.sleep(30)
    ev.where(col("user_id") >= 7).write.format("graft")
      .option("path", root).option("partitionBy", "event_type")
      .option("clusterBy", "user_id").mode("append").save()
    spark.sql("DROP TABLE IF EXISTS gw_spec")
    spark.sql(s"CREATE TABLE gw_spec USING graft OPTIONS (path '$root')")
    // append merged into the latest snapshot: the union is complete
    assert(spark.sql("SELECT count(*) FROM gw_spec").head.getLong(0) ==
      ev.count(), "create + append must union to the source")
    // answer parity on a real aggregate through the written layout
    val got = spark.sql("SELECT sum(event_id) FROM gw_spec " +
      "WHERE user_id BETWEEN 3 AND 12").head.getLong(0)
    val want = ev.where(col("user_id").between(3, 12))
      .agg(sum("event_id")).head.getLong(0)
    assert(got == want)
    // VERSION AS OF 0 = only the first batch; TIMESTAMP AS OF between
    // the commits resolves the same snapshot
    spark.sql("DROP TABLE IF EXISTS gw_spec_v0")
    spark.sql(s"CREATE TABLE gw_spec_v0 USING graft " +
      s"OPTIONS (path '$root', version '0')")
    assert(spark.sql("SELECT count(*) FROM gw_spec_v0").head.getLong(0) ==
      loCount)
    spark.sql("DROP TABLE IF EXISTS gw_spec_ts")
    spark.sql(s"CREATE TABLE gw_spec_ts USING graft " +
      s"OPTIONS (path '$root', timestampAsOf '$betweenTs')")
    assert(spark.sql("SELECT count(*) FROM gw_spec_ts").head.getLong(0) ==
      loCount, "TIMESTAMP AS OF between commits must resolve version 0")
    // CTAS through plain SQL
    spark.sql("DROP TABLE IF EXISTS gw_spec_ctas")
    spark.sql(s"CREATE TABLE gw_spec_ctas USING graft OPTIONS " +
      s"(path '$tmp/cat2', partitionBy 'event_type', clusterBy 'user_id') " +
      "AS SELECT * FROM gw_spec WHERE user_id < 5")
    assert(spark.sql("SELECT count(*) FROM gw_spec_ctas").head.getLong(0) ==
      ev.where(col("user_id") < 5).count())
    // INSERT INTO (r10): staged write + adopt-by-move + atomic
    // catalog commit — the rows land as a NEW version and the same
    // table reads them immediately (the cached index refreshes)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val before = ev.count()
    spark.sql("INSERT INTO gw_spec SELECT * FROM gw_spec " +
      "WHERE event_id = 7")
    val insertedN = ev.where(col("event_id") === 7).count()
    assert(insertedN > 0, "probe row must exist")
    assert(spark.sql("SELECT count(*) FROM gw_spec").head.getLong(0) ==
      before + insertedN, "INSERT INTO must land and be readable")
    assert(FileManifest.latestVersion(spark, root).contains(2L),
      "INSERT must have committed exactly one new version")
    // the pre-insert snapshot is still time-travelable
    spark.sql("DROP TABLE IF EXISTS gw_spec_v1")
    spark.sql(s"CREATE TABLE gw_spec_v1 USING graft " +
      s"OPTIONS (path '$root', version '1')")
    assert(spark.sql("SELECT count(*) FROM gw_spec_v1").head.getLong(0) ==
      before, "the pre-insert version must read unchanged")
    // INSERT OVERWRITE is detected (the sentinel vanishes with the
    // staging pre-delete) and refused — data tree and catalog intact
    ev.limit(3)
      .select(spark.table("gw_spec").columns.map(col).toIndexedSeq: _*)
      .createOrReplaceTempView("gw_spec_src")
    val ow = intercept[Throwable] {
      spark.sql("INSERT OVERWRITE gw_spec SELECT * FROM gw_spec_src")
    }
    assert(messages(ow).exists(_.contains("INSERT OVERWRITE")),
      s"OVERWRITE must refuse loudly, got: ${messages(ow)}")
    assert(spark.sql("SELECT count(*) FROM gw_spec").head.getLong(0) ==
      before + insertedN, "refused OVERWRITE must leave the table intact")
    assert(FileManifest.latestVersion(spark, root).contains(2L),
      "refused OVERWRITE must not have committed a version")
    // a time-traveled table refuses INSERT INTO loudly
    val tt = intercept[Throwable] {
      spark.sql("INSERT INTO gw_spec_v1 SELECT * FROM gw_spec_v1 LIMIT 1")
    }
    assert(messages(tt).exists(_.contains("time-traveled")),
      s"insert into a pinned snapshot must refuse, got: ${messages(tt)}")
    // r10: a NUMERIC partition column surfaces with its numeric type
    // through the front door (Spark's partition-discovery ladder over
    // the directory-encoded values: canonical int → IntegerType), and
    // partition-pruning predicates on it still prune at list time
    ev.write.format("graft")
      .option("path", s"$tmp/cat3").option("partitionBy", "user_id")
      .option("clusterBy", "event_id").mode("overwrite").save()
    spark.sql("DROP TABLE IF EXISTS gw_spec_num")
    spark.sql(s"CREATE TABLE gw_spec_num USING graft " +
      s"OPTIONS (path '$tmp/cat3')")
    val numT = spark.table("gw_spec_num").schema("user_id").dataType
    assert(numT == org.apache.spark.sql.types.IntegerType,
      s"numeric partition col must infer numeric, got $numT")
    assert(spark.sql("SELECT count(*) FROM gw_spec_num WHERE user_id = 3")
      .head.getLong(0) == ev.where(col("user_id") === 3).count())
  }

  test("multi-column profiling is single-pass: one scan for p9 and p11") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def countScans(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => countScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          countScans(s.plan)
        case f: FileSourceScanExec => 1
        case other => other.children.map(countScans).sum
      }
    for (name <- Seq("p9_fd_profile", "p11_skew_audit")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize AQE
      val n = countScans(plan(df))
      assert(n == 1,
        s"$name must profile every column in ONE scan, found $n scans")
    }
  }

  test("INSERT staging: failed-job residue swept not adopted, _temporary untouched, per-instance dirs") {
    import graft.sources.{FileManifest, ManifestFileIndex}
    import org.apache.hadoop.fs.Path
    val tmp = java.nio.file.Files.createTempDirectory("graft-stg").toString
    val root = s"$tmp/cat"
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    ev.where(col("user_id") < 5).write.format("graft")
      .option("path", root).option("partitionBy", "event_type")
      .option("clusterBy", "user_id").mode("errorifexists").save()
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stagingRoot = new Path(root, FileManifest.StagingRootName)
    def instances(): Set[String] =
      if (!fs.exists(stagingRoot)) Set.empty
      else fs.listStatus(stagingRoot).map(_.getPath.getName).toSet
    val before = instances()
    val pm = FileManifest.loadLatest(spark, root)
    val idx = new ManifestFileIndex(spark, pm, catalogRoot = Some(root))
    // each index instance stages under its OWN directory — a second
    // resolution (another session's insert) can never be swept by this
    // instance's refresh
    val mineName = (instances() -- before).toSeq match {
      case Seq(one) => one
      case other => fail(s"expected exactly one new staging dir: $other")
    }
    val mine = new Path(stagingRoot, mineName)
    val dataFile = new Path(
      pm.partitions.valuesIterator.flatten.next().path)
    val v0 = FileManifest.latestVersion(spark, root).get
    // simulate a FAILED insert (committer v2 / crash after task
    // commit): partition-dir files landed, no _SUCCESS marker — plus
    // an in-flight job's _temporary output that must survive the sweep
    val partDir = new Path(mine, dataFile.getParent.getName)
    fs.mkdirs(partDir)
    org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs,
      new Path(partDir, "part-failed.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    val tempFile = new Path(mine, "_temporary/0/task/part-x.parquet")
    fs.mkdirs(tempFile.getParent)
    fs.createNewFile(tempFile)
    idx.refresh()
    assert(FileManifest.latestVersion(spark, root).contains(v0),
      "failed-insert residue must NOT be committed as a version")
    assert(!fs.exists(partDir),
      "failed-insert partials must be swept (the user already saw the error)")
    assert(fs.exists(tempFile),
      "_temporary task output of an in-flight job must survive the sweep")
    assert(fs.exists(new Path(mine, "_graft_append_sentinel")),
      "staging must be re-armed after the sweep")
    // now a SUCCESSFUL insert: same staged shape plus _SUCCESS — this
    // one adopts and commits exactly one new version
    fs.mkdirs(partDir)
    org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs,
      new Path(partDir, "part-ok.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    fs.createNewFile(new Path(mine, "_SUCCESS"))
    idx.refresh()
    assert(FileManifest.latestVersion(spark, root).contains(v0 + 1),
      "a committed staged write must adopt into exactly one new version")
    assert(fs.exists(tempFile), "_temporary survives the success sweep too")
    assert(!fs.exists(new Path(mine, "_SUCCESS")),
      "the job-commit marker must not vouch for a later job's partials")
    // maintenance: gcOrphans sweeps the whole staging root (documented
    // no-concurrent-writers contract) — instance litter does not outlive GC
    FileManifest.gcOrphans(spark, root, Seq(s"$root/data"))
    assert(instances().isEmpty,
      s"gcOrphans must sweep staging instances: ${instances()}")
    // the adopted rows still read back (GC never touches committed data)
    val total = spark.read.format("graft").option("path", root).load().count()
    assert(total == ev.where(col("user_id") < 5).count() +
      spark.read.parquet(dataFile.toString).count(),
      "adopted rows must remain readable after GC")
  }

  test("distributed planning: side-table prune == driver prune, byte-identical reads") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-plan").toString
    val root = s"$tmp/cat"
    val ev = Tables.load(spark, dir, "events")
    ev.write.format("graft").option("path", root)
      .option("partitionBy", "event_type").option("clusterBy", "user_id")
      .option("files", "8").mode("errorifexists").save()
    val v = FileManifest.latestVersion(spark, root).get
    val vdir = s"$root/v$v"
    val pm = FileManifest.loadVersion(spark, root, v)
    val keeps = Seq(None,
      Some(Seq("event_type=click", "event_type=purchase")))
    for (keep <- keeps; (lo, hi) <- Seq((3L, 9L), (0L, 2L), (100L, 90L))) {
      // identical pruning DECISIONS: the job-side survivor set equals
      // the driver-side manifest walk, filter for filter
      val driverSide = (keep match {
        case Some(ps) => pm.partitions.view.filterKeys(ps.toSet).toMap
        case None => pm.partitions
      }).values.toSeq.flatMap(FileManifest.prune(_, lo, hi))
        .map(_.path).sorted
      val jobSide = FileManifest.plannedSurvivors(spark, vdir, keep, lo, hi)
      assert(jobSide == driverSide,
        s"pruning must agree (keep=$keep, [$lo,$hi])")
      // identical ANSWERS through both dispatch arms of readPrunedAuto
      val viaDriver = FileManifest.readPrunedAuto(spark, root, keep,
        lo, hi, planThreshold = Long.MaxValue) // forces the driver path
      val viaJob = FileManifest.readPrunedAuto(spark, root, keep,
        lo, hi, planThreshold = 0L) // forces the side-table path
      assert(viaJob.exceptAll(viaDriver).isEmpty &&
        viaDriver.exceptAll(viaJob).isEmpty,
        s"both planning paths must read the same relation (keep=$keep, [$lo,$hi])")
    }
  }

  test("nnDescentAppend: refreshed graph serves new ids, recall matches rebuild, bounded rewrite") {
    import graft.sources.VectorIndex
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val base = emb.where(col("vec_id") >= 100)
    val appended = emb.where(col("vec_id") < 100)
    val tmp = java.nio.file.Files.createTempDirectory("graft-nnda").toString
    def mkIndex(path: String): Unit =
      VectorIndex.build(base, "vec_id", "embedding", path,
        clusters = 8, iterations = 2, capacity = 75, maxRounds = 6)
    val idx = s"$tmp/idx"
    mkIndex(idx)
    VectorIndex.buildKnnGraph(spark, idx, k = 8, rounds = 2)
    VectorIndex.append(appended, "vec_id", "embedding", idx)
    val stale = VectorIndex.readKnnGraph(spark, idx)
    assert(stale.where(col("src") < 100).isEmpty,
      "pre-refresh graph must not know the appended ids")
    val q = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = VectorIndex.topK(spark, idx, q, k = 8, nprobe = 8)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt1(path: String): Double = {
      val got = VectorIndex.topKExpand(spark, path, q, k = 8, nprobe = 1)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got intersect exact).size.toDouble / exact.size
    }
    val staleRecall = recallAt1(idx)
    // the incremental refresh: seeds from the new ids' cells + two
    // rounds of new-incident refinement, partition-bounded rewrite
    VectorIndex.nnDescentAppend(spark, idx,
      appended.select("vec_id"), k = 8, rounds = 2)
    val refreshed = VectorIndex.readKnnGraph(spark, idx)
    // every appended id serves k edges and is reachable as a dst
    val newSrcCounts = refreshed.where(col("src") < 100)
      .groupBy("src").count().collect()
    assert(newSrcCounts.length == 100 && newSrcCounts.forall(_.getLong(1) == 8),
      "every appended id must carry exactly k graph edges")
    assert(refreshed.where(col("dst") < 100).count() > 0,
      "appended ids must be reachable as destinations (old nodes re-ranked)")
    val refreshedRecall = recallAt1(idx)
    assert(refreshedRecall >= staleRecall,
      s"refresh must not lose recall: $refreshedRecall < $staleRecall")
    // parity with the FULL rebuild at the same (k, rounds): the
    // incremental path must reach the rebuilt graph's serving quality
    val idx2 = s"$tmp/idx2"
    mkIndex(idx2)
    VectorIndex.append(appended, "vec_id", "embedding", idx2)
    VectorIndex.buildKnnGraph(spark, idx2, k = 8, rounds = 2)
    val rebuiltRecall = recallAt1(idx2)
    assert(refreshedRecall >= rebuiltRecall - 0.05,
      s"append-then-refine recall $refreshedRecall must match the " +
        s"rebuilt graph's $rebuiltRecall (stale was $staleRecall)")
    // full probe stays bit-identical to topK whatever the graph holds
    val full = VectorIndex.topKExpand(spark, idx, q, k = 8, nprobe = 8)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "full-probe expand must equal the exact probe")
  }

  test("vector index MIPS tier: full probe == exact, frozen augmentation on append") {
    import spark.implicits._
    import graft.sources.VectorIndex
    import graft.operators.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft-vmips").toString
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val n = emb.count()
    val cap = math.ceil(n / 8.0).toLong
    VectorIndex.build(emb, "vec_id", "embedding", tmp,
      clusters = 8, iterations = 2, capacity = cap, maxRounds = 6,
      mipsTier = true)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet // ip is an exact BIGINT — bit-for-bit comparison
    val exact = rows(Similarity.mipsTopK(q, emb, k = 5))
    val served = rows(VectorIndex.topKMips(spark, tmp, q, k = 5,
      nprobe = 8, candidates = (8 * cap).toInt))
    assert(served == exact, "full-probe index MIPS != exact mipsTopK")
    // pruned probes: the augmented-centroid probe keeps IP-relevant
    // (high-norm) cells, so recall stays bounded
    val pruned = rows(VectorIndex.topKMips(spark, tmp, q, k = 5,
      nprobe = 2, candidates = (2 * cap).toInt + 16))
    val recall = (exact.map(t => (t._1, t._3)) &
      pruned.map(t => (t._1, t._3))).size.toDouble / exact.size
    assert(recall >= 0.5, s"nprobe=2 MIPS recall $recall below 0.5")
    // FROZEN augmentation: appends must never move M² (that would
    // silently re-normalize every existing row's staging geometry)
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-vmips2").toString
    VectorIndex.build(emb.filter(col("vec_id") < 350), "vec_id", "embedding",
      tmp2, clusters = 8, iterations = 2,
      capacity = math.ceil(n / 6.0).toLong, maxRounds = 6, mipsTier = true)
    val m2Before = VectorIndex.readMipsNorm(spark, tmp2)
    val big = Seq((90001L, Array.fill(64)(1.5f))).toDF("vec_id", "embedding")
    VectorIndex.append(emb.filter(col("vec_id") >= 350)
      .select("vec_id", "embedding"), "vec_id", "embedding", tmp2)
    VectorIndex.append(big, "vec_id", "embedding", tmp2)
    assert(VectorIndex.readMipsNorm(spark, tmp2) == m2Before,
      "append moved the frozen M²")
    // the over-norm appendee clamps to aug 0 (on the sphere's edge)
    val augRow = spark.read.parquet(s"$tmp2/cells")
      .where(col("vec_id") === 90001L).select("aug").head.getLong(0)
    assert(augRow == 0L, s"over-norm append must clamp aug to 0, got $augRow")
    // and the grown index still serves EXACTLY at full probe
    val corpus2 = emb.select("vec_id", "embedding").unionByName(big)
    val exact2 = rows(Similarity.mipsTopK(q, corpus2, k = 5))
    val served2 = rows(VectorIndex.topKMips(spark, tmp2, q, k = 5,
      nprobe = 8, candidates = (8 * math.ceil(n / 6.0).toLong).toInt))
    assert(served2 == exact2, "grown MIPS index: full probe != exact")
  }

  test("vector index delete: immediate via tombstones, physical after compaction") {
    import graft.sources.VectorIndex
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val tmp = java.nio.file.Files.createTempDirectory("graft-vdel").toString
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val n = emb.count()
    val cap = math.ceil(n / 6.0).toLong
    // every flat-layout sidecar present, so the sweep below covers them
    VectorIndex.build(emb, "vec_id", "embedding", tmp,
      clusters = 8, iterations = 2, capacity = cap, maxRounds = 6,
      sqTier = true, mipsTier = true)
    VectorIndex.buildKnnGraph(spark, tmp, k = 4, rounds = 0)
    val flatDirs = Seq("cells", "counts", "stats", "centroids", "sqranges",
      "mipsnorm", "knng")
    def flatLeft = flatDirs.filter(d => new java.io.File(tmp, d).exists)
    val deadDf = emb.filter(col("vec_id") % 5 === 2).select("vec_id")
    val dead = deadDf.collect().map(_.getLong(0)).toSet
    VectorIndex.delete(spark, tmp, deadDf)
    val q = emb.filter(col("vec_id") >= 495)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12))).toSet
    def quantize(c: org.apache.spark.sql.Column) =
      transform(c.cast(ArrayType(DoubleType)), x => floor(x * 1024).cast("long"))
    def dotl(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)
    def sqn(a: org.apache.spark.sql.Column) =
      aggregate(transform(a, x => x * x), lit(0L), _ + _)
    val cq = emb.filter(!col("vec_id").isin(dead.toSeq: _*))
      .select(col("vec_id"), quantize(col("embedding")).as("cq"))
      .withColumn("cna", sqn(col("cq")))
    val qq = q.select(col("query_id"), quantize(col("query_vec")).as("qq"))
      .withColumn("qna", sqn(col("qq")))
    val brute = qq.crossJoin(cq)
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("sim", dotl(col("qq"), col("cq")).cast("double") /
        sqrt(col("qna").cast("double") * col("cna")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("vec_id").asc)))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
    // deletes visible IMMEDIATELY (full probe == brute over survivors)
    val full = VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8)
    assert(rows(full) == rows(brute), "tombstoned rows must not serve")
    // deleting absent ids is a no-op
    import spark.implicits._
    VectorIndex.delete(spark, tmp, Seq(99999999L).toDF("vec_id"))
    assert(rows(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8)) ==
      rows(brute))
    // compaction reclaims PHYSICALLY: occupancy drops by |dead|,
    // folded cells hold no tombstoned row, answers unchanged
    VectorIndex.compact(spark, tmp)
    assert(VectorIndex.stats(spark, tmp)._1 == n - dead.size,
      "post-compaction stats must reflect the physical delete")
    val folded = spark.read.parquet(VectorIndex.cellsDir(spark, tmp))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(folded.intersect(dead).isEmpty, "folded cells must drop tombstones")
    assert(rows(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8)) ==
      rows(brute), "compaction changed answers")
    assert(flatLeft == flatDirs, "the flat layout keeps its grace round")
    // the NEXT compaction sweeps the folded tombstone dirs and the whole
    // flat layout, tier sidecars and kNN graph included (grace round)
    VectorIndex.compact(spark, tmp)
    val tombDirs = new java.io.File(tmp).list().count(_.startsWith("tomb-"))
    assert(tombDirs == 0, "folded tombstones must sweep after their grace round")
    assert(flatLeft.isEmpty, s"flat layout left after its grace round: $flatLeft")
    assert(rows(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8)) ==
      rows(brute))
    // regression: a delete AFTER the sweep must stay visible — its seq
    // must clear the fold watermark, not restart at a folded value
    val survivor = rows(brute).head._3
    VectorIndex.delete(spark, tmp, Seq(survivor).toDF("vec_id"))
    val after = rows(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8))
    assert(!after.exists(_._3 == survivor),
      "post-sweep delete invisible: tombstone seq reused a folded value")
  }

  test("vector index filtered search: pre-filter exact, predicate pushed to scan") {
    import graft.sources.VectorIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-vflt").toString
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-vflt2").toString
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    // headroom beyond the corpus so the append below has free capacity
    val cap = math.ceil(emb.count() / 8.0).toLong + 8
    VectorIndex.build(emb, "vec_id", "embedding", tmp,
      clusters = 8, iterations = 2, capacity = cap, maxRounds = 6,
      metaCols = Seq("label"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12))).toSet
    // full-probe scoring is exact per pair, so PRE-FILTER semantics
    // means: filtered query on the full index == unfiltered query on
    // an index holding only the matching vectors (layouts differ —
    // different training set, different cells — the ANSWER may not)
    val filtered = emb.filter(col("label") >= 5)
    VectorIndex.build(filtered, "vec_id", "embedding", tmp2,
      clusters = 8, iterations = 2,
      capacity = math.ceil(filtered.count() / 8.0).toLong, maxRounds = 6)
    val got = VectorIndex.topKFiltered(spark, tmp, q, k = 5, nprobe = 8,
      filter = col("label") >= 5, candidates = 2000)
    val want = VectorIndex.topK(spark, tmp2, q, k = 5, nprobe = 8,
      candidates = 2000)
    assert(rows(got) == rows(want),
      "filtered full-probe != full-probe over the filtered corpus")
    // a vacuous predicate must be a no-op on the answer
    assert(rows(VectorIndex.topKFiltered(spark, tmp, q, k = 5, nprobe = 8,
        filter = col("label") >= 0, candidates = 2000)) ==
      rows(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8,
        candidates = 2000)))
    // the predicate reaches the parquet reader: row groups are
    // skippable by column stats, not filtered post-scan
    val df = VectorIndex.topKFiltered(spark, tmp, q, k = 5, nprobe = 2,
      filter = col("label") >= 5)
    df.count()
    val p = plan(df).toString
    assert(p.contains("PushedFilters") &&
      "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(label,5\\)".r
        .findFirstIn(p).isDefined,
      s"label predicate not pushed to the cells scan:\n$p")
    // appends must carry the metadata; refusing is loud, not a hole
    val extra = emb.filter(col("vec_id") >= 490 && col("vec_id") < 495)
      .select(col("vec_id") + lit(10000L) as "vec_id", col("embedding"))
    val e = intercept[IllegalArgumentException] {
      VectorIndex.append(extra, "vec_id", "embedding", tmp)
    }
    assert(e.getMessage.contains("lacks"), e.getMessage)
    val extraM = emb.filter(col("vec_id") >= 490 && col("vec_id") < 495)
      .select(col("vec_id") + lit(10000L) as "vec_id", col("embedding"),
        lit(77).as("label")) // 77: outside the corpus's 0..9 domain
    VectorIndex.append(extraM, "vec_id", "embedding", tmp)
    val got2 = VectorIndex.topKFiltered(spark, tmp, q, k = 5, nprobe = 8,
      filter = col("label") === 77, candidates = 2000)
    val ids = got2.select("neighbor_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && ids.forall(_ >= 10490L),
      s"label=77 exists only in the appended batch, got $ids")
  }

  test("vector index: capacity-bounded append, compaction, full-probe parity") {
    import graft.sources.VectorIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-vida").toString
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val n = emb.count()
    val base = emb.filter(col("vec_id") < 350)
    val rest = emb.filter(col("vec_id") >= 350)
    // capacity sized for the FULL corpus so appends genuinely fit
    val cap = math.ceil(n / 6.0).toLong
    VectorIndex.build(base, "vec_id", "embedding", tmp,
      clusters = 8, iterations = 2, capacity = cap, maxRounds = 6)
    VectorIndex.append(rest, "vec_id", "embedding", tmp)
    // the invariant survives the append: every cell within capacity,
    // nothing lost
    val counts = VectorIndex.cellCounts(spark, tmp).collect()
      .map(r => r.getLong(1))
    assert(counts.forall(_ <= cap), s"append broke capacity: ${counts.toSeq}")
    assert(counts.sum == n)
    assert(VectorIndex.stats(spark, tmp)._1 == n)
    // probing EVERY cell makes the index path exact quantized cosine
    // top-k — independently computable, so the whole read path
    // (cells + appended cells + scoring) is verified against first
    // principles, whatever the assignment
    val q = emb.filter(col("vec_id") >= 495)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12)))
      .toSet
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def quantize(c: org.apache.spark.sql.Column) =
      transform(c.cast(ArrayType(DoubleType)),
        x => floor(x * 1024).cast("long"))
    def dotl(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)
    def sqn(a: org.apache.spark.sql.Column) =
      aggregate(transform(a, x => x * x), lit(0L), _ + _)
    val cq = emb.select(col("vec_id"), quantize(col("embedding")).as("cq"))
      .withColumn("cna", sqn(col("cq")))
    val qq = q.select(col("query_id"), quantize(col("query_vec")).as("qq"))
      .withColumn("qna", sqn(col("qq")))
    val brute = qq.crossJoin(cq)
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("sim", dotl(col("qq"), col("cq")).cast("double") /
        sqrt(col("qna").cast("double") * col("cna")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("vec_id").asc)))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
    val full = VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8)
    assert(rows(full) == rows(brute),
      "full-probe index read != exact quantized top-k")
    // compaction: one file per occupied cell, snapshot-pointer commit,
    // answers unchanged
    VectorIndex.compact(spark, tmp)
    assert(MarkerLayout.liveGeneration(spark, tmp).contains(0L))
    val cellFiles = java.nio.file.Files.walk(
        java.nio.file.Paths.get(VectorIndex.cellsDir(spark, tmp)))
      .filter(_.toString.endsWith(".parquet")).count().toInt
    val occupied = VectorIndex.cellCounts(spark, tmp)
      .where(col("n") > 0).count().toInt
    assert(cellFiles == occupied,
      s"expected one file per occupied cell ($occupied), got $cellFiles")
    assert(rows(VectorIndex.topK(spark, tmp, q, k = 5, nprobe = 8)) ==
      rows(brute), "compaction changed answers")
    // an append that cannot fit fails LOUDLY — capacity is never
    // silently broken
    val tiny = java.nio.file.Files.createTempDirectory("graft-vidt").toString
    val tinyCap = math.ceil(base.count() / 8.0).toLong // exactly full
    VectorIndex.build(base, "vec_id", "embedding", tiny,
      clusters = 8, iterations = 2, capacity = tinyCap, maxRounds = 6)
    val e = intercept[IllegalArgumentException] {
      VectorIndex.append(rest, "vec_id", "embedding", tiny)
    }
    assert(e.getMessage.contains("full") || e.getMessage.contains("unassigned"),
      s"got: ${e.getMessage}")
  }

  test("text index delete: rebuild-exact scores immediately, physical at compaction") {
    import graft.sources.TextIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-tdel").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val queries = Seq(1 -> Seq("hash", "join"), 2 -> Seq("dup", "scan"))
    TextIndex.build(docs, "doc_id", "text", tmp, buckets = 32)
    val dead = docs.filter(col("doc_id") % 4 === 1).select("doc_id")
    TextIndex.delete(spark, tmp, dead)
    // the delete contract: scores equal a FRESH index without the
    // docs — idf and avgdl must adjust, not just the candidate set
    val ref = java.nio.file.Files.createTempDirectory("graft-tref").toString
    TextIndex.build(docs.filter(col("doc_id") % 4 =!= 1), "doc_id", "text",
      ref, buckets = 32)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val expect = rows(TextIndex.bm25TopK(spark, ref, queries, k = 10))
    assert(rows(TextIndex.bm25TopK(spark, tmp, queries, k = 10)) == expect,
      "deleted index must score exactly like a rebuild without the docs")
    // phrase serving honors tombstones through the same pruned read
    val phr = Seq(1 -> Seq("table", "table"))
    assert(rows(TextIndex.bm25PhraseTopK(spark, tmp, phr, k = 10)) ==
      rows(TextIndex.bm25PhraseTopK(spark, ref, phr, k = 10)))
    // compaction applies physically and answers stay identical
    TextIndex.compact(spark, tmp)
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    val folded = spark.read.parquet(s"${TextIndex.postingsDir(spark, tmp)}")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(folded.intersect(deadIds).isEmpty,
      "folded postings must drop tombstoned docs")
    assert(rows(TextIndex.bm25TopK(spark, tmp, queries, k = 10)) == expect,
      "compaction changed answers")
    // the next compaction sweeps the folded tombstone dirs
    TextIndex.compact(spark, tmp)
    assert(new java.io.File(tmp).list().count(_.startsWith("tomb-")) == 0,
      "folded tombstones must sweep after their grace round")
    assert(rows(TextIndex.bm25TopK(spark, tmp, queries, k = 10)) == expect)
    // regression: a delete AFTER the sweep must stay visible — its seq
    // must clear the fold watermark, not restart at a folded value
    import spark.implicits._
    val survivor = expect.head._3
    TextIndex.delete(spark, tmp, Seq(survivor).toDF("doc_id"))
    assert(!rows(TextIndex.bm25TopK(spark, tmp, queries, k = 10))
      .exists(_._3 == survivor),
      "post-sweep delete invisible: tombstone seq reused a folded value")
  }

  test("text index: postings scan opens only the query terms' buckets") {
    import graft.sources.TextIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-tidx").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    TextIndex.build(docs, "doc_id", "text", tmp, buckets = 32)
    val queries = Seq(1 -> Seq("hash", "join"), 2 -> Seq("dup", "scan"))
    val res = TextIndex.bm25TopK(spark, tmp, queries, k = 10)
    // result identity with the ad-hoc (re-derive postings) path
    val adhoc = operators.TextRank.bm25TopK(docs, queries, k = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val idx = res.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(idx == adhoc, s"indexed != ad-hoc: $idx vs $adhoc")
    // partition pruning: the postings scan carries a partition filter
    // on the bucket column (inputFiles lists the PRE-pruning index, so
    // the physical scan is where pruning is visible), and the pruned
    // partition count matches the query terms' distinct buckets
    import spark.implicits._
    val expected = queries.flatMap(_._2).distinct.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(32))).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(expected.size < 32, s"pruning test vacuous: $expected")
    // AQE hides scan nodes from collect(); the plan STRING shows the
    // finalized scan with its partition filter — parse the IN-list
    res.count() // finalize AQE
    val p = plan(res).toString
    val m = "PartitionFilters: \\[[^\\]]*?IN \\(([0-9, ]+)\\)".r
      .findFirstMatchIn(p)
    assert(m.isDefined, s"no bucket IN partition filter in:\n$p")
    val opened = m.get.group(1).split(",").map(_.trim.toLong).toSet
    assert(opened == expected,
      s"scan's partition filter reads $opened, query terms span $expected")
  }

  test("text index: incremental append == full rebuild; phrase path == ad-hoc") {
    import graft.sources.TextIndex
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val half1 = docs.filter(col("doc_id") < 250)
    val half2 = docs.filter(col("doc_id") >= 250)
    val queries = Seq(1 -> Seq("hash", "join"), 2 -> Seq("dup", "scan"))
    val phrases = Seq(1 -> Seq("table", "table"), 2 -> Seq("fast", "key"))

    val incr = java.nio.file.Files.createTempDirectory("graft-tidx-i").toString
    TextIndex.build(half1, "doc_id", "text", incr, buckets = 32)
    TextIndex.append(half2, "doc_id", "text", incr)
    val full = java.nio.file.Files.createTempDirectory("graft-tidx-f").toString
    TextIndex.build(docs, "doc_id", "text", full, buckets = 32)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(TextIndex.bm25TopK(spark, incr, queries, k = 10)) ==
      rows(TextIndex.bm25TopK(spark, full, queries, k = 10)),
      "incrementally-built index must answer like a full rebuild")
    // phrase retrieval from the index == the ad-hoc positional path
    assert(rows(TextIndex.bm25PhraseTopK(spark, incr, phrases, k = 10)) ==
      rows(operators.TextRank.bm25PhraseTopK(docs, phrases, k = 10)),
      "indexed phrase path must equal the ad-hoc path")
    // the whole retrieval trio serves from the same layout
    assert(rows(TextIndex.bm25ProximityTopK(spark, incr, queries,
        window = 6, k = 10)) ==
      rows(operators.TextRank.bm25ProximityTopK(docs, queries,
        window = 6, k = 10)),
      "indexed proximity path must equal the ad-hoc path")
    assert(rows(TextIndex.bm25SlopTopK(spark, incr, queries,
        window = 6, k = 10)) ==
      rows(operators.TextRank.bm25SlopTopK(docs, queries,
        window = 6, k = 10)),
      "indexed slop path must equal the ad-hoc path")
  }

  test("text index: compaction folds appended files, answers unchanged") {
    import graft.sources.TextIndex
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val queries = Seq(1 -> Seq("hash", "join"), 2 -> Seq("dup", "scan"))
    val idx = java.nio.file.Files.createTempDirectory("graft-tidx-c").toString
    TextIndex.build(docs.filter(col("doc_id") < 200), "doc_id", "text", idx,
      buckets = 16)
    TextIndex.append(docs.filter(col("doc_id") >= 200 &&
      col("doc_id") < 350), "doc_id", "text", idx)
    TextIndex.append(docs.filter(col("doc_id") >= 350), "doc_id", "text", idx)

    def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      } finally s.close()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val before = rows(TextIndex.bm25TopK(spark, idx, queries, k = 10))
    val filesBefore = parquetFiles(TextIndex.postingsDir(spark, idx)).size
    // a crashed earlier attempt (orphan generation, NO commit marker)
    // must be invisible to readers and harmless to the next compaction
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$idx/gen-0/postings/bucket=0"))
    assert(MarkerLayout.liveGeneration(spark, idx).isEmpty,
      "an uncommitted generation must not be live")
    TextIndex.compact(spark, idx)
    assert(MarkerLayout.liveGeneration(spark, idx).contains(0L),
      "compaction must commit generation 0")
    val filesAfter = parquetFiles(TextIndex.postingsDir(spark, idx)).size
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
    // one file per surviving bucket directory
    val bucketDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(TextIndex.postingsDir(spark, idx)))
      .filter(p => p.getFileName.toString.startsWith("bucket="))
      .count().toInt
    assert(filesAfter == bucketDirs,
      s"expected one file per bucket ($bucketDirs), got $filesAfter")
    assert(rows(TextIndex.bm25TopK(spark, idx, queries, k = 10)) == before,
      "compaction must not change answers")
    // GRACE PERIOD: the flat layout this compaction superseded is
    // RETAINED one round — an in-flight reader that resolved its
    // paths pre-commit is still reading it lazily
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idx/postings")),
      "just-superseded flat postings get a grace round before the sweep")
    // a SECOND cycle: compact the live generation again — gen-1
    // commits, gen-0 is retained as THIS round's grace copy, and the
    // flat layout (grace round elapsed) is swept now
    TextIndex.compact(spark, idx)
    assert(MarkerLayout.liveGeneration(spark, idx).contains(1L))
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idx/gen-0")),
      "just-superseded generation gets a grace round")
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idx/postings")),
      "flat postings past their grace round must be swept")
    assert(rows(TextIndex.bm25TopK(spark, idx, queries, k = 10)) == before,
      "recompaction must not change answers")
    // a THIRD cycle sweeps gen-0 (its grace round elapsed)
    TextIndex.compact(spark, idx)
    assert(MarkerLayout.liveGeneration(spark, idx).contains(2L))
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idx/gen-0")),
      "generation past its grace round must be swept")
    assert(rows(TextIndex.bm25TopK(spark, idx, queries, k = 10)) == before,
      "recompaction must not change answers")
  }

  test("copy-on-write DML: only intersecting files rewrite, results exact") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-dml").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    FileManifest.writeLayout(ev, s"$tmp/t", "user_id", 16)
    val m = FileManifest.buildManifest(spark, s"$tmp/t", "user_id")
    val sorted = m.sortBy(_.min)
    // a range spanning ~3 interior files
    val (lo, hi) = (sorted(4).min, sorted(6).max)
    val m2 = FileManifest.deleteRange(spark, m, "user_id", lo, hi, s"$tmp/rw")
    // the ZERO-IO claim: every non-intersecting file's entry (path and
    // bytes) carries verbatim; only the intersecting few were rewritten
    val affected = m.filter(f => f.max >= lo && f.min <= hi)
    assert(affected.size <= 4, s"test premise: few files affected")
    val carried = m2.map(_.path).toSet & m.map(_.path).toSet
    assert(carried == (m.map(_.path).toSet -- affected.map(_.path)),
      "non-intersecting files must carry verbatim")
    assert(m2.map(_.path).count(_.contains("/rw/")) <= affected.size)
    // exactness vs the full-scan delete
    val got = FileManifest.readAll(spark, m2)
      .agg(count(lit(1)), sum("event_id")).head
    val exp = ev.filter(!col("user_id").between(lo, hi))
      .agg(count(lit(1)), sum("event_id")).head
    assert(got == exp, s"delete mismatch: $got vs $exp")
    // the post-delete manifest still prunes correctly
    val pr = FileManifest.readPruned(spark, m2, "user_id",
      sorted.head.min, sorted.last.max)
    assert(pr.count() == exp.getLong(0))
    // UPDATE: only matching rows transform; clustering column rejected
    val m3 = FileManifest.updateRange(spark, m2, "user_id", lo + 1, lo + 1,
      "value", lit(0.0), s"$tmp/rw2")
    // everything in [lo,hi] was deleted, so this update matches nothing
    // visible — results unchanged, but the intersecting file rewrote
    assert(FileManifest.readAll(spark, m3)
      .agg(count(lit(1)), sum("event_id")).head == exp)
    val mu = FileManifest.updateRange(spark, m, "user_id",
      sorted(2).min, sorted(2).max, "value", col("value") + 1000.0,
      s"$tmp/rw3")
    val gotU = FileManifest.readAll(spark, mu)
      .agg(sum(col("value").cast("decimal(18,2)"))).head.getDecimal(0)
    val expU = ev.withColumn("value",
        when(col("user_id").between(sorted(2).min, sorted(2).max),
          col("value") + 1000.0).otherwise(col("value")))
      .agg(sum(col("value").cast("decimal(18,2)"))).head.getDecimal(0)
    assert(gotU == expU, s"update mismatch: $gotU vs $expU")
    val rej = intercept[IllegalArgumentException] {
      FileManifest.updateRange(spark, m, "user_id", lo, hi,
        "user_id", lit(0L), s"$tmp/rw4")
    }
    assert(rej.getMessage.contains("clustering column"))
  }

  test("schema evolution: mapped read resolves renames/adds with zero rewrite") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-evo").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    FileManifest.writeLayout(ev.filter(col("event_id") % 2 === 0),
      s"$tmp/g1", "user_id", 8)
    FileManifest.writeLayout(
      ev.filter(col("event_id") % 2 === 1)
        .withColumnRenamed("value", "amount")
        .withColumn("priority", (col("event_id") % 5).cast("int")),
      s"$tmp/g2", "user_id", 8)
    val m = FileManifest.buildManifest(spark, s"$tmp/g1", "user_id") ++
      FileManifest.buildManifest(spark, s"$tmp/g2", "user_id")
    val filesBefore = m.map(_.path).toSet
    val got = FileManifest.readMapped(spark, m, Seq(
      ("event_id", Seq("event_id"), lit(null)),
      ("value", Seq("amount", "value"), lit(null)),
      ("priority", Seq("priority"), lit(-1))))
    // the mapped read resolves the rename and fills the add
    val exp = ev.select(col("event_id"), col("value"),
      when(col("event_id") % 2 === 1, (col("event_id") % 5).cast("int"))
        .otherwise(-1).as("priority"))
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
      "mapped read must equal the logical union of both generations")
    // ZERO rewrite: the read planned exactly the original files
    // (inputFiles normalizes to file:/// — compare on raw paths)
    def rawPath(u: String) = new java.net.URI(u).getPath
    assert(got.inputFiles.map(rawPath).toSet == filesBefore.map(rawPath),
      "schema evolution must not create or rewrite any file")
    // absent-everywhere logical column resolves to its default
    val only = FileManifest.readMapped(spark, m,
      Seq(("missing_col", Seq("nope"), lit(7L))))
    assert(only.distinct().collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("snapshot diff: carried files never open, changelog is exactly D+I") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-diff").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    FileManifest.writeLayout(ev, s"$tmp/t", "user_id", 16)
    val v1 = FileManifest.buildManifest(spark, s"$tmp/t", "user_id")
    // identical snapshots: zero files read, zero rows out
    val same = FileManifest.snapshotDiff(spark, v1, v1)
    assert(same.isEmpty, "diff of identical snapshots must be empty")
    assert(same.inputFiles.isEmpty,
      "diff of identical snapshots must not plan ANY file scan")
    // update a narrow range: diff reads ONLY the churned files
    val sorted = v1.sortBy(_.min)
    val (lo, hi) = (sorted(4).min, sorted(5).max)
    val v2 = FileManifest.updateRange(spark, v1, "user_id", lo, hi,
      "value", col("value") + 7.0, s"$tmp/rw")
    val diff = FileManifest.snapshotDiff(spark, v1, v2)
    val carried = v1.map(_.path).toSet & v2.map(_.path).toSet
    assert(diff.inputFiles.toSet.intersect(carried).isEmpty,
      "a file present in both snapshots must never be opened by the diff")
    // changelog contract: each updated row appears as D(old) + I(new)
    val updated = ev.filter(col("user_id").between(lo, hi))
    val nUpd = updated.count()
    val byType = diff.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("D" -> nUpd, "I" -> nUpd), s"got $byType for $nUpd")
    val dSide = diff.filter(col("change_type") === "D").drop("change_type")
    assert(dSide.exceptAll(updated.select(dSide.columns.map(col): _*)).isEmpty,
      "D rows must be exactly the old images")
    // delete-only churn: diff is pure D
    val v3 = FileManifest.deleteRange(spark, v2, "user_id", lo, hi, s"$tmp/rw2")
    val dOnly = FileManifest.snapshotDiff(spark, v2, v3)
    assert(dOnly.filter(col("change_type") === "I").isEmpty)
    assert(dOnly.count() == nUpd)
  }

  test("compaction shrinks the file count and keeps the layout prunable") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-cpt").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    FileManifest.writeLayout(ev, s"$tmp/small", "user_id", 32)
    val m = FileManifest.buildManifest(spark, s"$tmp/small", "user_id")
    FileManifest.compact(spark, m, s"$tmp/out", "user_id", targetRows = 2500L)
    val back = FileManifest.readCompacted(spark, s"$tmp/out")
    // ~10k rows at 2500/bin => ~4 files from 32
    assert(back.inputFiles.length < m.length / 4,
      s"expected <${m.length / 4} files, got ${back.inputFiles.length}")
    assert(back.count() == ev.count())
    // key-adjacent packing preserves clustering: compacted bin ranges
    // stay pairwise disjoint, so the manifest still prunes
    val binStats = FileManifest.planCompaction(m, 2500L).map { bin =>
      (bin.map(_.min).min, bin.map(_.max).max)
    }.sortBy(_._1)
    binStats.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 <= b._1, s"overlapping bins: $a vs $b")
      case _ =>
    }
  }

  test("z-order layout prunes a 2-D box where a 1-D sort cannot") {
    import graft.sources.{FileManifest, ZOrder}
    // sf0.01: 10k events / 64 files = enough rows per file that the
    // non-sort dimension's stats genuinely span their range (at tiny
    // scale per-file min/max is sampling noise and the comparison is
    // meaningless). Box = half the user axis x ~18% of the value axis.
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
      .withColumn("vbucket", floor(col("value")).cast("long"))
    val box = Seq(("user_id", 2L, 75L), ("vbucket", 50L, 150L))

    val zDir = java.nio.file.Files.createTempDirectory("graft-z").toString
    ZOrder.writeZOrdered(ev, zDir, "user_id", "vbucket", bits = 8,
      numFiles = 64)
    val oneDir = java.nio.file.Files.createTempDirectory("graft-1d").toString
    FileManifest.writeLayout(ev, oneDir, "user_id", 64)

    def survivors(layout: String): Int = box.map { case (c, lo, hi) =>
      FileManifest.prune(FileManifest.buildManifest(spark, layout, c), lo, hi)
        .map(_.path).toSet
    }.reduce(_ intersect _).size

    val (zFiles, oneFiles) = (survivors(zDir), survivors(oneDir))
    // the user_id-sorted layout has full-range vbucket stats per file,
    // so the vbucket half of the box prunes nothing there; the Morton
    // layout keeps both dimensions tight and must open fewer files
    assert(zFiles < oneFiles,
      s"z-order opened $zFiles files vs 1-D sort's $oneFiles")
    // and the box read loses nothing vs the plain full-scan filter
    val boxed = ZOrder.readBox(spark, zDir, box)
    val full = ev.filter(col("user_id").between(2, 75)
      && col("vbucket").between(50, 150))
    assert(boxed.count() == full.count())
    assert(boxed.agg(sum("event_id")).head.getLong(0)
      == full.agg(sum("event_id")).head.getLong(0))
  }

  test("substring dedup and MMR: no pairwise joins in the corpus path") {
    val docs = Tables.load(spark, dir, "documents")
    // d13/d14: the dup-gram discovery is a hash agg + equi-join-back —
    // a cartesian or nested-loop join anywhere means the plan went
    // pairwise and would not survive a corpus 100x bigger
    for (df <- Seq(operators.Dedup.substringDupStats(docs, n = 8),
        operators.Dedup.removeDuplicateSpans(docs, n = 8))) {
      val p = plan(df).toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        "substring dedup must stay equi-join shaped")
      assert(p.contains("partial_count") || p.contains("partial_"),
        "gram aggregation must have a map-side partial phase")
    }
    // x25: the fusion itself adds no corpus-scale operator — its plan
    // touches only the two retrieval outputs (top-k rows each)
    val emb = Tables.load(spark, dir, "embeddings")
    val lex = operators.TextRank.bm25TopK(docs,
      Seq(1 -> Seq("hash", "join")), k = 10)
    val vec = operators.Similarity.bruteForceTopK(
      emb.filter(col("vec_id").isin(1))
        .select(col("vec_id").cast("int").as("query_id"),
          col("embedding").as("query_vec")), emb, 10)
      .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
    // (the vector side's broadcast nested-loop IS its design: tiny
    // query side broadcast against the corpus scan — only a cartesian
    // would mean the fusion added corpus-scale work)
    val fusedPlan = plan(operators.TextRank.rrfFuse(Seq(lex, vec), k = 10))
      .toString
    assert(!fusedPlan.contains("CartesianProduct"))
  }

  test("copy-on-write MERGE: routed rewrites only, full-scan-exact") {
    import graft.sources.FileManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft-mrg").toString
    val ord = Tables.load(spark, "/root/testdata/sf0.01", "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    FileManifest.writeLayout(ord, s"$tmp/t", "o_orderkey", 16)
    val m = FileManifest.buildManifest(spark, s"$tmp/t", "o_orderkey")
    val mx = ord.agg(max("o_orderkey")).head.getLong(0)
    // updates land in 2 interior files, deletes in 1, inserts beyond max
    val sorted = m.sortBy(_.min)
    val (uLo, uHi) = (sorted(3).min, sorted(4).max)
    val (dLo, dHi) = (sorted(9).min, sorted(9).max)
    val changes = ord.filter(col("o_orderkey").between(uLo, uHi)
        && col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("_del", lit(false))
      .unionByName(ord.filter(col("o_orderkey").between(dLo, dHi)
          && col("o_orderkey") % 3 === 0)
        .withColumn("_del", lit(true)))
      // +mx+1, not +mx: orderkeys start at 0, so key 0's insert would
      // otherwise land ON the max key — a match, not an insert
      .unionByName(ord.filter(col("o_orderkey") % 50 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + mx + 1)
        .withColumn("_del", lit(false)))
    val m2 = FileManifest.mergeKeyed(spark, m, "o_orderkey", changes,
      s"$tmp/rw", "_del")
    // routed-rewrite claim: files outside the touched ranges carry
    // verbatim (path identity), only touched ones plus the new-key
    // file(s) are fresh
    val touched = m.filter(f =>
      (f.max >= uLo && f.min <= uHi) || (f.max >= dLo && f.min <= dHi))
    val carried = m2.map(_.path).toSet & m.map(_.path).toSet
    assert(carried == (m.map(_.path).toSet -- touched.map(_.path).toSet),
      "files with no routed change row must carry verbatim")
    // exactness vs the full-scan MERGE mirror
    val tAl = ord.as("t")
    val cAl = changes.as("c")
    val exp = tAl.join(cAl, col("t.o_orderkey") === col("c.o_orderkey"),
        "full_outer")
      .where(col("c.o_orderkey").isNull || !col("c._del"))
      .select(
        coalesce(col("c.o_orderkey"), col("t.o_orderkey")).as("k"),
        when(col("c.o_orderkey").isNotNull, col("c.o_totalprice"))
          .otherwise(col("t.o_totalprice")).as("p"))
      .agg(count(lit(1)), sum("k"),
        sum(col("p").cast("decimal(18,2)"))).head
    val got = FileManifest.readAll(spark, m2)
      .agg(count(lit(1)), sum("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)"))).head
    assert(got == exp, s"merge mismatch: $got vs $exp")
    // post-merge manifest still prunes: a ranged read over one carried
    // file's range equals the full-scan filter
    val f0 = sorted.head
    assert(FileManifest.readPruned(spark, m2, "o_orderkey", f0.min, f0.max)
        .count() ==
      FileManifest.readAll(spark, m2)
        .filter(col("o_orderkey").between(f0.min, f0.max)).count())
    // MERGE-semantics guards: duplicate keys and null keys reject loudly
    val dup = intercept[IllegalArgumentException] {
      FileManifest.mergeKeyed(spark, m, "o_orderkey",
        changes.limit(5).union(changes.limit(5)), s"$tmp/rwD", "_del")
    }
    assert(dup.getMessage.contains("duplicate key"))
    val nul = intercept[IllegalArgumentException] {
      FileManifest.mergeKeyed(spark, m, "o_orderkey",
        changes.limit(3).withColumn("o_orderkey",
          lit(null).cast("long")), s"$tmp/rwN", "_del")
    }
    assert(nul.getMessage.contains("NULL"))
  }
}
