package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DriverParquet, FileManifest, Tables}

/** graft's metadata reads stay on the driver: footer stats below
  * Spark's parallel-discovery threshold, and the schema of every
  * `spark.read.parquet` over graft-written files, read from one footer
  * the way Spark's inference picks it. Each read starts no Spark job
  * before its action, and each schema equals the one Spark infers. */
class DriverMetadataSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"
  private val Threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobsIn[T](body: => T): (T, Int) = {
    SparkShims.drainListenerBus(spark)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      SparkShims.drainListenerBus(spark)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def withThreshold[T](v: Int)(body: => T): T = {
    spark.conf.set(Threshold, v.toString)
    try body finally spark.conf.unset(Threshold)
  }

  /** 16 one-file partitions: a long `id` and a string `s`. */
  private def sixteenFiles(): String = {
    val d = s"${tmp("dm16")}/t"
    spark.range(0, 1600, 1, 16)
      .selectExpr("id", "concat('k', lpad(CAST(id AS STRING), 5, '0')) AS s")
      .write.parquet(d)
    d
  }

  private def firstParquet(d: String): java.nio.file.Path = {
    val s = Files.list(Paths.get(d))
    try s.filter(_.toString.endsWith(".parquet")).sorted().findFirst().get()
    finally s.close()
  }

  private def assertSparkSchema(paths: Seq[String]): Unit = {
    val (ours, jobs) = jobsIn(DriverParquet.readFiles(spark, paths).schema)
    assert(jobs == 0, s"schema of $paths started $jobs job(s)")
    assert(ours == spark.read.parquet(paths: _*).schema, s"schema of $paths")
  }

  test("footer stats read on the driver below the threshold, equal to the distributed pass") {
    val d = sixteenFiles()
    val files = FileManifest.listParquet(spark, d)
    assert(files.size == 16)
    val (m, mJobs) = jobsIn(FileManifest.buildManifest(spark, d, "id"))
    val (sm, sJobs) = jobsIn(FileManifest.buildStringManifest(spark, d, "s"))
    assert(mJobs == 0 && sJobs == 0, s"driver footer pass started jobs: $mJobs, $sJobs")
    assert(m.size == 16 && m.map(_.rows).sum == 1600)
    // the same files above a lowered threshold: one distributed job
    // builds the same manifests
    withThreshold(4) {
      val (md, mdJobs) = jobsIn(FileManifest.buildManifest(spark, d, "id"))
      val (smd, smdJobs) = jobsIn(FileManifest.buildStringManifest(spark, d, "s"))
      assert(mdJobs == 1 && smdJobs == 1, s"distributed pass jobs: $mdJobs, $smdJobs")
      assert(md == m)
      assert(smd == sm)
    }
  }

  test("known schemas equal Spark's inference: field ids, hidden files, summaries, nanos") {
    val d = sixteenFiles()
    assertSparkSchema(Seq(d))
    assertSparkSchema(FileManifest.listParquet(spark, d).reverse.take(3))

    // a field-id-stamped table keeps its ids in the schema metadata
    val ids = s"${tmp("dmids")}/t"
    val src = spark.range(0, 10).selectExpr("id", "CAST(id AS STRING) AS name",
      "named_struct('a', id, 'b', id * 2) AS st")
    FileManifest.stampFieldIds(src, FileManifest.assignFieldIds(src.schema))
      .write.parquet(ids)
    assert(FileManifest.hasFieldIds(DriverParquet.readFiles(spark, Seq(ids)).schema))
    assertSparkSchema(Seq(ids))

    // a Spark-written, partitioned dir: `_SUCCESS` and `_`/`.`-prefixed
    // files of another schema are skipped, `k=v` dirs add the column
    val part = s"${tmp("dmpart")}/t"
    spark.range(0, 30, 1, 2).selectExpr("id", "id % 3 AS p")
      .write.partitionBy("p").parquet(part)
    assert(Files.exists(Paths.get(part, "_SUCCESS")))
    val other = firstParquet(ids)
    Seq("_aaa.parquet", ".aaa.parquet", "p=0/_aaa.parquet").foreach(n =>
      Files.copy(other, Paths.get(part, n)))
    assertSparkSchema(Seq(part))

    // a summary file outranks the data files: `_common_metadata`
    // first, then `_metadata`
    val summ = s"${tmp("dmsumm")}/t"
    Files.createDirectories(Paths.get(summ))
    Files.copy(firstParquet(d), Paths.get(summ, "part-0.parquet"))
    Files.copy(other, Paths.get(summ, "_metadata"))
    assertSparkSchema(Seq(summ))
    assert(DriverParquet.readFiles(spark, Seq(summ)).columns.contains("st"))
    Files.copy(firstParquet(d), Paths.get(summ, "_common_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    assertSparkSchema(Seq(summ))
    assert(!DriverParquet.readFiles(spark, Seq(summ)).columns.contains("st"))

    // an `events` whose ts is TIMESTAMP(NANOS): Tables.load sets
    // nanosAsLong before the schema is read, so ts reads as long
    val nanos = tmp("dmnanos")
    DriverParquet.overwrite(spark, s"$nanos/events.parquet", DriverParquet.schema(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,true)); }")) { f =>
      Seq(f.newGroup().append("event_id", 1L).append("ts", 1700000000123456789L))
    }
    val ev = Tables.load(spark, nanos, "events")
    assert(DriverParquet.readFiles(spark, Seq(s"$nanos/events.parquet")).schema("ts")
      .dataType == LongType)
    assertSparkSchema(Seq(s"$nanos/events.parquet"))
    assert(ev.collect().head.getAs[java.sql.Timestamp]("ts") ==
      java.sql.Timestamp.from(java.time.Instant.parse("2023-11-14T22:13:20.123456Z")))
  }

  test("table loads and manifest reads start no job before their action") {
    val (_, loadJobs) = jobsIn(Tables.names.map(Tables.load(spark, dir, _).schema))
    assert(loadJobs == 0, s"Tables.load started $loadJobs job(s)")

    val d = sixteenFiles()
    val m = FileManifest.buildManifest(spark, d, "id")
    val (pruned, prunedJobs) = jobsIn {
      val df = FileManifest.readPruned(spark, m, "id", 150L, 420L); df.schema; df }
    val (none, noneJobs) = jobsIn {
      val df = FileManifest.readPruned(spark, m, "id", 5000L, 6000L); df.schema; df }
    val (all, allJobs) = jobsIn {
      val df = FileManifest.readAll(spark, m); df.schema; df }
    val mor = FileManifest.deleteKeysMoR(spark, FileManifest.MorTable("id", m, Nil),
      spark.range(100, 200).toDF("id"), s"${tmp("dmdel")}/del")
    val (morDf, morJobs) = jobsIn {
      val df = FileManifest.readMoR(spark, mor); df.schema; df }
    val (_, mergeJobs) = jobsIn(intercept[IllegalArgumentException](
      FileManifest.mergeKeyed(spark, m, "id", spark.range(3).toDF("id"),
        s"${tmp("dmmrg")}/rw", "_del")))
    assert(Seq(prunedJobs, noneJobs, allJobs, morJobs, mergeJobs).forall(_ == 0),
      s"jobs before the action: readPruned $prunedJobs, all-pruned $noneJobs, " +
        s"readAll $allJobs, readMoR $morJobs, mergeKeyed columns $mergeJobs")

    val inferred = spark.read.parquet(m.map(_.path): _*).schema
    Seq(pruned, none, all, morDf).foreach(df => assert(df.schema == inferred))
    assert(pruned.count() == 271)
    assert(none.count() == 0)
    assert(all.count() == 1600)
    assert(morDf.count() == 1500)
  }
}
