package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** The raw-API rewrite paths (deleteRange / updateRange / mergeKeyed /
  * compact) run as ONE distributed job each — the r12-retired per-file
  * Future fan-out made the driver's job-scheduling loop the wall clock
  * at 10⁴–10⁵ touched files. Mirrors GraftDmlSpec's SQL-side pin:
  * job count flat as the touched-file count grows, results
  * byte-identical to the table the old mechanism produced. */
class RawRewriteJobSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4)

  private val N = 4000L

  /** `dirPrefix` "raw rw" puts a space in every path: input_file_name()
    * percent-encodes it, manifest paths do not, and both sides of a
    * rewrite's file key must still hash the same bytes. */
  private def mkLayout(files: Int, dirPrefix: String = "rawrw")
      : (String, Seq[FileManifest.FileStats]) = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory(dirPrefix).toString
    val df = (0L until N).map(i => (i, i * 2, s"u$i")).toDF("k", "v", "s")
    FileManifest.writeLayout(df, s"$tmp/t", "k", files)
    (tmp, FileManifest.append(Nil, spark,
      FileManifest.listParquet(spark, s"$tmp/t"), "k"))
  }

  private def jobsDuring(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(1000) }
    finally spark.sparkContext.removeSparkListener(l)
    counter.get()
  }

  test("deleteRange: job count flat 2 -> 16 files; results identical") {
    val (t2, m2) = mkLayout(2)
    val (t16, m16) = mkLayout(16)
    var r2: Seq[FileManifest.FileStats] = Nil
    var r16: Seq[FileManifest.FileStats] = Nil
    val j2 = jobsDuring {
      r2 = FileManifest.deleteRange(spark, m2, "k", 100L, 3900L, s"$t2/rw") }
    val j16 = jobsDuring {
      r16 = FileManifest.deleteRange(spark, m16, "k", 100L, 3900L, s"$t16/rw") }
    val (ts, ms) = mkLayout(16, "raw rw")
    val rs = FileManifest.deleteRange(spark, ms, "k", 100L, 3900L, s"$ts/rw")
    assert(m16.count(f => f.max >= 100L && f.min <= 3900L) >= 12,
      "test premise: the wide delete must touch many files")
    assert(j16 <= j2 + 2,
      s"deleteRange must be O(1) jobs, not O(touched files): " +
        s"2-file layout ran $j2, 16-file ran $j16")
    val a = FileManifest.readAll(spark, r2).orderBy("k").collect().toSeq
    val b = FileManifest.readAll(spark, r16).orderBy("k").collect().toSeq
    assert(a == b)
    assert(FileManifest.readAll(spark, rs).orderBy("k").collect().toSeq == b)
    assert(a.size == (N - (3900 - 100 + 1)).toInt)
  }

  test("updateRange: job count flat; transform applied only in range") {
    val (t2, m2) = mkLayout(2)
    val (t16, m16) = mkLayout(16)
    var r2: Seq[FileManifest.FileStats] = Nil
    var r16: Seq[FileManifest.FileStats] = Nil
    val j2 = jobsDuring { r2 = FileManifest.updateRange(spark, m2, "k",
      500L, 3500L, "v", col("v") + 1000000L, s"$t2/rw") }
    val j16 = jobsDuring { r16 = FileManifest.updateRange(spark, m16, "k",
      500L, 3500L, "v", col("v") + 1000000L, s"$t16/rw") }
    val (ts, ms) = mkLayout(16, "raw rw")
    val rs = FileManifest.updateRange(spark, ms, "k",
      500L, 3500L, "v", col("v") + 1000000L, s"$ts/rw")
    assert(j16 <= j2 + 2,
      s"updateRange must be O(1) jobs: 2-file ran $j2, 16-file ran $j16")
    val a = FileManifest.readAll(spark, r2).orderBy("k").collect().toSeq
    val b = FileManifest.readAll(spark, r16).orderBy("k").collect().toSeq
    assert(a == b)
    assert(FileManifest.readAll(spark, rs).orderBy("k").collect().toSeq == b)
    val updated = FileManifest.readAll(spark, r16)
      .where(col("k").between(500L, 3500L) && col("v") >= 1000000L).count()
    assert(updated == 3001L)
  }

  test("mergeKeyed: job count flat; updates, deletes, and routed inserts land") {
    import spark.implicits._
    def changes = (
      (100L until 120L).map(i => (i, -i, s"chg$i", false)) ++   // updates
      (200L until 210L).map(i => (i, 0L, "", true)) ++          // deletes
      Seq((N + 5, 1L, "new", false), (N + 6, 2L, "new", false)) // outside
    ).toDF("k", "v", "s", "_del")
    val (t2, m2) = mkLayout(2)
    val (t16, m16) = mkLayout(16)
    var r2: Seq[FileManifest.FileStats] = Nil
    var r16: Seq[FileManifest.FileStats] = Nil
    val j2 = jobsDuring { r2 = FileManifest.mergeKeyed(spark, m2, "k",
      changes, s"$t2/rw", "_del") }
    val j16 = jobsDuring { r16 = FileManifest.mergeKeyed(spark, m16, "k",
      changes, s"$t16/rw", "_del") }
    val (ts, ms) = mkLayout(16, "raw rw")
    val rs = FileManifest.mergeKeyed(spark, ms, "k", changes, s"$ts/rw", "_del")
    assert(j16 <= j2 + 2,
      s"mergeKeyed must be O(1) jobs: 2-file ran $j2, 16-file ran $j16")
    val a = FileManifest.readAll(spark, r2).orderBy("k").collect().toSeq
    val b = FileManifest.readAll(spark, r16).orderBy("k").collect().toSeq
    assert(a == b)
    assert(FileManifest.readAll(spark, rs).orderBy("k").collect().toSeq == b)
    val t = FileManifest.readAll(spark, r16)
    assert(t.count() == N - 10 + 2) // 10 deletes, 2 inserts
    assert(t.where(col("k") === 105L).head.getLong(1) == -105L)
    assert(t.where(col("k") === 205L).count() == 0L)
    assert(t.where(col("k") === N + 5).count() == 1L)
  }

  test("applyDeletesMoR: job count flat; large key set rides the anti-join") {
    import spark.implicits._
    val (t2, m2) = mkLayout(2)
    val (t16, m16) = mkLayout(16)
    // 1900 keys — above the isin threshold, so the anti-filter is the
    // broadcast anti-join path, in ONE distributed rewrite job
    def morOf(tmp: String, m: Seq[FileManifest.FileStats]) =
      FileManifest.deleteKeysMoR(spark,
        FileManifest.MorTable("k", m, Nil),
        (100L until 3900L by 2).toDF("k"), s"$tmp/del")
    val mor2 = morOf(t2, m2)
    val mor16 = morOf(t16, m16)
    val (ts, ms) = mkLayout(16, "raw rw")
    val rs = FileManifest.applyDeletesMoR(spark, morOf(ts, ms), s"$ts/rw")
    var r2: FileManifest.MorTable = null
    var r16: FileManifest.MorTable = null
    val j2 = jobsDuring {
      r2 = FileManifest.applyDeletesMoR(spark, mor2, s"$t2/rw") }
    val j16 = jobsDuring {
      r16 = FileManifest.applyDeletesMoR(spark, mor16, s"$t16/rw") }
    assert(j16 <= j2 + 2,
      s"applyDeletesMoR must be O(1) jobs, not O(affected files): " +
        s"2-file layout ran $j2, 16-file ran $j16")
    val a = FileManifest.readAll(spark, r2.data).orderBy("k").collect().toSeq
    val b = FileManifest.readAll(spark, r16.data).orderBy("k").collect().toSeq
    assert(a == b)
    assert(FileManifest.readAll(spark, rs.data).orderBy("k").collect().toSeq
      == b)
    assert(a.size == (N - 1900).toInt)
    assert(r16.deleteFiles.isEmpty, "compaction must fold the sidecars in")
  }

  test("compact: job count flat; bins read back identically") {
    val (t2, m2) = mkLayout(4)
    val (t16, m16) = mkLayout(32)
    val j2 = jobsDuring {
      FileManifest.compact(spark, m2, s"$t2/out", "k", 1000L) }
    val j16 = jobsDuring {
      FileManifest.compact(spark, m16, s"$t16/out", "k", 1000L) }
    val (ts, ms) = mkLayout(32, "raw rw")
    FileManifest.compact(spark, ms, s"$ts/out", "k", 1000L)
    assert(j16 <= j2 + 2,
      s"compact must be O(1) jobs: 4-file ran $j2, 32-file ran $j16")
    val a = FileManifest.readCompacted(spark, s"$t2/out")
      .orderBy("k").collect().toSeq
    val b = FileManifest.readCompacted(spark, s"$t16/out")
      .orderBy("k").collect().toSeq
    assert(a == b && a.size == N.toInt)
    assert(FileManifest.readCompacted(spark, s"$ts/out")
      .orderBy("k").collect().toSeq == b, "a silently dropped bin loses rows")
    assert(FileManifest.buildManifest(spark, s"$ts/t", "k") == ms)
  }
}
