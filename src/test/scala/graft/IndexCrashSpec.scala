package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus,
  FilterFileSystem, LocatedFileStatus, Options, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GramIndex, TextIndex, VectorIndex}

/** Local files under the test-only `crash:` scheme: `file:` is graft's
  * NIO local file system, so the crash layer needs a scheme of its own. */
class CrashRawFs extends graft.shims.NioRawLocalFileSystem {
  override def getUri: URI = URI.create("crash:///")
  override def getScheme: String = "crash"
}

/** A file system that dies at an armed op. Creates, renames, deletes
  * and mkdirs under a registered trial root count in two sequences:
  * the ones graft's own code issues (the nearest graft or Spark frame
  * on the stack is graft's) and the ones Spark issues. At the trial's
  * armed op it throws, and every later op under that root throws too,
  * reads included: the process that ran the trial is dead, so no
  * straggling task of it can change what it left on disk. */
class CrashFs extends FilterFileSystem(new CrashRawFs) {
  import CrashFs.step
  override def create(f: Path, p: FsPermission, overwrite: Boolean, buf: Int,
      rep: Short, block: Long, prog: Progressable): FSDataOutputStream = {
    step(f, "create"); super.create(f, p, overwrite, buf, rep, block, prog)
  }
  override def create(f: Path, p: FsPermission,
      flags: java.util.EnumSet[CreateFlag], buf: Int, rep: Short, block: Long,
      prog: Progressable, opt: Options.ChecksumOpt): FSDataOutputStream = {
    step(f, "create"); super.create(f, p, flags, buf, rep, block, prog, opt)
  }
  override def createNonRecursive(f: Path, p: FsPermission,
      flags: java.util.EnumSet[CreateFlag], buf: Int, rep: Short, block: Long,
      prog: Progressable): FSDataOutputStream = {
    step(f, "create"); super.createNonRecursive(f, p, flags, buf, rep, block, prog)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    step(src, "rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    step(f, "delete"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, p: FsPermission): Boolean = {
    step(f, "mkdirs"); super.mkdirs(f, p)
  }
  override def mkdirs(f: Path): Boolean = { step(f, "mkdirs"); super.mkdirs(f) }
  override def open(f: Path, buf: Int): FSDataInputStream = {
    step(f, ""); super.open(f, buf)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    step(f, ""); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    step(f, ""); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    step(f, ""); super.getFileStatus(f)
  }
}

object CrashFs {
  /** One crash trial: the graft op and the Spark op it dies at (-1:
    * never), and the ops it has counted so far. */
  final class Trial(val armGraft: Long, val armSpark: Long) {
    val graftOps = new AtomicLong
    val sparkOps = new AtomicLong
    @volatile var fired: Option[String] = None
  }

  private val trials = new ConcurrentHashMap[String, Trial]

  def register(root: String, t: Trial): Trial = {
    trials.put(new Path(root).toUri.getPath, t); t
  }

  private def trialOf(f: Path): Option[Trial] = {
    val p = f.toUri.getPath
    trials.asScala.collectFirst {
      case (r, t) if p == r || p.startsWith(r + "/") => t
    }
  }

  /** Whether graft's code issued the op on this thread: the nearest
    * frame of graft's main code or of Spark decides. */
  private def issuedByGraft: Boolean =
    Thread.currentThread.getStackTrace.iterator.map(_.getClassName)
      .find(c => c.startsWith("org.apache.spark.") ||
        (c.startsWith("graft.") && !c.startsWith("graft.Crash")))
      .exists(_.startsWith("graft."))

  /** `kind` is empty for a read, which only a dead trial fails. */
  private def step(f: Path, kind: String): Unit = trialOf(f).foreach { t =>
    t.fired.foreach(at => throw new IOException(s"dead since the crash at $at"))
    if (kind.nonEmpty) {
      val byGraft = issuedByGraft
      val n = (if (byGraft) t.graftOps else t.sparkOps).incrementAndGet()
      if (n == (if (byGraft) t.armGraft else t.armSpark)) {
        val at = s"${if (byGraft) "graft" else "spark"} op $n ($kind $f)"
        t.fired = Some(at)
        throw new IOException(s"injected crash at $at")
      }
    }
  }
}

/** Crash injection over the index commit protocol: each maintenance
  * operation of [[TextIndex]], [[VectorIndex]] and [[GramIndex]] dies
  * at every create / rename / delete / mkdirs graft's own code issues,
  * and at a stride over the ones Spark issues. After each crash a
  * fresh reader sees the answer from before the operation or the one
  * from after it, never a third; re-running the operation (the same
  * batch id for `appendBatch`) gives the clean run's answer. */
class IndexCrashSpec extends AnyFunSuite {
  import IndexCrashSpec.Op
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private lazy val scratch = Files.createTempDirectory("graft_crash")
  private val seq = new AtomicLong

  private def newRoot(tag: String): String = {
    val d = scratch.resolve(s"$tag-${seq.incrementAndGet()}")
    Files.createDirectories(d)
    s"crash:$d"
  }

  /** A second root holding `root`'s files as they are on disk. */
  private def copy(root: String): String = {
    val src = Paths.get(new Path(root).toUri.getPath)
    val dst = newRoot("copy")
    val to = Paths.get(new Path(dst).toUri.getPath)
    Files.walk(src).iterator.asScala.foreach { p =>
      val q = to.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
    dst
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Every crash point of `op` over its fixture, four trials at once
    * (trials count their ops under their own roots). */
  private def crashEverywhere(op: Op): Unit = {
    val t0 = System.nanoTime
    val fix = newRoot(s"${op.name}-fixture")
    op.fixture(fix)
    val before = op.read(fix)
    val clean = copy(fix)
    val counted = CrashFs.register(clean, new CrashFs.Trial(-1L, -1L))
    op.run(clean)
    val after = op.read(clean)
    if (op.changesAnswer) assert(after != before, s"${op.name}: no-op fixture")
    val nGraft = counted.graftOps.get
    val nSpark = counted.sparkOps.get
    assert(nGraft > 0 && nSpark > 0, s"${op.name}: $nGraft graft ops, $nSpark Spark ops")
    val stride = math.max(1L, nSpark / 2)
    val points = (1L to nGraft).map(g => (g, -1L)) ++
      (stride / 2 + 1 to nSpark by stride).map(s => (-1L, s))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val trials = points.map { case (g, s) => Future {
        val dir = copy(fix)
        val t = CrashFs.register(dir, new CrashFs.Trial(g, s))
        try op.run(dir) catch { case NonFatal(_) => () }
        if (g > 0) assert(t.fired.nonEmpty, s"${op.name}: graft op $g never ran")
        // a fresh process reads what the dead one left
        val state = copy(dir)
        val seen = op.read(state)
        assert(seen == before || seen == after,
          s"${op.name} crashed at ${t.fired}: read $seen, " +
            s"before $before, after $after")
        op.run(state)
        assert(op.read(state) == after,
          s"${op.name} re-run after the crash at ${t.fired} diverged")
      } }
      Await.result(Future.sequence(trials), Duration.Inf)
    } finally pool.shutdown()
    info(f"${op.name}: $nGraft graft ops, ${points.size - nGraft} of " +
      f"$nSpark Spark ops crashed, ${(System.nanoTime - t0) / 1e9}%.1f s")
  }

  // ---- fixtures: 2 buckets / 2 cells, a few dozen rows ---------------

  private val words = Seq("apple", "river", "stone", "cloud", "amber", "delta",
    "maple", "orbit", "pearl", "quill", "raven", "sable")

  private def textDocs(from: Long, n: Int, seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (from + i,
        Seq.fill(6 + r.nextInt(5))(words(r.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text")
  }

  private def vectors(from: Long, n: Int, seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (from + i,
        Seq.fill(8)((r.nextFloat() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def ids(xs: Long*): DataFrame = xs.toDF("id")

  private val runId = "crash-run"

  private def textRead(p: String) = rows(TextIndex.bm25TopK(spark, p,
    Seq(1 -> Seq("apple", "river"), 2 -> Seq("stone")), k = 4))

  private def textAppend(p: String, id: Long) =
    TextIndex.appendBatch(textDocs(100L + 10 * id, 4, 7 + id.toInt), "doc_id",
      "text", p, id, runId)

  private def textFixture(p: String, compactions: Int): Unit = {
    TextIndex.build(textDocs(0L, 12, 1), "doc_id", "text", p, buckets = 2)
    textAppend(p, 0L)
    TextIndex.delete(spark, p, ids(0L, 100L))
    (1 to compactions).foreach { c =>
      TextIndex.compact(spark, p)
      textAppend(p, c.toLong)
      TextIndex.delete(spark, p, ids(c.toLong, 100L + 10 * c))
    }
  }

  // copies of vector 1 (deleted below) and of vector 110 (appended
  // below), so both operations move the answer
  private lazy val queries = vectors(0L, 12, 1).where($"vec_id" === 1L)
    .unionByName(vectors(110L, 3, 8).where($"vec_id" === 110L))
    .select(($"vec_id" + 1000L).as("query_id"), $"embedding".as("query_vec"))

  private def vectorRead(p: String) =
    rows(VectorIndex.topK(spark, p, queries, k = 3, nprobe = 2))

  private def vectorAppend(p: String, id: Long) =
    VectorIndex.appendBatch(vectors(100L + 10 * id, 3, 7 + id.toInt),
      "vec_id", "embedding", p, id, runId)

  private def vectorFixture(p: String, compactions: Int): Unit = {
    VectorIndex.build(vectors(0L, 12, 1), "vec_id", "embedding", p,
      clusters = 2, iterations = 2, capacity = 20, maxRounds = 4)
    vectorAppend(p, 0L)
    VectorIndex.delete(spark, p, ids(0L, 100L))
    (1 to compactions).foreach { c =>
      VectorIndex.compact(spark, p)
      vectorAppend(p, c.toLong)
      VectorIndex.delete(spark, p, ids(c.toLong, 100L + 10 * c))
    }
  }

  private val grams = Seq("red fox runs", "blue owl sings", "old oak grows")

  private def gramDocs: DataFrame =
    (0 until 10).map(i => (i.toLong,
        s"${grams(i % 3)} day ${i % 4} ${grams((i + 1) % 3)} night"))
      .toDF("doc_id", "text")

  private def gramRead(p: String) = rows(GramIndex.dupStats(spark, p))

  private def gramFixture(p: String, compactions: Int): Unit = {
    GramIndex.build(gramDocs, "doc_id", "text", p, n = 3, buckets = 2)
    GramIndex.delete(spark, p, ids(0L))
    (1 to compactions).foreach { c =>
      GramIndex.compact(spark, p)
      GramIndex.delete(spark, p, ids(c.toLong))
    }
  }

  test("index commits survive a crash at every op: text, vector, gram") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crash.impl", classOf[CrashFs].getName)
    // every trial fails Spark tasks on purpose; their stack traces are noise
    spark.sparkContext.setLogLevel("OFF")
    try Seq(
      Op("text-appendBatch", textFixture(_, 0), textAppend(_, 1L), textRead),
      Op("text-delete", textFixture(_, 0),
        TextIndex.delete(spark, _, ids(1L, 101L)), textRead),
      Op("text-compact", textFixture(_, 1), TextIndex.compact(spark, _),
        textRead, changesAnswer = false),
      Op("vector-appendBatch", vectorFixture(_, 0), vectorAppend(_, 1L),
        vectorRead),
      Op("vector-delete", vectorFixture(_, 0),
        VectorIndex.delete(spark, _, ids(1L, 101L)), vectorRead),
      Op("vector-compact", vectorFixture(_, 1), VectorIndex.compact(spark, _),
        vectorRead, changesAnswer = false),
      Op("gram-delete", gramFixture(_, 0),
        GramIndex.delete(spark, _, ids(4L)), gramRead),
      Op("gram-compact", gramFixture(_, 1), GramIndex.compact(spark, _),
        gramRead, changesAnswer = false)
    ).foreach(crashEverywhere)
    finally spark.sparkContext.setLogLevel("WARN")
  }
}

object IndexCrashSpec {
  /** An operation under test: its fixture, the operation itself, and
    * the read whose answer it must move atomically. */
  private final case class Op(name: String, fixture: String => Unit,
      run: String => Unit, read: String => Seq[String],
      changesAnswer: Boolean = true)
}
