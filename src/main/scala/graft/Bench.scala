package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.SparkShims

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. A warmup pass first touches every table
  * and runs each query once (parquet footer reads, codegen, JIT); the
  * timed portion then makes THREE round-robin passes over the whole
  * query list and reports each query's MEDIAN — steady-state
  * throughput, which is what a long-running cluster job sees. A query
  * that throws fails the run: the line names it under `failed` and the
  * process exits 1.
  *
  * CONTENTION ROBUSTNESS is designed in, because a shared host can
  * inflate a run without any code regression:
  *  - *Interleaving*: passes run round-robin (q1..qN, q1..qN, ...),
  *    never back-to-back per query, so a contention window hits each
  *    query in at most one of its three samples — the median sheds it.
  *    Back-to-back sampling puts all of a query's samples inside the
  *    same bad window and no statistic can recover.
  *  - *Median-of-3*, not best-of-2: the median is noise-robust in both
  *    directions and an honest steady-state estimate.
  *  - *Host-noise canary*: a fixed single-threaded, ALLOCATION-FREE
  *    arithmetic spin (splitmix64 mixing over a constant iteration
  *    count) timed before, between, and after the passes. r10 moved
  *    it off a Spark job on purpose: the old in-engine canary (sum of
  *    xxhash64 over a range) drifted with the BENCH JVM's own state —
  *    heap pressure and scheduler residue after heavy query passes
  *    inflated mid-run samples ~2x on a PROVABLY idle host (load 0.1,
  *    zero other users; a one-query run on the same host read clean),
  *    so `noisy` flagged self-contention it was meant to exclude. A
  *    pure register loop allocates nothing (no GC interaction), runs
  *    on one core (no task scheduler), and varies only with what the
  *    HOST is doing. The output carries its max/min ratio (`canary`),
  *    its absolute floor (`canary_min`, comparable across rounds on
  *    the same host — the detector for contention that is CONSTANT
  *    through a run; note the r10 unit break vs r7-r9 floors, which
  *    timed the old Spark-job canary), and `noisy`: true when fewer
  *    than two of the three passes are bracketed by near-floor canary
  *    samples. Trust-check these before reading anything else.
  *
  * Besides wall time, per-query shuffle WRITE bytes (and read, spill)
  * are recorded from task metrics on the final pass: shuffle volume is
  * the number that predicts cluster-scale cost, and a plan regression
  * (a lost broadcast, a new exchange) shows up here even when local
  * wall time barely moves — and it is immune to host noise, which is
  * how a polluted wall-clock run is adjudicated after the fact.
  */
object Bench {
  @volatile private var canarySink: Long = 0L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GraftSession: the SQL DML queries (f22-f24, c12) need
    // GraftExtensions installed; a bare session fails them
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val wBytes = new AtomicLong; val rBytes = new AtomicLong
    val spill = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          wBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          rBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    val failed = scala.collection.mutable.SortedSet.empty[String]
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, sfDir).count() }
      catch { case e: Throwable =>
        if (failed.add(name)) Console.err.println(s"[bench] $name failed: $e")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    /** (seconds, shuffle write, shuffle read, disk spill) of one run. */
    def runMetered(name: String): (Double, Long, Long, Long) = {
      SparkShims.drainListenerBus(spark)
      val (w0, r0, s0) = (wBytes.get, rBytes.get, spill.get)
      val t = run(name)
      SparkShims.drainListenerBus(spark)
      (t, wBytes.get - w0, rBytes.get - r0, spill.get - s0)
    }

    /** The fixed reference work the canary times: a single-threaded,
      * allocation-free splitmix64 spin — pure register arithmetic, so
      * the only thing that can slow it is the HOST (see the canary
      * note in the object scaladoc for why it is deliberately NOT a
      * Spark job). ~0.4 s of work on an idle core. */
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) {
        x += 0x9E3779B97F4A7C15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        x ^= z ^ (z >>> 31)
        i += 1
      }
      canarySink = x // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    // each sample is best-of-2 back to back: a one-off scheduling blip
    // in the canary itself must not masquerade as host contention,
    // while a genuinely contended window slows both runs
    def canary(): Double = math.min(canaryOnce(), canaryOnce())

    // warmup: table scans + one untimed pass per query + the canary
    graft.sources.Tables.names.foreach { t =>
      try graft.sources.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => }
    }
    // SPARK_GRAFT_BENCH_ONLY=q1_agg,s8_ann_pq limits the run while
    // iterating on one operator; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach(run)
    canary(); canary()

    // three interleaved passes; metrics captured on the last
    val passes = 3
    val samples = scala.collection.mutable.Map(
      names.map(_ -> List.empty[Double]): _*)
    var metered = Map.empty[String, (Long, Long, Long)]
    val canaries = scala.collection.mutable.ArrayBuffer(canary())
    for (p <- 1 to passes) {
      names.foreach { n =>
        if (p == passes) {
          val (t, w, r, sp) = runMetered(n)
          samples(n) :+= t
          metered += n -> ((w, r, sp))
        } else samples(n) :+= run(n)
      }
      canaries += canary()
    }
    def median(xs: List[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0 else ok(ok.size / 2)
    }
    val results = names.map { n =>
      val (w, r, sp) = metered(n)
      (n, median(samples(n)), w, r, sp)
    }
    // Canary verdicts. `canary` (max/min across the 4 samples) is the
    // raw variance; `canary_min` is the absolute floor — comparable
    // ACROSS rounds on the same host, which is what catches contention
    // that is constant through a whole run (run-internal variance
    // cannot). `noisy` asks the question that matters for the medians:
    // pass i is bracketed by canary samples i-1 and i; a pass is clean
    // when both brackets are within 1.3x of the floor. Median-of-3
    // absorbs one contended pass, so the run is flagged only when
    // fewer than two passes are clean.
    val cmin = canaries.min
    val canaryRatio = canaries.max / cmin
    val cleanPasses = (1 to passes).count(p =>
      canaries(p - 1) <= 1.3 * cmin && canaries(p) <= 1.3 * cmin)
    val noisy = cleanPasses < 2
    def obj(f: ((String, Double, Long, Long, Long)) => String): String =
      results.map(t => "\"" + t._1 + "\":" + f(t)).mkString("{", ",", "}")
    def sec(s: Double): String = if (s < 0) "-1" else f"$s%.3f"
    val total = results.map(_._2).filter(_ >= 0).sum
    // the fields every contract-line rendering opens with
    val head = s"""{"metric":"total","value":${sec(total)},"unit":"sec"""" +
      f""","canary":$canaryRatio%.2f,"canary_min":$cmin%.3f""" +
      s""","noisy":$noisy,"failed":""" +
      failed.map("\"" + _ + "\"").mkString("[", ",", "]")

    // Shuffle write/read + spill detail is several KB of JSON — too big
    // for the driver's bounded stdout-tail capture, so it goes to a side
    // file; stdout carries ONLY the compact contract line, printed last.
    val canaryJson = canaries.map(c => f"$c%.3f").mkString("[", ",", "]")
    val samplesJson = names.map(n =>
        "\"" + n + "\":" + samples(n).map(sec).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val detail = head +
      s""","queries":${obj(t => sec(t._2))}""" +
      s""","samples":$samplesJson""" +
      s""","canary_sec":$canaryJson,"clean_passes":$cleanPasses""" +
      s""","shuffle_write_bytes":${obj(_._3.toString)}""" +
      s""","shuffle_read_bytes":${obj(_._4.toString)}""" +
      s""","disk_spill_bytes":${obj(_._5.toString)}""" +
      s""","sf":"$sfDir"}"""
    // A filtered (BENCH_ONLY) run must not overwrite the full-run
    // detail file with a subset that would masquerade as current.
    val detailDefault =
      if (only.isDefined) "BENCH_DETAIL.partial.json" else "BENCH_DETAIL.json"
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", detailDefault))
      java.nio.file.Files.write(p, (detail + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] detail write failed: $e")
    }

    spark.stop()
    // the consumer captures a bounded (~2000 char) stdout tail; keep
    // the line inside it, degrading per-query precision, then the sf
    // spelling, then the key spelling (unique id prefixes — "q1_agg"
    // -> "q1"; full names always live in BENCH_DETAIL.json), before
    // ever dropping the per-query map
    val prefixOf = names.map(n => n -> n.takeWhile(_ != '_')).toMap
    val prefixCounts = prefixOf.values.groupBy(identity).view.mapValues(_.size)
    def shortName(n: String): String = {
      val p = prefixOf(n)
      if (prefixCounts(p) == 1) p else n
    }
    def line(f: Double => String, sf: String, key: String => String): String = {
      val qs = results.map(t =>
          "\"" + key(t._1) + "\":" + (if (t._2 < 0) "-1" else f(t._2)))
        .mkString("{", ",", "}")
      head + s""","queries":$qs,"sf":"$sf"}"""
    }
    // trailing-zero stripping buys ~2 chars/query before precision drops
    def strip(s: String): String =
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    val shortSf = sfDir.split("/").filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val s1: Double => String = s => strip(f"$s%.1f")
    // when even the shortest full rendering overflows, keep the
    // SLOWEST queries' entries (the ones a reader compares) and sum
    // the fast tail into fast_n/fast_total — never drop the whole
    // map (a 121-char line loses every per-query median; full data
    // always lives in BENCH_DETAIL.json)
    def lineTop(top: Int): String = {
      val bySlow = results.sortBy(t => (-t._2, t._1))
      val keep = bySlow.take(top).sortBy(_._1)
      val rest = bySlow.drop(top)
      val qs = keep.map(t =>
          "\"" + shortName(t._1) + "\":" +
            (if (t._2 < 0) "-1" else strip(f"${t._2}%.1f")))
        .mkString("{", ",", "}")
      val fastTotal = rest.map(_._2).filter(_ >= 0).sum
      head + s""","queries":$qs""" +
        s""","fast_n":${rest.size},"fast_total":${strip(f"$fastTotal%.1f")}""" +
        s""","sf":"$shortSf"}"""
    }
    val out = (Seq[Double => String](
        s => f"$s%.3f", s => strip(f"$s%.3f"), s => strip(f"$s%.2f"), s1)
        .map(line(_, sfDir, identity)) ++
        Seq(line(s1, shortSf, identity), line(s1, shortSf, shortName)) ++
        Seq(150, 120, 90, 60, 30).map(lineTop))
      .find(_.length <= 1950).getOrElse(head + s""","sf":"$sfDir"}""")
    println(out)
    Console.err.println(s"[bench] contract line length = ${out.length} chars")
    if (failed.nonEmpty) sys.exit(1)
  }
}
