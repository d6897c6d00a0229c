package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, cpus: Int, queries: Seq[String])

/** JVM side of the benchmark: runs one workload and writes the raw
  * record (timings, spans, counters, outputs) to `<work>/record.json`.
  * `perfbench/run.py` starts it, checks the outputs and derives every
  * metric from the record.
  *
  *   graftbench.Main --workload ref_stream --seed 1 --seconds 20 \
  *     --trace 0 --work <dir> [--data <tables dir>] [--queries a,b]
  */
object Main {
  @volatile private var canarySink = 0L

  /** `graft.Bench`'s host-noise canary: a fixed single-threaded,
    * allocation-free splitmix64 spin. Only the host can slow it, so a
    * time well above its floor marks a contended run. */
  def canary(): Double = {
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
    canarySink = x
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this process (VmHWM), in KiB. */
  def peakRssKb(): Long = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    lines.toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("data", ""), m("work"), m.getOrElse("cpus", "4").toInt,
      m.getOrElse("queries", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val tracer = new Tracer(o.trace)
    val rec = mutable.LinkedHashMap.empty[String, String]
    rec("workload") = Js.str(o.workload)
    rec("seed") = o.seed.toString
    rec("jvm_start_ms") = Js.num(jvmStart)
    var error: Option[Throwable] = None
    val spark = tracer.span("session.start") {
      GraftSession.builder(s"local[${o.cpus}]", o.cpus)
        .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
        .config("spark.local.dir", s"${o.work}/spark-local")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    rec("session_ready_ms") = Js.num(tracer.nowMs)
    tracer.install(spark)
    try {
      o.workload match {
        case "ref_stream" => StreamRun.run(spark, o, tracer, o.work, rec)
        case "batch_write" => BatchRun.run(spark, o, tracer, o.work, rec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch { case t: Throwable => error = Some(t) }
    tracer.setPhase("end")
    rec("end_ms") = Js.num(tracer.nowMs)
    spark.stop()
    if (o.trace) rec("canary_s") = Js.num(canary())
    rec("peak_rss_kb") = peakRssKb().toString
    error.foreach { t =>
      val sw = new java.io.StringWriter
      t.printStackTrace(new java.io.PrintWriter(sw))
      rec("error") = Js.str(sw.toString.take(4000))
    }
    rec("trace") = tracer.json
    Files.write(Paths.get(o.work, "record.json"),
      Js.obj(rec.toSeq: _*).getBytes(StandardCharsets.UTF_8))
    if (error.isDefined) System.exit(1)
  }
}
