package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and counters, written out once when the run ends.
  *
  * Harness spans (a phase, a query, a builder call, a materialization)
  * are always kept: they are how the benchmark takes its timings, a
  * handful per query. With `listeners = true` (the traced run) Spark's
  * public listeners add one span per Spark job and per-phase counters
  * of stages, tasks, shuffle, spill, output and Catalyst phase time;
  * end-to-end numbers are never taken from a run with listeners on.
  */
final class Tracer(val listeners: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  /** Wall clock in epoch milliseconds at sub-millisecond resolution,
    * on the same axis as listener event times. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  // (phase, counter) -> value
  private val counters = mutable.LinkedHashMap.empty[(String, String), Double]
  @volatile var phase: String = "setup"
  private var sc: Option[org.apache.spark.SparkContext] = None
  private var gcMark = gcMs()

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def record(name: String, start: Double, end: Double, parent: Int): Unit =
    synchronized { spans += Span(nextId.getAndIncrement(), name, start, end, parent, phase) }

  /** Time `body` as a span nested under the caller's current span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(0)
    val start = nowMs
    stack.set(id :: stack.get)
    try body
    finally {
      stack.set(stack.get.tail)
      val end = nowMs
      synchronized { spans += Span(id, name, start, end, parent, phase) }
    }
  }

  def add(name: String, v: Double): Unit = synchronized {
    val k = (phase, name)
    counters(k) = counters.getOrElse(k, 0.0) + v
  }

  def max(name: String, v: Double): Unit = synchronized {
    val k = (phase, name)
    counters(k) = math.max(counters.getOrElse(k, v), v)
  }

  /** Switch the phase that counters and spans are booked to. Queued
    * listener events are delivered first, so each event lands in the
    * phase whose work produced it. */
  def setPhase(p: String): Unit = {
    sc.foreach(org.apache.spark.graftbench.Bus.drain)
    val g = gcMs()
    add("jvm.gc_ms", (g - gcMark).toDouble)
    gcMark = g
    phase = p
  }

  def install(spark: SparkSession): Unit = {
    sc = Some(spark.sparkContext)
    if (listeners) {
      val jobStart = mutable.Map.empty[Int, Long]
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Tracer.this.synchronized { jobStart(e.jobId) = e.time }
        override def onJobEnd(e: SparkListenerJobEnd): Unit = {
          val s = Tracer.this.synchronized(jobStart.remove(e.jobId))
          s.foreach(st => record("spark.job", st.toDouble, e.time.toDouble, -1))
          add("spark.jobs", 1)
        }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          add("spark.stages", 1)
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          add("spark.tasks", 1)
          val m = e.taskMetrics
          if (m != null) {
            add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
            add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
            add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
            max("exec.peak_mem_bytes", m.peakExecutionMemory.toDouble)
            add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
            add("io.output_records", m.outputMetrics.recordsWritten.toDouble)
          }
        }
      })
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
        .register(new QueryExecutionListener {
          private def book(qe: QueryExecution): Unit = {
            val ph = qe.tracker.phases
            Seq("analysis", "optimization", "planning").foreach { p =>
              ph.get(p).foreach(s => add(s"catalyst.${p}_ms", s.durationMs.toDouble))
            }
            add("catalyst.executions", 1)
          }
          override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = book(qe)
          override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = book(qe)
        })
    }
  }

  def json: String = synchronized {
    val sp = spans.sortBy(_.start).map(s => Js.arr(Seq(s.id.toString, Js.str(s.name),
      Js.num(s.start), Js.num(s.end), s.parent.toString, Js.str(s.phase))))
    val byPhase = counters.groupBy(_._1._1).map { case (p, kv) =>
      Js.str(p) + ":" + Js.obj(kv.toSeq.map { case ((_, n), v) => n -> Js.num(v) }: _*)
    }
    Js.obj("spans" -> Js.arr(sp), "counters" -> byPhase.mkString("{", ",", "}"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, start: Double, end: Double,
      parent: Int, phase: String)
}
