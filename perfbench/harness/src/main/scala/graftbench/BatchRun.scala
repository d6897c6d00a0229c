package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `batch_write`: a fixed mix of `SparkEntry` queries,
  * each fully materialized (never `.count()`, under which Catalyst
  * prunes most of the plan away).
  *
  * First an untimed pass writes every query's rows to parquet for the
  * oracle check; it also warms the JVM, codegen and the JVM-memoized
  * index builds. `WarmPasses` untimed passes follow: pass times keep
  * falling for several passes after the first (JIT), and a median
  * taken on that slope varies from run to run. Then the timed passes,
  * at least `MinPasses`, and more only while another pass of the last
  * pass's length still fits in `--seconds`. Each query is two spans:
  * the builder call (`entry.build`, graft's eager work) and the `noop`
  * write (`spark.materialize`, the rest of the plan).
  */
object BatchRun {
  val WarmPasses = 6
  val MinPasses = 3

  def run(spark: SparkSession, o: Opts, tracer: Tracer, work: String,
      rec: mutable.LinkedHashMap[String, String]): Unit = {
    val names = o.queries
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val failures = mutable.ArrayBuffer.empty[String]
    def attempt(what: String)(body: => Unit): Boolean =
      try { body; true } catch {
        case t: Throwable =>
          failures += Js.str(s"$what: ${t.getClass.getName}: ${t.getMessage}".take(500))
          false
      }

    tracer.phase = "check"
    names.foreach { n =>
      attempt(s"$n (check pass)") {
        tracer.span(s"check.$n") {
          SparkEntry.queries(n)(spark, o.data)
            .write.mode("overwrite").parquet(s"$work/check/$n")
        }
      }
    }
    rec("oracle_sql") = Js.obj(names.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(sql => n -> Js.str(sql))): _*)

    tracer.setPhase("warm")
    val warm = for (w <- 0 until WarmPasses; n <- names) yield
      attempt(s"$n (warm pass $w)") {
        tracer.span(s"warm.$n") {
          SparkEntry.queries(n)(spark, o.data).write.format("noop").mode("overwrite").save()
        }
      }
    rec("warm_runs") = warm.size.toString
    rec("warm_failed") = warm.count(!_).toString

    tracer.setPhase("timed")
    val first = tracer.nowMs
    rec("first_timed_ms") = Js.num(first)
    val deadline = first + o.seconds * 1000.0
    val times = mutable.ArrayBuffer.empty[String]
    var pass = 0
    var last = 0.0
    while (pass < MinPasses || tracer.nowMs + last <= deadline) {
      val t = tracer.nowMs
      tracer.span("pass") {
        names.foreach { n =>
          val t0 = tracer.nowMs
          val ok = attempt(s"$n (pass $pass)") {
            tracer.span(s"q.$n") {
              val df = tracer.span("entry.build")(SparkEntry.queries(n)(spark, o.data))
              tracer.span("spark.materialize")(
                df.write.format("noop").mode("overwrite").save())
            }
          }
          val s = (tracer.nowMs - t0) / 1000.0
          times += Js.arr(Seq(pass.toString, Js.str(n), Js.num(s), ok.toString))
        }
      }
      last = tracer.nowMs - t
      pass += 1
    }
    tracer.setPhase("done")
    rec("passes") = pass.toString
    rec("query_times") = Js.arr(times)
    rec("failures") = Js.arr(failures)
  }
}
