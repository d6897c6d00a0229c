package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.streaming.WriteToStream
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{CalendarIntervalType, DayTimeIntervalType, LongType, TimestampType}
import org.apache.spark.unsafe.types.CalendarInterval

import graft.operators.IntervalJoin

/** The one planner of graft's event-time interval join (see
  * graft.operators.IntervalJoin for the bucket scheme and its
  * exactness), written in SQL or with `Dataset.join`, inner or LEFT:
  *
  *   L JOIN R ON L.k = R.k AND R.t <= L.t AND R.t > L.t - INTERVAL d
  *
  * One matcher reads the condition: one or more key equalities, the
  * upper bound as `R.t <= L.t` or `L.t >= R.t` (timestamps), the lower
  * as `R.t > L.t - d` or `R.t >= L.t - d`, d a positive day-time
  * interval. `L.t - d` is a timestamp cast of `DatetimeSub` (whose
  * replacement is `TimestampAddInterval(L.t, -d)`) after analysis and
  * `TimestampAddInterval(L.t, <-d>)` after optimization; the foldable
  * interval is evaluated, so SQL `- INTERVAL '5' SECOND`,
  * `Column - lit(Duration)` and `- expr("INTERVAL …")` all match.
  *
  *  - Batch branch (this optimizer rule; not both sides streaming):
  *    both sides gain bucket columns, the right side is exploded into
  *    buckets [b, b+1], and the join, its condition kept, gains a
  *    bucket equality, so it runs on (k, bucket) keys.
  *  - Stream branch ([[AtStreamStart]]): both sides streaming, both
  *    time attributes watermarked, one key, a strict lower bound and
  *    nothing else in the condition. The join becomes `IntervalJoin.streaming`'s
  *    keyed-state plan under a `Project` that aliases it back to the
  *    join's output attributes, so parent nodes still resolve. Other
  *    stream-stream joins stay Spark's join, without bucket columns.
  *
  * Disable both with `SET spark.graft.rewriteIntervalJoins=false`; the
  * batch branch reads it per optimization, the stream branch when a
  * query starts.
  */
object RewriteIntervalJoin extends Rule[LogicalPlan] with PredicateHelper {
  private val MARKER = "__graft_bucket"

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.rewriteIntervalJoins", "true") == "true"

  /** A matched condition; `exact` when it holds nothing but one key and
    * a strict lower bound, which the stream plan evaluates itself. */
  private case class Interval(keys: Seq[(Expression, Expression)], lt: Expression,
      rt: Expression, deltaUs: Long, exact: Boolean)

  /** `lt - INTERVAL d` in either shape: (lt, d in micros). */
  private def minusInterval(e: Expression): Option[(Expression, Long)] = e match {
    case c: Cast if c.dataType == TimestampType && c.child.dataType == TimestampType =>
      minusInterval(c.child)
    case DatetimeSub(_, _, replacement) => minusInterval(replacement)
    case TimestampAddInterval(lt, iv, _) if iv.foldable =>
      val us = iv.eval() match {
        case micros: Long if iv.dataType.isInstanceOf[DayTimeIntervalType] => -micros
        case c: CalendarInterval if iv.dataType == CalendarIntervalType && c.months == 0 =>
          -(c.days * 86400000000L + c.microseconds)
        case _ => 0L
      }
      if (us > 0) Some((lt, us)) else None
    case _ => None
  }

  private def interval(j: Join): Option[Interval] = {
    val conjuncts = splitConjunctivePredicates(j.condition.get)
    def from(p: LogicalPlan)(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(p.outputSet)
    val (l, r) = (from(j.left) _, from(j.right) _)
    val keys = conjuncts.collect {
      case EqualTo(a, b) if l(a) && r(b) => (a, b)
      case EqualTo(b, a) if l(a) && r(b) => (a, b)
    }
    val upper = conjuncts.collectFirst {
      case LessThanOrEqual(rt, lt) if rt.dataType == TimestampType && r(rt) && l(lt) => (lt, rt)
      case GreaterThanOrEqual(lt, rt) if rt.dataType == TimestampType && l(lt) && r(rt) => (lt, rt)
    }
    val lower = conjuncts.collectFirst(Function.unlift {
      case GreaterThan(rt, e) if r(rt) => minusInterval(e).map { case (lt, d) => (lt, rt, d, true) }
      case GreaterThanOrEqual(rt, e) if r(rt) =>
        minusInterval(e).map { case (lt, d) => (lt, rt, d, false) }
      case _ => None
    })
    for {
      (lt, rt) <- upper
      (lt2, rt2, deltaUs, strict) <- lower
      if keys.nonEmpty && lt2.semanticEquals(lt) && rt2.semanticEquals(rt)
    } yield Interval(keys, lt, rt, deltaUs, strict && keys.size == 1 && conjuncts.size == 3)
  }

  /** Batch branch. */
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case j @ Join(left, right, jt @ (Inner | LeftOuter), Some(cond), hint)
          if !(left.isStreaming && right.isStreaming) &&
            !cond.exists { case a: Attribute => a.name.startsWith(MARKER); case _ => false } =>
        interval(j).fold(j: LogicalPlan) { m =>
          val lAlias = Alias(IntervalJoin.bucket(m.lt, m.deltaUs), s"${MARKER}_l")()
          val newLeft = Project(left.output :+ lAlias, left)
          val rbAlias = Alias(IntervalJoin.bucket(m.rt, m.deltaUs), s"${MARKER}_rb")()
          val rightProj = Project(right.output :+ rbAlias, right)
          val genOut = AttributeReference(s"${MARKER}_r", LongType, nullable = true)()
          val gen = Generate(
            Explode(CreateArray(Seq(rbAlias.toAttribute,
              Add(rbAlias.toAttribute, Literal(1L, LongType))))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(genOut), child = rightProj)
          val newCond = And(EqualTo(lAlias.toAttribute, genOut), cond)
          Project(left.output ++ right.output,
            Join(newLeft, gen, jt, Some(newCond), hint))
        }
    }
  }

  /** Stream branch, a post-hoc resolution rule on the plan a streaming
    * query is started with (`WriteToStream`): it runs once, at start,
    * and never on a plan that `Dataset.joinWith` expects to stay a
    * `Join`. Each micro-batch re-optimizes the rewritten plan without
    * building it again. */
  case class AtStreamStart(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case w: WriteToStream if enabled => AnalysisHelper.allowInvokingTransformsInAnalyzer {
        w.transformUp {
          case j @ Join(left, right, jt @ (Inner | LeftOuter), Some(_), _)
              if left.isStreaming && right.isStreaming =>
            interval(j).filter(m => m.exact && Seq(m.lt, m.rt).forall {
              case a: Attribute => a.metadata.contains(EventTimeWatermark.delayKey)
              case _ => false
            }).fold(j: LogicalPlan) { m =>
              val keyed = IntervalJoin.streaming(spark, left, right, m.keys.head._1,
                m.keys.head._2, m.lt.asInstanceOf[Attribute], m.rt.asInstanceOf[Attribute],
                m.deltaUs, outer = jt == LeftOuter)
              Project(j.output.zip(keyed.output).map { case (a, k) =>
                Alias(k, a.name)(a.exprId, a.qualifier, Some(a.metadata)) }, keyed)
            }
        }
      }
      case _ => plan
    }
  }
}
