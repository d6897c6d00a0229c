package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrites an inequality-ONLY join
  *
  *   P JOIN I ON P.p >= I.lo AND P.p <= I.hi        -- no equality key
  *
  * into the bucketed equi-join form (see
  * [[graft.operators.RangeJoin]]): the interval side explodes into the
  * buckets it overlaps (`explode(sequence(lo div w, hi div w))`), the
  * point side gains its single bucket, and the join gains a bucket
  * equality — so the planner extracts an equi-key and plans a
  * hash/merge join where stock Spark plans a BroadcastNestedLoopJoin
  * (O(n x m) however large the sides). A pair meets in exactly ONE
  * bucket (the point's), so multiplicity is unchanged; the original
  * range predicates are kept; the point side is never duplicated, so
  * LEFT OUTER with points on the left is preserved.
  *
  * The bucket width is `spark.graft.rangeJoin.bucketWidth` — the rule
  * stays DORMANT until it is set, because a good width comes from the
  * interval-length distribution ([[graft.operators.RangeJoin.widthFor]]
  * computes the median-length choice), and an optimizer rule must not
  * run jobs to find out. ANY positive width is semantically correct —
  * width tunes cost only. Guards mirror
  * [[InjectBloomJoinFilter]]: deterministic inputs only, marker column
  * for fixpoint idempotence.
  */
object RewriteRangeJoin extends Rule[LogicalPlan] with PredicateHelper {
  val WidthKey = "spark.graft.rangeJoin.bucketWidth"
  private val MARKER = "__graft_rjb"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = SQLConf.get
    val width = conf.getConfString(WidthKey, "0").toLong
    if (width <= 0) return plan

    def integral(e: Expression): Boolean =
      e.dataType == LongType || e.dataType == IntegerType
    def asLong(e: Expression): Expression =
      if (e.dataType == LongType) e else Cast(e, LongType)
    def bucket(e: Expression): Expression = {
      val x = asLong(e)
      val w = Literal(width, LongType)
      IntegralDivide(Subtract(x, Pmod(x, w)), w)
    }

    plan.transform {
      case j @ Join(left, right, jt @ (Inner | LeftOuter), Some(cond), hint)
          if !cond.exists { case a: Attribute => a.name.startsWith(MARKER)
                            case _ => false } =>
        val conjuncts = splitConjunctivePredicates(cond)
        def fromLeft(e: Expression) =
          e.references.nonEmpty && e.references.subsetOf(left.outputSet)
        def fromRight(e: Expression) =
          e.references.nonEmpty && e.references.subsetOf(right.outputSet)
        // an existing cross-side equality means the join already has an
        // equi-key — nothing to fix
        val hasEqui = conjuncts.exists {
          case EqualTo(a, b) =>
            (fromLeft(a) && fromRight(b)) || (fromLeft(b) && fromRight(a))
          case _ => false
        }

        // p >= lo (either spelling), p and lo from opposite sides
        val lowers = conjuncts.collect {
          case GreaterThanOrEqual(p, lo)
              if integral(p) && fromLeft(p) && fromRight(lo) => (p, lo, true)
          case LessThanOrEqual(lo, p)
              if integral(p) && fromRight(lo) && fromLeft(p) => (p, lo, true)
          case GreaterThanOrEqual(p, lo)
              if integral(p) && fromRight(p) && fromLeft(lo) => (p, lo, false)
          case LessThanOrEqual(lo, p)
              if integral(p) && fromLeft(lo) && fromRight(p) => (p, lo, false)
        }
        // p <= hi with the same p
        val rewrite = lowers.iterator.flatMap { case (p, lo, pOnLeft) =>
          val hiOpt = conjuncts.collectFirst {
            case LessThanOrEqual(p2, hi) if p2.semanticEquals(p) &&
                (if (pOnLeft) fromRight(hi) else fromLeft(hi)) => hi
            case GreaterThanOrEqual(hi, p2) if p2.semanticEquals(p) &&
                (if (pOnLeft) fromRight(hi) else fromLeft(hi)) => hi
          }
          hiOpt.map(hi => (p, lo, hi, pOnLeft))
        }.collectFirst {
          // LEFT OUTER survives only when the (never-duplicated) point
          // side is the preserved side
          case r @ (_, _, _, pOnLeft) if jt == Inner || pOnLeft => r
        }

        rewrite match {
          case Some((p, lo, hi, pOnLeft))
              if !hasEqui &&
                p.deterministic && lo.deterministic && hi.deterministic =>
            val (pointSide, ivSide) = if (pOnLeft) (left, right) else (right, left)
            val pAlias = Alias(bucket(p), s"${MARKER}_p")()
            val newPoints = Project(pointSide.output :+ pAlias, pointSide)
            // Sequence is TimeZoneAwareExpression: `resolved` demands a
            // zone id even for integral sequences, and the analyzer
            // pass that fills it has already run — set it here
            val gener = Explode(Sequence(bucket(lo), bucket(hi), None,
              Some(conf.getConf(SQLConf.SESSION_LOCAL_TIMEZONE))))
            // the Generate output must mirror the generator's element
            // schema exactly (sequence elements are non-nullable) or
            // the plan silently de-resolves
            val genOut = AttributeReference(s"${MARKER}_i", LongType,
              nullable = gener.elementSchema.head.nullable)()
            val gen = Generate(gener,
              unrequiredChildIndex = Nil, outer = false, qualifier = None,
              generatorOutput = Seq(genOut), child = ivSide)
            val newCond = And(EqualTo(pAlias.toAttribute, genOut), cond)
            val (nl, nr) = if (pOnLeft) (newPoints, gen) else (gen, newPoints)
            Project(left.output ++ right.output,
              Join(nl, nr, jt, Some(newCond), hint))
          case _ => j
        }
    }
  }
}
