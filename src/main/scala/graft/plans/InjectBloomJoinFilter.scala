package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, Expression, ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

import graft.functions.{BloomAgg, BloomMightContain}

/** Optimizer rule: BLOOM-PREFILTERED equi-joins — the d9
  * decontamination trick, applied by the PLANNER instead of by hand.
  *
  * For an equi-join whose build side is small (by logical stats) and
  * probe side large, rewrite
  *
  *   probe JOIN build ON pk = bk
  *   =>  (probe WHERE bloom_might_contain(<bloom of build's bk>,
  *        xxhash64(pk))) JOIN build ON pk = bk
  *
  * where the bloom is a scalar subquery: one `BloomAgg` over the
  * build side's keys, collected once on the driver and shipped to
  * probe-side tasks as a constant bit array. Probe rows that cannot
  * possibly match are dropped INSIDE the probe side's own scan stage —
  * before the join shuffle — so the shuffle shrinks by the bloom's
  * rejection rate while the result stays bit-identical: a bloom has
  * zero false negatives, and its false positives still meet the exact
  * join condition afterwards. (Same contract as Spark's own runtime
  * row-level filtering; this rule is the engine-native form over
  * graft's mergeable BloomAgg, and composes with AQE untouched.)
  *
  * Heuristics: build side stats at most [[MaxBuildBytes]] (the bloom
  * build must be cheap and its n small enough for the stats-sized bit
  * count to stay selective), probe side at least `minProbeBytes` (a
  * conf; below that the shuffle being saved costs less than the extra
  * aggregate), and probe at least 4x build (a
  * near-symmetric join gains nothing). Conservative defaults keep the
  * rule dormant on small data; a 100 TB probe against a bounded build
  * side is exactly when it fires. Stream-stream joins never get it:
  * their sides are join state, not one batch's rows.
  */
object InjectBloomJoinFilter extends Rule[LogicalPlan] with PredicateHelper {
  val EnabledKey = "spark.graft.bloomJoin.enabled"
  val MinProbeKey = "spark.graft.bloomJoin.minProbeBytes"
  private val MaxBuildBytes = 8L << 20
  private val NumHashes = 5

  private def long(conf: SQLConf, key: String, dflt: Long): Long =
    conf.getConfString(key, dflt.toString).toLong

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = SQLConf.get
    if (!conf.getConfString(EnabledKey, "true").toBoolean) return plan
    val minProbe = long(conf, MinProbeKey, 64L << 20)

    // Side-eligibility by join type. A side may be bloom-filtered only
    // when its non-matching rows cannot appear in the result:
    //  - LEFT side: inner, left-semi, right-outer. NOT left-outer/anti
    //    (their non-matching left rows ARE output — a bloom-negative
    //    left row is exactly a row those joins must keep).
    //  - RIGHT side: inner, left-outer, left-semi, left-anti (removing
    //    right rows that match no left key cannot change any left
    //    row's match status), right-outer's mirror exclusion applies.
    def canFilterLeft(jt: Any): Boolean =
      jt == Inner || jt == LeftSemi || jt == RightOuter
    def canFilterRight(jt: Any): Boolean =
      jt == Inner || jt == LeftOuter || jt == LeftSemi || jt == LeftAnti

    plan.transformUp {
      // STREAM-STREAM joins skip: each side feeds join state that
      // outlives the micro-batch, so a row this batch's other side
      // cannot match may still match a later batch's row. (A side with
      // no new data is an empty streaming LocalRelation: its bloom is
      // empty and would reject every row of the other side.)
      case j @ Join(left, right, jt, Some(cond), hint)
          if (canFilterLeft(jt) || canFilterRight(jt)) &&
            !(left.isStreaming && right.isStreaming) =>
        // first equi-pair split by side; a multi-key join blooms on
        // one key (still zero false negatives — just less selective)
        val keys = splitConjunctivePredicates(cond).collectFirst {
          case EqualTo(l, r) if l.references.nonEmpty &&
              l.references.subsetOf(left.outputSet) &&
              r.references.subsetOf(right.outputSet) => (l, r)
          case EqualTo(l, r) if r.references.nonEmpty &&
              r.references.subsetOf(left.outputSet) &&
              l.references.subsetOf(right.outputSet) => (r, l)
        }
        // SELF-DERIVED joins skip: a build side that reads any of the
        // probe's own leaf relations can reject (almost) nothing —
        // every probe key exists on the build's source, so the bloom
        // is pure overhead (measured: graph label-joins, shingle
        // self-joins, recursive frontiers pay the aggregate + filter
        // and drop zero rows). Canonicalized leaf overlap is the
        // cheap, safe detector.
        def leavesOf(p: LogicalPlan) =
          p.collectLeaves().map(_.canonicalized).toSet
        lazy val selfDerived = leavesOf(left).intersect(leavesOf(right))
          .nonEmpty
        // ... and leaf overlap cannot see DERIVATION through a
        // materialization boundary: a checkpointed iteration state
        // (LogicalRDD) or a recursive/CTE reference is, in this
        // engine, always computed FROM the relation it joins back to —
        // whichever side it sits on, the join is a round-loop where
        // the bloom rejects (almost) nothing (and a LogicalRDD's
        // default stats are bogus anyway: Long.Max "probe" sizes).
        // Joins touching such a leaf on EITHER side skip; genuine
        // dimension joins (scan/literal leaves on both sides) keep
        // firing — which is the only shape the bloom wins at 100 TB.
        def derivedLeaf(p: LogicalPlan): Boolean =
          p.collectLeaves().exists {
            case _: org.apache.spark.sql.execution.LogicalRDD => true
            case l => l.nodeName.contains("CTERelationRef") ||
              l.nodeName.contains("UnionLoopRef")
          }
        keys match {
          case Some((lk, rk)) if lk.deterministic && rk.deterministic &&
              !selfDerived && !derivedLeaf(left) && !derivedLeaf(right) =>
            val (ls, rs) = (left.stats.sizeInBytes, right.stats.sizeInBytes)
            if (canFilterLeft(jt) && rs <= MaxBuildBytes && ls >= minProbe &&
                ls >= rs * 4 && !hasBloomFilter(left) &&
                isDeterministic(right)) {
              j.copy(left = prefilter(left, lk, right, rk,
                numBitsFor(rs)))
            } else if (canFilterRight(jt) && ls <= MaxBuildBytes &&
                rs >= minProbe && rs >= ls * 4 && !hasBloomFilter(right) &&
                isDeterministic(left)) {
              j.copy(right = prefilter(right, rk, left, lk,
                numBitsFor(ls)))
            } else j
          case _ => j
        }
    }
  }

  /** Filter size from the build side's byte stats: ~1 bit per
    * build-side BYTE approximates 20-50 bits per key
    * at typical row widths — comfortably past the ~10 bits/key a ~1%
    * false-positive rate needs (an oversized build never reaches this:
    * [[MaxBuildBytes]] rejects it first). Clamped to [2^17, 2^27] bits
    * (a 16 KB - 16 MB bit array) and rounded up to the required
    * multiple of 64. */
  private def numBitsFor(buildBytes: BigInt): Int = {
    val target = buildBytes.max(BigInt(1L << 17)).min(BigInt(1L << 27)).toLong
    ((target + 63) / 64 * 64).toInt
  }

  /** probe -> Filter(bloom_might_contain(<subquery>, xxhash64(key))). */
  private def prefilter(probe: LogicalPlan, probeKey: Expression,
      build: LogicalPlan, buildKey: Expression,
      numBits: Int): LogicalPlan = {
    val agg = BloomAgg(new XxHash64(Seq(buildKey)), numBits, NumHashes)
      .toAggregateExpression()
    val bloomPlan = Aggregate(Nil, Seq(Alias(agg, "graft_bloom")()), build)
    Filter(
      BloomMightContain(ScalarSubquery(bloomPlan),
        new XxHash64(Seq(probeKey)), NumHashes),
      probe)
  }

  /** Determinism guard (mirrors Spark's InjectRuntimeFilter): the rule
    * evaluates the build side TWICE — once inside the bloom scalar
    * subquery, once in the join proper. If any expression anywhere in
    * the build plan is nondeterministic (rand(), sampling, monotonic
    * ids), the two evaluations can disagree; a key present in the join
    * evaluation but absent from the bloom evaluation would then be
    * FALSELY rejected — a bloom false NEGATIVE, silently dropping
    * matching probe rows. Only inject when every node's expressions are
    * deterministic. */
  private def isDeterministic(p: LogicalPlan): Boolean =
    !p.exists(n => n.expressions.exists(e => !e.deterministic))

  /** Idempotence guard: the fixed-point batch must not stack a second
    * bloom onto a side this rule (or the user, d9-style) already
    * prefiltered. Searches the whole side — pushdown rules in the same
    * batch can sink the injected Filter under a Project/other Filter,
    * where a direct-child check would miss it and re-inject every
    * fixpoint iteration. */
  private def hasBloomFilter(p: LogicalPlan): Boolean =
    p.exists {
      case Filter(c, _) => c.exists(_.isInstanceOf[BloomMightContain])
      case _ => false
    }
}
