package graft.operators

import java.time.Duration

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, IntegralDivide, Literal, Pmod, Subtract, UnixMicros}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}
import org.apache.spark.sql.types.{LongType, Metadata, StructType}

/** Event-time interval join: pairs (l, r) with l.key = r.key and
  * r.time in (l.time - delta, l.time].
  *
  * This is the reference's flagship operator (StreamingJob.java:94-105:
  * `o.currency = r.currency AND o.eventtime >= r.eventtime AND
  * r.eventtime > o.eventtime - INTERVAL '5' SECOND`). Callers write it
  * as a plain join, in SQL or with `Dataset.join`;
  * `plans.RewriteIntervalJoin` matches the condition and plans it.
  *
  * Scale design: the naive plan equi-joins on the key alone. With a
  * low-cardinality key (5 currencies) that assigns entire key domains
  * to single shuffle partitions — at 100 TB, 5 partitions own all the
  * data. The rule instead hashes both sides into time buckets of width
  * delta (each right row duplicated into buckets [b, b+1], the only two
  * a left row in bucket b can see), and joins on (key, bucket): join
  * cardinality now scales with the time domain, so 1000 executors all
  * get work regardless of key skew. The exact range predicate is
  * applied per pair; each matching pair satisfies it in exactly one
  * bucket copy, so no duplicates arise and left-outer semantics are
  * preserved (the left side is never duplicated).
  */
object IntervalJoin {
  /** The bucket of a timestamp, an exact integer floor-div —
    * `(x - pmod(x, d)) div d` — shared by the batch and the stream
    * plan. `floor(x / d)` over doubles loses exactness past 2^52 µs
    * and can misbucket a boundary timestamp. */
  private[graft] def bucket(t: Expression, deltaUs: Long): Expression = {
    val x = UnixMicros(t)
    val d = Literal(deltaUs, LongType)
    IntegralDivide(Subtract(x, Pmod(x, d)), d)
  }

  /** The stream plan of a matched interval join of two watermarked
    * streams: the bucket scheme run as one keyed-state operator
    * (`transformWithState`, event time, append) over a tagged union of
    * both sides, instead of Spark's `StreamingSymmetricHashJoinExec`.
    * Same rows as Spark's stream-stream join with the same condition:
    * rows at or below the watermark are dropped on arrival by the same
    * late-row rule, a null-key left row is one null row under
    * `outer`, and a row with a null key or time never matches.
    *
    * Why not Spark's join: its exec node broadcasts the session's Hadoop
    * conf (~114 KB, 10–15 ms to serialize) in its constructor, and
    * planning copies the node about 18 times per micro-batch, so a small
    * trigger spent ~40% of its time re-serializing that conf. Its state
    * protocol also costs ≈5 puts and ≈12 gets per row; this operator
    * makes a few per key and trigger.
    *
    * State per (key, bucket): the left rows and the right rows, each in
    * an appended `ListState`, and one event-time timer at the bucket's
    * end. A right row is copied into buckets b and b+1, so each
    * matching pair meets in exactly one key and left rows are never
    * duplicated. Once the watermark passes the bucket's end no
    * unexpired row can reach the key; the timer then emits the left
    * rows without a match as null rows (`outer`) and clears the key. At
    * that point the key holds every right row that could match its left
    * rows, so no matched flag is stored.
    *
    * Output: the left columns, then the right, named `_0`, `_1`, …;
    * the rule aliases them back to the join's attributes. */
  private[graft] def streaming(spark: SparkSession, left: LogicalPlan, right: LogicalPlan,
      leftKey: Expression, rightKey: Expression, leftTime: Attribute, rightTime: Attribute,
      deltaUs: Long, outer: Boolean): LogicalPlan = {
    import SparkShims.column
    // each side as one struct, named by position (the sides may share
    // names); watermark metadata stays on `__graft_t` alone: one
    // event-time column for the operator, none in its state or output
    def fields(p: LogicalPlan, from: Int) = struct(p.output.zipWithIndex.map { case (a, i) =>
      column(a).as(s"_${from + i}", Metadata.empty) }: _*)
    val (lKey, rKey) = (column(leftKey), column(rightKey))
    val (lt, rt) = (column(leftTime), column(rightTime))
    // the filters Spark infers for the same join: a null key or time can
    // never match; under outer a null-key left row still comes out
    val l = SparkShims.ofRows(spark, left)
      .where(if (outer) lt.isNotNull else lt.isNotNull && lKey.isNotNull)
    val r = SparkShims.ofRows(spark, right).where(rKey.isNotNull && rt.isNotNull)
    val rb = column(bucket(rightTime, deltaUs))
    // the first union side's `__graft_t` keeps its watermark metadata,
    // which is what the operator's late-row filter reads; each side's
    // missing struct comes out null
    val tagged = l.select(lit(true).as("__graft_left"), lKey.as("__graft_key"),
        column(bucket(leftTime, deltaUs)).as("__graft_bucket"), lt.as("__graft_t"),
        fields(left, 0).as("__graft_l"))
      .unionByName(r.select(lit(false).as("__graft_left"), rKey.as("__graft_key"),
        explode(array(rb, rb + 1)).as("__graft_bucket"), rt.as("__graft_t"),
        fields(right, left.output.size).as("__graft_r")), allowMissingColumns = true)
    val plain = StructType(tagged.schema.map(_.copy(metadata = Metadata.empty)))
    val Seq(lSchema, rSchema) = Seq("__graft_l", "__graft_r")
      .map(plain(_).dataType.asInstanceOf[StructType])
    val keySchema = StructType(Seq(plain("__graft_key"), plain("__graft_bucket")))
    val outSchema = StructType(lSchema ++ rSchema.map(f => f.copy(nullable = f.nullable || outer)))
    val proc = new IntervalJoinProcessor(ExpressionEncoder(lSchema), ExpressionEncoder(rSchema),
      left.output.indexWhere(_.exprId == leftTime.exprId),
      right.output.indexWhere(_.exprId == rightTime.exprId), rSchema.length, deltaUs, outer)
    SparkShims.logicalPlan(tagged.groupBy(col("__graft_key"), col("__graft_bucket"))
      .as[Row, Row](ExpressionEncoder(keySchema), ExpressionEncoder(plain))
      .transformWithState(proc, TimeMode.EventTime(), OutputMode.Append())(
        ExpressionEncoder(outSchema))
      .toDF())
  }

  /** Naive plan (equi-join on key + range filter over `unix_micros`, a
    * condition the rule does not match). Correct, and fine when the key
    * is high-cardinality; used in tests as the oracle for the rule's
    * plans. */
  def naive(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      delta: Duration, joinType: String = "inner"): DataFrame = {
    val deltaUs = delta.toMillis * 1000L
    val cond = left(leftKey) === right(rightKey) &&
      unix_micros(right(rightTime)) <= unix_micros(left(leftTime)) &&
      unix_micros(right(rightTime)) > unix_micros(left(leftTime)) - deltaUs
    left.join(right, cond, joinType)
  }
}

/** The keyed state of `IntervalJoin.streaming` for one (key, bucket).
  * Input rows are `(isLeft, key, bucket, t, left, right)`; the state
  * encoders are built once on the driver and shipped with the
  * processor. A null key only ever comes with left rows under
  * `left_outer` (the operator filters the rest), and never matches. */
private[graft] class IntervalJoinProcessor(
    leftEnc: Encoder[Row], rightEnc: Encoder[Row],
    leftTime: Int, rightTime: Int, rightWidth: Int, deltaUs: Long, outer: Boolean)
    extends StatefulProcessor[Row, Row, Row] {
  @transient private var lefts: ListState[Row] = _
  @transient private var rights: ListState[Row] = _
  private val noMatch = Row.fromSeq(Seq.fill(rightWidth)(null))

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    lefts = getHandle.getListState("left", leftEnc, TTLConfig.NONE)
    rights = getHandle.getListState("right", rightEnc, TTLConfig.NONE)
  }

  private def micros(row: Row, i: Int): Long = DateTimeUtils.anyToMicros(row.get(i))
  private def matches(lt: Long, rt: Long): Boolean = rt <= lt && rt > lt - deltaUs
  private def joined(l: Row, r: Row): Row = Row.fromSeq(l.toSeq ++ r.toSeq)

  override def handleInputRows(key: Row, rows: Iterator[Row],
      timerValues: TimerValues): Iterator[Row] = {
    val (ls, rs) = rows.toVector.partition(_.getBoolean(0))
    val newL = ls.map(_.getStruct(4))
    val newR = rs.map(_.getStruct(5))
    if (key.isNullAt(0)) return newL.iterator.map(joined(_, noMatch))
    val out = ArrayBuffer.empty[Row]
    def probe(ls: Iterable[Row], rs: Iterable[Row]): Unit = {
      val rts = rs.map(r => (r, micros(r, rightTime)))
      for (l <- ls; lt = micros(l, leftTime); (r, rt) <- rts if matches(lt, rt))
        out += joined(l, r)
    }
    // new right rows meet the stored left rows, then new left rows meet
    // every right row; each pair is seen once
    if (newR.nonEmpty) probe(lefts.get().toVector, newR)
    if (newL.nonEmpty) {
      probe(newL, rights.get().toVector ++ newR)
      lefts.appendList(newL.toArray)
    }
    if (newR.nonEmpty) rights.appendList(newR.toArray)
    // one timer per key, at the bucket's end (consumed to the end: the
    // scan holds a store iterator)
    if (getHandle.listTimers().toList.isEmpty)
      getHandle.registerTimer((key.getLong(1) + 1) * deltaUs / 1000)
    out.iterator
  }

  override def handleExpiredTimer(key: Row, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Row] = {
    val unmatched = if (!outer) Vector.empty else {
      val rts = rights.get().map(micros(_, rightTime)).toVector
      lefts.get().filter { l =>
        val lt = micros(l, leftTime)
        !rts.exists(matches(lt, _))
      }.map(joined(_, noMatch)).toVector
    }
    lefts.clear()
    rights.clear()
    unmatched.iterator
  }
}
