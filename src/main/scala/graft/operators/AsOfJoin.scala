package graft.operators

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: for each left row, attach the single latest
  * right row with right.time <= left.time on the same key (optionally
  * within a staleness tolerance). This is the *intent* of the
  * reference's enrichment query ("the exchange rate which was
  * applicable at the time of the transaction", README use-case;
  * StreamingJob.java:94-105 approximates it with a 5 s interval join).
  *
  * Plan: tag both sides, union, one shuffle on the key, then an
  * ordered window carries the last right-side value forward onto each
  * left row. No n x m pair blow-up, no driver state; cost is one
  * shuffle + sort, independent of how many right rows precede a left
  * row. For low-cardinality keys at extreme scale, prefer
  * `backwardBounded`, which reuses the time-bucketed interval join
  * (high-cardinality shuffle keys) and takes the latest match per
  * left row.
  */
object AsOfJoin {
  /** Exact backward as-of join via union + ordered window.
    *
    * @param key common equality-key column name (same name both sides)
    * @param valueCols right-side columns to attach
    * @param tolerance if set, matches older than left.time - tolerance
    *                  are nulled out
    */
  def backward(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      valueCols: Seq[String],
      tolerance: Option[Duration] = None): DataFrame = {
    val lCols = left.columns.toSeq
    require(valueCols.forall(!lCols.contains(_)),
      "right value columns must not collide with left column names")
    val rightTypes = right.schema.fields.map(f => f.name -> f.dataType).toMap

    // All right-side fields travel as ONE struct so the carried values
    // always come from the same right row: carrying each column through
    // its own last(ignoreNulls) would mix fields across right rows
    // whenever a value column is null, and the staleness guard would
    // check a timestamp the values didn't come from.
    val packType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__g_rt", right.schema(rightTime).dataType) +:
        valueCols.map(c => org.apache.spark.sql.types.StructField(c, rightTypes(c))))
    val lPart = left
      .withColumn("__g_t", col(leftTime))
      .withColumn("__g_side", lit(1))
      .withColumn("__g_pack", lit(null).cast(packType))
      .select((Seq(col("__g_t"), col("__g_side"), col("__g_pack")) ++
        lCols.map(col)): _*)
    val rPart = right
      .withColumn("__g_t", col(rightTime))
      .withColumn("__g_side", lit(0))
      .withColumn("__g_pack",
        struct(col(rightTime).as("__g_rt") +: valueCols.map(col): _*))
      .select((Seq(col("__g_t"), col("__g_side"), col("__g_pack")) ++
        lCols.map(c => if (c == key) col(key)
                       else lit(null).cast(left.schema(c).dataType).as(c))): _*)

    // Right rows sort before left rows at equal timestamps, so a rate
    // stamped exactly at order time is visible (matches <=). The pack
    // struct is the FINAL sort key: two right rows sharing (key, time)
    // would otherwise make last() partition-order-dependent (a latent
    // run-to-run nondeterminism / oracle-hash flake); with it, the
    // greatest pack (lexicographic over __g_rt then valueCols) wins
    // deterministically. Skipped only for non-orderable value types.
    val tieKeys = if (RowOrdering.isOrderable(packType))
      Seq(col("__g_pack")) else Nil
    val w = Window.partitionBy(key)
      .orderBy(col("__g_t") +: col("__g_side") +: tieKeys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withVals = lPart.unionByName(rPart)
      .withColumn("__g_last", last(col("__g_pack"), ignoreNulls = true).over(w))
      .where(col("__g_side") === 1)

    val matched: Column = tolerance match {
      case Some(tol) =>
        val tolUs = tol.toMillis * 1000L
        unix_micros(col("__g_last.__g_rt")) > unix_micros(col("__g_t")) - tolUs
      case None => col("__g_last").isNotNull
    }
    withVals
      .withColumns(valueCols.map(c =>
        c -> when(matched, col(s"__g_last.$c"))).toMap)
      .select((lCols ++ valueCols).map(col): _*)
  }

  /** FORWARD as-of join: for each left row, the single EARLIEST right
    * row with right.time >= left.time on the same key (the pandas
    * `merge_asof(direction="forward")` semantics — "the next quote
    * after the order"). Same union + one-shuffle plan as [[backward]],
    * with the window traversing time DESCENDING so the carried pack is
    * the nearest following right row; a right row stamped exactly at
    * left.time is visible (matches >=). `tolerance` nulls out matches
    * later than left.time + tolerance. */
  def forward(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      valueCols: Seq[String],
      tolerance: Option[Duration] = None): DataFrame = {
    val lCols = left.columns.toSeq
    require(valueCols.forall(!lCols.contains(_)),
      "right value columns must not collide with left column names")
    val rightTypes = right.schema.fields.map(f => f.name -> f.dataType).toMap
    val packType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__g_rt", right.schema(rightTime).dataType) +:
        valueCols.map(c => org.apache.spark.sql.types.StructField(c, rightTypes(c))))
    val lPart = left
      .withColumn("__g_t", col(leftTime))
      .withColumn("__g_side", lit(1))
      .withColumn("__g_pack", lit(null).cast(packType))
      .select((Seq(col("__g_t"), col("__g_side"), col("__g_pack")) ++
        lCols.map(col)): _*)
    val rPart = right
      .withColumn("__g_t", col(rightTime))
      .withColumn("__g_side", lit(0))
      .withColumn("__g_pack",
        struct(col(rightTime).as("__g_rt") +: valueCols.map(col): _*))
      .select((Seq(col("__g_t"), col("__g_side"), col("__g_pack")) ++
        lCols.map(c => if (c == key) col(key)
                       else lit(null).cast(left.schema(c).dataType).as(c))): _*)
    // descending time; right rows still sort before left at equal
    // timestamps (side 0 < 1), so an exactly-coincident right row is
    // carried onto the left row — the >= bound. Same deterministic
    // greatest-pack tiebreak at equal (key, time) as [[backward]].
    val tieKeys = if (RowOrdering.isOrderable(packType))
      Seq(col("__g_pack")) else Nil
    val w = Window.partitionBy(key)
      .orderBy(col("__g_t").desc +: col("__g_side") +: tieKeys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withVals = lPart.unionByName(rPart)
      .withColumn("__g_last", last(col("__g_pack"), ignoreNulls = true).over(w))
      .where(col("__g_side") === 1)
    val matched: Column = tolerance match {
      case Some(tol) =>
        val tolUs = tol.toMillis * 1000L
        unix_micros(col("__g_last.__g_rt")) < unix_micros(col("__g_t")) + tolUs
      case None => col("__g_last").isNotNull
    }
    withVals
      .withColumns(valueCols.map(c =>
        c -> when(matched, col(s"__g_last.$c"))).toMap)
      .select((lCols ++ valueCols).map(col): _*)
  }

  /** NEAREST as-of join: for each left row, whichever of its backward
    * and forward matches lies closer in time (pandas
    * `direction="nearest"`); ties and single-sided matches resolve to
    * the backward row. `tolerance` bounds the distance on BOTH sides.
    * Runs the two directional joins (one shuffle each) and chooses per
    * row — the choice needs both candidates' timestamps, so it cannot
    * be cheaper than computing both. Requires a unique left id for
    * the recombination join. */
  def nearest(
      left: DataFrame, right: DataFrame,
      key: String, leftId: String, leftTime: String, rightTime: String,
      valueCols: Seq[String],
      tolerance: Option[Duration] = None): DataFrame = {
    val lCols = left.columns.toSeq
    // carry each direction's matched timestamp so the chooser can
    // compare distances (rightTime must not collide with left names)
    val rt = "__g_near_rt"
    require(!lCols.contains(rt) && valueCols.forall(_ != rt))
    val rWithRt = right.withColumn(rt, col(rightTime))
    val b = backward(left, rWithRt, key, leftTime, rightTime,
      valueCols :+ rt, tolerance)
    val f = forward(left, rWithRt, key, leftTime, rightTime,
      valueCols :+ rt, tolerance)
    val fSel = f.select(col(leftId).as("__g_fid") +:
      (valueCols :+ rt).map(c => col(c).as(s"__g_f_$c")): _*)
    val dist = (a: Column) => abs(unix_micros(a) - unix_micros(col(leftTime)))
    val useForward = col(s"__g_f_$rt").isNotNull &&
      (col(rt).isNull || dist(col(s"__g_f_$rt")) < dist(col(rt)))
    b.join(fSel, col(leftId) === col("__g_fid"))
      .withColumns(valueCols.map(c =>
        c -> when(useForward, col(s"__g_f_$c")).otherwise(col(c))).toMap)
      .select((lCols ++ valueCols).map(col): _*)
  }

  /** Backward as-of join through graft's custom operator
    * (`plans.AsOfJoinPlan` -> `AsOfMergeJoinExec`): one hash exchange +
    * sort per side, then a single forward merge pass per partition —
    * no union-schema widening, no window frame. Requires
    * `AsOfJoinStrategy` to be registered (GraftExtensions, or any
    * GraftSession). Output = left columns ++ right columns
    * (null-extended when no match). Null keys compare equal to each
    * other (ordering semantics), unlike SQL equality. */
  def merge(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      tolerance: Option[java.time.Duration] = None): DataFrame = {
    import org.apache.spark.sql.graftshim.SparkShims
    val spark = left.sparkSession
    // self-register the strategy for sessions built without
    // GraftExtensions (e.g. the driver's plain builder)
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(graft.plans.AsOfJoinStrategy)) {
      exp.extraStrategies = exp.extraStrategies :+ graft.plans.AsOfJoinStrategy
    }
    val plan = graft.plans.AsOfJoinPlan(
      SparkShims.logicalPlan(left), SparkShims.logicalPlan(right),
      Seq(SparkShims.expression(left(leftKey))),
      Seq(SparkShims.expression(right(rightKey))),
      SparkShims.expression(left(leftTime)),
      SparkShims.expression(right(rightTime)),
      tolerance.map(_.toMillis * 1000L))
    SparkShims.ofRows(spark, plan)
  }

  /** Skew-resistant as-of join with a hard staleness bound: an interval
    * join (time-bucketed by `plans.RewriteIntervalJoin`, see
    * IntervalJoin) then latest-match-per-left-row.
    * Requires a unique left row id for the argmax. */
  def backwardBounded(
      left: DataFrame, right: DataFrame,
      key: String, leftId: String, leftTime: String, rightTime: String,
      tolerance: Duration, joinType: String = "left_outer"): DataFrame = {
    val r = right.withColumnRenamed(key, "__g_rkey")
    val joined = left.join(r, left(key) === r("__g_rkey") && r(rightTime) <= left(leftTime) &&
      r(rightTime) > left(leftTime) - lit(tolerance), joinType)
    val w = Window.partitionBy(col(leftId))
      .orderBy(col(rightTime).desc_nulls_last)
    joined.withColumn("__g_rn", row_number().over(w))
      .where(col("__g_rn") === 1)
      .drop("__g_rn", "__g_rkey")
  }
}
