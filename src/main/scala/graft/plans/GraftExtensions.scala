package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: installs graft's native SQL
  * functions. Enable with
  * `.config("spark.sql.extensions", classOf[GraftExtensions].getName)`
  * (done by `graft.GraftSession.builder`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    ext.injectOptimizerRule(_ => RewriteIntervalJoin)
    ext.injectPostHocResolutionRule(session => RewriteIntervalJoin.AtStreamStart(session))
    ext.injectOptimizerRule(_ => RewriteRangeJoin)
    ext.injectOptimizerRule(_ => InjectBloomJoinFilter)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // SQL DELETE/UPDATE/MERGE on graft tables: replace the resolved
    // node with the CoW command before planning refuses v1 DML
    ext.injectPostHocResolutionRule(session => GraftDmlRule(session))
    // unfiltered ungrouped COUNT(*) over a graft table answers from
    // the committed manifest's exact per-file row counts — zero data IO
    ext.injectPostHocResolutionRule(session =>
      GraftMetadataCountRule(session))
    // OPTIMIZE / VACUUM / DESCRIBE HISTORY — maintenance statements
    // Spark's grammar lacks — plus the VERSION AS OF / TIMESTAMP AS OF
    // rewrite over graft tables; everything else delegates to the
    // session parser untouched
    ext.injectParser((session, delegate) =>
      new GraftSqlParser(session, delegate))
    // table_changes('t', from[, to]) — the Delta-CDF batch read as a
    // registered table-valued function
    ext.injectTableFunction(GraftTimeTravel.tableChangesFunction)
  }
}
