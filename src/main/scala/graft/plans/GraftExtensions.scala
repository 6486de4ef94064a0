package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.VectorExpressions

/** Session-extension entry point: enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  * Injects the engine's native expressions and optimizer rules (the
  * table in [[graft.functions.VectorExpressions]]) so both SQL text and
  * the Column API resolve them, plus the transactional-table parser. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorExpressions.functions.foreach(ext.injectFunction)
    VectorExpressions.optimizerRules.foreach(ext.injectOptimizerRule)
    // plain spark.sql() speaks the transactional table's DML/DDL
    // dialect: MERGE INTO / UPDATE / DELETE on txtable targets and the
    // Delta-grammar statements route onto the TxSql face; every other
    // statement passes through the delegate untouched
    ext.injectParser((session, parser) => new TxSqlParser(session, parser))
  }
}
