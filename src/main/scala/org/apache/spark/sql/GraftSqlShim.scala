package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal private[sql] bridge for the graft engine's native Catalyst
  * expressions (the Column ⇄ Expression converters are private[sql] in
  * Spark 4; third-party Catalyst extensions conventionally shim them
  * from inside the package — same technique as Sedona / Frameless). */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c IN values` as one hashed `InSet` literal — a scan predicate
    * (pushed to parquet as `In`) in place of a broadcast semi-join, so a
    * driver-held id set costs no Spark job. `values` are external Scala
    * values of `c`'s type (Long, String, Row for a struct key); the
    * result follows SQL `IN` null semantics. */
  def inSet(c: Column, values: Iterable[Any]): Column =
    column(catalyst.expressions.InSet(expression(c),
      values.map(catalyst.CatalystTypeConverters.convertToCatalyst).toSet))

  /** `df`'s analyzed plan as a frame of `spark`. A query runs in the
    * session of the frame its action is called on, and an `Observation`
    * completes only through the session it was registered with; a
    * `foreachBatch` frame belongs to the stream's cloned session, so an
    * observation on it would never complete when the frame is unioned
    * into a query of `spark`. */
  def inSession(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)

  /** Register a native expression into an ALREADY-BUILT session (for
    * sessions not constructed with `spark.sql.extensions` — e.g. the
    * shared test session). Prefer `graft.GraftExtensions` at build
    * time in production. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Apply a SparkSessionExtensions module to an ALREADY-BUILT session:
    * injected functions land in its FunctionRegistry and injected
    * optimizer rules append to `experimental.extraOptimizations`
    * (deduplicated). Production sessions should instead pass the class
    * via `spark.sql.extensions`; this bridge exists so the shared test
    * session can exercise the exact production wiring. */
  def applyExtensions(spark: SparkSession,
      f: SparkSessionExtensions => Unit): Unit = {
    val ext = new SparkSessionExtensions
    f(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
    val rules = ext.buildOptimizerRules(spark)
      .filterNot(spark.experimental.extraOptimizations.contains)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations ++ rules
  }
}
