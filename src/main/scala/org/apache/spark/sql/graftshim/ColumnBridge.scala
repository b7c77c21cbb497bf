package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the direct constructors
  * private[sql]; extension libraries reach them via a package-nested shim
  * (the same pattern third-party Spark connectors use).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on a live session (the classic-session
    * FunctionRegistry is private[sql]; SparkSessionExtensions.injectFunction
    * only applies at build time).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Release the storage blocks behind a `localCheckpoint()`ed frame.
    * `Dataset.unpersist` only talks to the CacheManager (plan-keyed
    * cache entries); a local checkpoint's MEMORY_AND_DISK blocks belong
    * to the internal RDD inside the plan's `LogicalRDD` leaf and
    * otherwise live until the ContextCleaner GCs the RDD — exactly the
    * cache pressure a long bench run can't afford. Non-blocking
    * unpersist: in-flight tasks reading a block finish against it.
    */
  def unpersistCheckpointed(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

}
