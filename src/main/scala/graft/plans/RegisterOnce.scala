package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Register a temp function only when the session doesn't already have
  * it. Registration is the SQL surface of the native expressions (their
  * names in SQL text or `call_function`), for callers that want them by
  * name; the program itself builds them as Columns and registers
  * nothing. `createOrReplaceTempFunction` on every call is idempotent
  * but logs a `SimpleFunctionRegistry: ... replaced` WARN per call, so
  * the check keeps repeated registration silent.
  *
  * A lost check-then-act race between two threads merely degrades to
  * one replace WARN; the registered builder is identical either way.
  */
object RegisterOnce {
  def apply(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
