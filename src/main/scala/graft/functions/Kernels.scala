package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one registration path of graft's native kernels. A kernel's name
  * carries every constant that defines it (its parameters, or a digest of
  * its fitted state), so a name the session's registry already holds IS
  * this kernel: it is kept, not replaced. Replacing it on every use logged
  * one "replaced a previously registered function" WARN per call.
  */
object Kernels {
  def register(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): String = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    name
  }
}
