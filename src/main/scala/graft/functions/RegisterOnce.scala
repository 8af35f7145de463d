package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Session registration of a STATELESS native function — one whose
  * builder carries no per-call table, so the first registration in a
  * session serves every later call. Skipping the re-registration keeps
  * `SimpleFunctionRegistry`'s "replaced a previously registered function"
  * warning out of every query. The parameterized kernels (ArgTopCells,
  * PqEncode, LshBucket, MinhashSig, SimhashSig) bind per-call tables into
  * their builders and keep replacing.
  */
private[functions] object RegisterOnce {

  def apply(spark: SparkSession, name: String,
            builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
