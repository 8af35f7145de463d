package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native MinHash signature: all `numPerms` LCG-permutation minima over a
  * (distinct) shingle array in one pass — the projection-form signature
  * ([[graft.dedup.Dedup.withMinhash]]) as a compiled kernel.
  *
  * The higher-order-fold formulation interprets its lambdas per array
  * element — measured ~8× the cost of the equivalent aggregation plan on
  * the bench corpus, which made the map-only "no shuffle" path SLOWER
  * than the shuffle it avoids. This computes the identical longs (same
  * md5-prefix ids, same `Dedup.hashA/hashB` constants — DedupStreamSpec
  * pins projection == aggregation, and the d6 oracle replays the math in
  * DuckDB) in a tight loop: one md5 per shingle, then `numPerms`
  * multiply-mod-min steps. NULL for an empty array, mirroring the
  * aggregation form omitting shingle-less docs.
  */
case class MinhashSigExpr(child: Expression, numPerms: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty shingle array → null

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"MinhashSig expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    MinhashSig.compute(input.asInstanceOf[ArrayData], numPerms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinhashSig.compute($c, $numPerms);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

object MinhashSig {
  private val P = 2147483647L // 2^31-1, Dedup.P

  /** ha/hb permutation tables are a pure function of `numPerms` — built
    * once per width, not per row. At most a handful of widths live in a
    * session, so an unbounded-in-theory map is fine in practice.
    */
  private val permTables =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def perms(numPerms: Int): (Array[Long], Array[Long]) =
    permTables.computeIfAbsent(numPerms, n =>
      (Array.tabulate(n)(graft.dedup.Dedup.hashA),
        Array.tabulate(n)(graft.dedup.Dedup.hashB)))

  /** MessageDigest is not thread-safe but is reusable — one per executor
    * thread, reset per shingle.
    */
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** The kernel (static-forwarded for generated code). `strId` semantics:
    * first 15 hex chars of md5 = the high 60 bits of the first 8 digest
    * bytes, reduced mod P — byte-for-byte what
    * `conv(substring(md5(s), 1, 15), 16, 10) % P` computes.
    */
  def compute(arr: ArrayData, numPerms: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(numPerms)(P)
    val (ha, hb) = perms(numPerms)
    val md = digests.get()
    var i = 0
    while (i < n) {
      md.reset()
      val dig = md.digest(arr.getUTF8String(i).getBytes)
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (dig(k) & 0xffL); k += 1 }
      val sid = (v >>> 4) % P // high 60 bits = first 15 hex chars
      var j = 0
      while (j < numPerms) {
        val p = (ha(j) * sid + hb(j)) % P
        if (p < mins(j)) mins(j) = p
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def apply(shingles: Column, numPerms: Int): Column =
    column(MinhashSigExpr(expression(shingles), numPerms))
}
