package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 64-bit SimHash signature: the per-token ±1 bit votes and the
  * sign-bit packing over a (distinct) token array in one pass — the
  * projection-form signature ([[graft.dedup.Dedup.withSimhash]]) as a
  * compiled kernel, the SimHash sibling of [[MinhashSig]].
  *
  * The higher-order-fold formulation interpreted its lambdas per token ×
  * per bit (the documented trade that kept the batch path on the
  * aggregation plan); this computes the identical packed long — same
  * md5-prefix ids, same `Dedup.hashA/hashB` LCG parities, bit j set iff
  * the vote sum is strictly positive — in a tight loop, making the
  * map-only NO-SHUFFLE form the fast batch path too
  * ([[graft.dedup.Dedup.simhashPairs]] uses it; DedupStreamSpec pins
  * kernel == aggregation-plan equality, and the d4 oracle replays the
  * math in DuckDB). NULL for an empty token array, mirroring the
  * aggregation form omitting token-less docs.
  */
case class SimhashSigExpr(child: Expression, bits: Int)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true // empty token array → null

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"SimhashSig expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val counts = SimhashSig.votes(input.asInstanceOf[ArrayData], bits)
    if (counts == null) null else SimhashSig.pack(counts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val counts = ctx.freshName("counts")
      s"""
         |long[] $counts = graft.functions.SimhashSig.votes($c, $bits);
         |if ($counts == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.SimhashSig.pack($counts);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashSigExpr =
    copy(child = newChild)
}

object SimhashSig {

  private val P = 2147483647L // 2^31-1, Dedup.P

  // ha/hb LCG tables per bit width — built once per width (cf. MinhashSig)
  private val permTables =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def perms(bits: Int): (Array[Long], Array[Long]) =
    permTables.computeIfAbsent(bits, n =>
      (Array.tabulate(n)(graft.dedup.Dedup.hashA),
        Array.tabulate(n)(graft.dedup.Dedup.hashB)))

  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Per-bit vote sums over the token array (null for an empty array).
    * Token id semantics are [[MinhashSig.compute]]'s: high 60 bits of the
    * md5 prefix, mod P; bit j votes +1 when `(ha(j)*tid + hb(j)) % P` is
    * odd, -1 otherwise — the exact parity the aggregation plan sums.
    */
  def votes(arr: ArrayData, bits: Int): Array[Long] = {
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new Array[Long](bits)
    val (ha, hb) = perms(bits)
    val md = digests.get()
    var i = 0
    while (i < n) {
      md.reset()
      val dig = md.digest(arr.getUTF8String(i).getBytes)
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (dig(k) & 0xffL); k += 1 }
      val tid = (v >>> 4) % P
      var j = 0
      while (j < bits) {
        if ((ha(j) * tid + hb(j)) % P % 2 == 1) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    counts
  }

  /** OR-pack the sign bits: bit j set iff its vote sum is > 0 (bit 63
    * lands in the long's sign bit, as in the aggregation form).
    */
  def pack(counts: Array[Long]): Long = {
    var sig = 0L
    var j = 0
    while (j < counts.length) {
      if (counts(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  def apply(tokens: Column, bits: Int): Column =
    column(SimhashSigExpr(expression(tokens), bits))
}
