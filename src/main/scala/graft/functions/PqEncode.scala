package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  IntegerType, StructField, StructType}

/** Native PQ encoder: per-subspace argmin-L2 codebook assignment plus the
  * reconstruction norm, in ONE pass over the vector — `struct(codes, rn)`.
  *
  * Replaces the join-shaped encode (explode ×pqM, broadcast-join ×pqK,
  * two shuffles, join back) with a map-only kernel, and replaces the
  * expression-tree formulation (pqM × pqK inlined L2 folds) whose inlined
  * double literals made every distinct codebook a fresh multi-second
  * janino compile. The codebook rides as a REFERENCED object (stable
  * generated source, compiled once per JVM).
  *
  * Semantics are bit-identical to the shapes it replaces, which the
  * s15/s16 oracle rows replay in DuckDB:
  *  - d2 is the [[L2Sq]] fold: left-to-right double accumulation of
  *    `(v[s*w+i] − cv[i])²` over the overlapping prefix;
  *  - the winner per sub is min by (d2, cid) with `java.lang.Double
  *    .compare` ordering (NaN greatest, ties to the smaller cid) — the
  *    `min_by(cid, struct(d2, cid))` ordering verbatim;
  *  - rn = sqrt of the cn2 sums accumulated in ascending-sub order (the
  *    sorted-struct left fold it replaces), with cn2 the [[DotProduct]]
  *    fold of each stored entry against itself, stamped by the collector.
  *
  * `entries(s)` must be sorted ascending by cid (Similarity's codebook collect does).
  */
case class PqEncodeExpr(child: Expression,
                        cids: Array[Array[Int]],
                        cvs: Array[Array[Array[Float]]],
                        cn2s: Array[Array[Double]],
                        w: Int) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("rn", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"PqEncode expects array<float>, got $t")
  }

  /** Kernel body, shared by eval and codegen (referenced object call). */
  def encode(input: ArrayData): InternalRow = {
    val pqM = cids.length
    val codes = new Array[Int](pqM)
    var acc = 0.0
    val vn = input.numElements()
    var s = 0
    while (s < pqM) {
      val cv = cvs(s)
      val base = s * w
      var bestI = 0
      var bestD = Double.NaN
      var e = 0
      while (e < cv.length) {
        val c = cv(e)
        // L2Sq fold over the overlapping prefix (slice semantics: a short
        // vector contributes only its available elements)
        val n = math.min(c.length, math.max(0, vn - base))
        var d = 0.0
        var i = 0
        while (i < n) {
          val diff = input.getFloat(base + i).toDouble - c(i).toDouble
          d += diff * diff
          i += 1
        }
        if (e == 0 || java.lang.Double.compare(d, bestD) < 0) {
          bestD = d; bestI = e
        }
        e += 1
      }
      codes(s) = cids(s)(bestI)
      acc += cn2s(s)(bestI)
      s += 1
    }
    InternalRow(new GenericArrayData(codes), math.sqrt(acc))
  }

  override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncodeExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

object PqEncode {

  /** `vec`'s codes against this codebook of sub-width `w`;
    * `entries(s)` = (cid, cv, cn2) sorted ascending by cid.
    */
  def apply(vec: Column, entries: IndexedSeq[IndexedSeq[(Int, Array[Float], Double)]],
            w: Int): Column =
    column(PqEncodeExpr(expression(vec), entries.map(_.map(_._1).toArray).toArray,
      entries.map(_.map(_._2).toArray).toArray, entries.map(_.map(_._3).toArray).toArray, w))
}
