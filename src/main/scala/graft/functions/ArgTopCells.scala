package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  LongType, StructField, StructType}

/** Native coarse-quantizer ranking: a vector's `p` highest-cosine centroid
  * cells (rank order) plus its own norm, in ONE pass — `struct(cells, n)`.
  *
  * With `p = 1` this is the cell ASSIGNMENT every index build/append runs
  * per corpus vector; with `p = nprobe` it is the query-side probe. Both
  * previously ran as a crossJoin against the broadcast centroid relation
  * followed by a per-vector aggregate/window — a full-corpus exchange
  * whose only purpose was to argmax over C broadcast-local candidates.
  * The centroid table is broadcast-class BY CONSTRUCTION, so it rides
  * here as a referenced object and the whole ranking becomes map-only:
  * the build's per-vector shuffle disappears (the only remaining exchange
  * is the cell-clustered write), and the probe loses its window exchange.
  *
  * Semantics are bit-identical to the shapes replaced (the s4/s6/s8...
  * oracle rows replay them in DuckDB as
  * `row_number() OVER (ORDER BY dot/(n*cn) DESC, cid ASC) <= p`):
  *  - n and each cn0 are the [[DotProduct]] left fold (cn0 stamped by
  *    the centroid collector with the same fold, driver-side);
  *  - ccos = dot / (n * cn0), the `cosine` helper verbatim;
  *  - ranking by (ccos DESC, cid ASC) via `java.lang.Double.compare`
  *    (NaN greatest — Spark's double ordering) with ascending-cid
  *    iteration and strictly-greater insertion, which reproduces the
  *    max_by/row_number tie-break exactly.
  *
  * `cids`/`cvs`/`cn0s` must be sorted ascending by cid (the collectors do).
  */
case class ArgTopCellsExpr(child: Expression,
                           cids: Array[Long],
                           cvs: Array[Array[Float]],
                           cn0s: Array[Double],
                           p: Int) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cells", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("n", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ArgTopCells expects array<float>, got $t")
  }

  /** Kernel body, shared by eval and codegen (referenced object call). */
  def top(input: ArrayData): InternalRow = {
    val vn = input.numElements()
    var nn = 0.0
    var i = 0
    while (i < vn) {
      val x = input.getFloat(i).toDouble
      nn += x * x
      i += 1
    }
    val n = math.sqrt(nn)
    val keep = math.min(p, cids.length)
    val topCos = new Array[Double](keep)
    val topCid = new Array[Long](keep)
    var m = 0
    var c = 0
    while (c < cids.length) {
      val cv = cvs(c)
      val lim = math.min(vn, cv.length)
      var d = 0.0
      var k = 0
      while (k < lim) {
        d += input.getFloat(k).toDouble * cv(k).toDouble
        k += 1
      }
      val ccos = d / (n * cn0s(c))
      // ascending-cid iteration + strictly-greater insertion == the
      // (ccos DESC, cid ASC) row_number ranking
      var pos = math.min(m, keep - 1)
      if (m < keep || java.lang.Double.compare(ccos, topCos(keep - 1)) > 0) {
        if (m < keep) m += 1
        while (pos > 0 && java.lang.Double.compare(ccos, topCos(pos - 1)) > 0) {
          topCos(pos) = topCos(pos - 1); topCid(pos) = topCid(pos - 1)
          pos -= 1
        }
        topCos(pos) = ccos; topCid(pos) = cids(c)
      }
      c += 1
    }
    InternalRow(new GenericArrayData(topCid.take(m)), n)
  }

  override def nullSafeEval(input: Any): Any =
    top(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argTopCells", this, classOf[ArgTopCellsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.top($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ArgTopCellsExpr =
    copy(child = newChild)
}

object ArgTopCells {

  /** `vec`'s top-`p` cells against this centroid table;
    * `cents` = (cid, cv, cn0) sorted ascending by cid.
    */
  def apply(vec: Column, cents: IndexedSeq[(Long, Array[Float], Double)], p: Int): Column =
    column(ArgTopCellsExpr(expression(vec), cents.map(_._1).toArray,
      cents.map(_._2).toArray, cents.map(_._3).toArray, p))
}
