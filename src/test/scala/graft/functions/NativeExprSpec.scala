package graft.functions

import graft.SparkSpec
import graft.sim.Similarity
import org.apache.spark.sql.functions._

/** Native codegen'd expressions: bit-identity with the higher-order-fold
  * formulations they replace, null handling, and codegen survival.
  */
class NativeExprSpec extends SparkSpec {

  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(0.1f, -0.2f, 0.3f, 0.4f)),
    (1L, Array(1.5f, 2.5f, -3.5f, 0.001f)),
    (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
    (3L, null.asInstanceOf[Array[Float]])
  ).toDF("id", "v")

  test("graft_dot is bit-identical to the aggregate/zip_with fold") {
    val both = vecs.filter(col("v").isNotNull).as("a")
      .crossJoin(vecs.filter(col("v").isNotNull).as("b"))
      .select(
        DotProduct(col("a.v"), col("b.v")).as("native"),
        Similarity.dotExact(col("a.v"), col("b.v")).as("fold"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  private lazy val ivecs = Seq(
    (0L, Array(1, -2, 3, 127)),
    (1L, Array(-127, 55, 0, 9)),
    (2L, Array(0, 0, 0, 0)),
    (3L, null.asInstanceOf[Array[Int]])
  ).toDF("id", "v")

  test("graft_dot_int equals the integer fold (exact longs)") {
    val both = ivecs.filter(col("v").isNotNull).as("a")
      .crossJoin(ivecs.filter(col("v").isNotNull).as("b"))
      .select(
        IntDotProduct(col("a.v"), col("b.v")).as("native"),
        Similarity.dotIntExact(col("a.v"), col("b.v")).as("fold"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_l2sq is bit-identical to the aggregate/zip_with fold") {
    val both = vecs.filter(col("v").isNotNull).as("a")
      .crossJoin(vecs.filter(col("v").isNotNull).as("b"))
      .select(
        L2Sq(col("a.v"), col("b.v")).as("native"),
        Similarity.l2sqExact(col("a.v"), col("b.v")).as("fold"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("graft_l2sq: null input yields null") {
    val n = vecs.select(L2Sq(col("v"), col("v")).as("d"))
      .filter(col("d").isNull).count()
    assert(n == 1)
  }

  test("graft_l2sq degenerate inputs match the fold: length mismatch and null elements → null") {
    // zip_with null-pads the shorter array, so the fold returns null on a
    // length mismatch; a null ELEMENT poisons the fold the same way — the
    // native kernel must agree, not silently fold over min(len)
    // (round-11 ADVICE). Both eval modes covered: the repartitioned frame
    // runs the codegen path, the literal select the interpreted one.
    val ragged = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))
    ).toDF("a", "b")
    // a true null element needs an explicit cast-through-expr frame
    val withNullElem = spark.sql(
      "SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS a, " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS b")
    Seq(ragged, withNullElem).foreach { df =>
      val out = df.repartition(2)
        .select(L2Sq(col("a"), col("b")).as("native"),
          Similarity.l2sqExact(col("a"), col("b")).as("fold"))
        .collect()
      out.foreach { r =>
        assert(r.isNullAt(0), s"native must be null, got ${r.get(0)}")
        assert(r.isNullAt(1), "fold twin must agree (null)")
      }
    }
  }

  test("graft_dot_int: null input yields null") {
    val n = ivecs.select(IntDotProduct(col("v"), col("v")).as("d"))
      .filter(col("d").isNull).count()
    assert(n == 1)
  }

  test("graft_dot: null input yields null") {
    val n = vecs.select(DotProduct(col("v"), col("v")).as("d"))
      .filter(col("d").isNull).count()
    assert(n == 1)
  }

  test("graft_lsh_bucket matches the unrolled column formulation") {
    val both = vecs.filter(col("v").isNotNull)
      .select(
        LshBucket(col("v"), 4, 3).as("native"),
        Similarity.lshBucket(col("v"), 4, 3).as("unrolled"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native expressions run inside whole-stage codegen (no fallback)") {
    // repartition forces a real exchange + project stage (a bare local
    // relation short-circuits to LocalTableScanExec with no codegen), and
    // the query must RUN first — under AQE the WholeStageCodegen spans
    // only appear in the finalized adaptive plan
    val df = vecs.filter(col("v").isNotNull).repartition(2)
      .select(DotProduct(col("v"), col("v")).as("d"))
    df.collect()
    // the `*(n)` prefix marks a WholeStageCodegen span in simpleString
    // form; a codegen-incapable expression would print an unstarred
    // Project (fallback to interpreted projection)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [dotproductexpr"), plan)
  }

  test("one projection holds ArgTopCells columns bound to two different centroid tables") {
    def table(rows: (Long, Array[Float])*) = rows.map { case (cid, cv) =>
      (cid, cv, math.sqrt(cv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    }.toIndexedSeq
    val tA = table(10L -> Array(1f, 0f, 0f, 0f), 11L -> Array(0f, 1f, 0f, 0f),
      12L -> Array(-1f, 0f, 0f, 0f))
    val tB = table(20L -> Array(0f, 0f, 1f, 0f), 21L -> Array(0f, 0f, 0f, 1f),
      22L -> Array(0f, 0f, -1f, -1f))
    // the kernel's ranking: cosine descending (NaN greatest), cid ascending
    def top(v: Array[Float], t: IndexedSeq[(Long, Array[Float], Double)], p: Int) = {
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      t.map { case (cid, cv, cn) =>
        cid -> v.indices.foldLeft(0.0)((a, i) => a + v(i).toDouble * cv(i).toDouble) / (n * cn)
      }.sortWith { case ((_, a), (_, b)) => java.lang.Double.compare(a, b) > 0 }
        .take(p).map(_._1)
    }
    val out = vecs.filter(col("v").isNotNull).repartition(2)
      .select(col("v"),
        ArgTopCells(col("v"), tA, 1).getField("cells").as("a"),
        ArgTopCells(col("v"), tB, 2).getField("cells").as("b"))
      .collect()
    assert(out.length == 3)
    out.foreach { r =>
      val v = r.getSeq[Float](0).toArray
      assert(r.getSeq[Long](1) == top(v, tA, 1), s"table A for ${v.toSeq}")
      assert(r.getSeq[Long](2) == top(v, tB, 2), s"table B for ${v.toSeq}")
    }
  }
}
