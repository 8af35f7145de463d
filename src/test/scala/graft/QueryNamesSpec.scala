package graft

import org.scalatest.funsuite.AnyFunSuite

/** Query names reach `SparkEntry.queries` through one resolver: a typo
  * fails up front by name instead of writing nothing (`graft.Tools
  * plan-dump`) or surfacing as an error row after a long bench run.
  */
class QueryNamesSpec extends AnyFunSuite {

  test("an unknown query name fails by name and lists the known names") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.resolve(Seq("s4_ivf_topk", "s4_ivf_topkk")))
    assert(e.getMessage.contains("unknown query name(s): s4_ivf_topkk;"), e.getMessage)
    val known = e.getMessage.split("known: ", 2)(1).split(", ").toSeq
    assert(known == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("named queries resolve in the order given; none resolves every query, sorted") {
    assert(SparkEntry.resolve(Seq("t7_bpe_train", "s4_ivf_topk")).map(_._1) ==
      Seq("t7_bpe_train", "s4_ivf_topk"))
    assert(SparkEntry.resolve(Nil).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("the bench's sf1 and sf10 tier lists and _dist rows name only known queries") {
    val names = Bench.Sf1Queries ++ Bench.Sf10Queries ++ Bench.DistRows.map(_._2._1)
    assert(SparkEntry.resolve(names).size == names.size)
    assert(Bench.DistRows.forall { case (row, (query, gate)) =>
      row.endsWith("_dist") && row != query && gate.startsWith("spark.graft.") })
  }
}
