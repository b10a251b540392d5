package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_nationkey", IntegerType),
    StructField("c_mktsegment", StringType)))
  private def customer(key: Long, nation: Int, segment: String): Row =
    new GenericRowWithSchema(Array(key, nation, segment), customerSchema)
  private val filters = Seq(Checks.Filter("c_nationkey", "==", 3),
    Checks.Filter("c_mktsegment", "==", "BUILDING"))

  test("a correct result passes every check") {
    val tally = new Tally
    tally.record("counts", Checks.counts(Map("vertices/a" -> 3L), Map("vertices/a" -> 3L)))
    tally.record("dropped", Checks.droppedUnkeyed(7, 7))
    tally.record("node", Checks.node(Seq(customer(1, 3, "BUILDING")), filters, 50, 1))
    tally.record("aggregate", Checks.aggregate(Map("F" -> 2L, "O" -> 3L), 5, 2))
    tally.record("traversal", Checks.traversal(4999, 5000) ++ Checks.oneHop(0))
    tally.record("pagerank", Checks.pageRankMass(999999990000L, 1000000000000L))
    tally.record("sssp", Checks.ssspSource(Some(0L), 0))
    tally.record("kcore", Checks.kCore(3, 3, 10))
    assert(tally.attempted == 8 && tally.failed == 0)
  }

  test("each wrong result is counted as a failed operation") {
    val wrong = Seq(
      Checks.counts(Map("edges/e" -> 10L), Map("edges/e" -> 9L)),
      Checks.counts(Map("vertices/v" -> 1L), Map.empty),
      Checks.droppedUnkeyed(7, 0),
      Checks.node(Seq(customer(1, 4, "BUILDING")), filters, 50, 1), // fails the filter
      Checks.node(Seq.tabulate(51)(i => customer(i, 3, "BUILDING")), filters, 50, 60), // over limit
      Checks.node(Seq(customer(1, 3, "BUILDING")), filters, 50, 2), // a match missing
      Checks.aggregate(Map("F" -> 2L, "O" -> 2L), 5, 2),
      Checks.traversal(5001, 5000),
      Checks.oneHop(1),
      Checks.pageRankMass(900000000000L, 1000000000000L),
      Checks.ssspSource(Some(4L), 0),
      Checks.ssspSource(None, 0),
      Checks.kCore(2, 3, 10))
    val tally = new Tally
    wrong.zipWithIndex.foreach { case (problems, i) => tally.record(s"op$i", problems) }
    assert(tally.attempted == wrong.size)
    assert(tally.failed == wrong.size, tally.reasons.mkString("\n"))
  }

  test("the mix quantile weighs each kind by its share, not by its sample count") {
    val w = Map("node" -> 35.0, "aggregate" -> 20.0, "neighbors1" -> 38.0, "neighbors2" -> 5.0,
      "traverse" -> 2.0)
    val samples = Seq("node" -> 100.0, "node" -> 110.0, "node" -> 120.0, "aggregate" -> 200.0,
      "aggregate" -> 210.0, "aggregate" -> 220.0, "neighbors1" -> 2000.0, "neighbors1" -> 2200.0)
    // of the observed 93: node 35/3, aggregate 20/3 and neighbors1 38/2 each; the
    // 50% point falls between the aggregates' midpoints at 45/93 and 51.67/93
    val a210 = (35.0 + 20.0 / 3 * 1.5) / 93
    val a220 = (35.0 + 20.0 / 3 * 2.5) / 93
    assert(math.abs(Main.mixQuantile(samples, w, 0.5) - (210 + 10 * (0.5 - a210) / (a220 - a210))) < 1e-9)
    assert(Main.mixQuantile(samples, w, 0.9) == 2200.0) // past the last midpoint
    assert(Main.mixQuantile(samples, w, 0.0) == 100.0)
    // three more node samples do not move the estimate out of the point reads
    val more = samples ++ Seq("node" -> 105.0, "node" -> 115.0, "node" -> 118.0)
    assert(Main.mixQuantile(more, w, 0.5) < 220.0)
    val rate = Main.mixRate(samples, w)
    assert(math.abs(rate - 1000.0 / ((35 * 110.0 + 20 * 210.0 + 38 * 2100.0) / 93)) < 1e-9)
    // a single kind reduces to the plain estimates: Hazen percentiles, the mean rate
    val one = Seq("batch" -> 1.0, "batch" -> 2.0, "batch" -> 3.0, "batch" -> 4.0)
    assert(Main.mixQuantile(one, Map("batch" -> 1.0), 0.5) == 2.5)
    assert(Main.mixQuantile(one, Map("batch" -> 1.0), 0.75) == 3.5)
    assert(Main.mixRate(one, Map("batch" -> 1.0)) == 400.0)
    // equal shares: the rate of one pass through every kind
    val pass = Seq("a" -> 1000.0, "b" -> 3000.0)
    assert(Main.mixRate(pass, Map("a" -> 1.0, "b" -> 1.0)) == 0.5)
  }
}
