package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkEntry}

/** The query inventory is one list of records: names unique across the
  * family files, the driver's maps views of it, and every bench lane
  * drawn from it. Builds no session and runs no job. */
class QueriesSpec extends AnyFunSuite {

  test("query names are unique across the family files") {
    val dups = Queries.all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, dups)
  }

  test("every oracled query has exactly one oracle; bench-only plans stay apart") {
    assert(SparkEntry.queries.size == 193)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.benchOnly.size == 18)
    // q_approx_sketch is oracled with exact gates; the bench times its
    // raw sketches under the same name
    assert(SparkEntry.benchOnly.keySet.intersect(SparkEntry.queries.keySet) ==
      Set("q_approx_sketch"))
    assert(Queries.all.filter(_.benchPlan.isDefined).map(_.name) == Seq("q_approx_sketch"))
  }

  test("every bench lane name resolves in the inventory") {
    assert(Bench.headline.size == 149)
    assert(Bench.streamHeadline.size == 16)
    val lanes = Bench.headline ++ Bench.streamHeadline.map(_._1) ++ Bench.x10Headline
    assert(lanes.filterNot(Queries.byName.contains).isEmpty)
    assert(Bench.streamHeadline.forall { case (n, l) =>
      n.startsWith("stream_") && l.copies >= 1 })
  }
}
