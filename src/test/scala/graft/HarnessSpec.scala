package graft

import org.scalatest.funsuite.AnyFunSuite

/** Which declared queries a harness main runs, and in what order. */
class HarnessSpec extends AnyFunSuite {
  private val names = Seq("q_xg_2level", "q_stream_dedup", "q_agg_term",
    "q_xg", "q_qstream", "q_gremlin")
  private val exact: (String, String) => Boolean = _ == _
  private val substring: (String, String) => Boolean = _.contains(_)

  test("no filter runs every query by name, streaming-protocol ones last") {
    assert(Harness.select(names, Nil, exact) == Right(Seq("q_agg_term",
      "q_gremlin", "q_xg", "q_xg_2level", "q_qstream", "q_stream_dedup")))
  }

  test("an exact filter picks only that name, a substring filter all " +
      "names containing it") {
    assert(Harness.select(names, Seq("q_xg"), exact) == Right(Seq("q_xg")))
    assert(Harness.select(names, Seq("q_xg", "stream"), substring) ==
      Right(Seq("q_xg", "q_xg_2level", "q_qstream", "q_stream_dedup")))
  }

  test("filters that match no query are returned, not run as nothing") {
    assert(Harness.select(names, Seq("q_xg_2levle", "q_xg", "nope"), exact) ==
      Left(Seq("q_xg_2levle", "nope")))
    assert(Harness.select(names, Seq("2levle"), substring) ==
      Left(Seq("2levle")))
  }

  test("the declared queries include every stream-tail name") {
    assert(Harness.StreamTail.subsetOf(SparkEntry.queries.keySet))
  }
}
