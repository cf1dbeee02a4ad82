package graft.pipeline

import graft.SourceScan.count
import org.scalatest.funsuite.AnyFunSuite

/** Source guard: the dedup-pair and ANN top-k families are written over
  * one candidate-then-verify substrate, [[Candidates]]. The key-blocked
  * pair join (two aliased sides) and the per-query rank window are
  * built there; a new variant supplies its key, its join condition and
  * its exact measure. The few sites the substrate cannot serve without
  * changing their plan are named here, each with its reason and its
  * exact count. */
class CandidatesGuardSpec extends AnyFunSuite {

  test("pair joins alias their two sides only in Candidates") {
    val allowed: Map[String, (Int, String)] = Map(
      "graft/pipeline/Candidates.scala" -> (2, "the substrate"),
      "graft/pipeline/Dedup.scala" -> (2, "substringDupPairs groups the " +
        "pair join by (d1, d2) to count shared grams; a projection " +
        "before the aggregate would change its plan"))
    assert(count("""\.alias\("[ablr]"\)""".r) ==
      allowed.map { case (f, (n, _)) => f -> n },
      "route a key-blocked pair join through Candidates.pairs")
  }

  test("per-query rank windows are built only in Candidates") {
    val allowed: Map[String, (Int, String)] = Map(
      "graft/pipeline/Similarity.scala" -> (1, "tripletMine reads the " +
        "rank-1 neighbor of each query with first(), not a top-k cut"))
    assert(count("""Window\s*\.\s*partitionBy\("query_id"\)""".r) ==
      allowed.map { case (f, (n, _)) => f -> n },
      "rank per query through Candidates.topK / rerank / firstK")
  }
}
