package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Corpus-adaptive LSH sizing (round-16, third-decade embeddings
  * probe): fixed plane counts make bucket collision probability a
  * constant, so candidate work grows quadratically with the corpus —
  * the sizing must grow k with n, but never past the recall
  * feasibility bound of the (τ, L) scheme. */
class LshSizingSpec extends AnyFunSuite {

  test("gated-sf corpora resolve to the historical 4-plane shape") {
    // query path (multiprobe, 0.35 contrast, 8 tables): sf0.01 = 500
    // vectors, sf0.1 = 5000 — both must stay exactly (4 planes)
    assert(Similarity.autoPlanes(500, 2048, 0.35, 8, multiprobe = true) == 4)
    assert(Similarity.autoPlanes(5000, 2048, 0.35, 8, multiprobe = true) == 4)
    // pair path (no multiprobe, τ=0.4, 8 tables)
    assert(Similarity.autoPlanes(500, 512, 0.4, 8, multiprobe = false) == 4)
    assert(Similarity.autoPlanes(5000, 512, 0.4, 8, multiprobe = false) == 4)
  }

  test("k grows with the corpus up to the recall feasibility bound") {
    // query path at 5M vectors: corpus-ideal k is 12, but the
    // multiprobe feasibility bound at 0.35 contrast / 8 tables is 7
    assert(Similarity.recallFeasibleK(0.35, 8, multiprobe = true) == 7)
    assert(Similarity.autoPlanes(5000000, 2048, 0.35, 8,
      multiprobe = true) == 7)
    // pair path at τ=0.4: the bound is 4 for 8 tables — the loose-τ
    // demo CANNOT bucket harder without going blind (this is the
    // theory behind its measured superlinear decade trend)
    assert(Similarity.recallFeasibleK(0.4, 8, multiprobe = false) == 4)
    assert(Similarity.autoPlanes(5000000, 512, 0.4, 8,
      multiprobe = false) == 4)
    // at the production near-dup threshold the same corpus buckets
    // far harder before hitting the bound
    assert(Similarity.recallFeasibleK(0.9, 8, multiprobe = false) >= 11)
  }

  test("autoKL sizes L from the recall target at corpus-ideal k") {
    // τ=0.9, 5M vectors: k = log2(5M/512) ≈ 14, L from
    // 1-(1-p^k)^L >= 0.75 at p ≈ 0.857 → ~12 tables
    val (k, l) = Similarity.autoKL(5000000, 512, 0.9)
    assert(k == 14, s"k=$k")
    assert(l >= 8 && l <= 16, s"l=$l")
    // small corpus: k floors at 4, one table is enough only if p^4
    // clears the target — at τ=0.9 it does not, so L > 1
    val (k2, l2) = Similarity.autoKL(500, 512, 0.9)
    assert(k2 == 4 && l2 >= 2, s"k2=$k2 l2=$l2")
    // the table cap steps k down instead of exploding L
    val (k3, l3) = Similarity.autoKL(5000000, 512, 0.4, maxTables = 64)
    assert(l3 <= 64, s"l3=$l3")
    assert(k3 < 14, s"k3=$k3")
  }
}
