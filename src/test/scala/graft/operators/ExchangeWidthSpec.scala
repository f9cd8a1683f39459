package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The shared rule itself; each family's target is pinned in its own spec
  * (DedupSpec "pair shuffle width", TextAnalysisSpec "scan-stream width"). */
class ExchangeWidthSpec extends AnyFunSuite {

  test("width: volume over the family target, floored at the session width, capped") {
    val gram = TextAnalysis.GramReduceTargetBytesPerPartition
    // (case, volume, per-partition target, session width, expected width)
    val cases = Seq[(String, BigInt, Long, Int, Int)](
      ("exact division", BigInt(640), 10L, 32, 64),
      ("floored at the session", BigInt(100), 10L, 32, 32),
      ("capped", BigInt(1L) << 40, 1L, 32, 1024),
      ("wide session above the cap", BigInt(1L) << 40, 1L, 2000, 2000),
      // the gram reduce's measured ~3 MB target widens the fourth decade
      ("gram: fourth decade", 817L << 20, gram, 32, 272))
    for ((name, volume, target, session, expected) <- cases) {
      val got = ExchangeWidth.width(volume, target, session)
      assert(got === expected, s"$name: expected $expected, got $got")
    }
  }
}
