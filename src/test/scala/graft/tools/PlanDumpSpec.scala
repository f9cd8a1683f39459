package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  test("mask replaces the seven run-dependent token forms and keeps the rest of the plan") {
    val raw =
      "(3) Project [codegen id : 2]\n" +
      "Output [2]: [doc_id#12L, tok#407]\n" +
      "Arguments: graft.operators.Dedup$$$Lambda$7416/0x00007fc9197dde50@1047924, obj#18064\n" +
      "ReusedExchange [plan_id=283]\n" +
      "Location: InMemoryFileIndex [/tmp/graft_ivf_sf0_01_local_1760700000000]\n" +
      "(7) ShuffleQueryStage\n" +
      "Output [1]: [hs#13023]\n" +
      "Arguments: 2\n" +
      "(8) LocalLimit\n" +
      "Arguments: 5"
    assert(PlanDump.mask(raw) ===
      "(3) Project [codegen id : N]\n" +
      "Output [2]: [doc_id#NL, tok#N]\n" +
      "Arguments: graft.operators.Dedup$$$Lambda@N, obj#N\n" +
      "ReusedExchange [plan_id=N]\n" +
      "Location: InMemoryFileIndex [/tmp/graft_ivf_sf0_01_local_N]\n" +
      "(7) ShuffleQueryStage\n" +
      "Output [1]: [hs#N]\n" +
      "Arguments: N\n" +
      "(8) LocalLimit\n" +
      "Arguments: 5")
  }
}
