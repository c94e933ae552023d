package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contract registry's own invariants. The driver's correctness
  * gate compares each `queries` entry against its `oracleSql` row — but
  * a query whose oracle key is dropped or renamed doesn't FAIL that
  * gate, it silently disappears from it (the compare only sees keys
  * present on both sides). This spec turns that silent weakening into a
  * red test: every query carries an oracle and every oracle has a
  * query, so the oracle-verified surface can only shrink deliberately,
  * in this file.
  */
class ContractRegistrySpec extends AnyFunSuite {

  test("every contract query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
    assert((q -- o).isEmpty,
      s"queries without an oracle (rows-only weak check): ${(q -- o).toSeq.sorted}")
  }

  test("the oracle-verified surface only grows (169 as of round 13)") {
    // 163: the six strategy-only queries asof_join_via_join,
    // asof_join_bucketed, asof_join_skewhybrid, asof_join_via_scd2,
    // asof_join_native and window_agg_bucketed went with their kernels
    assert(SparkEntry.queries.size >= 163,
      s"contract shrank to ${SparkEntry.queries.size} queries — deliberate removals " +
        "must update this floor with a rationale")
  }
}
