package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Every battery query has exactly one DuckDB oracle twin, and no oracle
 *  is left without its query. */
class BatteryKeysSpec extends AnyFunSuite {

  test("Battery.queries and Battery.oracles have the same keys") {
    val q = Battery.queries.keySet
    val o = Battery.oracles.keySet
    assert(q -- o === Set.empty, "queries without an oracle")
    assert(o -- q === Set.empty, "oracles without a query")
    assert(q.size >= 264, "a battery query was dropped")
  }
}
