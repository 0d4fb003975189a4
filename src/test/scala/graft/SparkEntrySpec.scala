package graft

import org.scalatest.funsuite.AnyFunSuite

/** The correctness gate's partition of the query registry. */
class SparkEntrySpec extends AnyFunSuite {

  test("every registered query is oracle-checked or rows-only, never both or neither") {
    val registered = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql.keySet
    val rowsOnly = SparkEntry.rowsOnly
    assert((oracle & rowsOnly).isEmpty, s"both oracle and rows-only: ${oracle & rowsOnly}")
    assert((oracle ++ rowsOnly) == registered,
      s"outside the gate: ${registered -- oracle -- rowsOnly}; " +
        s"not registered: ${(oracle ++ rowsOnly) -- registered}")
  }
}
