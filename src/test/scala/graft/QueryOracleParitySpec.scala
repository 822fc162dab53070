package graft

import org.scalatest.funsuite.AnyFunSuite

/** Queries and oracles stay paired (round-14 verdict #6): the driver's
  * correctness gate compares each `SparkEntry.queries` entry against
  * its `oracleSql` twin — a query registered without an oracle silently
  * downgrades to a rows-only check, and an orphan oracle checks
  * nothing. Asserted every suite run, not on demand. */
class QueryOracleParitySpec extends AnyFunSuite {

  test("queries and oracles are in exact 1:1 correspondence") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty,
      s"queries without an oracle: ${(q -- o).toSeq.sorted.mkString(",")}")
    assert((o -- q).isEmpty,
      s"oracles without a query: ${(o -- q).toSeq.sorted.mkString(",")}")
  }

  test("query names carry the qNN_ prefix the bench short-key scheme needs") {
    val bad = SparkEntry.queries.keys.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-conforming query names: ${bad.mkString(",")}")
  }
}
