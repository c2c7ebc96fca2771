package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the only name list: `SparkEntry.queries` and
  * `SparkEntry.oracleSql` are views of `SparkEntry.specs`, so the specs
  * must be well-formed for those views to lose nothing.
  */
class QueryRegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.specs.map(_.name)

  test("spec names are unique (a Map view would keep only the last)") {
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  test("every spec has an implementation and a non-blank oracle") {
    // a null here is a table entry that read a later-declared val
    // during object initialization
    val bad = SparkEntry.specs.filter(s =>
      s.run == null || s.oracle == null || s.oracle.trim.isEmpty)
    assert(bad.isEmpty, s"incomplete specs: ${bad.map(_.name).mkString(", ")}")
  }

  test("queries and oracleSql are keyed by exactly the spec names") {
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet === names.toSet)
  }
}
