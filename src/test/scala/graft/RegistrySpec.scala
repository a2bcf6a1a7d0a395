package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is one merge over the module list: a name that
  * two modules declare fails the build of the registry instead of the
  * later module silently shadowing the earlier one. */
class RegistrySpec extends AnyFunSuite {

  test("merging two modules that share a name throws, naming both modules") {
    val merged = SparkEntry.merge(Seq("A" -> Map("x" -> 1), "B" -> Map("y" -> 2)))
    assert(merged == Map("x" -> 1, "y" -> 2))
    val e = intercept[IllegalStateException](
      SparkEntry.merge(Seq("A" -> Map("x" -> 1, "y" -> 2), "B" -> Map("y" -> 3))))
    assert(e.getMessage.contains("'y'") && e.getMessage.contains("A") &&
      e.getMessage.contains("B"), e.getMessage)
  }

  test("the registry holds 199 queries, each with an oracle") {
    assert(SparkEntry.queries.size == 199)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }
}
