package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's query kinds: what ServeBench serves and Bench splits
  * off as baselines is declared once, beside the constructors.
  */
class QueryKindSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keySet

  test("every registered query has exactly one kind") {
    val multi = names.filter(SparkEntry.declaredKinds(_).size > 1)
    assert(multi.isEmpty, s"declared with several kinds: ${multi.mkString(", ")}")
  }

  test("the kinded mixes: 24 endpoints, six stored-index serves with build twins, one baseline") {
    assert(SparkEntry.ofKind(QueryKind.Endpoint).size == 24)
    val serves = SparkEntry.ofKind(QueryKind.StoredIndexServe)
    assert(serves.size == 6 && serves.forall(_.endsWith("_indexed")), serves)
    val twinless = serves.filterNot(s => names(s.stripSuffix("_indexed") + "_index_build"))
    assert(twinless.isEmpty, s"stored-index serves without a build twin: $twinless")
    assert(SparkEntry.ofKind(QueryKind.ExactBaseline) == Seq("ns_sim_neardup_pairs"))
  }
}
