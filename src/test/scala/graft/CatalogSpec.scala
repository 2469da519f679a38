package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog-completeness guard: every entry in `SparkEntry.queries`
  * must be gated by EITHER a DuckDB oracle (`SparkEntry.oracleSql`) or
  * a recorded quantitative gate (`QualityHarness.gatedEntries`) — and
  * by exactly one of them. Without this, a new catalog query can ship
  * with neither check: the driver would record a rows-only smoke pass
  * and the entry would look green while being unverified.
  *
  * `QualityHarness.gates` asserts the other direction (the evaluated
  * gates match the declared set) every time it runs, in `QualitySpec`
  * and in the `graft.Quality` artifact, so between the two checks the
  * declaration, the evaluation, and the catalog cannot drift apart.
  */
class CatalogSpec extends AnyFunSuite {

  test("every catalog query has exactly one gate: oracle xor quality") {
    val queries = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    val gated = QualityHarness.gatedEntries

    val ungated = queries -- oracled -- gated
    assert(ungated.isEmpty,
      s"catalog entries with neither an oracle nor a quality gate: $ungated")

    val doubleGated = oracled.intersect(gated)
    assert(doubleGated.isEmpty,
      s"entries claiming both an oracle and a quality gate: $doubleGated")

    val phantomOracles = oracled -- queries
    assert(phantomOracles.isEmpty,
      s"oracleSql keys with no catalog query: $phantomOracles")

    val phantomGates = gated -- queries
    assert(phantomGates.isEmpty,
      s"quality-gated names with no catalog query: $phantomGates")
  }

  test("a subset variable selects known names and fails on a typo or an empty value") {
    val known = SparkEntry.queries.keySet
    def pick(v: String) = SparkEntry.subset("SUBSET", known, Map("SUBSET" -> v))
    assert(SparkEntry.subset("SUBSET", known, Map.empty) === None)
    assert(pick(" dedup_clusters,vec_pq_assign ,") ===
      Some(Set("dedup_clusters", "vec_pq_assign")))
    val typo = intercept[IllegalArgumentException](pick("dedup_clusters,dedup_clustres"))
    assert(typo.getMessage.contains("dedup_clustres"), typo.getMessage)
    assert(!typo.getMessage.contains("dedup_clusters"), typo.getMessage)
    intercept[IllegalArgumentException](pick(" , "))
  }
}
