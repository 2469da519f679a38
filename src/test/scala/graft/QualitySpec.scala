package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** The quality gate of the eight no-oracle catalog entries
  * (`QualityHarness.gatedEntries`): every gate of `QualityHarness.gates`
  * must pass at sf0.01, the scale tools/verify.sh checks the DuckDB
  * oracles at. `graft.Quality` writes the same gates to the
  * `QUALITY_r{N}.json` artifact. */
class QualitySpec extends AnyFunSuite with SparkSuite {
  private val GateSF = s"${new java.io.File(SF).getParent}/sf0.01"

  test("planted fixture: each query's exact top-10 is its own cluster") {
    // the planted recall gates score against QualityHarness.plantedTruth;
    // the exact scorer must agree, or those gates measure the wrong thing
    val exact = Similarity.cosineTopKOver(QualityHarness.plantedCorpus(spark)).collect()
      .filter(r => QualityHarness.plantedTruth.contains(r.getLong(0)))
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    assert(exact === QualityHarness.plantedTruth)
    spark.catalog.clearCache()
  }

  test("every no-oracle gate passes at sf0.01") {
    val gates = QualityHarness.gates(spark, GateSF)
    val failed = gates.filterNot(_.pass).map { g =>
      s"${g.entry} ${g.metric} = ${g.value}, " +
        s"${if (g.higherIsBetter) "floor" else "bound"} ${g.floor}"
    }
    assert(failed.isEmpty, failed.mkString(s"${failed.size} failed gate(s):\n  ", "\n  ", ""))
  }
}
