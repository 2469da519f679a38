package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins ClustersChainBench's planting algebra at spec speed, so the
  * bench's structural preconditions (exactly the consecutive pairs,
  * chain isolated from the corpus) can't drift silently and only fail
  * inside a multi-minute bench run. */
class ClustersChainBenchSpec extends AnyFunSuite with SparkSuite {

  test("planted chain: lag-1 shingle jaccard verifies, lag-2 does not, zero corpus collision") {
    val out = Files.createTempDirectory("graft_chain_spec").toString
    ClustersChainBench.plantChain(spark, SF, out, len = 6)
    val sh = spark.read.parquet(s"$out/documents.parquet")
      .withColumn("sh", expr(
        s"shingles3_h64(${graft.operators.Dedup.toksSpark})"))
      .select(col("doc_id"), col("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val base = ClustersChainBench.chainBaseId
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (sh(base + a), sh(base + b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    // the W=38/S=3 sliding window: 33/39 ≈ 0.846 at lag 1 (>= the 0.8
    // verify threshold), 30/42 ≈ 0.714 at lag 2 (< threshold) — the
    // duplicate graph must be exactly a path
    (0L to 4L).foreach { i =>
      assert(jac(i, i + 1) >= 0.8 && jac(i, i + 1) < 0.9,
        s"lag-1 jaccard off at $i: ${jac(i, i + 1)}")
    }
    (0L to 3L).foreach { i =>
      assert(jac(i, i + 2) < 0.8, s"lag-2 must not verify at $i: ${jac(i, i + 2)}")
    }
    // fresh-token isolation: no chain shingle may appear in any base doc
    val chainShingles = (0L to 5L).flatMap(i => sh(base + i)).toSet
    val collisions = sh.collect {
      case (id, s) if id < base => s.intersect(chainShingles).size
    }.sum
    assert(collisions === 0, "chain tokens must not collide with the corpus")
  }
}
