package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Chain-graph clusters benchmark — `ClustersChainBench <baseSfDir>`.
  *
  * DedupSkewBench plants the STAR shape (one hot template, C(M,2)
  * clone pairs — diameter 2); this plants the shape min-label
  * propagation cannot close: a CHAIN of sequential-overlap clones,
  * where doc i and doc i+1 are near-dups but doc i and doc i+2 are
  * not. Each chain doc is a fresh-token sliding window — W=38 unique
  * tokens stepping by 3, so consecutive docs share 33 of 39 distinct
  * 3-gram shingles (jaccard 33/39 ≈ 0.846 ≥ the 0.8 verify
  * threshold) while lag-2 docs share 30 of 42 (0.714 < 0.8). The
  * duplicate graph is then a pure path of length `chainLen`, ids
  * ascending along it, so the component minimum sits at one END:
  * min-label needs chainLen−1 rounds, blows its 32-round cap
  * unconverged, and [[Dedup.componentLabelsDiag]] must take the
  * large-star/small-star fallback — the r14 spec pinned that on a
  * 40-node synthetic pair fixture; this measures it END-TO-END
  * (minhash-LSH pair generation → cap exit → star rounds) on a real
  * corpus at sf0.1, recording rounds and wall in a diffable artifact
  * (`bench_reports/clusters_chain_r{N}.json`).
  *
  * Label correctness is NOT self-adjudicated here: the planted dir is
  * a full table layout, so the exact recursive-CTE DuckDB oracle runs
  * against it via the normal gate
  * (`SPARK_GRAFT_VERIFY_QUERIES=dedup_clusters tools/verify.sh
  * <chainDir> <out>`); tools/clusters_chain.sh orchestrates both and
  * merges the oracle verdict into the artifact. The bench itself only
  * asserts the structural preconditions (the chain is one component,
  * isolated from the base corpus, and the cap actually fired —
  * without those the measurement would be vacuous).
  */
object ClustersChainBench {

  /** Chain doc ids live far above both the corpus ids and
    * DedupSkewBench's 9.0e8 clone range. */
  private[graft] val chainBaseId = 910000000L

  /** Base documents plus a `len`-doc sequential-overlap chain. Tokens
    * are globally unique to the chain (`chaintok<i>`), so the chain
    * shares no shingle with the base corpus — the planted component
    * is exactly the path. (tools/clusters_chain.sh symlinks the base
    * dir's other tables beside it so the planted dir is a complete
    * table layout the oracle harness can read.) */
  private[graft] def plantChain(spark: SparkSession, baseDir: String,
      outDir: String, len: Int): Unit = {
    require(len >= 2, s"chain length $len cannot form a path")
    val W = 38 // tokens per doc
    val S = 3  // token step between consecutive docs
    val chain = spark.range(len.toLong)
      .select(
        (lit(chainBaseId) + col("id")).as("doc_id"),
        // doc i = tokens [i*S, i*S + W)
        expr(s"array_join(transform(sequence(id * $S, id * $S + ${W - 1}), " +
          "t -> concat('chaintok', t)), ' ')").as("text"))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("chainbench"))
      .withColumn("n_chars", length(col("text")))
    val docs = Tables.load(spark, baseDir, "documents")
    docs.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(chain)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args(0) // extra args (verify.sh's outDir) ignored
    val len = sys.env.getOrElse("SPARK_GRAFT_CHAIN_LEN", "64").toInt
    val chainDir = sys.env.getOrElse("SPARK_GRAFT_CHAIN_DIR",
      "target/benchdata/clusterschain0.1")
    val spark = GraftSession("graft-clusterschain")

    plantChain(spark, baseDir, chainDir, len)

    // pair generation timed separately from the label rounds — the
    // chain adds O(len) pairs to the corpus's own near-dups, and the
    // cap-exit cost lives entirely in the label stage
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashLsh(spark, chainDir)
      .select(col("doc_i"), col("doc_j")).persist()
    val nPairs = pairs.count()
    val pairsS = (System.nanoTime() - t0) / 1e9
    val chainPairs = pairs
      .filter(col("doc_i") >= chainBaseId && col("doc_j") >= chainBaseId)
      .count()
    // structural preconditions: exactly the len-1 consecutive pairs
    // (lag-2 jaccard 0.714 must NOT verify), no chain-to-base pairs
    require(chainPairs == len - 1,
      s"planted chain must yield exactly ${len - 1} consecutive pairs, " +
        s"got $chainPairs — the sliding-window overlap drifted")
    require(pairs.filter(
        (col("doc_i") >= chainBaseId) =!= (col("doc_j") >= chainBaseId))
      .count() == 0, "chain tokens must not collide with the base corpus")

    val docs = Tables.load(spark, chainDir, "documents").select(col("doc_id"))
    val t1 = System.nanoTime()
    val (labels, diag) = Dedup.componentLabelsDiag(spark, docs, pairs)
    // force + order-insensitive checksum, same idiom as the bench's
    // noop sink: every label computed, none retained
    val labelRow = labels
      .agg(count(lit(1)),
        sum(xxhash64(col("doc_id"), col("cluster_id")).cast("decimal(38,0)")))
      .head()
    val wallS = (System.nanoTime() - t1) / 1e9
    require(!diag.propagateConverged,
      s"min-label CONVERGED in ${diag.propagateRounds} rounds — the chain " +
        "did not exceed the cap; lengthen SPARK_GRAFT_CHAIN_LEN")
    val chainClusters = labels.filter(col("doc_id") >= chainBaseId)
      .agg(countDistinct(col("cluster_id")), min(col("cluster_id"))).head()
    require(chainClusters.getLong(0) == 1 &&
        chainClusters.getLong(1) == chainBaseId,
      s"chain must label as ONE component rooted at $chainBaseId, got " +
        s"${chainClusters.getLong(0)} clusters / root ${chainClusters.getLong(1)}")
    pairs.unpersist(blocking = false)

    def num(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    println(
      s"""{"metric":"clusters_chain","chain_len":$len,""" +
        s""""pairs":$nPairs,"chain_pairs":$chainPairs,""" +
        s""""pairs_s":${num(pairsS)},""" +
        s""""propagate_rounds":${diag.propagateRounds},""" +
        s""""propagate_converged":${diag.propagateConverged},""" +
        s""""star_rounds":${diag.starRounds},""" +
        s""""labels_wall_s":${num(wallS)},""" +
        s""""label_rows":${labelRow.getLong(0)},""" +
        s""""chain_single_component":true,"sf":"$chainDir"}""")
    spark.stop()
  }
}
