package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup-tier skew benchmark — `DedupSkewBench <baseSfDir>`.
  *
  * The batch/stream skew benches (graft.SkewBench,
  * graft.StreamSkewBench) plant hot JOIN/GROUP keys; this plants the
  * dedup tier's own skew shape — a HOT TEMPLATE: one document cloned
  * at high multiplicity (the sf1 corpus's clone mechanism at
  * `SPARK_GRAFT_DEDUP_SKEW_MULT`× instead of 10×), the
  * boilerplate-storm a web crawl produces when a site template or
  * licence page repeats across hosts. Every shingle of that template
  * then has document frequency ≈ the multiplicity, which is exactly
  * the case the shingle-DF cap (Dedup.defaultMaxShingleDf = 64)
  * exists for, and which the uniform oracle corpora never trigger at
  * the driver's gate scales.
  *
  * Two claims, measured instead of argued:
  *
  *  1. The capped ngram-jaccard candidate stage is BOUNDED under the
  *     hot template: the clones' shared shingles all exceed DF 64, so
  *     the capped candidate count stays at the base corpus's level
  *     while the UNCAPPED count (also measured, on the same corpus)
  *     carries the full C(M,2) clone blow-up. The trade is recall —
  *     clone pairs are dropped BY CONTRACT (the capped DuckDB oracle
  *     models the same drop at every scale).
  *  2. Minhash-LSH banding has no cap and yields all C(M,2) clone
  *     pairs as candidates — which is OUTPUT-optimal (those pairs ARE
  *     the answer), each verified by one merge-count over sorted hash
  *     arrays; wall time is bounded by the answer size, not by a
  *     posting-list square of the corpus.
  *
  * One JSON line on stdout (same contract as graft.Bench); the
  * per-round numbers land in BASELINE.md.
  */
object DedupSkewBench {

  /** Base embeddings plus one EXACT-duplicate mega family: the
    * (deterministic) min-vec_id vector re-emitted `mult` times under
    * fresh ODD ids (odd ⇒ never ≡ 0 mod lshPlantStride, so the
    * lshCorpus near-dup plant leaves the family alone and the family's
    * own output stays exactly C(mult+1, 2) within-pairs plus the base
    * corpus's usual rows). This is the r21-verdict mega-dup datapoint
    * for the exact-duplicate collapse (Dedup.embeddingLshOver): the
    * collapse banding is immune to the family by construction (one
    * rep), so the measured term is the EXPANSION — within-group pair
    * generation from one group's id list. */
  private[graft] def plantMegaDupVectors(spark: SparkSession, baseDir: String,
      outDir: String, mult: Int): Unit = {
    val emb = Tables.load(spark, baseDir, "embeddings")
    val template = emb.orderBy("vec_id").limit(1)
    require(template.count() == 1, s"no embeddings in $baseDir")
    val clones = template
      .withColumn("__rep", explode(expr(s"sequence(1, $mult)")))
      .withColumn("vec_id", lit(800000000L) + col("__rep") * 2 + 1)
      .drop("__rep")
    emb.unionByName(clones)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Base documents plus `mult` near-dup clones of the (deterministic)
    * template doc: min doc_id among docs with >= 12 tokens, each clone
    * differing only by a trailing ` repN` token — the sf1 mechanism. */
  private[graft] def plantHotTemplate(spark: SparkSession, baseDir: String,
      outDir: String, mult: Int): Unit = {
    val docs = Tables.load(spark, baseDir, "documents")
    val template = docs
      .filter(size(split(col("text"), "\\s+")) >= 12)
      .orderBy("doc_id").limit(1)
    // fail loudly rather than measure the base corpus under a
    // "multiplicity=N" label: an empty plant would make the
    // bounded-under-skew claim vacuous
    require(template.count() == 1,
      s"no document in $baseDir has >= 12 tokens; cannot plant a hot template")
    val clones = template
      .withColumn("__rep", explode(expr(s"sequence(1, $mult)")))
      .withColumn("doc_id", lit(900000000L) + col("__rep"))
      .withColumn("text", concat(col("text"), lit(" rep"), col("__rep")))
      .withColumn("n_chars", length(col("text")))
      .drop("__rep")
    docs.unionByName(clones)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args(0) // extra args (verify.sh's outDir) ignored
    val mult = sys.env.getOrElse("SPARK_GRAFT_DEDUP_SKEW_MULT", "512").toInt
    val hotDir = sys.env.getOrElse("SPARK_GRAFT_DEDUP_SKEW_DIR",
      "target/benchdata/dedupskew0.1")
    val spark = GraftSession("graft-dedupskew")

    plantHotTemplate(spark, baseDir, hotDir, mult)

    def timedCount(df: => DataFrame): (Long, Double) = {
      // min of 2 reps; the cache teardown of the operators' internally
      // persisted frames runs OUTSIDE the timed window (it is harness
      // bookkeeping, not operator cost)
      val reps = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (n, dt)
      }
      (reps.head._1, reps.map(_._2).min)
    }

    // candidate-stage counts on the HOT corpus: capped vs uncapped vs
    // banding (no timed contract on uncapped — it exists to size the
    // blow-up the cap removes)
    def shingled(dir: String): DataFrame =
      Dedup.docShingleHashes(spark, dir).filter(size(col("sh")) > 0)
    val (cappedCand, cappedCandT) = timedCount(
      Dedup.ngramCandidates(shingled(hotDir), Dedup.defaultMaxShingleDf))
    val (uncappedCand, uncappedCandT) = timedCount(
      Dedup.ngramCandidates(shingled(hotDir), Long.MaxValue))
    val (baseCand, _) = timedCount(
      Dedup.ngramCandidates(shingled(baseDir), Dedup.defaultMaxShingleDf))
    val (mhCand, mhCandT) = timedCount(
      Dedup.minhashCandidates(shingled(hotDir)
        .withColumn("sh", sort_array(col("sh")))))

    // end-to-end walls: the capped family must stay at base-level wall
    // on the hot corpus; minhash pays for (and emits) the real answer
    val (jacHotPairs, jacHotT) = timedCount(Dedup.ngramJaccard(spark, hotDir))
    val (jacBasePairs, jacBaseT) = timedCount(Dedup.ngramJaccard(spark, baseDir))
    val (mhHotPairs, mhHotT) = timedCount(Dedup.minhashLsh(spark, hotDir))
    val (mhBasePairs, mhBaseT) = timedCount(Dedup.minhashLsh(spark, baseDir))

    // embedding-LSH mega-dup family (r21 verdict ask): one vector at
    // 10⁴–10⁵-scale EXACT multiplicity; the collapse keeps banding
    // flat (one rep) and the measured term is the within-group
    // expansion — pairs ≈ C(mult+1, 2), wall bounded by the answer
    val megaMult = sys.env.getOrElse("SPARK_GRAFT_ELSH_MEGA_MULT", "10000").toInt
    val megaDir = s"$hotDir-elshmega"
    plantMegaDupVectors(spark, baseDir, megaDir, megaMult)
    val (elshBasePairs, elshBaseT) = timedCount(Dedup.embeddingLsh(spark, baseDir))
    val (elshMegaPairs, elshMegaT) = timedCount(Dedup.embeddingLsh(spark, megaDir))

    def num(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    println(
      s"""{"metric":"dedup_skew","multiplicity":$mult,""" +
      s""""jaccard_capped":{"candidates":$cappedCand,"cand_s":${num(cappedCandT)},""" +
      s""""pairs":$jacHotPairs,"wall_s":${num(jacHotT)}},""" +
      s""""jaccard_uncapped":{"candidates":$uncappedCand,"cand_s":${num(uncappedCandT)}},""" +
      s""""minhash":{"candidates":$mhCand,"cand_s":${num(mhCandT)},""" +
      s""""pairs":$mhHotPairs,"wall_s":${num(mhHotT)}},""" +
      s""""elsh_megadup":{"multiplicity":$megaMult,"pairs":$elshMegaPairs,""" +
      s""""wall_s":${num(elshMegaT)},"base_pairs":$elshBasePairs,""" +
      s""""base_wall_s":${num(elshBaseT)}},""" +
      s""""base":{"candidates":$baseCand,"jaccard_pairs":$jacBasePairs,""" +
      s""""jaccard_wall_s":${num(jacBaseT)},"minhash_pairs":$mhBasePairs,""" +
      s""""minhash_wall_s":${num(mhBaseT)}},""" +
      s""""sf":"$hotDir"}""")
    spark.stop()
  }
}
