package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.hadoop.fs.Path
import graft.{Materialized, Tables}

/** Similarity search over the `embeddings` table (`Array[Float]`, dim
  * 64): brute-force cosine top-k as the certified baseline, and a
  * random-hyperplane-LSH bucketed ANN as the scale path.
  *
  * Scale design: the query set is tiny relative to the corpus, so the
  * brute-force plan BROADCASTS the queries and streams the corpus scan
  * past them — one pass over the big side, no shuffle of the corpus,
  * then a per-query top-k window over (queries × corpus) rows. The ANN
  * variant cuts the scanned candidates to the query's LSH bucket and
  * its hamming-1 neighbors (multi-probe), which is the 100 TB move:
  * the corpus is bucketed once (could be written bucketed/partitioned
  * by `bucket`), and each query touches ~9/256 of it.
  *
  * Vector math runs in native codegen'd expressions (vec_dot/vec_norm,
  * graft.functions.DotProductFloat) that fold ascending-index in
  * double, so the DuckDB oracle (list_reduce — also a sequential left
  * fold) reproduces the exact IEEE result bit-for-bit; scores are
  * rounded to 6dp before ranking with a full tie-break so top-k is
  * deterministic in both engines.
  */
object Similarity {

  /** Spark-compatible round-to-6dp in DuckDB (same shortest-repr trick
    * as RetailPipeline.sparkRound2Sql, at scale 6). */
  private def sparkRound6Sql(x: String): String =
    s"CAST(ROUND(CAST(CAST(($x) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE)"

  private val dotSql =
    """list_reduce(list_transform(range(1, len(a.embedding) + 1),
      |  i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)""".stripMargin

  // ---------------------------------------------------------------------
  // sim_cosine_topk — exact brute-force top-10 for query vectors
  // (vec_id % query_mod == 0) against the full corpus, where query_mod
  // is 50 at gate scales and grows with the corpus to hold the scored
  // (query × corpus) budget constant.
  // ---------------------------------------------------------------------
  /** Scored-dot budget for the exact yardstick's CATALOG surface:
    * ~25M (query × corpus) dot products — the sf1 workload the entry
    * has always carried (≈400 queries × ≈21k vectors ≈ 8M) with
    * headroom, held constant as the corpus grows instead of riding the
    * n²/50 curve (at sf10 the un-budgeted entry was the full-catalog
    * tier's only >10× scaler: 100.2 s, 52.3×, 11% of the wall). Same
    * pattern as [[Dedup.pairBudgetPairs]]: the stratum is deterministic
    * and metadata-derived, the result is the EXACT top-10 for every
    * query IN the stratum, and the exact scan stays the QUALITY recall
    * anchor (QualityHarness derives ONE corpus-derived stride —
    * annQueryStrideFor — and passes it to [[cosineTopKOver]] and all
    * ANN sides alike, stride 1 at the shipped gate scales). */
  private[graft] val queryBudgetDots = 25L * 1000 * 1000

  /** stride s = max(1, n² / (50·B)) — integer math only, so DuckDB's
    * COUNT(*)-based `//` computes the identical value. Queries become
    * the vec_id % qmod(s) == 0 rows: a ~1-in-s subsample of the
    * historic vec_id % 50 == 0 query set, so s = 1 (all gate scales up
    * to sf1) reproduces the historic result exactly. */
  private[graft] def queryStrideFor(n: Long): Int =
    budgetStrideFor(n, queryBudgetDots)

  /** Shared overflow-guarded stride arithmetic. n² is computed with
    * `Math.multiplyExact` and the stride checked against Int before
    * narrowing: past the Long horizon (n ≳ 3.0e9 vectors) a plain
    * `n * n` wraps NEGATIVE, max(1, negative) = stride 1, and the
    * whole budget silently evaporates into an unbounded probe set —
    * the same silent-break shape as the r19 qmod resonance. These
    * budgets exist to fail LOUDLY at unexpected scale (the
    * lshPlantOffset guard's discipline): a corpus past the guard needs
    * the stride arithmetic widened to Long qmods, not a wrapped one. */
  private def budgetStrideFor(n: Long, pairBudget: Long): Int = {
    val n2 =
      try Math.multiplyExact(n, n)
      catch {
        case _: ArithmeticException => throw new IllegalStateException(
          s"query-stride budget: corpus size $n overflows n*n in Long; " +
            "widen the stride/qmod arithmetic before running at this scale")
      }
    val s = math.max(1L, n2 / (50L * pairBudget))
    if (s > Int.MaxValue) throw new IllegalStateException(
      s"query-stride budget: stride $s for corpus size $n exceeds Int range; " +
        "widen the stride/qmod arithmetic before running at this scale")
    s.toInt
  }

  /** The query modulus for a stride: 50 (the historic set) at s = 1;
    * 50·s + 1 for any widened stride. The +1 makes the widened modulus
    * COPRIME TO 10 — without it the r19 sf100sub probe caught the
    * budget silently broken by RESONANCE: 50·s is divisible by high
    * powers of 2·5 whenever s is (s grows as n²), and every
    * ScaleData replica key-offset is a power of 10 (1e8/1e10/1e12), so
    * the offsets vanish mod 50·s and every base id ≡ 0 lands a query
    * in EVERY replica — at 2M vectors the "budgeted" set was 1,000
    * queries (2B dots, 80× budget, 243 s) instead of ~12. 50·s + 1 is
    * odd and ≡ 1 (mod 5), so gcd(qmod, 10^k) = 1 and replica offsets
    * spread residues uniformly: measured 13 queries / 26M dots at the
    * same corpus. Same integer arithmetic in the DuckDB oracle. */
  private[graft] def queryModFor(stride: Int): Long =
    if (stride <= 1) 50L else 50L * stride + 1L

  /** Probed-pairs budget for the ANN entries' catalog query sets.
    * The ANN probe stages do corpus-LINEAR work per query — LSH scans
    * ~9/256 of the corpus per query (own bucket + 8 hamming-1 probes),
    * IVF/IVF-PQ scan ~nprobe/K = 1/4 — so the historic vec_id % 50
    * query set (|q| ∝ n) made TOTAL probe work quadratic in the
    * corpus. The r19 sf100sub decade probe measured exactly that:
    * sim_ann_lsh 458 s (90× for 10× rows), and the IVF family died
    * outright ranking 40k queries × 500k scanned rows through one
    * per-query window. Same cure as the exact yardstick: a
    * metadata-derived query stride holding |q|·n at ~1B pairs — the
    * sf10 workload (4k queries × 200k vectors = 800M) with headroom,
    * so every shipped gate tier through sf10 keeps stride 1 and
    * bit-identical results, and the third decade holds the probe
    * budget flat (500 queries × 2M = 1B at sf100sub). The entries are
    * approximate-by-design (no_oracle, recall-gated): QualityHarness
    * uses the SAME corpus-derived stride (annQueryStrideFor) on the
    * exact and approximate sides of every gate — stride 1 at the
    * shipped gate scales — so the recall fixtures and served≡inline
    * contrasts compare identical query sets at any corpus size. */
  private[graft] val annQueryBudgetPairs = 1000L * 1000 * 1000

  private[graft] def annQueryStrideFor(n: Long): Int =
    budgetStrideFor(n, annQueryBudgetPairs)

  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    // footer row count (no Spark job), as in Dedup.embeddingCosineSampled
    val n = Tables.rows(spark, dir, "embeddings")
    cosineTopKOver(Tables.loadBalanced(spark, dir, "embeddings"),
      queryStride = queryStrideFor(n), emitMod = true)
  }

  /** Corpus-parameterized form (vec_id, embedding); queries are the
    * vec_id % queryModFor(queryStride) == 0 rows (50 at stride 1, the
    * coprime 50·s+1 for any widened stride). Shared by the catalog query
    * (corpus-size-aware stride, self-describing `query_mod` column) and
    * the planted-cluster recall fixture in SimilaritySpec /
    * QualityHarness (stride 1 = the full historic query set). */
  private[graft] def cosineTopKOver(corpus: DataFrame, queryStride: Int = 1,
      emitMod: Boolean = false): DataFrame = {
    val qMod = queryModFor(queryStride)
    val e = corpus.withColumn("norm", expr("vec_norm(embedding)"))
    val q = e.filter(col("vec_id") % qMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val scored = e.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("dot", expr("vec_dot(q_emb, embedding)"))
      .withColumn("score", round(col("dot") / (col("q_norm") * col("norm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val ranked = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("score"))
    // query_mod is emitted whenever the budgeted CATALOG surface is
    // requested — including stride 1 — so the entry's schema is
    // scale-invariant and always self-describing.
    (if (emitMod) ranked.withColumn("query_mod", lit(qMod)) else ranked)
      .orderBy("query_id", "rank")
  }

  /** The oracle derives the identical stride from its own COUNT(*)
    * (`//` is DuckDB floor division), so engine and oracle agree at
    * every scale; the query filter is applied in a dedicated CTE so
    * DuckDB scans (n/qmod)·n candidate pairs, not n². */
  val cosineTopKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${Dedup.normSql} AS norm FROM embeddings),
       |mm AS (SELECT CASE WHEN s <= 1 THEN 50 ELSE 50 * s + 1 END AS qmod FROM (
       |  SELECT GREATEST(1,
       |    (COUNT(*) * COUNT(*)) // ${50L * queryBudgetDots}) AS s FROM embeddings)),
       |q AS (SELECT e.*, mm.qmod FROM e, mm WHERE e.vec_id % mm.qmod = 0),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.qmod,
       |    ${sparkRound6Sql(s"($dotSql) / (a.norm * b.norm)")} AS score
       |  FROM q a JOIN e b ON a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score, qmod,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, score, qmod AS query_mod FROM ranked
       |WHERE rank <= 10 ORDER BY 1, 3""".stripMargin

  // ---------------------------------------------------------------------
  // sim_ann_lsh — 8 deterministic random hyperplanes → 256 buckets;
  // multi-probe (own bucket + hamming-1) then exact cosine re-rank.
  // Approximate by construction → rows-only driver check; recall vs the
  // brute-force baseline is asserted in SimilaritySpec.
  // ---------------------------------------------------------------------
  /** 8 deterministic pseudo-random hyperplanes (fixed seed → identical
    * across runs and executors), materialized ONCE as literal float
    * arrays. The previous form derived each of the 8×64 weights from
    * xxhash64 inside nested interpreted lambdas — per corpus row; the
    * weights are constants, so the per-row work should be only the 8
    * native vec_dot sign tests. */
  private val planeDim = 64
  private lazy val planes: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(20260812L)
    Seq.fill(8)(Seq.fill(planeDim)(rnd.nextFloat() * 2f - 1f))
  }

  /** Sign-test sum over the literal `__planes` column (attached by the
    * caller): 8 native vec_dot calls per row, nothing interpreted. */
  private def bucketCol: org.apache.spark.sql.Column =
    (0 until 8).map { j =>
      when(expr(s"vec_dot(embedding, __planes[$j])") > 0d, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.rows(spark, dir, "embeddings")
    annLshOver(Tables.loadBalanced(spark, dir, "embeddings"),
      queryStride = annQueryStrideFor(n), emitMod = true)
  }

  /** `emitMod` mirrors [[cosineTopKOver]]: the CATALOG surface always
    * emits a self-describing `query_mod` column, so a widened-stride
    * ANN artifact (sf100sub: qmod 4001) is schema-distinguishable from
    * a historic %50 run; spec/QUALITY fixtures keep the bare shape. */
  private[graft] def annLshOver(input: DataFrame,
      queryStride: Int = 1, emitMod: Boolean = false): DataFrame = {
    val e = input.withColumn("norm", expr("vec_norm(embedding)"))
      .withColumn("__planes", org.apache.spark.sql.functions.typedlit(planes))
      .withColumn("bucket", bucketCol)
      .drop("__planes")
    val corpus = e.select(col("vec_id"), col("embedding"), col("norm"), col("bucket"))
    val probes = e.filter(col("vec_id") % queryModFor(queryStride) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"),
        explode(expr(
          "concat(array(bucket), transform(sequence(0, 7), j -> bucket ^ shiftleft(1, j)))"))
          .as("probe_bucket"))
    // No dedup needed: a query's 9 probe buckets are pairwise distinct
    // and a corpus row has exactly one bucket, so each (query, corpus)
    // pair matches at most one probe row — a distinct() here would
    // shuffle the widest intermediate in the query for nothing.
    val candidates = corpus.join(broadcast(probes),
        col("bucket") === col("probe_bucket") && col("query_id") =!= col("vec_id"))
      .select("query_id", "q_emb", "q_norm", "vec_id", "embedding", "norm")
    val scored = candidates
      .withColumn("dot", expr("vec_dot(q_emb, embedding)"))
      .withColumn("score", round(col("dot") / (col("q_norm") * col("norm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val ranked = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("score"))
    (if (emitMod) ranked.withColumn("query_mod", lit(queryModFor(queryStride)))
     else ranked)
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------------
  // sim_ann_ivf — inverted-file ANN: a 16-centroid coarse quantizer
  // (deterministic seeds + 2 Lloyd iterations, all in DataFrame ops —
  // no driver-side collect), nprobe=4 probing, exact cosine re-rank.
  // The 100 TB shape: centroids are a broadcast-sized side table, the
  // corpus is partitioned by cluster id (bucketed/partitioned at rest
  // in a real deployment), and each query touches ~nprobe/K of it.
  // ---------------------------------------------------------------------
  private val K = 16
  private val NProbe = 4

  /** Element-wise mean of the member vectors per cluster.
    *
    * r21 (guide §1.2 — per-task work): one hash aggregate with 64
    * per-dimension avg columns replaces posexplode → (cluster, dim)
    * partial sums → collect/sort re-assembly. Same arithmetic, but no
    * 64× row materialization, no second aggregate, no array re-sort —
    * at 1M vectors each Lloyd pass aggregated 64M exploded rows; now
    * it folds 64 codegen'd avg() updates per corpus row. (Both forms
    * merge double partials in shuffle-fetch order, so they share the
    * same ULP-level nondeterminism class; the ANN family is
    * recall-gated, not value-pinned, for exactly that reason.)
    * Assumes fixed-width embeddings (the corpus contract, 64 dims):
    * element_at past a short row would yield null where the explode
    * form dropped the position. */
  private def recenter(assigned: DataFrame): DataFrame = {
    val avgs = (0 until planeDim)
      .map(i => avg(element_at(col("embedding"), i + 1)).as(s"m$i"))
    assigned.groupBy(col("cluster"))
      .agg(avgs.head, avgs.tail: _*)
      .select(col("cluster"),
        array((0 until planeDim).map(i => col(s"m$i").cast("float")): _*)
          .as("centroid"))
  }

  /** Nearest-centroid assignment (argmax by dot/|c| — corpus norms
    * cancel within a row).
    *
    * r21 (guide §2.4 — remove shuffles): the K centroids ride along as
    * ONE broadcast array-of-structs row (ascending cluster id) and the
    * argmax runs IN-ROW over that array — zero shuffle, where the old
    * broadcast-join + row_number window shuffled and sorted corpus×K
    * rows per call (and ivfIndex calls assign three times: two Lloyd
    * iterations plus the final inverted file — at the 2M-vector third
    * decade that was 3×32M window rows per IVF query). Tie-break
    * reproduces the window's (score DESC, cluster ASC) exactly: the
    * array is cluster-ascending and only a STRICTLY better score
    * replaces the accumulator; NaN scores (a zero-norm centroid) rank
    * greatest, as in the window's descending sort.
    *
    * The fold is seeded with the FIRST scored element (not a -1/-Inf
    * sentinel): with a sentinel seed, degenerate embeddings whose every
    * centroid score is null or exactly -Infinity would keep cluster -1
    * and silently vanish from the inverted lists, whereas the old
    * row_number window always assigned SOME cluster. Seeding with
    * element 1 reproduces the window on every input: a later element
    * replaces the seed only by the same strict-improvement rule, a
    * null-scored accumulator yields to the first real score (matching
    * the sentinel fold's skip-nulls behavior), and the all-degenerate
    * corpus gets cluster 1 instead of disappearing. The `scored` array
    * is materialized as its own projection so the seed and the slice
    * share one evaluation (CollapseProject keeps non-cheap expressions
    * single-use). */
  private def assign(e: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.groupBy()
      .agg(array_sort(collect_list(struct(col("cluster"), col("centroid"))))
        .as("cents"))
    e.crossJoin(broadcast(cents))
      .withColumn("scored", expr(
        """transform(cents, x -> named_struct(
          |  'c', x.cluster,
          |  's', vec_dot(embedding, x.centroid) / vec_norm(x.centroid)))""".stripMargin))
      .withColumn("cluster", expr(
        """CASE WHEN size(scored) = 0 THEN -1 ELSE aggregate(
          |  slice(scored, 2, greatest(size(scored) - 1, 0)),
          |  element_at(scored, 1),
          |  (acc, x) -> CASE
          |    WHEN acc.s IS NULL AND x.s IS NOT NULL THEN x
          |    WHEN x.s IS NULL THEN acc
          |    WHEN (isnan(x.s) AND NOT isnan(acc.s))
          |      OR (NOT isnan(x.s) AND NOT isnan(acc.s) AND x.s > acc.s) THEN x
          |    ELSE acc END).c END""".stripMargin))
      .drop("cents", "scored")
  }

  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.rows(spark, dir, "embeddings")
    ivfTopKOver(Tables.loadBalanced(spark, dir, "embeddings"),
      queryStride = annQueryStrideFor(n), emitMod = true)
  }

  /** Numbers a handful of seed rows by `vec_id` rank, starting at
    * `first`: (idCol INT, embCol). One global sort of the collected
    * rows — the [[assign]] idiom — instead of a partition-free window,
    * which logs Spark's "No Partition Defined for Window operation"
    * warning on every call. */
  private def numberSeeds(seeds: DataFrame, first: Int, idCol: String,
      embCol: String): DataFrame =
    seeds.groupBy()
      .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding"))))
        .as("seeds"))
      .select(posexplode(col("seeds")).as(Seq("pos", "seed")))
      .select((col("pos") + first).cast("int").as(idCol),
        col("seed.embedding").as(embCol))

  /** Train the coarse quantizer and build the inverted file:
    * (centroids — persisted, K rows; lists — one row per corpus vector
    * with its cluster id, embedding and norm). Shared by the plain IVF
    * query and the IVF-PQ composition. */
  private def ivfIndex(e: DataFrame): (DataFrame, DataFrame) = {
    // Deterministic pseudo-random seeds at any corpus size (hash-order
    // TakeOrdered — no count(), no collect), then 2 Lloyd iterations.
    val seeds = e
      .orderBy(pmod(xxhash64(col("vec_id")), lit(1000003)), col("vec_id"))
      .limit(K)
    var centroids = numberSeeds(seeds, 1, "cluster", "centroid")
    for (_ <- 1 to 2)
      centroids = recenter(assign(e, centroids)
        .select(col("cluster"), col("embedding")))
    // shared by the inverted lists, the probe scoring and the joined
    // plan; each would otherwise re-run the whole Lloyd lineage
    centroids = Materialized(centroids)
    (centroids, assign(e, centroids))
  }

  private[graft] def ivfTopKOver(corpus: DataFrame,
      queryStride: Int = 1, emitMod: Boolean = false): DataFrame = {
    val e = corpus.withColumn("norm", expr("vec_norm(embedding)"))
      .select("vec_id", "embedding", "norm")

    val (centroids, lists) = ivfIndex(e) // inverted file: vec_id → cluster

    // Probe the NProbe nearest centroids per query.
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cscore").desc, col("cluster"))
    val probes = e.filter(col("vec_id") % queryModFor(queryStride) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
      .join(broadcast(centroids))
      .withColumn("cscore",
        expr("vec_dot(q_emb, centroid)") / expr("vec_norm(centroid)"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= NProbe)
      .select("query_id", "q_emb", "q_norm", "cluster")

    // Scan only the probed lists; exact re-rank.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val ranked = lists.join(broadcast(probes), Seq("cluster"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score",
        round(expr("vec_dot(q_emb, embedding)") / (col("q_norm") * col("norm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("score"))
    (if (emitMod) ranked.withColumn("query_mod", lit(queryModFor(queryStride)))
     else ranked)
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------------
  // vec_pq_assign — product-quantization encoding: split each 64-dim
  // vector into 4 sub-blocks of 16 dims, quantize every block to the
  // nearest of 16 deterministic codebook centroids, and emit the 4
  // codes plus the total squared quantization error. PQ is the
  // compression layer a 100 TB ANN index stands on: 64 float32s
  // (256 B) become 4 nibbles (2 B), and IVF-PQ scans precomputed
  // distance tables instead of raw vectors. Scale shape: the codebook
  // is a broadcast 16-row table (trained once, reused across the
  // fleet), so encoding is one streaming pass over the corpus scan —
  // a broadcast nested product against 16 rows and a per-vector argmin
  // aggregate; the only shuffle is the argmin groupBy on vec_id, which
  // disappears entirely in a deployment that fuses the argmin into the
  // scan partition (kept as an aggregate here so the oracle can see
  // the same algebra). Determinism: codes are the rank of the seed's
  // vec_id; block distance is dot(x,x) + dot(c,c) − 2·dot(x,c), every
  // dot an ascending-index double fold in both engines; distance ties
  // break to the smallest code.
  // ---------------------------------------------------------------------
  private val pqBlocks = 4
  private val pqSubDim = 16
  private val pqK = 16
  private[graft] val pqSeedComb = 23L
  private[graft] val pqSeedRes = 5L

  def pqAssign(spark: SparkSession, dir: String): DataFrame =
    pqAssignOver(Tables.loadBalanced(spark, dir, "embeddings"))

  /** The 16-entry codebook: deterministic seed rows, code = seed rank.
    * Broadcast-sized; trained once and reused across the fleet in a
    * real deployment. */
  private def pqCodebook(e: DataFrame): DataFrame =
    numberSeeds(e.filter(col("vec_id") % pqSeedComb === pqSeedRes)
      .orderBy("vec_id").limit(pqK), 0, "code", "c_emb")

  /** Per-vector block codes + per-block squared distances:
    * (vec_id, code0..B-1, d0..B-1), unordered. Shared by the encoding
    * query (projects + rounds, at the documented 4-block layout) and
    * the IVF-PQ ADC scorer (codes only, at its own finer block count).
    * In a 100 TB deployment this frame is materialized at rest next to
    * the inverted file — blocks/2 bytes per vector — not recomputed
    * per query. */
  private def pqCodes(e: DataFrame, codebook: DataFrame,
      blocks: Int = pqBlocks): DataFrame = {
    val subDim = planeDim / blocks
    val sx = s"slice(embedding, 1 + block * $subDim, $subDim)"
    val sc = s"slice(c_emb, 1 + block * $subDim, $subDim)"
    // Measured-and-rejected (r21): an in-row per-block argmin over a
    // broadcast codebook ARRAY (zero shuffle, the assign() rewrite's
    // shape). Output-identical — the vec_pq_assign oracle hash-matched
    // — but 2.3× SLOWER (2.6 s → 5.9 s at sf1): the nested
    // transform/aggregate lambdas are interpreted per element, while
    // this exploded form keeps every vec_dot inside whole-stage
    // codegen and the argmin in a partial-aggregating min_by. The
    // shuffle it pays carries (vec_id, block, code, d) — narrow — so
    // codegen throughput wins over shuffle avoidance here (guide §4:
    // keep the hot path codegen'd). assign() differs: its lambda runs
    // K=16 dot products per CORPUS ROW once, not blocks×K slices, and
    // its removed window shuffled the WIDE embedding column.
    val scored = e.select("vec_id", "embedding").crossJoin(broadcast(codebook))
      .withColumn("block", explode(expr(s"sequence(0, ${blocks - 1})")))
      .withColumn("d",
        expr(s"vec_dot($sx, $sx) + vec_dot($sc, $sc) - 2 * vec_dot($sx, $sc)"))
    // two-level argmin: per (vector, block) first — the ordering struct
    // is never null there, keeping min_by semantics trivial — then a
    // tiny blocks-rows-per-vector pivot to columns
    val perBlock = scored.groupBy("vec_id", "block")
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("bcode"),
        min(col("d")).as("bd"))
    def blockAgg(b: Int): Seq[org.apache.spark.sql.Column] = Seq(
      first(when(col("block") === b, col("bcode")), ignoreNulls = true).as(s"code$b"),
      first(when(col("block") === b, col("bd")), ignoreNulls = true).as(s"d$b"))
    val aggs = (0 until blocks).flatMap(blockAgg)
    perBlock.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
  }

  private[graft] def pqAssignOver(input: DataFrame): DataFrame = {
    val e = input.select("vec_id", "embedding")
    pqCodes(e, pqCodebook(e))
      .select(col("vec_id"), col("code0"), col("code1"), col("code2"), col("code3"),
        round(col("d0") + col("d1") + col("d2") + col("d3"), 6).as("qerr"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------------
  // sim_ann_ivfpq — the composed 100 TB ANN shape: IVF coarse pruning
  // (scan ~nprobe/K of the corpus) × PQ asymmetric-distance scoring
  // (shortlist candidates from 4 B codes + a per-query 8×16 lookup
  // table, never touching raw candidate vectors) × an exact refine of
  // the per-query shortlist. The scan/shortlist half is the FAISS
  // IVFADC layout (Jégou et al., "Product Quantization for Nearest
  // Neighbor Search"): approx dot(q, x) = Σ_b qtab[b][code_b(x)],
  // where qtab[b][c] = dot(q_b, codebook[c]_b) is computed ONCE per
  // query against the broadcast codebook. The refine half is FAISS's
  // IndexRefineFlat composition: the top `RefineC` candidates per
  // query by ADC score are re-ranked with the TRUE cosine against
  // their raw vectors, so quantization costs shortlist membership
  // only, never final ordering — emitted scores are exact, the same
  // contract the LSH and IVF variants keep. Recall is approximate by
  // construction (coarse pruning + shortlist truncation) → no SQL
  // oracle; recall against the exact baseline is asserted on the
  // planted-cluster fixture in SimilaritySpec and on the sf-scaled
  // corpus in QualityHarness.corpusGates. At rest, `lists` (cluster
  // ids) and `codes` (4 B/vector) are materialized once — the
  // per-query cost is the probed lists' code scan plus a RefineC-row
  // raw-vector fetch (a point lookup at 100 TB, not a scan).
  // ---------------------------------------------------------------------
  /** Catalog entry: trains the index and runs the query half on every
    * call, so it times train+serve. [[ivfPqServed]] times the serve
    * half alone from the index at rest; both call the shared
    * [[adcTopK]], so their output is identical row for row
    * (SimilaritySpec, QualityHarness's served_equals_inline gate). */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopKOver(Tables.loadBalanced(spark, dir, "embeddings"),
      annQueryStrideFor(Tables.rows(spark, dir, "embeddings")), emitMod = true)

  private[graft] def ivfPqTopKOver(corpus: DataFrame,
      queryStride: Int = 1, emitMod: Boolean = false): DataFrame = {
    val e = corpus.withColumn("norm", expr("vec_norm(embedding)"))
      .select("vec_id", "embedding", "norm")
    val (centroids, codebook, postings) = ivfPqIndex(e)
    // shared by qtab and the probes
    val q = Materialized(e.filter(col("vec_id") % queryModFor(queryStride) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm")))
    withQueryMod(adcTopK(q, codebook, centroids, postings), queryStride, emitMod)
  }

  /** The IVF-PQ index over `e` (vec_id, embedding, norm): coarse
    * centroids, the scan codebook, and the postings (vec_id, cluster,
    * norm, embedding, code0..B-1). The one construction of both paths:
    * the inline entry queries it, the served build writes it as
    * artifacts. The codebook is shared by the postings' encode and the
    * query half. */
  private def ivfPqIndex(e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (centroids, lists) = ivfIndex(e)
    val codebook = Materialized(ivfPqCodebook(e))
    val postings = lists.select("vec_id", "cluster", "norm", "embedding")
      .join(pqCodes(e, codebook, ivfPqBlocks)
        .select("vec_id", ivfCodeCols: _*), Seq("vec_id"))
    (centroids, codebook, postings)
  }

  /** Append the self-describing `query_mod` column on the catalog
    * surface (see [[annLshOver]]'s emitMod note); adcTopK's final
    * orderBy("query_id", "rank") survives the projection. */
  private def withQueryMod(ranked: DataFrame, queryStride: Int,
      emitMod: Boolean): DataFrame =
    if (emitMod) ranked.withColumn("query_mod", lit(queryModFor(queryStride)))
    else ranked

  /** The IVF-PQ scan path quantizes finer than the standalone
    * `vec_pq_assign` layout: 8 blocks of 8 dims over a 64-entry
    * codebook (6-bit codes) vs 4 blocks over 16. Measured recall@10
    * vs the exact baseline on the clone-rich sf1 corpus — where too
    * many candidates collapse onto identical code tuples and the
    * shortlist truncates on an arbitrary tie-break — climbs each
    * step: 0.73 (pure 4×16 ADC ranking) → 0.89 (+ exact refine of
    * the ADC top-40) → 0.92 (8 blocks) → 0.94 (64-entry codebook) →
    * 0.95 (RefineC 200), against plain IVF's 0.97 coarse-pruning
    * ceiling with the identical nprobe=4/K=16 probe stage. */
  private val ivfPqBlocks = 8
  private def ivfCodeCols: Seq[String] = (0 until ivfPqBlocks).map(b => s"code$b")

  /** Codebook size for the IVF-PQ scan path: 64 entries (6-bit codes)
    * vs vec_pq_assign's documented 16. The codebook is a hash-ordered
    * deterministic corpus sample (the same seeding idiom as
    * ivfIndex) — the %-comb pattern vec_pq_assign uses cannot yield
    * 64 qualifying rows on the small verification corpora. The +77
    * hash offset decorrelates this sample from the IVF coarse seeds
    * so a codebook entry is not systematically a centroid. */
  private val ivfPqK = 64
  private def ivfPqCodebook(e: DataFrame): DataFrame =
    numberSeeds(e.orderBy(pmod(xxhash64(col("vec_id") + 77), lit(1000003)),
      col("vec_id")).limit(ivfPqK), 0, "code", "c_emb")

  /** ADC shortlist size per query: the refine stage re-ranks this many
    * candidates exactly (FAISS refine k_factor = RefineC/k = 20 —
    * sized for a clone-rich corpus where ADC ties run deep). A
    * true neighbor only needs to land in the ADC top-RefineC to
    * survive — the exact re-rank repairs any ordering error inside
    * the shortlist — and the cost is a RefineC-row-per-query
    * raw-vector lookup, invisible next to the probed-list code scan. */
  private val RefineC = 200

  /** The query-time half of IVF-PQ, shared verbatim by the inline
    * (train-per-call) and served (artifacts-at-rest) paths: per-query
    * ADC table + coarse probes against the broadcast codebook/
    * centroids, then candidate SHORTLISTING from the probed postings'
    * 4 B codes (raw corpus embeddings never enter the candidate
    * shuffle), then an exact re-rank of the tiny shortlist against the
    * postings' raw-vector column — a per-id fetch, not a scan.
    *
    * Broadcast bound: the refine stage broadcasts the shortlist
    * (|q| × RefineC rows of ids+norms) and the query vectors
    * (|q| × dim floats). With the built-in every-50th-vector query set
    * both stay KB-sized, but the contract is |q| ≲ 10^5: a caller
    * batching more queries than that should chunk the query frame (or
    * drop the two `broadcast` hints and let AQE pick the join side) —
    * past that point the shortlist stops being "tiny" and a shuffled
    * id-join is the right plan anyway. */
  private def adcTopK(q: DataFrame, codebook: DataFrame,
      centroids: DataFrame, postings: DataFrame): DataFrame = {
    // per-query ADC table: qtab[block][code] = dot(q_block, c_block)
    val subDim = planeDim / ivfPqBlocks
    val sq = s"slice(q_emb, 1 + block * $subDim, $subDim)"
    val sc = s"slice(c_emb, 1 + block * $subDim, $subDim)"
    val qtab = q.crossJoin(broadcast(codebook))
      .withColumn("block", explode(expr(s"sequence(0, ${ivfPqBlocks - 1})")))
      .withColumn("qd", expr(s"vec_dot($sq, $sc)"))
      .groupBy("query_id", "block")
      .agg(array_sort(collect_list(struct(col("code"), col("qd")))).as("cw"))
      .select(col("query_id"), col("block"),
        expr("transform(cw, x -> x.qd)").as("arr"))
      .groupBy("query_id")
      .agg(array_sort(collect_list(struct(col("block"), col("arr")))).as("bw"))
      .select(col("query_id"), expr("transform(bw, x -> x.arr)").as("qtab"))

    // coarse probes: the NProbe nearest centroids per query, carrying
    // the query's norm and ADC table (both broadcast-sized)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cscore").desc, col("cluster"))
    val probes = q.join(broadcast(centroids))
      .withColumn("cscore",
        expr("vec_dot(q_emb, centroid)") / expr("vec_norm(centroid)"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= NProbe)
      .select("query_id", "q_norm", "cluster")
      .join(qtab, Seq("query_id"))

    // candidates: probed lists only; ADC-rank from codes + table
    // lookups and keep the top RefineC per query. Column pruning keeps
    // the wide raw-vector column out of this branch entirely — the
    // candidate shuffle moves (ids, norm, 8 codes), ~4 B of payload
    // per vector, exactly the IVFADC scan cost.
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adot").desc, col("vec_id"))
    val adcSum = ivfCodeCols.zipWithIndex
      .map { case (c, b) => s"qtab[$b][$c]" }.mkString(" + ")
    val shortlist = postings
      .select("cluster", ("vec_id" +: "norm" +: ivfCodeCols): _*)
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adot", expr(adcSum))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= RefineC)
      .select("query_id", "q_norm", "vec_id", "norm")

    // refine: exact cosine over the shortlist's raw vectors. The
    // shortlist (queries × RefineC rows) broadcasts; the postings
    // raw-vector fetch joins against it reading only (vec_id,
    // embedding) — at rest the postings are cluster-partitioned, so
    // this is an id lookup within the already-probed lists. Emitted
    // scores are TRUE cosines: quantization decides shortlist
    // membership, never the reported score or final order.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    postings.select("vec_id", "embedding")
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("q_emb"))), Seq("query_id"))
      .withColumn("score",
        round(expr("vec_dot(q_emb, embedding)") / (col("q_norm") * col("norm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("score"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------------
  // sim_ann_ivfpq_served — the production serving mode the inline
  // query's comments promise: train ONCE, persist the index as parquet
  // artifacts, and serve top-k from the artifacts without ever
  // scanning the corpus embeddings again. Artifacts:
  //   centroids/  16 rows (cluster, centroid)        — broadcast side
  //   codebook/   16 rows (code, c_emb)              — broadcast side
  //   postings/   1 row per vector (vec_id, norm, 4 codes, raw
  //               embedding), PARTITIONED BY cluster — a probe reads
  //               ~nprobe/K of the files via partition pruning, which
  //               at 100 TB is the difference between an index lookup
  //               and a scan. Parquet is columnar, so the ADC scan
  //               reads only the 4 B codes + norm; the raw-vector
  //               column is fetched ONLY by the refine stage's
  //               RefineC-row-per-query lookup (the IVFFlat-beside-
  //               codes storage FAISS's refine wrappers use).
  // The serve plan touches `embeddings` exactly once: the probe-set
  // filter that yields the query vectors (SimilaritySpec asserts the
  // single scan, and that served output == inline output row-for-row).
  // ---------------------------------------------------------------------
  private[graft] def buildIvfPqIndex(corpus: DataFrame, indexDir: String): Unit = {
    val (centroids, codebook, postings) = ivfPqIndex(
      corpus.withColumn("norm", expr("vec_norm(embedding)"))
        .select("vec_id", "embedding", "norm"))
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids")
    codebook.write.mode("overwrite").parquet(s"$indexDir/codebook")
    postings.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$indexDir/postings")
    // the three writes are the only readers
    codebook.unpersist(blocking = false)
    centroids.unpersist(blocking = false): Unit
  }

  /** Serve top-k from a built index: corpus side = artifacts only;
    * `corpus` supplies the query vectors. */
  private[graft] def ivfPqServe(spark: SparkSession, corpus: DataFrame,
      indexDir: String, queryStride: Int = 1,
      emitMod: Boolean = false): DataFrame = {
    val centroids = Tables.read(spark, s"$indexDir/centroids")
    val codebook = Tables.read(spark, s"$indexDir/codebook")
    val postings = Tables.read(spark, s"$indexDir/postings")
    // shared by qtab and the probes
    val q = Materialized(corpus
      .filter(col("vec_id") % queryModFor(queryStride) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        expr("vec_norm(embedding)").as("q_norm")))
    withQueryMod(adcTopK(q, codebook, centroids, postings), queryStride, emitMod)
  }

  /** Where the served index of corpus `dir` lives: under
    * `spark.sql.warehouse.dir`, beside the bucketed tables, keyed by
    * the corpus path. */
  private[graft] def servedIndexDir(spark: SparkSession, dir: String): String =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), "graft_ivfpq_index_" +
      Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))).toString

  /** Catalog entry: serve top-k from the index at rest. The index is
    * built under the [[graft.sources.Bucketing.ensureBuilt]] rule —
    * once per JVM per corpus fingerprint — so repeat calls measure the
    * SERVING path, the production steady state where the index is a
    * maintenance artifact (RUNBOOK.md), and a corpus regenerated at the
    * same path rebuilds. */
  def ivfPqServed(spark: SparkSession, dir: String): DataFrame = {
    // same metadata-derived stride as the inline twin, so QUALITY's
    // served≡inline contrast compares identical query sets
    // one listing of the corpus feeds the stride, the freshness key,
    // the build and the query side
    val (corpus, m) = Tables.loadWithMeta(spark, dir, "embeddings", balanced = true)
    val stride = annQueryStrideFor(m.rows)
    val indexDir = servedIndexDir(spark, dir)
    val indexPath = new Path(indexDir)
    graft.sources.Bucketing.ensureBuilt(indexDir, Some(m.fingerprint),
      indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(indexPath)) {
      buildIvfPqIndex(corpus, indexDir)
    }
    ivfPqServe(spark, corpus, indexDir, stride, emitMod = true)
  }

  /** Ascending-index dot-product fold over one 16-dim sub-block, both
    * operands sliced from full 64-dim list columns. */
  private def blockDotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1 + block * $pqSubDim, ${pqSubDim + 1} + block * $pqSubDim),
       |  i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)""".stripMargin

  val pqAssignSql: String = {
    val dxx = blockDotSql("e.embedding", "e.embedding")
    val dcc = blockDotSql("cb.c_emb", "cb.c_emb")
    val dxc = blockDotSql("e.embedding", "cb.c_emb")
    s"""WITH cb AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
       |    embedding AS c_emb
       |  FROM embeddings WHERE vec_id % $pqSeedComb = $pqSeedRes
       |  ORDER BY vec_id LIMIT $pqK),
       |p AS (
       |  SELECT e.vec_id, cb.code, b.block,
       |    ($dxx) + ($dcc) - 2 * ($dxc) AS d
       |  FROM embeddings e
       |  CROSS JOIN cb
       |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS block) b),
       |r AS (
       |  SELECT vec_id, block, code, d,
       |    row_number() OVER (PARTITION BY vec_id, block ORDER BY d, code) AS rn
       |  FROM p),
       |w AS (
       |  SELECT vec_id,
       |    max(CASE WHEN block = 0 THEN code END) AS code0,
       |    max(CASE WHEN block = 1 THEN code END) AS code1,
       |    max(CASE WHEN block = 2 THEN code END) AS code2,
       |    max(CASE WHEN block = 3 THEN code END) AS code3,
       |    max(CASE WHEN block = 0 THEN d END) AS d0,
       |    max(CASE WHEN block = 1 THEN d END) AS d1,
       |    max(CASE WHEN block = 2 THEN d END) AS d2,
       |    max(CASE WHEN block = 3 THEN d END) AS d3
       |  FROM r WHERE rn = 1 GROUP BY 1)
       |SELECT vec_id, code0, code1, code2, code3,
       |  ${sparkRound6Sql("d0 + d1 + d2 + d3")} AS qerr
       |FROM w ORDER BY vec_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_cosine_topk" -> (cosineTopK _),
    "sim_ann_lsh"     -> (annLsh _),
    "sim_ann_ivf"     -> (ivfTopK _),
    "sim_ann_ivfpq"   -> (ivfPqTopK _),
    "sim_ann_ivfpq_served" -> (ivfPqServed _),
    "vec_pq_assign"   -> (pqAssign _))

  /** The three ANN variants (sim_ann_lsh, sim_ann_ivf, sim_ann_ivfpq)
    * are approximate by construction → no SQL oracle (driver rows-only
    * check); their recall against the exact sim_cosine_topk baseline is
    * covered by SimilaritySpec's planted-cluster fixtures. */
  val oracles: Map[String, String] = Map(
    "sim_cosine_topk" -> cosineTopKSql,
    "vec_pq_assign"   -> pqAssignSql)
}
