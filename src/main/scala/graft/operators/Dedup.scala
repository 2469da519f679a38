package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialized, Tables}

/** Deduplication suite over the `documents` and `embeddings` tables —
  * the operators a large-scale training-data pipeline runs before
  * anything else. All token/shingle machinery is shared with
  * [[TextAnalysis]] and kept to codegen'd built-ins + higher-order
  * array functions (no UDFs), so every stage stays inside whole-stage
  * codegen and the DuckDB oracles can reproduce it exactly.
  *
  * Scale design:
  *  - exact dedup = hash groupBy on the full text (at 100 TB you'd
  *    groupBy a 128-bit content hash instead; `text_fingerprint` in
  *    [[TextAnalysis]] provides exactly that hash).
  *  - ngram-jaccard = inverted-index self-join on shingles (pairs that
  *    share ≥1 shingle), NOT an n² cross join; shingles above a
  *    document-frequency cap are dropped from the pair self-join (a
  *    hot shingle's posting list is otherwise quadratic) and their
  *    exact per-pair contribution is re-added from per-doc hot-shingle
  *    sets, so the cap can only cost candidate recall (a pair missed
  *    iff ALL its shared shingles are hot), never a wrong jaccard.
  *  - minhash-LSH = 64 permutations → 32 bands × 2 rows; only
  *    band-collision candidates are verified with exact jaccard. At the
  *    oracle threshold (jaccard ≥ 0.8) the per-pair miss probability is
  *    (1 − 0.8²)³² ≈ 6e-15, which is why its oracle can be the exact
  *    jaccard SQL: the banding is chosen for the THRESHOLD, not just
  *    the planted similarity. Spurious low-similarity collisions cost
  *    only verification work, never correctness.
  *  - simhash = 60-bit signature; candidate pairs via 4×15-bit band
  *    blocking, which is EXACT for hamming ≤ 3 by pigeonhole — the
  *    brute-force oracle must agree perfectly.
  */
object Dedup {

  /** Tokenize: lowercase, split on non-alphanumeric, drop empties. */
  private[graft] val toksSpark = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
  private[graft] val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** Distinct word 3-gram shingles over a `toks` array column. */
  private[graft] val shinglesSpark =
    """CASE WHEN size(toks) >= 3 THEN
      |  array_distinct(transform(sequence(1, size(toks) - 2),
      |    i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))))
      |ELSE slice(toks, 1, 0) END""".stripMargin
  private[graft] val shinglesSql =
    """list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
      |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))""".stripMargin

  /** Signature frame (doc_id, sh, n) over any (doc_id, text) frame:
    * the one shingle prep every shingle-set consumer reads (jaccard,
    * containment, minhash-LSH, both incremental probes, the at-rest
    * index and the streaming probe). `sh` holds the doc's distinct
    * 3-gram hashes, sorted ONCE so verification is a merge, not a
    * per-pair hash set (minhash is order-invariant, so bands are
    * unaffected); `n` is their count; shingle-less docs are dropped.
    * shingles3_h64 emits the distinct 3-gram xxhash64 values
    * directly — the identical hash stream to
    * `transform(shingles3(toks), s -> xxhash64(s))` with zero
    * shingle-string allocation (FunctionsSpec asserts the
    * bit-identity); collision argument in the kernel scaladoc. Runs
    * in a codegen'd kernel also because the declarative form gets its
    * tokenization inlined per element when Catalyst pushes
    * `size(sh) > 0` below the projection — see the Shingles3 kernel
    * scaladoc for the full autopsy. */
  private[graft] def signatures(docs: DataFrame): DataFrame =
    docs.withColumn("sh", expr(s"shingles3_h64($toksSpark)"))
      .filter(size(col("sh")) > 0)
      .withColumn("sh", sort_array(col("sh")))
      .withColumn("n", size(col("sh")))
      .select("doc_id", "sh", "n")

  private val docShinglesSqlCte =
    s"""toks_t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM toks_t),
       |sh AS (SELECT doc_id, unnest(sh) AS s FROM sh_t),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)""".stripMargin

  /** Prefix-filtered exact-jaccard candidate CTEs (AllPairs-style
    * prefix filtering, Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW'07): under any global total order of
    * shingles — here (df ASC, s ASC) — a pair with jaccard ≥ t must
    * share an element inside BOTH docs' first n − ⌈t·n⌉ + 1 shingles,
    * because jaccard ≥ t forces overlap o ≥ t·n on each side, and if a
    * doc's smallest common shingle sat past that prefix fewer than
    * ⌈t·n⌉ of its shingles could be common at all. So the candidate
    * self-join runs over the short rare-shingle prefixes (the naive
    * sh⋈sh expansion is Σ df² — 2.1B rows at the 100× tier, where the
    * hottest shingle reaches df 680), and each candidate is then
    * verified EXACTLY on its full shingle sets via list_intersect —
    * identical results to the unfiltered form at every scale, proven
    * by hash-match at the gate SFs. ⌈t·n⌉ is emitted as exact integer
    * arithmetic ((num·n + den−1) // den): floating ceil(0.8·5) is 5
    * under binary rounding, which would silently shorten the prefix
    * below the sound length. */
  private def prefixCandSqlCte(num: Int, den: Int): String =
    s"""df_t AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
       |ranked AS (
       |  SELECT doc_id, s,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY df, s) AS rk,
       |    count(*) OVER (PARTITION BY doc_id) AS n
       |  FROM sh JOIN df_t USING (s)),
       |pref AS (SELECT doc_id, s FROM ranked
       |         WHERE rk <= n - (($num * n + ${den - 1}) // $den) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
       |  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT doc_i, doc_j, len(list_intersect(ai.sh, bj.sh)) AS n_inter
       |  FROM cand JOIN sh_t ai ON ai.doc_id = cand.doc_i
       |            JOIN sh_t bj ON bj.doc_id = cand.doc_j)""".stripMargin

  /** Exact-jaccard pair SQL — the minhash-LSH oracle (banding has no
    * DF cap, and a 0.8-jaccard pair escapes 32×2 banding with
    * p ≈ 6e-15, so exact pairs ARE its semantics). The inverted-index
    * query's oracle is [[jaccardPairsCappedSql]], which models that
    * operator's hot-shingle candidate cap. Candidates come from the
    * completeness-preserving prefix filter ([[prefixCandSqlCte]]) so
    * the oracle stays DuckDB-tractable on clone-rich 100× corpora. */
  private def jaccardPairsSql(threshold: Double): String = {
    val den = 10
    val num = math.round(threshold * den).toInt
    require(num.toDouble / den == threshold,
      s"prefix filter needs a tenth-rational threshold, got $threshold")
    s"""WITH $docShinglesSqlCte,
       |${prefixCandSqlCte(num, den)}
       |SELECT doc_i, doc_j,
       |  n_inter / (sa.n + sb.n - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON doc_i = sa.doc_id
       |JOIN sizes sb ON doc_j = sb.doc_id
       |WHERE n_inter / (sa.n + sb.n - n_inter) >= $threshold
       |ORDER BY 1, 2""".stripMargin
  }

  /** Capped-jaccard oracle: the SAME hot-shingle candidate cap as the
    * inverted-index operator (a pair is a candidate only if it shares
    * ≥1 shingle with DF ≤ maxDf; the intersection count itself stays
    * exact over ALL shingles — the containmentSql pattern). At the
    * driver's gate scales the cap never fires, so this agrees with the
    * uncapped form there; on a clone-rich corpus (the 10× bench data
    * replicates every doc 10 times, lifting every shingle DF 10×) the
    * cap DOES fire, and the oracle must encode the operator's recall
    * semantics rather than pretend it doesn't — the sf1 oracle run is
    * what caught the divergence. */
  private[graft] def jaccardPairsCappedSql(threshold: Double): String =
    s"""WITH $docShinglesSqlCte,
       |df_t AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
       |cold AS (SELECT doc_id, s FROM sh JOIN df_t USING (s)
       |         WHERE df <= $defaultMaxShingleDf),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
       |  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT doc_i, doc_j, len(list_intersect(ai.sh, bj.sh)) AS n_inter
       |  FROM cand JOIN sh_t ai ON ai.doc_id = cand.doc_i
       |            JOIN sh_t bj ON bj.doc_id = cand.doc_j)
       |SELECT doc_i, doc_j,
       |  n_inter / (sa.n + sb.n - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON doc_i = sa.doc_id
       |JOIN sizes sb ON doc_j = sb.doc_id
       |WHERE n_inter / (sa.n + sb.n - n_inter) >= $threshold
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_exact — hash groupBy on content; keeper = min id per group.
  // ---------------------------------------------------------------------
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), length(col("text")).as("text_len"))
      .orderBy("keep_id")

  val exactSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
      |  CAST(len(text) AS INT) AS text_len
      |FROM documents GROUP BY text ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_ngram_jaccard — inverted-index exact jaccard at 0.8.
  // ---------------------------------------------------------------------
  /** Shingles with document frequency above this are dropped from the
    * inverted index before the pair self-join. A shingle in d docs
    * contributes d(d−1)/2 candidate pairs, so one hot shingle ("of the
    * and") goes quadratic in its posting list at web scale; capping DF
    * is standard inverted-index practice. Because verification
    * merge-counts each candidate's FULL shingle arrays (see
    * [[pairIntersections]]), the cap affects only recall,
    * never a reported jaccard value — and a qualifying
    * pair (jaccard ≥ 0.8) is missed only if EVERY shingle it shares is
    * hot, which for near-dup docs means both are built almost entirely
    * of ubiquitous shingles. 64 is far above any legitimate per-pair
    * shingle DF at the driver's gate scales (where capped == uncapped)
    * while bounding any posting list to 64·63/2 pairs; the oracle
    * ([[jaccardPairsCappedSql]]) models the cap, so parity holds at
    * every scale, including clone-rich corpora where it fires. */
  private[graft] val defaultMaxShingleDf = 64L

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardCapped(signatures(Tables.loadBalanced(spark, dir, "documents")),
      defaultMaxShingleDf)

  /** Hashed inverted index: one row per (doc, shingle) over a
    * signature frame — the shingle strings are never materialized at
    * all (shingles3_h64 hashes the 3-grams in-kernel), and the
    * self-join shuffles 8-byte hashes instead of ~30-byte strings.
    * (64-bit collisions across distinct shingles are ~|S|²/2⁶⁵ —
    * immaterial — and the exact-string DuckDB oracle would catch
    * one.) */
  private def hashedIndex(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(col("sh")).as("s"))

  /** Shingles with DF > maxDf — the ubiquitous-boilerplate tail,
    * 8 bytes per entry. Computed with a map-side partial count (tiny
    * shuffle); the joins against it are left UNHINTED: when the hot
    * set is small AQE broadcasts it at runtime (no index re-shuffle),
    * and when it is genuinely large (the Zipf head of a web corpus
    * can be 1e7+ shingles) a forced broadcast would OOM the driver
    * where AQE's shuffle join — on the same `s` key the pair
    * self-join needs anyway — just works. */
  private def hotShingles(sh: DataFrame, maxDf: Long): DataFrame =
    sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("s")

  /** Candidate pairs (doc_i < doc_j) of a signature frame sharing ≥1
    * shingle with DF ≤ maxDf, deduplicated.
    *
    * Measured-and-rejected (r22, guide §1/§7 — measure, don't assume):
    * a posting-list form — groupBy(s) collect_list (bounded at maxDf
    * by the prior anti-join), sort once, expand the C(df,2) pairs
    * in-row — emits half the pre-filter rows of this self-join
    * (Σ C(df,2) vs Σ df²) and looked 1.25× faster on the isolated
    * candidate stage at sf0.1. But on the clone-rich sf1 tier the full
    * query ran 0.73× (5.85 s vs 4.26 s, within-JVM alternating mins):
    * the in-row `flatten(transform(...))` pair expansion is an
    * INTERPRETED higher-order lambda per posting list, while the
    * self-join probe is whole-stage-codegen'd — the same
    * interpreted-vs-codegen loss vec_pq_assign's rejected in-row
    * argmin measured in r21. The join form also lets AQE pick
    * broadcast/SMJ per scale. Kept the self-join. */
  private[graft] def ngramCandidates(sigs: DataFrame, maxDf: Long): DataFrame = {
    val sh = hashedIndex(sigs)
    selfPairs(sh.join(hotShingles(sh, maxDf), Seq("s"), "left_anti"), "s")
  }

  /** Distinct (doc_i, doc_j) pairs, doc_i < doc_j, of a (doc_id, key)
    * frame whose rows share a `key` value — the candidate self-join of
    * the inverted index (key = shingle) and of minhash-LSH (key =
    * band). */
  private def selfPairs(keyed: DataFrame, key: String): DataFrame =
    keyed.as("a")
      .join(keyed.as("b"), col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .distinct()

  /** Exact jaccard pairs with the hot-shingle cap over a signature
    * frame. Reported jaccard values are exact — verification
    * merge-counts each candidate's FULL sorted hash arrays (hot
    * shingles included), so the cap's only effect is recall: a pair
    * is missed iff EVERY shingle it shares is hot. */
  private[graft] def ngramJaccardCapped(sigs: DataFrame, maxDf: Long): DataFrame =
    jaccard(pairIntersections(sigs, maxDf)).orderBy("doc_i", "doc_j")

  /** The 0.8-jaccard threshold as exact integer arithmetic over the
    * merge-count column: I/(na+nb−I) ≥ 4/5 ⟺ 9·I ≥ 4·(na+nb) (integers
    * — no rounding anywhere; the boundary 9I = 4s means the double
    * division is exactly the rational 4/5, which rounds to the same
    * double the literal 0.8 parses to, so row membership is identical
    * to filtering on the double ratio — r22, guide §4.4). Why it
    * matters: a ratio filter references `n_inter` TWICE, and predicate
    * pushdown inlines the alias into the verification join's
    * condition, so every candidate pair paid TWO inter_count_sorted
    * merges in the join condition plus one more in the surviving
    * projection (the r22 plan audit counted 3 kernel evals per
    * candidate). This single-reference form pushes down as ONE merge
    * per candidate; survivors pay one more to report the value —
    * (1 + survivors/candidates) evals instead of (2 + s/c). */
  private[graft] val jaccardAtLeast08: Column =
    lit(9L) * col("n_inter") >= lit(4L) * (col("na") + col("nb"))

  /** (l, r, jaccard) of the verified pairs at jaccard ≥ 0.8: the
    * [[jaccardAtLeast08]] filter runs BEFORE the ratio, so pushdown
    * inlines one merge per candidate. Shared by every jaccard entry. */
  private def jaccard(pairs: DataFrame): DataFrame = {
    val Array(l, r, _*) = pairs.columns
    pairs.filter(jaccardAtLeast08)
      .select(col(l), col(r),
        (col("n_inter") / (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
  }

  /** Exact verification of a candidate (l, r) pair frame against two
    * signature frames (l's doc from `left`, r's from `right`):
    * (l, r, n_inter, na, nb), where na/nb are the docs' distinct-
    * shingle counts. Each pair's two sorted hash arrays ride two hash
    * joins keyed on doc id and meet in one linear `inter_count_sorted`
    * merge — no per-pair allocation, nothing quadratic in corpus size,
    * and shingles a capped index dropped still count, so n_inter is
    * exact. Jaccard and containment are pure functions of this frame;
    * every shingle-set pair consumer verifies here. */
  private def verified(cands: DataFrame, left: DataFrame, right: DataFrame): DataFrame = {
    val Array(l, r) = cands.columns
    cands
      .join(left.select(col("doc_id").as(l), col("sh").as("sh_a"), col("n").as("na")), l)
      .join(right.select(col("doc_id").as(r), col("sh").as("sh_b"), col("n").as("nb")), r)
      .withColumn("n_inter", expr("inter_count_sorted(sh_a, sh_b)"))
      .select(l, r, "n_inter", "na", "nb")
  }

  /** Verified shingle-intersection counts per capped-index candidate
    * pair (doc_i < doc_j, n_inter, na, nb) — shared by jaccard
    * (symmetric) and containment (asymmetric). Versus counting shared
    * shingles in the pair self-join itself, verifying DISTINCT
    * 16-byte candidate rows trades the wide per-shared-shingle
    * aggregation plus three bookkeeping joins (per-doc sizes, hot-set
    * re-add) for one array merge per candidate. */
  private def pairIntersections(sigs: DataFrame, maxDf: Long): DataFrame = {
    // shared by the DF stats, the pair self-join (via the exploded
    // index) and both verification joins
    val docs = Materialized(sigs)
    verified(ngramCandidates(docs, maxDf), docs, docs)
  }

  // ---------------------------------------------------------------------
  // dedup_containment — DIRECTED shingle containment: C(i→j) =
  // |sh(i) ∩ sh(j)| / |sh(i)| ≥ 0.5. Jaccard misses the
  // quote/repost/superset case — a short doc fully embedded in a much
  // longer one scores near-zero jaccard (|A∩B|/|A∪B| is diluted by the
  // big doc) but containment 1.0. This is the standard second dedup
  // axis for web corpora (Broder's containment, the same machinery
  // CCNet/Gopher-style pipelines use for partial-overlap removal).
  // Scale shape: identical to ngram-jaccard — the SAME capped
  // inverted-index pair frame ([[pairIntersections]]), one extra
  // projection to emit both directions; no new shuffle.
  // ---------------------------------------------------------------------
  private[graft] val containmentThreshold = 0.5

  def containment(spark: SparkSession, dir: String): DataFrame =
    containmentCapped(signatures(Tables.loadBalanced(spark, dir, "documents")),
      defaultMaxShingleDf)

  private[graft] def containmentCapped(sigs: DataFrame, maxDf: Long): DataFrame =
    // each undirected candidate pair yields its two directions (the
    // containment denominator is the CONTAINED side's shingle count) in
    // ONE explode over the pair frame — a union of two projections
    // would execute the whole inverted-index DAG twice
    pairIntersections(sigs, maxDf)
      // pair-level precondition: SOME direction reaches 0.5 iff
      // I/min(na,nb) ≥ 1/2 ⟺ 2·I ≥ min(na,nb) — exact integer
      // arithmetic (0.5 is a power of two, so the per-direction double
      // ratio agrees with the rational test at any realistic size).
      // Single n_inter reference, so pushdown inlines ONE merge-count
      // into the verification join (the same §4.4 duplication guard as
      // [[jaccardAtLeast08]]) and losers never reach the explode.
      // Output-identical: a pair failing this yields no direction rows.
      .filter(lit(2L) * col("n_inter") >= least(col("na"), col("nb")))
      .select(explode(array(
        struct(col("doc_i").as("doc_a"), col("doc_j").as("doc_b"),
          (col("n_inter") / col("na")).as("containment")),
        struct(col("doc_j").as("doc_a"), col("doc_i").as("doc_b"),
          (col("n_inter") / col("nb")).as("containment")))).as("p"))
      .select("p.doc_a", "p.doc_b", "p.containment")
      .filter(col("containment") >= containmentThreshold)
      .orderBy("doc_a", "doc_b")

  /** Directed-containment oracle: same inverted-index algebra in
    * DuckDB, both directions from the one undirected intersection — and
    * the SAME hot-shingle candidate cap as the operator (a pair is a
    * candidate only if it shares ≥1 shingle with DF ≤ maxDf; the
    * intersection count itself stays exact over ALL shingles).
    * Containment's 0.5 threshold over a short-doc denominator makes an
    * all-hot-overlap pair far more reportable than under jaccard ≥ 0.8,
    * so the oracle must encode the operator's recall semantics rather
    * than pretend the cap doesn't exist. At the shipped scales the cap
    * never fires (max shingle DF ≤ 64), so capped and uncapped agree —
    * the mirror exists so a templated corpus can't silently diverge. */
  val containmentSql: String =
    s"""WITH $docShinglesSqlCte,
       |df_t AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
       |cold AS (SELECT doc_id, s FROM sh JOIN df_t USING (s)
       |         WHERE df <= $defaultMaxShingleDf),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
       |  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT doc_i, doc_j, len(list_intersect(ai.sh, bj.sh)) AS n_inter
       |  FROM cand JOIN sh_t ai ON ai.doc_id = cand.doc_i
       |            JOIN sh_t bj ON bj.doc_id = cand.doc_j),
       |both_dirs AS (
       |  SELECT doc_i AS doc_a, doc_j AS doc_b, n_inter / sa.n AS containment
       |  FROM inter JOIN sizes sa ON doc_i = sa.doc_id
       |  UNION ALL
       |  SELECT doc_j AS doc_a, doc_i AS doc_b, n_inter / sb.n AS containment
       |  FROM inter JOIN sizes sb ON doc_j = sb.doc_id)
       |SELECT doc_a, doc_b, containment FROM both_dirs
       |WHERE containment >= $containmentThreshold
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_paragraph — segment-level exact dedup (Lee et al.,
  // "Deduplicating Training Data Makes Language Models Better"): split
  // every document into non-overlapping 8-token segments, and flag each
  // segment whose exact text recurs in ≥ 2 DISTINCT documents. Unlike
  // whole-doc dedup this catches boilerplate paragraphs (headers,
  // licenses, navigation) embedded in otherwise-unique documents — the
  // dominant duplication mode in web-scale corpora. Per doc it reports
  // segment counts and the duplicated fraction plus a keep flag
  // (drop when ≥ half the doc is corpus-duplicated text).
  //
  // Scale shape: segments travel as 16-byte keys — xxhash64 of the
  // segment paired with a salted second xxhash64 (the same
  // two-independent-64-bit-lanes idiom as text_fingerprint's 128-bit
  // content hash) — a cross-doc false merge needs a simultaneous
  // collision in BOTH lanes on the same distinct-segment pair
  // (~2^-128 per pair, negligible at any corpus size), so the
  // string-keyed
  // oracle's one-sided asymmetry is moot at any corpus size; one
  // map-side-combined groupBy computes each key's distinct-doc count,
  // one equi-join re-attaches it, one groupBy on doc_id folds back. No
  // self-join, no quadratic term anywhere: cost is linear in corpus
  // token count.
  //
  // dup_frac is TOKEN-weighted, not segment-weighted: the trailing
  // partial segment (as short as 1 token) must not carry the same
  // weight as a full 8-token segment, or two near-unique docs sharing
  // one common trailing word ('... the') would both cross the 0.5
  // drop line on that word alone.
  // ---------------------------------------------------------------------
  private[graft] val segTokens = 8
  private[graft] val segDupFracMax = 0.5

  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    paragraphDedupOver(Tables.loadBalanced(spark, dir, "documents"))

  /** Corpus-parameterized form over (doc_id, text) — shared by the
    * catalog query and the crafted-segment fixture in DedupSpec. */
  private[graft] def paragraphDedupOver(docs: DataFrame): DataFrame = {
    // shared by the distinct-doc count and the re-join, whose
    // exchanges canonicalize differently ((h, doc_id) partial-agg vs
    // raw rows on h), so ReuseExchange cannot share them
    val segs = Materialized(docs
      .withColumn("toks", expr(toksSpark))
      .withColumn("nt", size(col("toks")))
      .filter(col("nt") > 0)
      .withColumn("seg_idx",
        explode(expr(s"sequence(0, cast((nt + ${segTokens - 1}) div $segTokens AS int) - 1)")))
      .withColumn("seg", concat_ws(" ",
        slice(col("toks"), col("seg_idx") * segTokens + 1, lit(segTokens))))
      .select(col("doc_id"),
        least(lit(segTokens), col("nt") - col("seg_idx") * segTokens).as("w"),
        xxhash64(col("seg")).as("h"),
        // second lane: the salt shifts xxhash64's effective seed (Spark
        // chains multi-arg xxhash64 through the seed), giving a
        // seed-DECORRELATED companion, not an independent hash — XXH64
        // admits seed-independent collision constructions, so the joint
        // bound is heuristically ~2^-128 per pair for non-adversarial
        // corpora rather than a guarantee. Far beyond the old 32-bit
        // crc32 lane either way; an adversarial-input deployment would
        // swap h2 for a structurally different hash (sha2-derived).
        xxhash64(lit("graft_seg_salt"), col("seg")).as("h2")))
    val segDocs = segs.groupBy("h", "h2")
      .agg(countDistinct(col("doc_id")).as("nd"))
    segs.join(segDocs, Seq("h", "h2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_segs"),
        sum(col("w")).as("n_toks"),
        sum(when(col("nd") >= 2, col("w")).otherwise(lit(0))).as("n_dup_toks"))
      .withColumn("dup_frac", col("n_dup_toks") / col("n_toks"))
      .withColumn("keep", col("dup_frac") < segDupFracMax)
      .select("doc_id", "n_segs", "n_dup_segs", "dup_frac", "keep")
      .orderBy("doc_id")
  }

  /** `slice(toks, i*8+1, 8)` caps at the array end in Spark; DuckDB's
    * inclusive-bound `toks[a : b]` needs the explicit `least`. */
  val paragraphDedupSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |n AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS nt
       |      FROM t WHERE len(toks) > 0),
       |s AS (SELECT doc_id, toks, nt,
       |        CAST(unnest(range(0, (nt + ${segTokens - 1}) // $segTokens)) AS INT) AS seg_idx
       |      FROM n),
       |seg AS (SELECT doc_id,
       |          least($segTokens, nt - seg_idx * $segTokens) AS w,
       |          array_to_string(toks[seg_idx * $segTokens + 1 :
       |            least(seg_idx * $segTokens + $segTokens, nt)], ' ') AS seg
       |        FROM s),
       |d AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM seg GROUP BY 1),
       |p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
       |        CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
       |        CAST(sum(w) AS BIGINT) AS n_toks,
       |        CAST(sum(CASE WHEN nd >= 2 THEN w ELSE 0 END) AS BIGINT) AS n_dup_toks
       |      FROM seg JOIN d USING (seg) GROUP BY 1)
       |SELECT doc_id, n_segs, n_dup_segs,
       |  n_dup_toks / n_toks AS dup_frac,
       |  n_dup_toks / n_toks < $segDupFracMax AS keep
       |FROM p ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_minhash_lsh — 64 minhash perms, 32 bands × 2 rows, exact
  // verification of band-collision candidates.
  // ---------------------------------------------------------------------
  /** (doc_id, band_key) — the 32×2 LSH bands of a signature frame, each
    * band's identity folded into ONE 64-bit key (xxhash64 of band index
    * + band hash). The 64-permutation min-scan runs over the
    * precomputed longs in a codegen'd kernel (graft.functions
    * .MinHashSig64) — no string building anywhere. One key, not two,
    * so the at-rest index can be bucketed on exactly the probe's join
    * key (co-partitioning rules never force a re-exchange over a key
    * subset). A cross-band 64-bit collision can only ADD a candidate,
    * and candidates are exact-verified — false ones never reach the
    * output. Shared by whole-corpus LSH, both incremental probes and
    * the at-rest index build. */
  private[graft] def bandKeys(sigs: DataFrame): DataFrame =
    sigs.withColumn("sig", expr("minhash_sig64(sh)"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 31), b ->
          |  xxhash64(b, xxhash64(element_at(sig, 2*b+1), element_at(sig, 2*b+2))))"""
          .stripMargin)).as("band_key"))

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // shared by candidate generation AND verification; the minhash
    // signature is deliberately NOT on this frame so the two
    // verification joins don't carry 64 longs per doc. The cache holds
    // 8-byte hashes, not ~30-byte shingle strings.
    val docs = Materialized(signatures(Tables.loadBalanced(spark, dir, "documents")))
    // Banding has no DF cap: a genuine M-clone group yields all C(M,2)
    // of its pairs as candidates, which is OUTPUT-optimal — those pairs
    // ARE the answer set — and each costs one merge-count to verify.
    jaccard(verified(selfPairs(bandKeys(docs), "band_key"), docs, docs))
      .orderBy("doc_i", "doc_j")
  }

  // ---------------------------------------------------------------------
  // dedup_incremental — new-batch-vs-index near-dup detection: today's
  // crawl (doc_id % 10 == 7 stands in for the new batch) checked
  // against the already-ingested corpus, NEVER against itself. This is
  // the production dedup shape at 100 TB: the index side's band keys
  // are materialized at rest (computed once per doc, ever), so a daily
  // batch costs |batch| signature computations plus an equi-join probe
  // into the band index — not an O(corpus²) re-pairing. The batch side
  // is small relative to the index, so AQE broadcasts its bands and
  // the index never reshuffles; an index bucketed by band_key at rest
  // makes the probe exchange-free. Whether the index sits in memory
  // (here) or at rest (dedup_incremental_bucketed, the streaming
  // probe), the batch goes through the same [[probe]].
  // ---------------------------------------------------------------------
  private[graft] val batchStride = 10L
  private[graft] val batchRes = 7L
  private[graft] val isBatch: Column = col("doc_id") % batchStride === batchRes

  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    // shared by band generation for both sides and the two
    // verification joins
    val sigs = Materialized(signatures(Tables.loadBalanced(spark, dir, "documents")))
    val idx = sigs.filter(!isBatch)
    probe(sigs.filter(isBatch), bandKeys(idx), idx).orderBy("doc_new", "doc_idx")
  }

  /** Probe a batch signature frame against an index given as its band
    * keys (doc_id, band_key) and its signature frame, in memory or at
    * rest: band-key equi-join for candidates, exact verification.
    * (doc_new, doc_idx, jaccard), UNSORTED — the catalog queries add
    * their deterministic orderBy; the streaming probe
    * (graft.streaming.DocDedupStream) appends each micro-batch's rows
    * as they verify. */
  private[graft] def probe(batch: DataFrame, idxBands: DataFrame, idxSigs: DataFrame): DataFrame = {
    val candidates = bandKeys(batch).as("a")
      .join(idxBands.as("b"), col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("doc_new"), col("b.doc_id").as("doc_idx"))
      .distinct()
    jaccard(verified(candidates, batch, idxSigs))
  }

  /** Same exactness argument as dedup_minhash_lsh (32×2 banding misses
    * a jaccard-0.8 pair with p ≈ 6e-15, candidates exact-verified), so
    * the exact batch-vs-index jaccard SQL is the oracle. */
  val incrementalSql: String =
    s"""WITH $docShinglesSqlCte,
       |inter AS (
       |  SELECT a.doc_id AS doc_new, b.doc_id AS doc_idx, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.s = b.s
       |    AND a.doc_id % $batchStride = $batchRes
       |    AND b.doc_id % $batchStride <> $batchRes
       |  GROUP BY 1, 2)
       |SELECT doc_new, doc_idx,
       |  n_inter / (sa.n + sb.n - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON doc_new = sa.doc_id
       |JOIN sizes sb ON doc_idx = sb.doc_id
       |WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_incremental_bucketed — the same batch-vs-index probe with the
  // index BUCKETED AT REST, realizing the "exchange-free probe" claim
  // above: the band index is a bucketed table on band_key (so the
  // probe join never reshuffles it — either the batch bands broadcast,
  // or the probe side alone exchanges to the index's bucketing) and
  // the doc-signature store is bucketed on doc_id (so verification
  // joins read it in place). Both tables are build-once: the writes
  // are gated on the corpus fingerprint (the q13/served-ANN idiom), so
  // a daily batch pays |batch| signatures + co-located probes while
  // the 100 TB index is never recomputed OR reshuffled. Identical
  // output to dedup_incremental (same banding, same verification), so
  // it shares the exact oracle; DedupSpec pins the exchange-free
  // index-side plan.
  // ---------------------------------------------------------------------
  private[graft] val bandIdxTable = "graft_dedup_bands_bkt"
  private[graft] val idxDocsTable = "graft_dedup_docs_bkt"
  private[graft] val idxBuckets = 16

  /** Build (or freshness-skip) the two at-rest index tables from the
    * non-batch rows of `dir`'s documents, and return the loaded
    * documents frame for the caller's batch side. Idempotent per
    * corpus state. */
  private[graft] def ensureIndexed(spark: SparkSession, dir: String): DataFrame = {
    val (docs, m) = Tables.loadWithMeta(spark, dir, "documents", balanced = true)
    val fp = Some(m.fingerprint)
    val idxSigs = signatures(docs).filter(!isBatch)
    // shared by the two table builds, and filled only when one runs:
    // ensureBucketed takes its frame by name, and a fresh index is the
    // serving steady state
    graft.sources.Bucketing.ensureBucketed(spark,
      bandKeys(Materialized(idxSigs)), bandIdxTable, idxBuckets, Seq("band_key"), fp)
    graft.sources.Bucketing.ensureBucketed(spark,
      Materialized(idxSigs), idxDocsTable, idxBuckets, Seq("doc_id"), fp)
    idxSigs.unpersist(blocking = false): Unit
    docs
  }

  def incrementalBucketed(spark: SparkSession, dir: String): DataFrame = {
    // shared by band generation and the verification join
    val batch = Materialized(signatures(ensureIndexed(spark, dir)).filter(isBatch))
    probe(batch, spark.table(bandIdxTable), spark.table(idxDocsTable))
      .orderBy("doc_new", "doc_idx")
  }

  // ---------------------------------------------------------------------
  // dedup_normalized — near-exact dedup on NORMALIZED text: casefold,
  // collapse every non-alphanumeric run to a single space, trim. This
  // is the C4-style "trivial variant" collapse — identical content
  // differing only in case, punctuation, or whitespace hashes to one
  // group where byte-exact dedup sees distinct documents. n_variants
  // counts how many RAW texts the group collapsed (the signal exact
  // dedup missed). Same scale shape as dedup_exact: one
  // map-side-combined hash groupBy; in production the group key is a
  // 128-bit digest of the normalized text, not the text itself.
  // ---------------------------------------------------------------------
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame =
    normalizedDedupOver(Tables.load(spark, dir, "documents"))

  /** Over a (doc_id, text) frame — shared by the catalog query and the
    * crafted case/punct/whitespace-variant fixture in DedupSpec. */
  private[graft] def normalizedDedupOver(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm_text",
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
      .groupBy("norm_text")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(col("text")).as("n_variants"))
      .select(col("keep_id"), col("n_copies"), col("n_variants"),
        length(col("norm_text")).as("norm_len"))
      .orderBy("keep_id")

  val normalizedDedupSql: String =
    """WITH n AS (SELECT doc_id, text,
      |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm_text
      |FROM documents)
      |SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
      |  count(DISTINCT text) AS n_variants,
      |  CAST(len(norm_text) AS INT) AS norm_len
      |FROM n GROUP BY norm_text ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_simhash — 60-bit simhash (md5-derived token hashes so the
  // oracle can reproduce them), pairs at hamming ≤ 3 via 4-band
  // pigeonhole blocking.
  // ---------------------------------------------------------------------
  /** THE md5-substring hash idiom both engines compute identically:
    * hex digits [start, start+len) of md5, as a bigint. Every derived
    * hash in the catalog (60-bit token, 60-bit high half, 48-bit
    * winnowing gram) is an instantiation — one definition to fix if
    * the idiom ever changes. Spark: conv(hex, 16, 10); DuckDB:
    * CAST('0x'||hex AS BIGINT). */
  private[graft] def hexHashSpark(v: String, start: Int, len: Int): String =
    s"CAST(conv(substring(md5(cast($v AS binary)), $start, $len), 16, 10) AS bigint)"
  private[graft] def hexHashSql(v: String, start: Int, len: Int): String =
    s"CAST('0x' || substr(md5($v), $start, $len) AS BIGINT)"

  /** 60-bit token hash: first 15 hex digits of md5. */
  private[graft] def tokHash60Spark(v: String): String = hexHashSpark(v, 1, 15)
  private[graft] def tokHash60Sql(v: String): String = hexHashSql(v, 1, 15)
  private val tokHashSpark = tokHash60Spark("x")

  /** Token hashes are computed ONCE per token (the md5+conv is the
    * expensive part), then the 60-bit majority vote runs in the
    * codegen'd kernel (graft.functions.SimHash60) — the same rule the
    * oracle SQL evaluates, so values are identical. */
  private val simhashSpark =
    s"simhash60(transform(toks, x -> $tokHashSpark))"

  private def simhashSqlOver(tokHash: String): String =
    s"""CAST(list_sum(list_transform(range(0, 60), k ->
       |  CASE WHEN list_sum(list_transform(
       |         list_transform(toks, x -> $tokHash),
       |         h -> CASE WHEN ((h >> k) & 1) = 1 THEN 1 ELSE -1 END)) > 0
       |       THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
       |AS BIGINT)""".stripMargin

  private val simhashSql = simhashSqlOver(tokHash60Sql("x"))

  private def simhashes(spark: SparkSession, dir: String): DataFrame = {
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(toksSpark))
      .filter(size(col("toks")) > 0)
      .withColumn("simhash", expr(simhashSpark))
      .select("doc_id", "simhash")
  }

  private val simhashesSqlCte =
    s"""toks_t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sims AS (SELECT doc_id, $simhashSql AS simhash FROM toks_t WHERE len(toks) > 0)"""
      .stripMargin

  def simhashValues(spark: SparkSession, dir: String): DataFrame =
    simhashes(spark, dir).orderBy("doc_id")

  val simhashValuesSql: String =
    s"WITH $simhashesSqlCte SELECT doc_id, simhash FROM sims ORDER BY 1"

  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(spark, dir, nBands = 4)

  /** Near-dup pairs at hamming ≤ nBands−1 ∧ ≤ 3, blocked on nBands
    * equal-width bands of the 60-bit signature.
    *
    * Band-count trade (pigeonhole): `nBands` bands are EXACT for
    * hamming ≤ nBands−1, but each band then has 60/nBands bits →
    * 2^(60/nBands) buckets, and in-bucket pairing is quadratic in
    * occupancy. With the default 4×15 bits (hamming ≤ 3) there are
    * only 2¹⁵ buckets per band: assuming uniform signatures, expected
    * candidate pairs ≈ nBands·n²/2^(w+1) — fine to ~10⁸ docs, ~10¹³
    * pairs at n=10⁹, i.e. it breaks somewhere past 10⁸ docs. The knobs:
    * nBands=2 (2×30 bits, 2³⁰ buckets) scales to ~10⁹⁺ docs at the
    * cost of exactness radius (hamming ≤ 1 only); conversely nBands=6
    * covers hamming ≤ 5. Radius > bucket-count relief inside 60 bits
    * is a zero-sum game — the real 10⁹⁺-doc fix is a wider signature
    * (e.g. 128-bit simhash with 4×32-bit bands), which only needs a
    * wider kernel, not a different plan shape. */
  def simhashPairs(spark: SparkSession, dir: String, nBands: Int): DataFrame = {
    require(60 % nBands == 0, s"nBands must divide 60, got $nBands")
    val width = 60 / nBands
    val mask = (1L << width) - 1
    // shared by both self-join sides; the md5-per-token simhash pass
    // is the expensive part
    val sims = Materialized(simhashes(spark, dir))
    val banded = sims.select(col("doc_id"), col("simhash"),
        explode(expr(
          s"transform(sequence(0, ${nBands - 1}), b -> named_struct('band_idx', b, 'band_val', shiftright(simhash, b * $width) & $mask))"))
          .as("band"))
      .select(col("doc_id"), col("simhash"), col("band.band_idx"), col("band.band_val"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_val") === col("b.band_val")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_i", "doc_j")
  }

  val simhashPairsSql: String =
    s"""WITH $simhashesSqlCte
       |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_simhash_wide — the documented wider-signature fix for the
  // 60-bit version's ~10⁸-doc ceiling: a 120-bit simhash (two
  // INDEPENDENT 60-bit halves over disjoint md5 digit ranges of the
  // same token — no new kernel, the majority vote runs twice), banded
  // 4 × 30 bits. Pigeonhole: hamming ≤ 3 over 4 disjoint bands forces
  // ≥ 1 identical band — still EXACT at radius 3 — but each band now
  // has 2³⁰ buckets, so expected in-bucket occupancy stays sub-
  // quadratic out past 10⁹ docs (expected candidate pairs ≈
  // 4·n²/2³¹). Radius-vs-bucket-count inside a FIXED width is zero-
  // sum ([[simhashPairs]] scaladoc); widening the signature is the
  // move that relaxes both at once.
  // ---------------------------------------------------------------------
  private[graft] def tokHash60HiSql(v: String): String = hexHashSql(v, 17, 15)

  private[graft] def simhashesWide(spark: SparkSession, dir: String): DataFrame = {
    // ONE md5 per token: both 15-hex-digit halves come from the same
    // 32-char digest, materialized once — the digest pass dominates
    // this query, and CollapseProject keeps a non-cheap multi-consumer
    // alias like md5s un-inlined, so the two conv scans below really do
    // share it rather than re-hashing
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(toksSpark))
      .filter(size(col("toks")) > 0)
      .withColumn("md5s", expr("transform(toks, x -> md5(cast(x AS binary)))"))
      .withColumn("sim_lo",
        expr("simhash60(transform(md5s, h -> CAST(conv(substring(h, 1, 15), 16, 10) AS bigint)))"))
      .withColumn("sim_hi",
        expr("simhash60(transform(md5s, h -> CAST(conv(substring(h, 17, 15), 16, 10) AS bigint)))"))
      .select("doc_id", "sim_lo", "sim_hi")
  }

  private val simhashesWideSqlCte =
    s"""toks_t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sims AS (SELECT doc_id,
       |  ${simhashSqlOver(tokHash60Sql("x"))} AS sim_lo,
       |  ${simhashSqlOver(tokHash60HiSql("x"))} AS sim_hi
       |FROM toks_t WHERE len(toks) > 0)""".stripMargin

  def simhashWidePairs(spark: SparkSession, dir: String): DataFrame = {
    // shared by both self-join sides; two md5-per-token majority
    // votes are the expensive part
    val sims = Materialized(simhashesWide(spark, dir))
    val banded = sims.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        explode(expr(
          """transform(sequence(0, 3), b -> named_struct(
            |  'band_idx', b,
            |  'band_val', shiftright(IF(b < 2, sim_lo, sim_hi), (b % 2) * 30) & 1073741823))"""
            .stripMargin)).as("band"))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        col("band.band_idx"), col("band.band_val"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_val") === col("b.band_val")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        (bit_count(col("a.sim_lo").bitwiseXOR(col("b.sim_lo")))
          + bit_count(col("a.sim_hi").bitwiseXOR(col("b.sim_hi")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_i", "doc_j")
  }

  val simhashWidePairsSql: String =
    s"""WITH $simhashesWideSqlCte
       |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
       |  CAST(bit_count(xor(a.sim_lo, b.sim_lo))
       |     + bit_count(xor(a.sim_hi, b.sim_hi)) AS INT) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim_lo, b.sim_lo))
       |    + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_embedding_cosine — near-dup pairs by cosine over the embedding
  // column, EXACT at threshold 0.45 via a blocked equi-join pair scan.
  //
  // Why not LSH banding here: the threshold sits in the BULK of this
  // corpus's pair-cosine distribution (dim-64 near-uniform vectors →
  // pair cosine ≈ N(0, 1/64); qualifying pairs are its ~3.6σ tail,
  // with pairs right at the boundary — measured 0.4494 vs 0.4516 at
  // sf0.01). Random-hyperplane banding separates by per-plane
  // agreement p(c) = 1 − acos(c)/π, and p(0.45) = 0.649 vs p(0) = 0.5
  // — too close: for per-pair miss ≤ 1e-4 at the threshold one needs
  // b ≈ 9.2/p^r bands, which puts b·2^-r ≈ 9.2·(0.771)^r expected
  // colliding bands on a RANDOM pair; 10× candidate reduction then
  // requires r ≥ 18 rows/band and b ≈ 16k bands ≈ 3·10⁵ plane-bits
  // per vector — the signature pass alone out-costs the brute-force
  // dot scan for any corpus below ~3·10⁵ vectors and still leaves 10%
  // of all pairs as candidates. Exactness at a bulk threshold is
  // inherently Θ(n²); no blocking scheme is both complete and useful
  // on this data. (The sub-quadratic path for REAL near-dup
  // thresholds, where blocking is sound, is [[embeddingLsh]] below.)
  //
  // So the fix for the old plan (a.vec_id < b.vec_id BroadcastNestedLoop
  // — driver-broadcast of a whole side, OOM past ~10⁶ vectors) is the
  // scalable EXACT formulation: a blocked self-join. Each vector lands
  // in one of G hash blocks and is replicated to the G unordered
  // block-pairs it belongs to; the join is then a plain shuffle
  // equi-join on the block-pair id, with G(G+1)/2 keys spreading the
  // n²/2 dot products evenly across the cluster and per-task state
  // bounded by one block-pair bucket (~2n/G vectors) — the G knob
  // trades replication (shuffle n·G rows) against bucket memory. Every
  // unordered pair meets in EXACTLY one bucket: cross-block pairs only
  // share their canonical {blk_a, blk_b} key, and same-block pairs
  // (which share all G keys) are kept only at the diagonal key by the
  // canonical-key filter.
  // ---------------------------------------------------------------------
  private[graft] val normSql =
    "sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))"

  /** Default G adapts to the session's parallelism: G(G+1)/2 buckets
    * should comfortably exceed the core count or the pair scan runs on
    * a handful of straggler tasks (at local[32] the old fixed G=8 gave
    * 36 coarse buckets → ~1 bucket/core with no slack; G=16 gives 136).
    * Replication cost is only n·G rows — trivial against the n²/2 dot
    * products it spreads — so target ~4 buckets per core and floor at
    * 8. A 1000-executor deployment lands at G ≈ 256 (≈33k buckets)
    * automatically, and callers with a memory budget can still pass an
    * explicit G. Results are G-invariant (every unordered pair meets in
    * exactly one bucket for ANY G — spec-asserted). Local timing is
    * G-insensitive (measured 40±2 s at sf1 for G ∈ {8,16,24}: one JVM
    * is memory-bandwidth-bound, not scheduling-bound); the knob's
    * payoff is real-cluster task granularity and per-task memory. */
  private[graft] def defaultPairBlocks(spark: SparkSession): Int = {
    val p = spark.sparkContext.defaultParallelism
    math.max(8, math.ceil(math.sqrt(8.0 * p)).toInt)
  }

  def embeddingCosine(spark: SparkSession, dir: String): DataFrame =
    embeddingCosineAllPairs(spark, dir, threshold = 0.45)

  /** Verification-budget twin for the TIMED surface: the same blocked
    * equi-join, restricted to the deterministic 1-in-m pair stratum
    * (vec_i + vec_j ≡ 0 mod m). The stratum predicate is part of the
    * join condition, so the skipped pairs never reach the dot-product
    * kernel — the n²/2 compute drops by the sample factor, not just
    * the output. Honest by construction: the constant `sample_mod`
    * column self-describes the stratum, the result is the EXACT answer
    * on that stratum (same threshold, same rounding, full DuckDB
    * oracle), and the unbounded [[embeddingCosine]] stays the
    * verification tool Verify runs. Bench runs this twin by default
    * (Bench.scala logs the exclusion).
    *
    * The stratum is CORPUS-SIZE-AWARE: m = [[pairSampleModFor]](n)
    * holds the verified-pair budget at ~[[pairBudgetPairs]] across
    * scales instead of letting a fixed mod ride the n² curve (the r16
    * sf10 tier spent 491 s — 62% of its wall — on this twin at a fixed
    * m = 8; a fixed mod also made the twin the worst apparent
    * cross-SF "scaler" at ~8.5×, purely a denominator artifact). At
    * n ≤ ~7k vectors the budget exceeds all n(n−1)/2 pairs and the
    * twin degenerates to the full exact scan (m = 1); at the sf1 tier
    * (20k) the formula lands on the same m = 8 the twin always used;
    * at sf10 (200k) it is m = 800 — constant work, not constant mod.
    * The oracle computes the identical m from its own COUNT(*), so the
    * comparison stays exact at every scale, and the n it derives from
    * is the footers' row count (Tables.rows: no Spark job). */
  def embeddingCosineSampled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.rows(spark, dir, "embeddings")
    embeddingCosineAllPairs(spark, dir, threshold = 0.45,
      pairMod = pairSampleModFor(n), emitMod = true)
  }

  /** Target verified-pair budget for the sampled twin: ~25M pairs is
    * the sf1 workload the twin has always carried (20k vectors at
    * m = 8), kept constant as the corpus grows. */
  private[graft] val pairBudgetPairs = 25L * 1000 * 1000

  /** m = max(1, ⌊n² / 2B⌋) — integer math only, so DuckDB's
    * COUNT(*)-based `//` computes the identical value. */
  private[graft] def pairSampleModFor(n: Long): Int =
    math.max(1L, (n * n) / (2L * pairBudgetPairs)).toInt

  private[graft] def embeddingCosineAllPairs(spark: SparkSession, dir: String,
      threshold: Double, nBlocks: Int = -1, pairMod: Int = 1,
      emitMod: Boolean = false): DataFrame = {
    val g = if (nBlocks > 0) nBlocks else defaultPairBlocks(spark)
    // vec_dot/vec_norm are native codegen'd expressions
    // (graft.functions.DotProductFloat) — same ascending-index IEEE
    // summation as the zip_with/aggregate composition and the oracle's
    // list_reduce, minus the per-element lambda interpreter, which is
    // the whole cost of an all-pairs scan.
    val e = Tables.loadBalanced(spark, dir, "embeddings")
      .withColumn("norm", expr("vec_norm(embedding)"))
      .withColumn("blk", pmod(xxhash64(col("vec_id")), lit(g)).cast("int"))
      .select("vec_id", "embedding", "norm", "blk")
    val rep = e.withColumn("other", explode(expr(s"sequence(0, ${g - 1})")))
      .withColumn("bp",
        least(col("blk"), col("other")) * g + greatest(col("blk"), col("other")))
      .drop("other")
    val canonical =
      least(col("a.blk"), col("b.blk")) * g + greatest(col("a.blk"), col("b.blk"))
    // The pair stratum ((vec_i + vec_j) % m == 0) is encoded in the
    // EQUI-JOIN KEY, not a residual predicate: (i + j) % m == 0 iff
    // j % m == (m − i % m) % m, so joining a's partner-residue against
    // b's residue lets the hash join skip non-stratum candidates at
    // probe time. A residual-predicate version (tried first) saved
    // almost nothing — the dominant cost of an all-pairs bucket scan
    // is candidate-row assembly (two 64-float arrays copied per
    // candidate), which a residual runs AFTER; the measured sf1 time
    // was ~42 s residual vs ~40 s unbounded, versus the key-encoded
    // stratum's genuine ~m× cut in candidates enumerated.
    val stratumKey =
      if (pairMod <= 1) lit(true)
      else pmod(lit(pairMod.toLong) - pmod(col("a.vec_id"), lit(pairMod.toLong)),
        lit(pairMod.toLong)) === pmod(col("b.vec_id"), lit(pairMod.toLong))
    val pairs = rep.as("a").join(rep.as("b"),
        col("a.bp") === col("b.bp")
          && col("a.vec_id") < col("b.vec_id")
          && col("a.bp") === canonical
          && stratumKey)
      .withColumn("dot", expr("vec_dot(a.embedding, b.embedding)"))
      .withColumn("cosine", round(col("dot") / (col("a.norm") * col("b.norm")), 6))
      .filter(col("cosine") >= threshold)
    val base = pairs
      .select(col("a.vec_id").as("vec_i"), col("b.vec_id").as("vec_j"), col("cosine"))
    // sample_mod is emitted whenever the SAMPLED surface is requested —
    // including m = 1 (budget covers all pairs at small n) — so the
    // twin's schema is scale-invariant and always self-describing.
    (if (emitMod) base.withColumn("sample_mod", lit(pairMod))
     else base)
      .orderBy("vec_i", "vec_j")
  }

  val embeddingCosineSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, $normSql AS norm FROM embeddings)
       |SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
       |  CAST(ROUND(CAST(CAST(
       |    list_reduce(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)
       |    / (a.norm * b.norm) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE CAST(ROUND(CAST(CAST(
       |    list_reduce(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)
       |    / (a.norm * b.norm) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) >= 0.45
       |ORDER BY 1, 2""".stripMargin

  /** Same exact cosine algebra as [[embeddingCosineSql]], restricted to
    * the deterministic pair stratum the sampled twin computes. The
    * stratum mod is derived from the oracle's own COUNT(*) with the
    * same integer formula as [[pairSampleModFor]] (`//` is DuckDB's
    * floor division), so engine and oracle agree at every scale. The
    * stratum predicate is KEY-ENCODED exactly like the engine plan
    * (r12): (i + j) % m = 0 is joined as the equality
    * j % m = (m − i % m) % m, so DuckDB hash-joins the m residue
    * classes (n²/m pair evals) instead of enumerating all n²/2
    * inequality pairs and filtering — at the 100× tier (m = 800,
    * 210k vectors) that is the difference between ~55M and ~22B
    * pair-condition evaluations. The residues are MATERIALIZED as
    * columns (ea/eb, m cross-joined from the one-row aggregate) — a
    * scalar subquery inside the join condition blocks DuckDB's hash
    * join entirely (EXPLAIN showed PIECEWISE_MERGE_JOIN, right back
    * at the n²/2 enumeration). */
  val embeddingCosineSampledSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, $normSql AS norm FROM embeddings),
       |mm AS (SELECT GREATEST(1,
       |  (COUNT(*) * COUNT(*)) // ${2L * pairBudgetPairs}) AS m FROM embeddings),
       |ea AS (SELECT e.*, mm.m,
       |  (mm.m - e.vec_id % mm.m) % mm.m AS res FROM e, mm),
       |eb AS (SELECT e.*, e.vec_id % mm.m AS res FROM e, mm)
       |SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
       |  CAST(ROUND(CAST(CAST(
       |    list_reduce(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)
       |    / (a.norm * b.norm) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) AS cosine,
       |  CAST(a.m AS INT) AS sample_mod
       |FROM ea a JOIN eb b
       |  ON a.res = b.res
       |  AND a.vec_id < b.vec_id
       |WHERE CAST(ROUND(CAST(CAST(
       |    list_reduce(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)
       |    / (a.norm * b.norm) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) >= 0.45
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_embedding_lsh — SUB-QUADRATIC near-dup embedding dedup at a
  // real near-dup threshold (0.9), the scale path the exact 0.45 scan
  // above cannot be: random-hyperplane sign bits per vector (native
  // vec_sig kernel; 16 × 8-bit bands from 128 bits on small corpora,
  // 64 × 16-bit from 1024 bits past 50k vectors — [[lshBandGeometry]]),
  // candidates from a plain equi-join on (band_idx, band_val), exact
  // cosine verification of candidates only.
  //
  // Banding math (Gaussian planes → per-plane agreement for a pair at
  // cosine c is exactly p(c) = 1 − acos(c)/π; miss(c) = (1 − p(c)⁸)¹⁶):
  //   c = 0.99 → miss 6.7e-9;  c = 0.97 → miss 7e-6;
  //   c = 0.90 (the threshold) → miss 0.42%.
  // The dedup corpus is the embeddings table plus planted near-dups
  // (below), whose qualifying pairs all sit at cosine ≥ 0.97 — the
  // exact all-pairs DuckDB oracle confirms BOTH that the banding missed
  // nothing AND that no pair lies in the [0.90, 0.97) S-curve shoulder.
  // That is the LSH contract at any scale: size r (rows/band) for the
  // SIMILARITY you must not miss, b (bands) for the margin, and verify
  // candidates exactly so false candidates cost only work. A random
  // pair (c ≈ 0) lands in the same 8-bit band bucket with prob 2⁻⁸,
  // so in-bucket pairing costs b·n²/2^(r+1) = n²/32 candidate rows —
  // quadratic in n at ANY n, merely cheap while n is small. The r16
  // sf10 bench hit that term at n ≈ 2·10⁵ (candidate spill filled the
  // disk), so the geometry now WIDENS with corpus size
  // ([[lshBandGeometry]]): 16-bit bands off a 1024-bit signature past
  // 50k vectors, and a web-scale near-EXACT dedup (c ≥ 0.99,
  // p = 0.955) would continue the same ladder to r = 24-bit bands
  // (16M buckets, b = 32 → miss 2.5e-6) off a longer signature, same
  // plan shape — the ceiling-vs-radius trade documented for
  // [[simhashPairs]], resolved by climbing the ladder as n grows.
  // ---------------------------------------------------------------------
  private[graft] val lshPlantStride = 20L
  // 2^50: above any tier's id space — the guard below has now tripped
  // TWICE as corpora grew (sf1's 1e8 offsets at the old 1e6; r19's
  // sf100sub 1e12 offsets at the old 2^40), each time failing loudly
  // instead of corrupting the derived corpus, which is exactly its
  // job — while vec_id + offset stays well inside Long
  private[graft] val lshPlantOffset = 1L << 50

  /** Derived dedup corpus: every vec_id % 20 == 0 vector re-emitted as
    * vec_id + 1e6 with coordinate (vec_id % 64) zeroed — cosine to its
    * original is sqrt(1 − a_k²/|a|²) ≈ sqrt(1 − 1/64) ≈ 0.992 (≥ 0.97
    * on this corpus, oracle-checked), while every other pair stays in
    * the ≤ 0.52 bulk. Zeroing one float is bit-exact in both engines,
    * so the DuckDB oracle reproduces the corpus byte-for-byte. */
  private def lshCorpus(spark: SparkSession, dir: String): DataFrame = {
    // The planted-id space (vec_id + offset) must not overlap real ids,
    // or the derived corpus silently corrupts — identically in both
    // engines, so the oracle could never catch it. The guard rides the
    // plan itself (raise_error branch on every consumed row) rather
    // than running an eager max() job per query construction: zero
    // extra jobs, and any real vec_id >= the offset fails the query
    // loudly instead of corrupting it.
    val base = Tables.loadBalanced(spark, dir, "embeddings")
      .select(
        when(col("vec_id") < lshPlantOffset, col("vec_id"))
          .otherwise(raise_error(concat(
            lit(s"embeddings.vec_id >= lshPlantOffset $lshPlantOffset "),
            lit("would collide with planted ids; raise lshPlantOffset"))))
          .as("vec_id"),
        col("embedding"))
    val planted = base.filter(col("vec_id") % lshPlantStride === 0)
      .select((col("vec_id") + lshPlantOffset).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "IF(CAST(i AS BIGINT) = vec_id % 64, CAST(0.0 AS FLOAT), x))")
          .as("embedding"))
    base.unionByName(planted)
  }

  /** Corpus-size band geometry (see the header comment's banding
    * math), keyed since r20 to the DISTINCT-vector count — the only
    * rows the banding sees after the exact-duplicate collapse in
    * [[embeddingLshOver]], which is what makes the random-collision
    * arithmetic below the real total (duplicate families never enter
    * candidate enumeration). 8-bit bands are optimal small-corpus
    * granularity but their
    * random-collision term b·n²/2^(r+1) goes quadratic — the r16 sf10
    * bench measured it literally filling the disk with shuffle spill
    * at n ≈ 2·10⁵ (1e9+ in-bucket candidate rows through a distinct).
    * Past [[lshWideCorpusN]] vectors the banding widens to 16-bit
    * bands off a 1024-bit signature: random collisions drop 2⁷×
    * (b·n²/2¹⁷ ≈ 2e7 candidates at n = 2·10⁵) while the band count is
    * sized so the MISS RATE AT THE QUERY'S OWN 0.9 THRESHOLD matches
    * the narrow geometry it replaces — miss(c) = (1 − p(c)¹⁶)⁶⁴ with
    * p(c) = 1 − acos(c)/π gives 0.37% at c = 0.90 (narrow: 0.42%),
    * 1.5e-9 at 0.97, ~5e-21 at the planted 0.992. (The first wide cut
    * used b = 32, whose 6.1% miss at 0.90 would have silently widened
    * the boundary-miss window 14× on any corpus with natural pairs
    * near the threshold; equal-boundary-risk is what makes the
    * geometry an internal knob rather than a semantics change.) Both
    * geometries verify candidates exactly, so on corpora whose
    * qualifying pairs sit at ≥ 0.97 — which the exact all-pairs oracle
    * certifies for this one — the pick trades work, never results
    * (spec-asserted on a small corpus by forcing each geometry). */
  private[graft] def lshBandGeometry(n: Long): (Int, Int) =
    if (n <= lshWideCorpusN) (8, 16)
    else if (n <= lshUltraCorpusN) (16, 64)
    else if (n <= lshMegaCorpusN) (20, 120)
    else (24, 225)

  private[graft] val lshWideCorpusN = 50000L

  /** Third ladder rung (r19): the r19 sf100sub decade probe measured
    * the (16, 64) geometry's random-collision term b·n²/2^17 at
    * n = 2.2·10⁶ producing ~2.4·10⁹ in-bucket candidate rows — the
    * distinct over them killed the query outright, exactly the
    * disk-filling failure r16 hit one rung down at n ≈ 2·10⁵. Past
    * 10⁶ vectors the banding widens again to 20-bit bands × 120,
    * sized for narrow-parity boundary risk at the query's own 0.9
    * threshold: miss(c) = (1 − p(c)²⁰)¹²⁰ gives 0.40% at c = 0.90
    * (narrow: 0.42%, wide: 0.37%), 4e-12 at 0.97, ~6e-31 at the
    * planted 0.992; random collisions drop 2⁴·(120/64)⁻¹ ≈ 8.5× to
    * b·n²/2²¹ ≈ 2.8·10⁸ at n = 2.2·10⁶. 20 does not divide 64, so
    * three bands pack per signature word (top 4 bits unused) and the
    * signature is 40 words = 2560 bits — still inside vec_sig's 4096
    * ceiling; the next rung (24-bit × 225 for ~10⁷⁺ vectors) needs a
    * wider kernel, same plan shape. */
  private[graft] val lshUltraCorpusN = 1000000L

  /** Fourth rung (r19, same probe that found the third): at 2.2·10⁶
    * vectors the (20, 120) rung's ~2.3·10⁸ random-collision
    * candidates make the exact-verify shuffle (two 64-float
    * embeddings per candidate row) a ~10² GB spill — measured ENOSPC
    * on the 12 GB/shared-disk harness. (24-bit × 225) holds the same
    * 0.40% boundary miss at the 0.9 threshold (miss(c) =
    * (1 − p(c)²⁴)²²⁵) and cuts collisions another 8.7× to
    * b·n²/2²⁵ ≈ 3·10⁷ at n = 2.2·10⁶ — a ~20 GB verify, fleet- and
    * harness-feasible. Two bands per word (top 16 bits unused), 113
    * words = 7232-bit signature under vec_sig's raised 8192 cap. The
    * rung after this (28-bit × 420 for 10⁷⁺ vectors) crosses that
    * cap — the wider-kernel step is DESIGNED (not yet shipped: rungs
    * ship with a measured run) in RUNBOOK.md "The LSH band ladder
    * past 8192 signature bits": one widened signature stream
    * (MaxBits 16384, bit-identical prefix), cross-word band
    * extraction, b = 420 for 0.41% boundary miss, ~7.8·10⁷ random
    * collisions at n = 10⁷. Since the r20 exact-duplicate collapse,
    * n here means DISTINCT vectors — the r20 sf100sub tier (2M rows,
    * 182k distinct) runs the (16,64) rung, and this rung engages only
    * past 2M distinct vectors. */
  private[graft] val lshMegaCorpusN = 2000000L

  def embeddingLsh(spark: SparkSession, dir: String): DataFrame =
    embeddingLshWith(spark, dir, forceGeometry = None)

  private[graft] def embeddingLshWith(spark: SparkSession, dir: String,
      forceGeometry: Option[(Int, Int)]): DataFrame =
    embeddingLshOver(lshCorpus(spark, dir), forceGeometry)

  /** Corpus-parameterized banded LSH with EXACT-DUPLICATE COLLAPSE
    * (r20). The r19/r20 sf100sub probes kept killing this query — r19
    * ENOSPC at (20,120), r20 heap-OOM at (24,225) behind ~39 GB of
    * candidate shuffle — and the autopsy found the dominant term was
    * never the random collisions the ladder rungs were sized against:
    * the scaled corpora carry ~10 EXACT duplicates per distinct vector
    * (ScaleData replicas; sf100sub: 2M rows, 182k distinct), and
    * byte-identical vectors have byte-identical signatures, so every
    * duplicate pair collides in EVERY band — candidate rows from dup
    * families alone are pairs×bands ≈ 1e7×225 ≈ 2.25e9 at the fourth
    * rung, and CLIMBING the ladder (more bands) makes that term WORSE,
    * not better. The production shape (and the web-scale dedup
    * standard) is to collapse exact duplicates FIRST:
    *
    *   1. rep_id = min vec_id over identical embeddings (one linear
    *      shuffle on the embedding bytes);
    *   2. band + verify over the DISTINCT representatives only — the
    *      banding geometry keys off the distinct count, so sf100sub
    *      de-escalates from the (24,225) rung back to (16,64), and the
    *      candidate term becomes independent of the duplication factor;
    *   3. expand rep pairs back to member pairs (broadcast-sized rep
    *      pairs joined to the membership table, plus within-group
    *      pairs generated from each group's sorted id list) — the
    *      duplicate mass reappears only HERE, sized by the true output.
    *
    * Output-IDENTICAL to banding the full corpus, provably: members
    * share their rep's signature bit-for-bit, so (a, b) collides in
    * some band iff (rep(a), rep(b)) does, and the emitted cosine is
    * computed from the same bytes either way (within-group pairs get
    * round(dot(rep,rep)/norm², 6) — the identical double the direct
    * pair evaluation produced). DedupSpec pins the equivalence against
    * a brute-force oracle on a dup-rich corpus. Measured at sf100sub:
    * the (24,225) full-corpus attempt died (OOM, 39 GB spill); the
    * collapsed form completes in minutes with zero candidate blow-up. */
  private[graft] def embeddingLshOver(corpus: DataFrame,
      forceGeometry: Option[(Int, Int)]): DataFrame = {
    // 1. exact collapse: one shuffle by embedding bytes, shared by the
    // rep frame, the distinct-count geometry pick, the within-group
    // expansion, and both cross-expansion joins
    val wRep = Window.partitionBy(col("embedding"))
    val members = Materialized(corpus
      .withColumn("rep_id", min(col("vec_id")).over(wRep)))
    val reps = members.filter(col("vec_id") === col("rep_id"))
      .select(col("rep_id").as("vec_id"), col("embedding"))
    // the geometry is sized by the DISTINCT corpus — the only rows the
    // banding ever sees
    val nReps = reps.count()
    val (bandBits, nBands) = forceGeometry.getOrElse(lshBandGeometry(nReps))
    // Band packing (r22, the RUNBOOK "LSH band ladder past 8192 bits"
    // decision made mechanical): when bandBits divides 64 the bands
    // pack perWord-to-a-word and the extraction is one shift+mask —
    // byte-identical to every shipped gate-scale run. When it does
    // not (20/24/28-bit rungs), band b is bits [r·b, r·b + r) of the
    // FLAT sign stream — a cross-word slice that wastes zero plane
    // dots (the old in-word packing left the top word bits unused:
    // 2560→2432 bits at (20,120), 7232→5440 at (24,225), and the
    // designed (28,420) rung fits 184 words = 11776 bits under the
    // raised vec_sig cap where in-word packing would need 13440).
    // Any fixed bit→band mapping over iid sign bits has identical
    // miss probability, and candidates are exact-verified, so the
    // mapping trades signature compute, never results — spec-pinned
    // by the forced-geometry pair-set equality test (incl. (28,420)).
    val cleanly = 64 % bandBits == 0
    val perWord = 64 / bandBits
    val sigWords =
      if (cleanly) (nBands + perWord - 1) / perWord
      else (nBands.toLong * bandBits + 63) / 64
    val sigBits = 64 * sigWords
    val mask = (1L << bandBits) - 1
    // shared by band explosion, both verification joins and the
    // within-group cosine; the sigBits-dot signature pass only runs
    // over the distinct reps
    val c = Materialized(reps
      .withColumn("norm", expr("vec_norm(embedding)"))
      .withColumn("sig", expr(s"vec_sig(embedding, $sigBits)")))
    // in-word form for cleanly-dividing rungs (bit-identical to every
    // shipped artifact); flat cross-word slice otherwise — two
    // element_ats and a lazily-evaluated IF inside the same transform,
    // zero new shuffles, same plan shape. The straddle guard
    // o + r > 64 implies 1 <= 64 - o <= 63 (no undefined shifts) and
    // the second word always exists (band end <= sigWords * 64).
    val bandVal =
      if (cleanly)
        s"shiftright(element_at(sig, CAST(b div $perWord AS INT) + 1), (b % $perWord) * $bandBits) & $mask"
      else
        // NOTE: assembled by plain concatenation — a stripMargin block
        // would eat the bitwise-OR `|` at a line start as its margin
        s"(shiftright(element_at(sig, CAST((b * $bandBits) div 64 AS INT) + 1), (b * $bandBits) % 64) | " +
          s"IF((b * $bandBits) % 64 + $bandBits > 64, " +
          s"shiftleft(element_at(sig, CAST((b * $bandBits) div 64 AS INT) + 2), " +
          s"64 - (b * $bandBits) % 64), 0L)) & $mask"
    val bands = c.select(col("vec_id"),
        explode(expr(
          s"""transform(sequence(0, ${nBands - 1}), b -> named_struct(
             |  'band_idx', b,
             |  'band_val', $bandVal))"""
            .stripMargin)).as("band"))
      .select(col("vec_id"), col("band.band_idx"), col("band.band_val"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_val") === col("b.band_val")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_i"), col("b.vec_id").as("vec_j"))
      .distinct()
    val repPairs = cand
      .join(c.select(col("vec_id").as("vec_i"), col("embedding").as("emb_a"),
        col("norm").as("norm_a")), "vec_i")
      .join(c.select(col("vec_id").as("vec_j"), col("embedding").as("emb_b"),
        col("norm").as("norm_b")), "vec_j")
      .withColumn("dot", expr("vec_dot(emb_a, emb_b)"))
      .withColumn("cosine", round(col("dot") / (col("norm_a") * col("norm_b")), 6))
      .filter(col("cosine") >= 0.9)
      .select(col("vec_i").as("rep_i"), col("vec_j").as("rep_j"), col("cosine"))

    // 2. expansion. Within-group pairs carry the cosine the direct
    // evaluation would have produced: dot(a, a') for byte-identical
    // a, a' IS dot(rep, rep), and norm_a = norm_b = norm_rep — same
    // doubles, same round-6 result (≈ 1.0; the >= 0.9 filter is kept
    // for shape-faithfulness, it can never fire here).
    //
    // r22 (the r21-verdict mega-dup ask, measured on BenchData's
    // dedupskew0.1 tier):
    // the first cut generated each group's C(M,2) pairs IN-ROW —
    // collect_list per rep, then explode(flatten(transform(...))) —
    // which materializes the ENTIRE pair array of a group in one
    // allocation before the explode: a 10⁴-copy family (5·10⁷ structs,
    // multi-GB) measured 28.8 s against a 3.6 s base, and a 10⁵-copy
    // family would OOM outright. The member SELF-JOIN below emits the
    // identical pair set (same rep_id, a.vec_id < b.vec_id ⇔ the
    // sorted-list x < y enumeration) with memory O(group), not
    // O(group²): the sort-merge join streams each group's pair block
    // with only the M-row build side buffered, and the cosine rides
    // side a from the broadcast-sized selfCos join. Measured on the
    // same planted 10⁴ family (bench_reports/dedupskew_r22.json, same
    // 50,015,100-pair output): 4.3–4.7 s vs the in-row form's 28.8 s —
    // ~6×, and the removed giant allocation is what lets a 10⁵-copy
    // family run at all instead of OOMing one task.
    val selfCos = c.select(col("vec_id").as("rep_id"),
      round(expr("vec_dot(embedding, embedding)") / (col("norm") * col("norm")), 6)
        .as("cosine"))
    val mem = members.select(col("rep_id"), col("vec_id"))
    val within = mem.join(selfCos, "rep_id").as("a")
      .join(mem.as("b"),
        col("a.rep_id") === col("b.rep_id") && col("a.vec_id") < col("b.vec_id"))
      .filter(col("a.cosine") >= 0.9)
      .select(col("a.vec_id").as("vec_i"), col("b.vec_id").as("vec_j"),
        col("a.cosine").as("cosine"))
    // cross-group pairs: every member combination inherits the rep
    // pair's cosine (identical bytes). repPairs is output-bounded and
    // broadcast-sized; the membership table streams past it twice —
    // no full-corpus shuffle in the expansion.
    val cross = repPairs
      .join(mem.select(col("rep_id").as("rep_i"), col("vec_id").as("va")), "rep_i")
      .join(mem.select(col("rep_id").as("rep_j"), col("vec_id").as("vb")), "rep_j")
      .select(least(col("va"), col("vb")).as("vec_i"),
        greatest(col("va"), col("vb")).as("vec_j"), col("cosine"))
    within.unionByName(cross).orderBy("vec_i", "vec_j")
  }

  /** Exact all-pairs oracle over the SAME derived corpus (planted rows
    * reproduced in SQL), threshold 0.9. */
  val embeddingLshSql: String =
    s"""WITH u AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $lshPlantOffset,
       |    list_transform(range(1, len(embedding) + 1),
       |      i -> CASE WHEN i - 1 = vec_id % 64 THEN CAST(0 AS FLOAT)
       |           ELSE embedding[i] END)
       |  FROM embeddings WHERE vec_id % $lshPlantStride = 0),
       |e AS (SELECT vec_id, embedding, $normSql AS norm FROM u)
       |SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
       |  CAST(ROUND(CAST(CAST(
       |    list_reduce(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)
       |    / (a.norm * b.norm) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE CAST(ROUND(CAST(CAST(
       |    list_reduce(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)
       |    / (a.norm * b.norm) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) >= 0.9
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_clusters — the operator dedup actually ends with: group the
  // near-dup PAIRS into connected components and keep one doc per
  // component (the minimum doc_id). Computed by the large-star/
  // small-star alternation below; lineage is truncated per round — see
  // [[Truncator]] — so plans don't grow. The exact recursive-CTE
  // oracle would flag any non-convergence as a mismatch.
  // ---------------------------------------------------------------------
  /** Lineage truncation for the star rounds.
    *
    * With a checkpoint dir configured (a real cluster), each round is
    * written to one of two alternating parquet slots under it and read
    * back: executor-loss-safe (the data is on durable storage, the
    * read-back lineage is a plain scan), exactly ONE computation of
    * the round (unlike `Dataset.checkpoint`, which recomputes the
    * unpersisted plan a second time to write its files), and bounded
    * on-disk footprint (two edge-table copies, overwritten in place,
    * vs `checkpoint`'s one abandoned copy per round — Spark only
    * cleans those with reference-tracking enabled). The slot pair
    * lives for the session since the returned frame scans the final
    * slot; it is removed with the app's checkpoint dir.
    *
    * Without a checkpoint dir (single-JVM dev/test, where executor
    * loss == JVM loss) a lazy localCheckpoint keeps the data in
    * block-store — no durability requirement to impose on callers —
    * and is filled by the first action on the returned frame, so the
    * caller's next aggregate over it is the round's one pass. */
  private final class Truncator(spark: SparkSession) {
    private val reliableBase: Option[String] =
      spark.sparkContext.getCheckpointDir.map(d =>
        s"$d/graft-clusters-${java.util.UUID.randomUUID()}")
    private var slot = 0

    /** A lineage-free equivalent of `df`: written and read back with a
      * checkpoint dir, else checkpointed by its first action. */
    def truncate(df: DataFrame): DataFrame = reliableBase match {
      case Some(base) =>
        val path = s"$base/slot$slot"
        slot = (slot + 1) % 2
        df.write.mode("overwrite").parquet(path)
        // the slot is rewritten every other round, so the written
        // schema, not a footer read, describes it
        spark.read.schema(df.schema).parquet(path)
      case None => df.localCheckpoint(eager = false)
    }
  }

  def clusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select(col("doc_i"), col("doc_j"))
    componentLabels(spark,
      Tables.load(spark, dir, "documents").select(col("doc_id")), pairs)
      .withColumn("is_keeper", col("cluster_id") === col("doc_id"))
      .orderBy("doc_id")
  }

  /** (doc_id, cluster_id) labels: every doc of `docs` labelled with the
    * minimum doc_id of its connected component in the `pairs`
    * (doc_i, doc_j) graph; a doc without edges labels itself. */
  private[graft] def componentLabels(spark: SparkSession, docs: DataFrame,
      pairs: DataFrame): DataFrame =
    propagateLabelsStar(spark, docs, pairs)._1

  /** Connected components via the LARGE-STAR/SMALL-STAR alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log² n) rounds on ANY graph shape (a
    * 40-node chain closes in a handful — spec-pinned). Per round:
    * large-star hangs every larger neighbor of a node onto the node's
    * minimum neighbor; small-star re-hangs the smaller neighbors. The
    * fixpoint is a star forest — every node holds one edge to its
    * component's minimum id — detected by an order-insensitive
    * edge-set checksum (count + hash sum; a collision could only end a
    * round EARLY, and only if two different edge multisets collide on
    * both). Each round's checksum is the action that fills its
    * truncation (see [[Truncator]]); the first one materializes the
    * edge set once, so the caller's pair pipeline is evaluated exactly
    * once. Returns the labels and the rounds run. */
  private[graft] def propagateLabelsStar(spark: SparkSession, docs: DataFrame,
      pairs: DataFrame): (DataFrame, Int) = {
    val trunc = new Truncator(spark)
    var edges = trunc.truncate(
      pairs.select(
          greatest(col("doc_i"), col("doc_j")).as("u"),
          least(col("doc_i"), col("doc_j")).as("v"))
        .filter(col("u") =!= col("v")).distinct())

    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      // decimal sum: full-range long hashes overflow a LONG sum (ANSI)
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    // large-star: for each node a (neighbors in BOTH directions),
    // m = min(N(a) ∪ {a}); emit (b, m) for every STRICTLY LARGER
    // neighbor b. Keeps every component connected while halving the
    // height of tall subtrees.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val m = nbrs.groupBy("a")
        .agg(least(min(col("b")), first(col("a"))).as("m"))
      nbrs.join(m, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    // small-star: edges already point large -> small; for each node a,
    // m = min of its smaller neighbors; re-hang those neighbors (and a
    // itself) onto m. ONE join per round — both endpoints emitted from
    // the same joined row via explode (a union of two identical joins
    // would double the round's shuffle volume).
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(m, "u")
        .select(explode(array(col("v"), col("u"))).as("n"), col("m"))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v")).distinct()
    }

    var sig = checksum(edges)
    var converged = sig._1 == 0L
    var round = 0
    val maxRounds = 64 // log^2 bound: astronomically above any real corpus
    while (!converged && round < maxRounds) {
      round += 1
      edges = trunc.truncate(smallStar(largeStar(edges)))
      val next = checksum(edges)
      converged = next == sig
      sig = next
    }
    if (!converged)
      System.err.println(
        s"[graft] clusters: star alternation NOT converged after " +
          s"$maxRounds rounds — structurally unexpected (O(log² n) " +
          "bound); inspect the pair graph.")
    // fixpoint edge set is a star forest: u -> component min. Roots
    // (and singleton docs) label themselves.
    val labels = docs.select(col("doc_id"))
      .join(edges.select(col("u").as("doc_id"), col("v").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
    (labels, round)
  }

  /** Exact oracle: transitive closure of the (undirected) near-dup
    * pairs via recursive CTE; cluster id = min reachable doc. */
  val clustersSql: String =
    s"""WITH RECURSIVE ${docShinglesSqlCte},
       |${prefixCandSqlCte(8, 10)},
       |pairs AS (
       |  SELECT doc_i, doc_j FROM inter
       |  JOIN sizes sa ON doc_i = sa.doc_id
       |  JOIN sizes sb ON doc_j = sb.doc_id
       |  WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8),
       |und AS (SELECT doc_i AS a, doc_j AS b FROM pairs
       |        UNION SELECT doc_j, doc_i FROM pairs),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
       |SELECT a AS doc_id, MIN(b) AS cluster_id,
       |  MIN(b) = a AS is_keeper
       |FROM reach GROUP BY a ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_levenshtein — edit-distance near-dup pairs: docs within
  // `levMaxDist` character edits of each other. Edit distance catches
  // the near-dup class the set-based detectors are blind to — small
  // in-place edits (typo fixes, template variable substitutions) that
  // preserve token ORDER, where jaccard over unordered shingle sets
  // can stay high for reshuffled text and simhash ignores position
  // entirely. The quadratic all-pairs is tamed by two-key blocking:
  // each doc posts its first and last `levBlockChars` characters, and
  // only same-key pairs are verified. An edit prefix AND suffix both
  // mutated means the pair is missed — for distance ≤ 10 over ~300-char
  // docs that requires the edits to cluster at both extremes, the
  // standard (documented) recall trade of prefix blocking. Scale
  // shape: the posting join shuffles 16-char keys; the length prune
  // and the banded-DP verification both run map-side inside the join
  // stage, so the only post-join exchange carries the VERIFIED answer
  // set (five fixed-width columns, O(near-dups) rows) — candidate
  // texts are never shuffled; verification is the THRESHOLD form of
  // the DP — levenshtein(l, r, k) computes only the 2k+1-wide band and
  // bails to -1 past k, O(len·k) instead of O(len²) per candidate
  // (~14× fewer DP cells at k=10 over ~300-char docs; identical kept
  // pairs and distances, since every kept distance is ≤ k by
  // definition — the unbounded DuckDB oracle agrees on exactly those).
  // ---------------------------------------------------------------------
  private[graft] val levBlockChars = 16
  private[graft] val levMaxDist = 10

  /** Blocking keys with document frequency above this are dropped
    * before the pair join — the same worst-case bound as
    * [[defaultMaxShingleDf]]: a templated corpus where thousands of
    * docs share one 16-char prefix would otherwise go quadratic in
    * that posting list. Recall-only trade (a pair sharing a hot P-key
    * can still surface via its S-key, and vice versa); at the driver's
    * gate scales the cap provably never fires (max key DF is 3 at
    * sf0.01, 10 at sf0.1 — measured), and the oracle models the cap
    * (see [[levenshteinPairsSql]]) so parity also holds on clone-rich
    * corpora where it fires; the planted-hot-key spec covers the
    * capped path. */
  private[graft] val defaultMaxLevKeyDf = 64L

  /** Candidate pairs via prefix/suffix blocking over a (doc_id, text)
    * frame — exposed for the spec's recall cross-check. A pair that
    * matches on BOTH its P and S keys appears TWICE here — callers
    * dedup after verification, where a row is five fixed-width
    * columns; deduping at this stage would shuffle ~600 bytes of
    * candidate text per row instead. The length-gap prune runs INSIDE
    * the join stage: edit distance is ≥ abs(len_i − len_j), so pairs
    * further than `levMaxDist` apart in length are dropped exactly,
    * before any DP runs or any exchange ships their texts. */
  private[graft] def levCandidates(
      docs: DataFrame, maxKeyDf: Long = defaultMaxLevKeyDf): DataFrame = {
    val keys = docs
      .select(col("doc_id"), col("text"),
        concat(lit("P"), expr(s"left(text, $levBlockChars)")).as("k"))
      .union(docs.select(col("doc_id"), col("text"),
        concat(lit("S"), expr(s"right(text, $levBlockChars)")).as("k")))
    // hot keys are a tiny frame (empty on a non-templated corpus),
    // shared by both join sides so the DF aggregate runs once
    val hot = Materialized(keys.groupBy("k").count().filter(col("count") > maxKeyDf)
      .select("k"))
    val cold = keys.join(hot, Seq("k"), "left_anti")
    val lhs = cold.select(col("k"),
      col("doc_id").as("doc_i"), col("text").as("text_i"))
    val rhs = cold.select(col("k"),
      col("doc_id").as("doc_j"), col("text").as("text_j"))
    lhs.join(rhs, Seq("k"))
      .filter(col("doc_i") < col("doc_j") &&
        abs(length(col("text_i")) - length(col("text_j"))) <= levMaxDist)
      .select("doc_i", "doc_j", "text_i", "text_j")
  }

  def levenshteinPairs(spark: SparkSession, dir: String): DataFrame = {
    levCandidates(
        Tables.loadBalanced(spark, dir, "documents").select("doc_id", "text"))
      .withColumn("lev_dist", expr(s"lev_banded(text_i, text_j, $levMaxDist)"))
      .filter(col("lev_dist") =!= -1)
      .select(col("doc_i"), col("doc_j"), col("lev_dist"),
        length(col("text_i")).as("len_i"), length(col("text_j")).as("len_j"))
      // the banded DP is a FILTER, so it verifies map-side inside the
      // join stage; only the verified answer set (five fixed-width
      // columns, O(near-dups) rows) reaches this dedup exchange — a
      // P+S double match costs one redundant DP, never a text shuffle.
      // The DP runs in the lev_banded kernel (value-identical to the
      // built-in levenshtein(l, r, k); see TextKernels.levBanded).
      .distinct()
      .orderBy("doc_i", "doc_j")
  }

  /** Mirrors the operator's two-key blocking AND its key-DF cap (the
    * jaccardPairsCappedSql pattern): candidates come only from keys
    * with DF ≤ the cap, distances stay exact. At the driver's gate
    * scales the cap never fires (max key DF 3 at sf0.01, 10 at
    * sf0.1); the 10× clone-rich bench corpus lifts key DFs past it,
    * which is exactly the semantics the operator ships. */
  val levenshteinPairsSql: String =
    s"""WITH t AS (SELECT doc_id, text FROM documents),
       |keys AS (
       |  SELECT doc_id, text, 'P' || left(text, $levBlockChars) AS k FROM t
       |  UNION ALL
       |  SELECT doc_id, text, 'S' || right(text, $levBlockChars) AS k FROM t),
       |df_t AS (SELECT k, count(*) AS df FROM keys GROUP BY 1),
       |cold AS (SELECT doc_id, text, k FROM keys JOIN df_t USING (k)
       |         WHERE df <= $defaultMaxLevKeyDf),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j,
       |    a.text AS text_i, b.text AS text_j
       |  FROM cold a JOIN cold b ON a.k = b.k AND a.doc_id < b.doc_id)
       |SELECT doc_i, doc_j,
       |  CAST(levenshtein(text_i, text_j) AS INT) AS lev_dist,
       |  CAST(len(text_i) AS INT) AS len_i,
       |  CAST(len(text_j) AS INT) AS len_j
       |FROM cand WHERE levenshtein(text_i, text_j) <= $levMaxDist
       |ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"            -> (exact _),
    "dedup_ngram_jaccard"    -> (ngramJaccard _),
    "dedup_minhash_lsh"      -> (minhashLsh _),
    "text_simhash"           -> (simhashValues _),
    "dedup_simhash"          -> (simhashPairs _),
    "dedup_simhash_wide"     -> (simhashWidePairs _),
    "dedup_embedding_cosine" -> (embeddingCosine _),
    "dedup_embedding_cosine_sampled" -> (embeddingCosineSampled _),
    "dedup_embedding_lsh"    -> (embeddingLsh _),
    "dedup_levenshtein"      -> (levenshteinPairs _),
    "dedup_containment"      -> (containment _),
    "dedup_paragraph"        -> (paragraphDedup _),
    "dedup_incremental"      -> (incrementalDedup _),
    "dedup_incremental_bucketed" -> (incrementalBucketed _),
    "dedup_normalized"       -> (normalizedDedup _),
    "dedup_clusters"         -> (clusters _))

  val oracles: Map[String, String] = Map(
    "dedup_exact"            -> exactSql,
    "dedup_ngram_jaccard"    -> jaccardPairsCappedSql(0.8),
    // 32×2 banding misses a jaccard-0.8 pair with p ≈ 6e-15, and
    // candidates are exact-verified — the exact jaccard SQL is the oracle.
    "dedup_minhash_lsh"      -> jaccardPairsSql(0.8),
    "text_simhash"           -> simhashValuesSql,
    "dedup_simhash"          -> simhashPairsSql,
    "dedup_simhash_wide"     -> simhashWidePairsSql,
    "dedup_embedding_cosine" -> embeddingCosineSql,
    "dedup_embedding_cosine_sampled" -> embeddingCosineSampledSql,
    // 16×8-bit banding misses a cosine-0.97 pair with p ≈ 7e-6 and the
    // derived corpus's qualifying pairs are all ≥ 0.97 (no pair in the
    // [0.9, 0.97) shoulder — the oracle itself proves both), so the
    // exact all-pairs SQL is the oracle.
    "dedup_embedding_lsh"    -> embeddingLshSql,
    // the oracle mirrors the same two-key blocking (the operator's
    // semantics ARE "pairs the blocking can see" — see the recall note)
    "dedup_levenshtein"      -> levenshteinPairsSql,
    "dedup_containment"      -> containmentSql,
    "dedup_paragraph"        -> paragraphDedupSql,
    "dedup_incremental"      -> incrementalSql,
    // identical output contract to dedup_incremental (same banding +
    // verification; only the index's at-rest layout differs)
    "dedup_incremental_bucketed" -> incrementalSql,
    "dedup_normalized"       -> normalizedDedupSql,
    "dedup_clusters"         -> clustersSql)
}
