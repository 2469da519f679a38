package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialized, Tables}

/** Corpus-curation operators — the second tier of a training-data
  * pipeline, after [[Dedup]]/[[TextAnalysis]] have cleaned the corpus:
  * benchmark decontamination, per-group quota sampling, clustering
  * assignment, and corpus-level n-gram statistics. All four carry
  * exact DuckDB oracles; the token/shingle/vector machinery is shared
  * with [[Dedup]] (md5-derived hashes, native vec_dot/vec_norm
  * kernels) so both engines compute bit-identical values.
  *
  * Scale design per operator is documented at each definition; the
  * common thread is that every one is a standard shuffle shape
  * (equi-join, single window, partial-aggregated groupBy) with no
  * driver-side data movement and no RNG state — assignments and
  * samples are pure functions of content, so reruns and backfills
  * reproduce them exactly.
  */
object Curation {

  // ---------------------------------------------------------------------
  // text_decontaminate — flag corpus documents that overlap an eval
  // (benchmark) document set by hashed word-3-gram overlap. This is the
  // standard guard against test-set leakage into training data: any
  // doc sharing a meaningful fraction of its shingles with the eval
  // set is quarantined.
  //
  // The eval set here is derived deterministically (doc_id % 50 == 0)
  // so the oracle can re-derive it; production passes a real benchmark
  // corpus. Shingles travel as 60-bit md5 hashes, not strings — the
  // join shuffles 8-byte keys (the same trick as ngram-jaccard's
  // inverted index). Scale shape: eval n-gram sets are tiny next to
  // the corpus (benchmarks are MBs, corpora are TBs), so AQE broadcasts
  // the distinct eval-hash side and the corpus side never shuffles;
  // expressed as a plain equi-join so either regime plans correctly.
  // ---------------------------------------------------------------------
  private[graft] val evalStride = 50L
  private[graft] val contamThreshold = 0.2

  /** The one word-bigram construction, over a `toks` array column —
    * shared by ngramTopk, repetition, and boilerplate on BOTH engine
    * sides so a tokenization/delimiter change cannot desynchronize a
    * query from its oracle. */
  private[graft] val bigramsSpark =
    """transform(sequence(1, size(toks) - 1),
      |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""
      .stripMargin
  private[graft] val bigramsSql =
    "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])"

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // the (doc_id, sh) projection, shared by the eval-hash side, the
    // corpus-explode side and the final n_ngrams projection: regex
    // tokenization + shingling of every document runs once
    val docsSh = Materialized(Tables.loadBalanced(spark, dir, "documents")
      .select(col("doc_id"), expr(s"shingles3(${Dedup.toksSpark})").as("sh"))
      .filter(size(col("sh")) > 0))
    val evalHashes = docsSh.filter(col("doc_id") % evalStride === 0)
      .select(explode(col("sh")).as("s"))
      .select(expr(Dedup.tokHash60Spark("s")).as("h"))
      .distinct()
    val corpus = docsSh.filter(col("doc_id") % evalStride =!= 0)
    // r22 (guide §2.4): hit-counting used an inner join + per-doc
    // aggregate + a doc-level rejoin to recover 0-hit docs. The LEFT
    // join attaches eval membership to every exploded shingle instead,
    // so ONE aggregate yields both counts — count(1) over the exploded
    // rows IS size(sh) (the explode emits one row per element and
    // len(sh) > 0 is already enforced), and count(is_hit) counts only
    // matches (count skips non-match nulls) — removing the rejoin and
    // one pass over the persisted projection. The equi-join stays a
    // plain join so AQE picks broadcast vs shuffle by the eval side's
    // real size, exactly as before.
    corpus
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), expr(Dedup.tokHash60Spark("s")).as("h"))
      .join(evalHashes.withColumn("is_hit", lit(true)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_ngrams"),
        count(col("is_hit")).as("n_hit"))
      .withColumn("hit_ratio", col("n_hit").cast("double") / col("n_ngrams"))
      .withColumn("contaminated", col("hit_ratio") >= contamThreshold)
      .orderBy("doc_id")
  }

  val decontaminateSql: String =
    s"""WITH toks_t AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM documents),
       |sh_t AS (SELECT doc_id, ${Dedup.shinglesSql} AS sh FROM toks_t),
       |d AS (SELECT doc_id, sh FROM sh_t WHERE len(sh) > 0),
       |ev AS (SELECT DISTINCT ${Dedup.tokHash60Sql("s")} AS h
       |       FROM (SELECT unnest(sh) AS s FROM d WHERE doc_id % $evalStride = 0)),
       |corp AS (SELECT doc_id, CAST(len(sh) AS INT) AS n_ngrams, sh
       |         FROM d WHERE doc_id % $evalStride <> 0),
       |expl AS (SELECT doc_id, ${Dedup.tokHash60Sql("s")} AS h
       |         FROM (SELECT doc_id, unnest(sh) AS s FROM corp)),
       |hits AS (SELECT doc_id, count(*) AS n_hit
       |         FROM expl JOIN ev USING (h) GROUP BY 1)
       |SELECT c.doc_id, c.n_ngrams,
       |  COALESCE(h.n_hit, 0) AS n_hit,
       |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / c.n_ngrams AS hit_ratio,
       |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / c.n_ngrams >= $contamThreshold AS contaminated
       |FROM corp c LEFT JOIN hits h ON c.doc_id = h.doc_id
       |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // quota_sample — deterministic per-group quota sampling: within each
  // language, keep the Q documents with the smallest md5-derived rank
  // hash. Content-addressed like doc_split_assign: the sample is a pure
  // function of doc identity (no RNG, no partition-order dependence),
  // uniform within each group, and stable across reruns — and because
  // the hash is engine-independent, an auditor can re-derive exactly
  // which docs were kept. Scale shape: one shuffle on the group key +
  // a per-group sort; a skewed group sorts in parallel across its
  // partitions (Spark's window sort is a range-partitioned external
  // sort, not a single-task sort). For Q ≪ group size a two-phase
  // refinement (per-partition top-Q, then global top-Q over the
  // Q·numPartitions survivors) cuts the sort to the candidate set —
  // the plain window form is kept here because it is the exact
  // semantics the two-phase form must reproduce.
  // ---------------------------------------------------------------------
  private[graft] val quotaPerGroup = 50

  // The one 60-bit md5 hash idiom, routed through Dedup's helpers (the
  // ANSI-exactness convention lives in exactly one place).
  private[graft] val rankHashSpark = Dedup.tokHash60Spark("cast(doc_id AS string)")
  private[graft] val rankHashSql = Dedup.tokHash60Sql("CAST(doc_id AS VARCHAR)")

  def quotaSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("rank_hash").asc, col("doc_id").asc)
    Tables.loadBalanced(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), expr(rankHashSpark).as("rank_hash"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= quotaPerGroup)
      .orderBy("lang", "sample_rank")
  }

  val quotaSampleSql: String =
    s"""WITH h AS (SELECT doc_id, lang, $rankHashSql AS rank_hash FROM documents),
       |r AS (SELECT doc_id, lang, rank_hash,
       |        CAST(row_number() OVER (PARTITION BY lang ORDER BY rank_hash, doc_id) AS INT)
       |          AS sample_rank
       |      FROM h)
       |SELECT doc_id, lang, rank_hash, sample_rank FROM r
       |WHERE sample_rank <= $quotaPerGroup
       |ORDER BY lang, sample_rank""".stripMargin

  // ---------------------------------------------------------------------
  // cluster_kmeans_assign — the assignment step of k-means over the
  // embedding corpus: K deterministic seed centroids (smallest K
  // vec_ids on a modular comb, so the seed set is stable across scale
  // factors), every vector assigned to its max-cosine centroid.
  //
  // Plan shape: the K-row centroid side is broadcast and the corpus
  // makes one streaming pass computing K native vec_dot products per
  // row; the argmax is a groupBy(vec_id) max_by whose PARTIAL aggregate
  // collapses the K rows of each vector map-side (they are co-located —
  // the broadcast join preserves the corpus partitioning), so the one
  // shuffle before the final sort carries a single row per vector, not
  // K. (A window argmax here would instead shuffle the full N×K
  // cross-join output.) That is how the assignment step runs at 100 TB:
  // centroids always fit in a broadcast; Lloyd's update step is then a
  // groupBy(cluster) average — but an iterated update's float-sum
  // reduction order is engine-dependent, so the oracle-checked query
  // is the deterministic assignment pass; [[Similarity]]'s IVF build
  // already exercises the update-style centroid computation. Ties break
  // to the smallest centroid id via the max_by ordering struct.
  // ---------------------------------------------------------------------
  private[graft] val kmeansSeedComb = 59L
  private[graft] val kmeansK = 8

  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.loadBalanced(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val cents = e.filter(col("vec_id") % kmeansSeedComb === 3)
      .orderBy("vec_id").limit(kmeansK)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
      .withColumn("c_norm", expr("vec_norm(c_emb)"))
    e.withColumn("norm", expr("vec_norm(embedding)"))
      .crossJoin(broadcast(cents))
      .withColumn("sim",
        expr("vec_dot(embedding, c_emb)") / (col("norm") * col("c_norm")))
      .groupBy("vec_id")
      // max by (sim, -centroid_id): highest cosine, smallest id on ties
      .agg(max_by(struct(col("centroid_id"), col("sim")),
        struct(col("sim"), (-col("centroid_id")).as("neg_id"))).as("best"))
      .select(col("vec_id"), col("best.centroid_id").as("centroid_id"),
        round(col("best.sim"), 6).as("cos_sim"))
      .orderBy("vec_id")
  }

  val kmeansAssignSql: String =
    s"""WITH cent AS (
       |  SELECT vec_id AS centroid_id, embedding AS c_emb, ${Dedup.normSql} AS c_norm
       |  FROM embeddings WHERE vec_id % $kmeansSeedComb = 3
       |  ORDER BY vec_id LIMIT $kmeansK),
       |e AS (SELECT vec_id, embedding, ${Dedup.normSql} AS norm FROM embeddings),
       |p AS (SELECT e.vec_id, cent.centroid_id,
       |        list_reduce(list_transform(range(1, len(e.embedding) + 1),
       |          i -> e.embedding[i]::DOUBLE * cent.c_emb[i]::DOUBLE), (a, b) -> a + b)
       |        / (e.norm * cent.c_norm) AS sim
       |      FROM e CROSS JOIN cent),
       |r AS (SELECT vec_id, centroid_id, sim,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
       |      FROM p)
       |SELECT vec_id, centroid_id,
       |  CAST(round(CAST(CAST(sim AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) AS cos_sim
       |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // corpus_ngram_topk — global top-100 word bigrams by occurrence (the
  // corpus-level LM statistic behind vocabulary builds and boilerplate
  // detection). Scale shape: n_occurrences alone would shuffle only
  // map-side-combined (bigram, count) pairs, but the EXACT n_docs
  // column forces Spark's single-distinct aggregate plan, whose first
  // shuffle carries distinct (bigram, doc_id) pairs — that volume is
  // inherent to exact per-ngram document frequencies. At 100 TB you
  // keep exact counts and switch n_docs to a mergeable sketch
  // (approx_count_distinct — the same trade events_hll_distinct makes),
  // restoring the counts-only shuffle. The global top-k is a
  // TakeOrderedAndProject (per-partition heap + driver merge of 100-row
  // heaps), never a full sort. Deterministic via the (count DESC,
  // ngram ASC) tiebreak.
  // ---------------------------------------------------------------------
  private[graft] val ngramTopK = 100

  def ngramTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(Dedup.toksSpark))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(bigramsSpark)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("ngram").asc)
      .limit(ngramTopK)

  val ngramTopkSql: String =
    s"""WITH t AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM documents),
       |b AS (SELECT doc_id, unnest($bigramsSql) AS ngram
       |      FROM t WHERE len(toks) >= 2)
       |SELECT ngram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
       |FROM b GROUP BY 1
       |ORDER BY n_occurrences DESC, ngram
       |LIMIT $ngramTopK""".stripMargin

  // ---------------------------------------------------------------------
  // text_scrub — PII redaction: emails and phone numbers replaced with
  // typed placeholders, with per-doc redaction counts. The synthetic
  // corpus contains no PII (verified: zero digits), so the query runs
  // over a DERIVED corpus that plants deterministic PII — an email on
  // every doc_id % 7 == 0, a phone on every doc_id % 11 == 0 — the same
  // plant-then-verify trick as dedup_embedding_lsh: both engines derive
  // the planted text bit-identically, so the oracle checks the real
  // regex scrub path end to end (including the no-PII docs passing
  // through untouched). Scale shape: pure map-side regex over the scan,
  // fully codegen'd, no shuffle before the final sort.
  // ---------------------------------------------------------------------
  private val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phonePat = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  def scrub(spark: SparkSession, dir: String): DataFrame =
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("planted", concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today"))).otherwise(lit(""))))
      .withColumn("n_emails", size(regexp_extract_all(col("planted"), lit(emailPat), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(col("planted"), lit(phonePat), lit(0))))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("planted"), emailPat, "[EMAIL]"),
          phonePat, "[PHONE]"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        expr("md5(cast(scrubbed AS binary))").as("scrub_md5"),
        length(col("scrubbed")).as("scrub_len"))
      .orderBy("doc_id")

  val scrubSql: String =
    s"""WITH planted_t AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 7 = 0
       |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
       |         ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0
       |         THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
       |         ELSE '' END AS planted
       |  FROM documents),
       |s AS (SELECT doc_id,
       |        CAST(len(regexp_extract_all(planted, '$emailPat')) AS INT) AS n_emails,
       |        CAST(len(regexp_extract_all(planted, '$phonePat')) AS INT) AS n_phones,
       |        regexp_replace(regexp_replace(planted, '$emailPat', '[EMAIL]', 'g'),
       |          '$phonePat', '[PHONE]', 'g') AS scrubbed
       |      FROM planted_t)
       |SELECT doc_id, n_emails, n_phones, md5(scrubbed) AS scrub_md5,
       |  CAST(len(scrubbed) AS INT) AS scrub_len
       |FROM s ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // text_repetition — Gopher-style within-document repetition signals:
  // the duplicate-bigram fraction and the most-frequent-token dominance,
  // with a composite "repetitive" flag. The phrase-pool corpus is
  // legitimately repetitive, so the values discriminate. Scale shape:
  // ONE scan — the map-side bigram stats ride along the token explode
  // as constant-per-doc columns, then a (doc_id, token) partial
  // aggregate collapses duplicate tokens before the first shuffle and a
  // (doc_id) aggregate takes the mode. Two exchanges, no join, no
  // per-doc sort, and the tokenization runs once (a join-back design
  // would scan and tokenize the corpus twice and add a third exchange).
  // ---------------------------------------------------------------------
  private[graft] val dupBigramThreshold = 0.5
  private[graft] val topTokThreshold = 0.25

  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(Dedup.toksSpark))
      .filter(size(col("toks")) >= 2)
      .withColumn("bigrams", expr(bigramsSpark))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(col("bigrams")).as("n_bigrams"),
        size(array_distinct(col("bigrams"))).as("n_distinct_bigrams"),
        explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("n"),
        first(col("n_tokens")).as("n_tokens"),
        first(col("n_bigrams")).as("n_bigrams"),
        first(col("n_distinct_bigrams")).as("n_distinct_bigrams"))
      .groupBy("doc_id")
      .agg(max(col("n")).as("top_tok_count"),
        first(col("n_tokens")).as("n_tokens"),
        first(col("n_bigrams")).as("n_bigrams"),
        first(col("n_distinct_bigrams")).as("n_distinct_bigrams"))
      .withColumn("dup_bigram_frac",
        lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"))
      .withColumn("top_tok_frac",
        col("top_tok_count").cast("double") / col("n_tokens"))
      .withColumn("repetitive",
        col("dup_bigram_frac") >= dupBigramThreshold
          || col("top_tok_frac") >= topTokThreshold)
      .select("doc_id", "n_tokens", "n_bigrams", "n_distinct_bigrams",
        "dup_bigram_frac", "top_tok_count", "top_tok_frac", "repetitive")
      .orderBy("doc_id")

  val repetitionSql: String =
    s"""WITH t AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM documents),
       |b AS (SELECT doc_id, toks, $bigramsSql AS bigrams
       |      FROM t WHERE len(toks) >= 2),
       |base AS (SELECT doc_id, toks,
       |           CAST(len(toks) AS INT) AS n_tokens,
       |           CAST(len(bigrams) AS INT) AS n_bigrams,
       |           CAST(len(list_distinct(bigrams)) AS INT) AS n_distinct_bigrams
       |         FROM b),
       |tok_counts AS (SELECT doc_id, tok, count(*) AS n
       |               FROM (SELECT doc_id, unnest(toks) AS tok FROM b) GROUP BY 1, 2),
       |top_tok AS (SELECT doc_id, max(n) AS top_tok_count FROM tok_counts GROUP BY 1)
       |SELECT base.doc_id, n_tokens, n_bigrams, n_distinct_bigrams,
       |  1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams AS dup_bigram_frac,
       |  top_tok_count,
       |  CAST(top_tok_count AS DOUBLE) / n_tokens AS top_tok_frac,
       |  (1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams) >= $dupBigramThreshold
       |    OR (CAST(top_tok_count AS DOUBLE) / n_tokens) >= $topTokThreshold AS repetitive
       |FROM base JOIN top_tok ON base.doc_id = top_tok.doc_id
       |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // doc_pack_stream — deterministic sequence packing: documents are
  // concatenated in doc_id order into fixed-capacity token windows
  // (the layout step before LLM training); each doc reports the pack
  // it STARTS in and its token offset there. The core is a global
  // running token sum — the classic distributed prefix-sum problem. A
  // naive `Window.orderBy(doc_id)` with no partition key funnels the
  // whole corpus through ONE task; instead the cumsum runs two-level:
  // (1) buckets derived from doc_id (content-addressed, so the result
  // is partition-layout-independent) get parallel local cumsums, (2)
  // per-bucket totals — corpus/B rows, trivially small — get the
  // single-task treatment, (3) a broadcast join adds each bucket's
  // offset to its local cumsums. Same two-pass scan pattern as
  // GPU/MPI prefix sums. The oracle is the semantically-identical
  // naive global window, which DuckDB can afford at oracle scale.
  // ---------------------------------------------------------------------
  private[graft] val packCapacity = 2048L
  private[graft] val packIdsPerBucket = 1000L

  def packStream(spark: SparkSession, dir: String): DataFrame = {
    val wLocal = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBuckets = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the narrow (doc_id, n_tokens, bucket) projection, shared by both
    // prefix-sum passes: the two-pass pattern needs two passes over
    // the SIZES, not two regex tokenizations of the raw text
    val sized = Materialized(Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(Dedup.toksSpark))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        expr(s"doc_id div $packIdsPerBucket").as("bucket")))
    val base = sized.withColumn("local_before",
      coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
    val offsets = sized.groupBy("bucket")
      .agg(sum(col("n_tokens")).as("bucket_total"))
      .withColumn("bucket_offset",
        coalesce(sum(col("bucket_total")).over(wBuckets), lit(0L)))
      .select("bucket", "bucket_offset")
    base.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum_before", col("bucket_offset") + col("local_before"))
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        expr(s"cum_before div $packCapacity").as("pack_id"),
        (col("cum_before") % packCapacity).as("offset_in_pack"))
      .orderBy("doc_id")
  }

  val packStreamSql: String =
    s"""WITH t AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM documents),
       |n AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens
       |      FROM t WHERE len(toks) > 0),
       |c AS (SELECT doc_id, n_tokens,
       |        CAST(COALESCE(SUM(n_tokens) OVER
       |          (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          0) AS BIGINT) AS cum_before
       |      FROM n)
       |SELECT doc_id, n_tokens, cum_before,
       |  cum_before // $packCapacity AS pack_id,
       |  cum_before % $packCapacity AS offset_in_pack
       |FROM c ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // text_boilerplate — per-document boilerplate score: the fraction of
  // a doc's bigrams drawn from the corpus-wide top-K bigram list (docs
  // dominated by globally-common phrases are navigation chrome,
  // licenses, templates — the standard pre-LLM-training strip). Scale
  // shape: the exploded (doc_id, bigram) projection is built ONCE and
  // persisted — the top-K pass and the per-doc scoring both read it;
  // the top-K list (K rows) broadcasts, so the per-doc side never
  // shuffles for the membership test, and the only exchanges are the
  // two map-side-combined aggregates. The top-K itself is a
  // TakeOrderedAndProject with a total (count DESC, ngram) order, so
  // the cut is deterministic even at a tied boundary.
  //
  // r22 (guide §2.4): totals and hits were two separate doc_id
  // aggregates joined back together — a third pass over the persisted
  // exploded frame plus a doc-level join. The broadcast LEFT join
  // attaches top-membership to every exploded row, so ONE aggregate
  // computes both counts: count(1) ≡ the old totals (same rows), and
  // count(is_top) ≡ the old inner-join hit count (count skips the
  // nulls a non-match leaves), with 0-hit docs kept by construction
  // instead of via the old left join's coalesce.
  // ---------------------------------------------------------------------
  private[graft] val boilerplateTopK = 100
  private[graft] val boilerplateThreshold = 0.5

  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    // shared by both aggregates below
    val bi = Materialized(Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(Dedup.toksSpark))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(bigramsSpark)).as("ngram")))
    val top = bi.groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc)
      .limit(boilerplateTopK)
      .select(col("ngram"), lit(true).as("is_top"))
    bi.join(broadcast(top), Seq("ngram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), count(col("is_top")).as("n_top_hits"))
      .withColumn("boilerplate_frac",
        col("n_top_hits").cast("double") / col("n_bigrams"))
      .withColumn("boilerplate", col("boilerplate_frac") >= boilerplateThreshold)
      .orderBy("doc_id")
  }

  val boilerplateSql: String =
    s"""WITH t AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM documents),
       |b AS (SELECT doc_id, unnest($bigramsSql) AS ngram
       |      FROM t WHERE len(toks) >= 2),
       |top AS (SELECT ngram FROM (
       |          SELECT ngram, count(*) AS n FROM b GROUP BY 1
       |          ORDER BY n DESC, ngram LIMIT $boilerplateTopK)),
       |tot AS (SELECT doc_id, count(*) AS n_bigrams FROM b GROUP BY 1),
       |hits AS (SELECT doc_id, count(*) AS n_top_hits
       |         FROM b JOIN top USING (ngram) GROUP BY 1)
       |SELECT tot.doc_id, n_bigrams,
       |  COALESCE(n_top_hits, 0) AS n_top_hits,
       |  CAST(COALESCE(n_top_hits, 0) AS DOUBLE) / n_bigrams AS boilerplate_frac,
       |  CAST(COALESCE(n_top_hits, 0) AS DOUBLE) / n_bigrams
       |    >= $boilerplateThreshold AS boilerplate
       |FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
       |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // corpus_lang_hist — corpus composition report: per (language,
  // token-count magnitude) doc counts and token totals — the at-a-glance
  // histogram behind mixture decisions (how much short-doc noise per
  // language, where the mass sits). The magnitude bucket is the DIGIT
  // WIDTH of the token count (1 → 1-9 tokens, 2 → 10-99, ...): exact
  // integer string length in both engines, deliberately NOT
  // floor(log2(n)) whose float rounding at exact powers of two can
  // disagree across engines. Scale shape: one map-side-combined
  // aggregate over (lang, magnitude) — cardinality is langs × ~6, so
  // the shuffle is trivially small regardless of corpus size.
  // ---------------------------------------------------------------------
  def langHist(spark: SparkSession, dir: String): DataFrame =
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("n_tokens", size(expr(Dedup.toksSpark)))
      .filter(col("n_tokens") > 0)
      .groupBy(col("lang"),
        length(col("n_tokens").cast("string")).as("magnitude"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("lang", "magnitude")

  val langHistSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |             CAST(len(${Dedup.toksSql}) AS INT) AS n_tokens
       |           FROM documents)
       |SELECT lang, CAST(length(CAST(n_tokens AS VARCHAR)) AS INT) AS magnitude,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  min(n_tokens) AS min_tokens,
       |  max(n_tokens) AS max_tokens
       |FROM t WHERE n_tokens > 0
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // doc_chunk — overlapping token-window chunking (the RAG/context-
  // window layout step): each document explodes into fixed-size token
  // chunks with a fixed overlap, each chunk carrying its token span
  // and an engine-independent md5 of its joined tokens (so any reader
  // can verify chunk content against the source doc). Chunk count uses
  // pure INTEGER arithmetic — 1 + max(0, (n − size + stride − 1) div
  // stride) — deliberately not ceil() over a float quotient, which
  // both engines could round differently at exact boundaries. Scale
  // shape: a narrow explode — output rows scale with corpus tokens /
  // stride, no shuffle before the final sort, tokenization runs once.
  // ---------------------------------------------------------------------
  private[graft] val chunkSize = 64
  private[graft] val chunkOverlap = 16
  private[graft] val chunkStride = chunkSize - chunkOverlap

  def chunk(spark: SparkSession, dir: String): DataFrame =
    Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(Dedup.toksSpark))
      .withColumn("n_tokens", size(col("toks")))
      .filter(col("n_tokens") > 0)
      .withColumn("n_chunks",
        lit(1) + greatest(lit(0),
          expr(s"(n_tokens - $chunkSize + $chunkStride - 1) div $chunkStride")))
      .withColumn("chunk_idx",
        explode(expr("sequence(0, cast(n_chunks - 1 AS int))")))
      .withColumn("start_tok", col("chunk_idx") * chunkStride)
      .withColumn("end_tok", least(col("start_tok") + chunkSize, col("n_tokens")))
      .withColumn("chunk_md5", md5(concat_ws(" ",
        slice(col("toks"), col("start_tok") + 1, col("end_tok") - col("start_tok")))
        .cast("binary")))
      .select(col("doc_id"), col("n_tokens"), col("chunk_idx"),
        col("start_tok"), col("end_tok"), col("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  val chunkSql: String =
    s"""WITH t AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM documents),
       |n AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS n_tokens
       |      FROM t WHERE len(toks) > 0),
       |c AS (SELECT doc_id, toks, n_tokens,
       |        1 + greatest(0, (n_tokens - $chunkSize + $chunkStride - 1) // $chunkStride)
       |          AS n_chunks
       |      FROM n),
       |e AS (SELECT doc_id, toks, n_tokens,
       |        CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
       |      FROM c)
       |SELECT doc_id, n_tokens, chunk_idx,
       |  CAST(chunk_idx * $chunkStride AS INT) AS start_tok,
       |  CAST(least(chunk_idx * $chunkStride + $chunkSize, n_tokens) AS INT) AS end_tok,
       |  md5(array_to_string(toks[chunk_idx * $chunkStride + 1 :
       |    least(chunk_idx * $chunkStride + $chunkSize, n_tokens)], ' ')) AS chunk_md5
       |FROM e ORDER BY 1, 3""".stripMargin

  // ---------------------------------------------------------------------
  // corpus_train_manifest — the capstone: every curation gate composed
  // into ONE per-document manifest with keep/drop reasons. A doc is
  // kept for training iff it (1) meets the length floor, (2) is its
  // exact-duplicate group's keeper (min doc_id per content digest —
  // [[Dedup.exact]]'s rule), (3) is not an eval-holdout doc, (4) is
  // not contaminated by eval-set 3-gram overlap ([[decontaminate]]'s
  // rule), and (5) survives the weighted source-mixture gate
  // ([[Sampling.mixture]]'s rule); its split comes from
  // [[Sampling.splitAssign]]'s content-addressed bucket. Every reason
  // is output as its own column, so the drop accounting an auditor
  // needs ("how many docs did each gate remove per source?") is one
  // groupBy away. Scale shape: ONE persisted narrow projection feeds
  // all gates; the dup-keeper join runs on a 128-bit digest (never the
  // raw text — the shuffle carries 16-byte keys); the eval-hash side
  // broadcasts as in decontaminate; the mixture/split gates are
  // codegen'd projections. Reuses each gate's exact expression
  // fragments, so the manifest cannot drift from the standalone
  // operators it composes.
  // ---------------------------------------------------------------------
  private[graft] val manifestMinTokens = 5

  def trainManifest(spark: SparkSession, dir: String): DataFrame = {
    // one narrow projection, shared by keeper grouping, eval hashes,
    // contamination hits and the final assembly
    val base = Materialized(Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(Dedup.toksSpark))
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("tmd5"),
        size(col("toks")).as("n_tokens"),
        expr("shingles3(toks)").as("sh")))
    val evalHashes = base.filter(col("doc_id") % evalStride === 0)
      .select(explode(col("sh")).as("s"))
      .select(expr(Dedup.tokHash60Spark("s")).as("h"))
      .distinct()
    val hits = base.filter(col("doc_id") % evalStride =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), expr(Dedup.tokHash60Spark("s")).as("h"))
      .join(evalHashes, Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    // r22 (guide §2.4): the dup-keeper id is min(doc_id) over the
    // digest group — a window over tmd5 computes it in the one shuffle
    // that grouping needs, where the old groupBy + equi-join shuffled
    // base twice (once into the aggregate, once into the join) for the
    // same value. Unbounded-frame min ≡ the joined aggregate exactly
    // (every row of a group sees the whole group).
    base
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("tmd5"))))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("is_eval", col("doc_id") % evalStride === 0)
      .withColumn("length_ok", col("n_tokens") >= manifestMinTokens)
      .withColumn("dup_keeper", col("doc_id") === col("keep_id"))
      .withColumn("contaminated", !col("is_eval") &&
        when(size(col("sh")) > 0,
          coalesce(col("n_hit"), lit(0L)).cast("double") / size(col("sh")))
          .otherwise(lit(0.0)) >= contamThreshold)
      .withColumn("mix_kept",
        expr(Sampling.mixBucketSpark) < expr(Sampling.rateSpark))
      .withColumn("split",
        when(expr(Sampling.bucketSpark) < Sampling.trainCut, lit("train"))
          .when(expr(Sampling.bucketSpark) < Sampling.valCut, lit("val"))
          .otherwise(lit("test")))
      .withColumn("kept", col("length_ok") && col("dup_keeper")
        && !col("is_eval") && !col("contaminated") && col("mix_kept"))
      .select("doc_id", "source", "n_tokens", "is_eval", "length_ok",
        "dup_keeper", "contaminated", "mix_kept", "split", "kept")
      .orderBy("doc_id")
  }

  val trainManifestSql: String =
    s"""WITH t AS (SELECT doc_id, source, md5(text) AS tmd5,
       |             ${Dedup.toksSql} AS toks FROM documents),
       |n AS (SELECT doc_id, source, tmd5,
       |        CAST(len(toks) AS INT) AS n_tokens,
       |        ${Dedup.shinglesSql} AS sh
       |      FROM t),
       |k AS (SELECT tmd5, min(doc_id) AS keep_id FROM n GROUP BY 1),
       |ev AS (SELECT DISTINCT ${Dedup.tokHash60Sql("s")} AS h
       |       FROM (SELECT unnest(sh) AS s FROM n WHERE doc_id % $evalStride = 0)),
       |expl AS (SELECT doc_id, ${Dedup.tokHash60Sql("s")} AS h
       |         FROM (SELECT doc_id, unnest(sh) AS s FROM n
       |               WHERE doc_id % $evalStride <> 0)),
       |hits AS (SELECT doc_id, count(*) AS n_hit
       |         FROM expl JOIN ev USING (h) GROUP BY 1),
       |g AS (SELECT n.doc_id, n.source, n.n_tokens,
       |        n.doc_id % $evalStride = 0 AS is_eval,
       |        n.n_tokens >= $manifestMinTokens AS length_ok,
       |        n.doc_id = k.keep_id AS dup_keeper,
       |        CASE WHEN len(n.sh) > 0
       |             THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / len(n.sh)
       |             ELSE 0.0 END AS hit_ratio
       |      FROM n JOIN k ON n.tmd5 = k.tmd5
       |        LEFT JOIN hits h ON n.doc_id = h.doc_id)
       |SELECT doc_id, source, n_tokens, is_eval, length_ok, dup_keeper,
       |  NOT is_eval AND hit_ratio >= $contamThreshold AS contaminated,
       |  ${Sampling.mixBucketSql} < ${Sampling.rateSql} AS mix_kept,
       |  CASE WHEN ${Sampling.bucketSql} < ${Sampling.trainCut} THEN 'train'
       |       WHEN ${Sampling.bucketSql} < ${Sampling.valCut} THEN 'val'
       |       ELSE 'test' END AS split,
       |  length_ok AND dup_keeper AND NOT is_eval
       |    AND NOT (NOT is_eval AND hit_ratio >= $contamThreshold)
       |    AND ${Sampling.mixBucketSql} < ${Sampling.rateSql} AS kept
       |FROM g ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // corpus_bigram_lm — count-statistic LM quality gate (the CCNet/
  // perplexity-filter move re-expressed in integers): build the corpus
  // bigram frequency model, then score each document by the fraction
  // of its bigrams the rest of the corpus (almost) never produces. A
  // document made mostly of corpus-rare bigrams is what a perplexity
  // filter flags — gibberish, mangled boilerplate, wrong-language
  // fragments — but counts stay integers end to end (one final
  // division), so the oracle is hash-exact where a floating log-prob
  // sum would be addition-order noise. Scale shape: (1) the model
  // build is a map-side-combined groupBy on the 60-bit bigram hash —
  // the shuffle carries (hash, partial count) pairs, never raw text;
  // (2) scoring sort-merge-joins the exploded bigram hashes back to
  // the model on the same 8-byte key — the model is corpus-vocabulary-
  // sized, deliberately NOT broadcast (prune it with a min-count
  // filter to get the broadcast variant); (3) one per-doc count
  // aggregate. Tokenization runs once: the (doc_id, hash) projection
  // is shared by the model and scoring passes.
  // ---------------------------------------------------------------------
  private[graft] val lmRareMax = 2L
  private[graft] val lmRareCut = 0.5

  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val grams = Materialized(Tables.loadBalanced(spark, dir, "documents")
      .withColumn("toks", expr(Dedup.toksSpark))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(bigramsSpark)).as("g"))
      .select(col("doc_id"), expr(Dedup.tokHash60Spark("g")).as("h")))
    val model = grams.groupBy("h").agg(count(lit(1)).as("n_occ"))
    grams.join(model, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("n_occ") <= lmRareMax, 1)).as("n_rare"))
      .withColumn("rare_pct", col("n_rare").cast("double") / col("n_bigrams"))
      .withColumn("lm_keep", col("rare_pct") < lmRareCut)
      .orderBy("doc_id")
  }

  val bigramLmSql: String =
    s"""WITH toks_t AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM documents),
       |g AS (SELECT doc_id, ${Dedup.tokHash60Sql("gram")} AS h
       |      FROM (SELECT doc_id, unnest($bigramsSql) AS gram
       |            FROM toks_t WHERE len(toks) >= 2)),
       |m AS (SELECT h, count(*) AS n_occ FROM g GROUP BY 1),
       |s AS (SELECT doc_id, count(*) AS n_bigrams,
       |        count(*) FILTER (WHERE n_occ <= $lmRareMax) AS n_rare
       |      FROM g JOIN m USING (h) GROUP BY 1)
       |SELECT doc_id, n_bigrams, n_rare,
       |  CAST(n_rare AS DOUBLE) / n_bigrams AS rare_pct,
       |  CAST(n_rare AS DOUBLE) / n_bigrams < $lmRareCut AS lm_keep
       |FROM s ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // corpus_source_stats — the per-source corpus report card: document
  // and token counts, language diversity, and the exact-duplicate rate
  // per source. This is the observability query every curation run
  // ends with — it tells you which source is bloating the corpus with
  // duplicates and how the token budget distributes before mixture
  // weights are chosen. Scale shape: documents are digested to 16-byte
  // md5 keys (never grouped by raw text), one map-side-combined count
  // per digest, one re-join, one rollup on source; the persisted
  // projection is scanned once.
  // ---------------------------------------------------------------------
  def sourceStats(spark: SparkSession, dir: String): DataFrame = {
    // shared by the digest-count groupBy and the rollup join
    val docs = Materialized(Tables.loadBalanced(spark, dir, "documents")
      .select(col("source"), col("lang"),
        md5(col("text").cast("binary")).as("digest"),
        size(expr(Dedup.toksSpark)).as("nt")))
    val digestCounts = docs.groupBy("digest").agg(count(lit(1)).as("cnt"))
    docs.join(digestCounts, Seq("digest"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("avg_tokens", col("n_tokens") / col("n_docs"))
      .withColumn("dup_frac", col("n_dup_docs") / col("n_docs"))
      .orderBy("source")
  }

  val sourceStatsSql: String =
    s"""WITH d AS (SELECT doc_id, source, lang, md5(text) AS digest,
       |  CAST(len(${Dedup.toksSql}) AS INT) AS nt FROM documents),
       |c AS (SELECT digest, count(*) AS cnt FROM d GROUP BY 1),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
       |FROM d JOIN c USING (digest) GROUP BY 1)
       |SELECT source, n_docs, n_tokens, n_langs, n_dup_docs,
       |  n_tokens / n_docs AS avg_tokens,
       |  n_dup_docs / n_docs AS dup_frac
       |FROM s ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_source_stats"   -> (sourceStats _),
    "corpus_bigram_lm"      -> (bigramLm _),
    "text_decontaminate"    -> (decontaminate _),
    "quota_sample"          -> (quotaSample _),
    "cluster_kmeans_assign" -> (kmeansAssign _),
    "corpus_ngram_topk"     -> (ngramTopk _),
    "text_scrub"            -> (scrub _),
    "text_repetition"       -> (repetition _),
    "doc_pack_stream"       -> (packStream _),
    "text_boilerplate"      -> (boilerplate _),
    "corpus_lang_hist"      -> (langHist _),
    "doc_chunk"             -> (chunk _),
    "corpus_train_manifest" -> (trainManifest _))

  val oracles: Map[String, String] = Map(
    "corpus_source_stats"   -> sourceStatsSql,
    "corpus_bigram_lm"      -> bigramLmSql,
    "text_decontaminate"    -> decontaminateSql,
    "quota_sample"          -> quotaSampleSql,
    "cluster_kmeans_assign" -> kmeansAssignSql,
    "corpus_ngram_topk"     -> ngramTopkSql,
    "text_scrub"            -> scrubSql,
    "text_repetition"       -> repetitionSql,
    "doc_pack_stream"       -> packStreamSql,
    "text_boilerplate"      -> boilerplateSql,
    "corpus_lang_hist"      -> langHistSql,
    "doc_chunk"             -> chunkSql,
    "corpus_train_manifest" -> trainManifestSql)
}
