package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived benchmark datasets — `BenchData <baseSfDir> <outRoot>`.
  * Generates four variants of the driver's sf0.1 tables under
  * `<outRoot>` (conventionally `target/benchdata`, git-ignored). Each
  * is a complete table layout, so `graft.Bench`, `graft.StreamBench`
  * and the oracle gate run on it like on any sf dir:
  *
  *  - `skew0.1/` — same tables, two planted skews:
  *      * lineitem: ~2% of all rows remapped onto ONE (part, store)
  *        cell (keys 1/1). The faithful pipeline's date-less
  *        sales⋈inventory join (reference semantics,
  *        Data Transformation.py:50) then fans that cell out to
  *        tens of millions of rows landing in a single shuffle
  *        partition — the classic hot-key join a 100 TB retail fact
  *        hits on its flagship store. SkewJoinSpec pins that
  *        SkewJoin.saltedBy preserves this join's multiset.
  *      * events: ~20% of rows remapped onto one hot user — the
  *        per-user window/sessionize straggler case.
  *    All other tables are byte-identical copies, serving as controls.
  *
  *  - `dedupskew0.1/` — the dedup tier's own skew shapes: one document
  *    cloned ×[[HotTemplateMult]] (see [[hotTemplate]]) and one vector
  *    re-emitted ×[[MegaDupMult]] as an exact-duplicate family (see
  *    [[megaDupVectors]]).
  *
  *  - `clusterschain0.1/` — a [[ChainLen]]-document sequential-overlap
  *    chain added to the documents (see [[withChain]]): a duplicate
  *    graph whose diameter is the chain length, the worst shape for
  *    connected components by label propagation.
  *
  *  - `sf1/` — 10× scale-up: every fact AND its dimensions replicated
  *    10 times with a consistent key offset (1e8) per replica, so
  *    referential integrity and per-key densities match the base —
  *    each replica is a shifted clone, which scales row counts without
  *    distorting join fan-outs. Replicated documents get a per-replica
  *    suffix token, making each base doc a 10-clone NEAR-duplicate
  *    group — deliberately: a 10× web corpus is near-dup-rich, and the
  *    dedup tier should be measured against that shape, not against
  *    10× unique text. region/nation stay fixed (dims that don't scale
  *    with SF in TPC-H either).
  *
  * Deterministic throughout (hash-derived skew membership, fixed
  * offsets) — two runs produce identical data.
  */
object BenchData {

  private val KeyOff = 100000000L // > any base key at sf0.1
  private val Reps = 10

  def main(args: Array[String]): Unit = {
    val Array(baseDir, outRoot) = args
    val spark = GraftSession("graft-benchdata")
    // SPARK_GRAFT_SF10_ONLY skips the (slow, already-on-disk) base
    // tiers when only the 100× tier needs (re)deriving; a bare
    // SPARK_GRAFT_SF100_SUBQUAD run likewise derives from the existing
    // sf10 dir without touching anything beneath it
    val subquadOnly = sys.env.contains("SPARK_GRAFT_SF100_SUBQUAD") &&
      !sys.env.contains("SPARK_GRAFT_SF10")
    if (!sys.env.contains("SPARK_GRAFT_SF10_ONLY") && !subquadOnly) {
      writeSkew(spark, baseDir, s"$outRoot/skew0.1")
      writeDedupSkew(spark, baseDir, s"$outRoot/dedupskew0.1")
      writeClustersChain(spark, baseDir, s"$outRoot/clusterschain0.1")
      writeSf1(spark, baseDir, s"$outRoot/sf1")
    }
    // sf10 (opt-in, r15 ask #3): ANOTHER 10× on top of sf1 — 100× the
    // driver's sf0.1 — derived from the sf1 tier with a second,
    // larger key offset so referential integrity and per-key density
    // still match. Replica 0 keeps sf1's rows verbatim; later replicas
    // are SCRAMBLED (documents: seeded word permutation + ~30% token
    // replacement; embeddings: seeded vector replacement), so the
    // near-dup GROUP SIZE stays ~10 (a 10× bigger corpus of the same
    // clone shape, not 100-clone monster groups): the dedup tier's
    // scaling is then measured against corpus GROWTH, with per-group
    // work constant. (The first cut appended a single " big<rep>"
    // token instead — that leaves cross-replica shingle jaccard ≈0.99
    // and IDENTICAL unigram simhashes, i.e. exactly the 100-clone
    // monster groups this scaladoc promises to avoid; the r16 sf10
    // bench measured the resulting 17–25× pair-count blowup on the
    // minhash/simhash/clusters tier before the scramble fixed it.)
    if (sys.env.contains("SPARK_GRAFT_SF10") || sys.env.contains("SPARK_GRAFT_SF10_ONLY"))
      writeScaled(spark, s"$outRoot/sf1", s"$outRoot/sf10",
        keyOff = 10000000000L, // > any sf1 key (base + 9×1e8)
        repToken = " big", partsX = 4, scramble = true)
    // sf100sub (opt-in, r18 verdict ask #5): a THIRD batch-scale decade
    // for the sub-quadratic dedup/ANN family only — 10× the sf10
    // documents (5M docs) and embeddings (2M vectors), same scramble
    // discipline so near-dup group size stays ~10. The relational /
    // events tables are deliberately absent: the decade probe exists to
    // test the corpus-linear claims of the similarity tier, and a full
    // 21 GB relational replica would buy no additional evidence.
    if (sys.env.contains("SPARK_GRAFT_SF100_SUBQUAD"))
      writeSimTables(spark, s"$outRoot/sf10", s"$outRoot/sf100sub",
        keyOff = 1000000000000L, // > any sf10 key (base + 9×1e10)
        repToken = " huge", partsX = 16, scramble = true)
    spark.stop()
  }

  /** Replica-scramble for sf10 document text (see [[writeScaled]]):
    * ~30% of token POSITIONS replaced by a seeded 6-hex word, then the
    * whole token array re-ordered by a seeded position-keyed sort.
    * Decision and order key on (position, __rep) ONLY — deliberately
    * word-blind: the ~10 members of an sf1 clone family are identical
    * except one trailing token, so position-keyed decisions land every
    * shared token in the same output slot and the differing token in
    * ONE shared slot (a word-keyed sort was measured fragmenting
    * families to 3-shingle jaccard ≈ 0.73 — below the 0.8 dedup
    * threshold — because the two suffix variants drew two different
    * splice points). Replacement CONTENT still hashes the word, so
    * differing tokens stay differing after replacement. Two replicas
    * of one doc get independent permutations (shared 3-shingles ≈ 0)
    * and ~30%-disjoint unigram multisets (simhash distance restored).
    * Expects `text` (single-space corpus) and `__rep` in scope. */
  private[graft] val ScrambledTextSql: String =
    """concat_ws(' ',
      |  transform(
      |    array_sort(transform(
      |      transform(split(text, ' '), (w, i) ->
      |        CASE WHEN pmod(xxhash64(i, __rep, 7L), 10) < 3
      |             THEN substr(md5(concat(w, '#', i, '#', __rep)), 1, 6)
      |             ELSE w END),
      |      (w, i) -> named_struct('k', xxhash64(i, __rep), 'v', w))),
      |    s -> s.v))""".stripMargin

  /** Replica-scramble for sf10 embeddings (see [[writeScaled]]): a
    * fresh uniform[-1,1] vector per (input vector, replica), keyed on
    * the vector's own content hash `__vh` so the sf1 tier's 10
    * identical copies of a base vector map to ONE shared replacement
    * per replica (exact-dup groups stay ~10). Expects `embedding`,
    * `__vh`, `__rep` in scope. */
  private[graft] val ScrambledVecSql: String =
    """transform(sequence(0, size(embedding) - 1), d ->
      |  cast((pmod(xxhash64(__vh, __rep, d), 2000001) - 1000000) / 1000000.0
      |       AS float))""".stripMargin

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // normalize ts to epoch nanos on read so the derived datasets
      // are plain INT64 nanos whatever the base data's unit was
      val path = s"$dir/events.parquet"
      val factor = Tables.eventsTsNanosFactor(spark, path)
      spark.read.schema(Tables.eventsSchema).parquet(path)
        .withColumn("ts", expr(s"ts * ${factor}L"))
    } else Tables.load(spark, dir, name)

  private def write(df: DataFrame, dir: String, name: String, parts: Int): Unit =
    df.repartition(parts).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private[graft] def skewLineitem(li: DataFrame): DataFrame = {
    // ~2% of rows → the (1, 1) cell; hash-derived so membership is
    // deterministic and spread uniformly over the table
    val hot = pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(50)) === 0
    li.withColumn("l_partkey", when(hot, lit(1L)).otherwise(col("l_partkey")))
      .withColumn("l_suppkey", when(hot, lit(1L)).otherwise(col("l_suppkey")))
  }

  private[graft] def skewEvents(ev: DataFrame): DataFrame =
    ev.withColumn("user_id",
      when(pmod(xxhash64(col("event_id")), lit(5)) === 0, lit(42L))
        .otherwise(col("user_id")))

  /** Copy every table of `base` not named in `planted` into `out`,
    * completing a planted tier's table layout. */
  private def copyOthers(spark: SparkSession, base: String, out: String,
      planted: Set[String]): Unit =
    for (t <- Tables.names if !planted(t)) write(load(spark, base, t), out, t, 2)

  private def writeSkew(spark: SparkSession, base: String, out: String): Unit = {
    write(skewLineitem(load(spark, base, "lineitem")), out, "lineitem", 8)
    write(skewEvents(load(spark, base, "events")), out, "events", 4)
    copyOthers(spark, base, out, Set("lineitem", "events"))
  }

  /** Clone multiplicity of the dedupskew tier's hot template. */
  private[graft] val HotTemplateMult = 512

  /** Copies in the dedupskew tier's exact-duplicate vector family. */
  private[graft] val MegaDupMult = 10000

  /** The HOT TEMPLATE: one document cloned `mult` times (the sf1
    * tier's clone mechanism at high multiplicity instead of 10×), the
    * boilerplate storm a web crawl produces when a site template or
    * licence page repeats across hosts. Every shingle of the template
    * then has document frequency ≈ `mult`, which is exactly the case
    * the shingle-DF cap (Dedup.defaultMaxShingleDf = 64) exists for,
    * and which the uniform oracle corpora never trigger. The template
    * is the min doc_id among docs with >= 12 tokens; clone N gets id
    * 9.0e8 + N and text `<template> repN`. */
  private[graft] def hotTemplate(docs: DataFrame, mult: Int): DataFrame = {
    val template = docs
      .filter(size(split(col("text"), "\\s+")) >= 12)
      .orderBy("doc_id").limit(1)
    // fail loudly rather than measure the base corpus under a
    // "multiplicity=N" label: an empty plant would make the
    // bounded-under-skew claim vacuous
    require(template.count() == 1,
      "no document has >= 12 tokens; cannot plant a hot template")
    val clones = template
      .withColumn("__rep", explode(expr(s"sequence(1, $mult)")))
      .withColumn("doc_id", lit(900000000L) + col("__rep"))
      .withColumn("text", concat(col("text"), lit(" rep"), col("__rep")))
      .withColumn("n_chars", length(col("text")))
      .drop("__rep")
    docs.unionByName(clones)
  }

  /** One EXACT-duplicate mega family: the min-vec_id vector re-emitted
    * `mult` times under fresh ODD ids (odd ⇒ never ≡ 0 mod
    * lshPlantStride, so the lshCorpus near-dup plant leaves the family
    * alone and its output stays exactly C(mult+1, 2) within-pairs
    * plus the base corpus's rows). The exact-duplicate collapse
    * (Dedup.embeddingLshOver) bands one rep for the whole family, so
    * the measured term is the within-group pair expansion. */
  private[graft] def megaDupVectors(emb: DataFrame, mult: Int): DataFrame = {
    val template = emb.orderBy("vec_id").limit(1)
    require(template.count() == 1, "no embeddings to plant a duplicate family from")
    val clones = template
      .withColumn("__rep", explode(expr(s"sequence(1, $mult)")))
      .withColumn("vec_id", lit(800000000L) + col("__rep") * 2 + 1)
      .drop("__rep")
    emb.unionByName(clones)
  }

  private[graft] def writeDedupSkew(spark: SparkSession, base: String, out: String): Unit = {
    write(hotTemplate(load(spark, base, "documents"), HotTemplateMult), out, "documents", 8)
    write(megaDupVectors(load(spark, base, "embeddings"), MegaDupMult), out, "embeddings", 8)
    copyOthers(spark, base, out, Set("documents", "embeddings"))
  }

  /** Documents in the clusterschain tier's chain. */
  private[graft] val ChainLen = 64

  /** Chain doc ids live far above both the corpus ids and the hot
    * template's 9.0e8 clone range. */
  private[graft] val chainBaseId = 910000000L

  /** The documents plus a `len`-doc CHAIN of sequential-overlap clones,
    * where doc i and doc i+1 are near-dups but doc i and doc i+2 are
    * not. Each chain doc is a fresh-token sliding window — W=38 unique
    * tokens stepping by 3, so consecutive docs share 33 of 39 distinct
    * 3-gram shingles (jaccard 33/39 ≈ 0.846 ≥ the 0.8 verify
    * threshold) while lag-2 docs share 30 of 42 (0.714 < 0.8). The
    * duplicate graph is then a pure path, ids ascending along it, so
    * the component minimum sits at one END, len−1 hops from the far
    * end; [[graft.operators.Dedup.componentLabels]] must still close
    * it in O(log² len) rounds. Tokens are globally unique to
    * the chain (`chaintok<i>`), so the chain shares no shingle with
    * the corpus — the planted component is exactly the path. */
  private[graft] def withChain(spark: SparkSession, docs: DataFrame,
      len: Int): DataFrame = {
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
    docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(chain)
  }

  private[graft] def writeClustersChain(spark: SparkSession, base: String, out: String): Unit = {
    write(withChain(spark, load(spark, base, "documents"), ChainLen), out, "documents", 8)
    copyOthers(spark, base, out, Set("documents"))
  }

  /** Replicate with `rep * keyOff` added to every column in `keys`. */
  private def replicate(df: DataFrame, keys: Seq[String],
      keyOff: Long = KeyOff): DataFrame = {
    val r = df.withColumn("__rep", explode(expr(s"sequence(0, ${Reps - 1})")))
    keys.foldLeft(r)((d, k) =>
      d.withColumn(k, col(k) + col("__rep").cast("long") * keyOff))
  }

  private def writeSf1(spark: SparkSession, base: String, out: String): Unit =
    writeScaled(spark, base, out, KeyOff, " rep", partsX = 1)

  /** One 10× scale-up from `base` to `out`: every fact and its
    * dimensions replicated `Reps` times with a consistent `keyOff`
    * per replica (referential integrity and per-key densities match
    * the base), region/nation fixed (dims that don't scale with SF in
    * TPC-H either). Applied once for sf1 (from sf0.1) and, with a
    * larger offset, again for sf10 (from sf1).
    *
    * Similarity-bearing columns and the two modes:
    *  - `scramble = false` (the sf1 tier): replicated documents get a
    *    ` rep<replica>` suffix token, so each base doc BECOMES a
    *    10-clone near-dup group — deliberately: a 10× web corpus is
    *    near-dup-rich, and the dedup tier should be measured against
    *    that shape, not 10× unique text. Embeddings replicate
    *    verbatim (10 identical copies per base vector = the planted
    *    exact-dup groups the cosine tier measures).
    *  - `scramble = true` (the sf10 tier, whose input is ALREADY the
    *    clone-rich sf1): replica 0 keeps the input rows verbatim and
    *    replicas 1..9 must NOT stay near-dups of it, or group size
    *    multiplies to ~100 and every pair-scaling op measures group
    *    GROWTH instead of corpus growth. Documents get a seeded
    *    position-keyed word permutation (breaks every shingle-based
    *    similarity: two independent permutations of the same words
    *    share ~0 3-shingles) plus ~30% seeded token replacement
    *    (breaks order-INVARIANT unigram simhash, which a permutation
    *    alone preserves bit-for-bit); both are keyed on
    *    (position, replica) only, so the members of one sf1 clone
    *    family — which differ by a single trailing token — scramble
    *    identically at every shared position and stay a ~10-clone
    *    group within each replica. Embeddings get a seeded replacement vector (uniform
    *    [-1,1] per dim, keyed on the input vector's own hash +
    *    replica): within a replica the 10 sf1 copies of a base vector
    *    still share one value (exact-dup group preserved), across
    *    replicas pair cosine drops to the corpus's natural N(0, 1/dim)
    *    bulk. */
  private def writeScaled(spark: SparkSession, base: String, out: String,
      keyOff: Long, repToken: String, partsX: Int,
      scramble: Boolean = false): Unit = {
    write(load(spark, base, "region"), out, "region", 1)
    write(load(spark, base, "nation"), out, "nation", 1)
    write(replicate(load(spark, base, "customer"), Seq("c_custkey"), keyOff)
      .drop("__rep"), out, "customer", 4 * partsX)
    write(replicate(load(spark, base, "supplier"), Seq("s_suppkey"), keyOff)
      .drop("__rep"), out, "supplier", 2 * partsX)
    write(replicate(load(spark, base, "part"), Seq("p_partkey"), keyOff)
      .drop("__rep"), out, "part", 4 * partsX)
    write(replicate(load(spark, base, "orders"), Seq("o_orderkey", "o_custkey"),
      keyOff).drop("__rep"), out, "orders", 8 * partsX)
    write(replicate(load(spark, base, "lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey"), keyOff)
      .drop("__rep"), out, "lineitem", 32 * partsX)
    write(replicate(load(spark, base, "events"), Seq("event_id", "user_id"),
      keyOff).drop("__rep"), out, "events", 8 * partsX)
    writeSimTables(spark, base, out, keyOff, repToken, partsX, scramble)
  }

  /** The similarity-bearing tables (documents, embeddings) of one 10×
    * scale-up — the full-tier path shares this with the sf100sub
    * decade probe, which scales ONLY these two. */
  private def writeSimTables(spark: SparkSession, base: String, out: String,
      keyOff: Long, repToken: String, partsX: Int,
      scramble: Boolean = false): Unit = {
    // rep 0 keeps the original text; later replicas either append a
    // distinct token (sf1: MAKES the 10-clone near-dup families) or
    // scramble (sf10: keeps the inherited families at ~10 instead of
    // compounding to ~100 — see the scaladoc)
    val repText =
      if (scramble) expr(ScrambledTextSql)
      else concat(col("text"), lit(repToken), col("__rep"))
    write(replicate(load(spark, base, "documents"), Seq("doc_id"), keyOff)
      .withColumn("text",
        when(col("__rep") === 0, col("text")).otherwise(repText))
      .withColumn("n_chars", length(col("text")))
      .drop("__rep"), out, "documents", 8 * partsX)
    val emb = replicate(load(spark, base, "embeddings"), Seq("vec_id"), keyOff)
    val embOut =
      if (scramble)
        emb.withColumn("__vh",
            expr("xxhash64(concat_ws(',', transform(embedding, x -> cast(x AS string))))"))
          .withColumn("embedding",
            when(col("__rep") === 0, col("embedding")).otherwise(expr(ScrambledVecSql)))
          .drop("__vh")
      else emb
    write(embOut.drop("__rep"), out, "embeddings", 4 * partsX)
  }
}
